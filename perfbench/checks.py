"""Output checks.  Each takes plain Python values collected from the
program and returns a list of problems; an empty list means correct.
They run outside the timed region, and every problem counts as a
failed operation."""

from __future__ import annotations

import importlib.util
import os
from collections import Counter

from .gen import JobInputs


def job_output(
    rows: list[tuple[str, bool, bool]], inputs: JobInputs
) -> list[str]:
    """``rows``: (url, is_error, is_empty_text) of the committed table
    after the incremental pass."""
    problems = []
    urls = Counter(u for u, _e, _d in rows)
    dups = [u for u, c in urls.items() if c > 1]
    if dups:
        problems.append(f"job: {len(dups)} duplicated urls, e.g. {dups[:3]}")
    want = set(inputs.snap2["url"])
    if set(urls) != want:
        problems.append(
            f"job: {len(set(urls) - want)} urls not in the recrawl, "
            f"{len(want - set(urls))} recrawl urls missing"
        )
    stale = set(inputs.removed) & set(urls)
    if stale:
        problems.append(f"job: {len(stale)} removed urls still committed")
    errors = sum(1 for _u, e, _d in rows if e)
    degraded = sum(1 for _u, e, d in rows if d and not e)
    if errors != inputs.planted("encrypted_pdf"):
        problems.append(
            f"job: {errors} error rows, {inputs.planted('encrypted_pdf')} "
            "encrypted PDFs planted"
        )
    if degraded != inputs.planted("corrupt_pdf"):
        problems.append(
            f"job: {degraded} degraded rows, {inputs.planted('corrupt_pdf')} "
            "corrupt PDFs planted"
        )
    return problems


def incremental_result(result: dict, inputs: JobInputs) -> list[str]:
    """The diff counts ``run_incremental_job`` reports."""
    want = {
        "n_added": len(inputs.added),
        "n_removed": len(inputs.removed),
        "n_changed": len(inputs.changed),
    }
    return [
        f"incremental: {k}={result.get(k)}, planted {v}"
        for k, v in want.items() if result.get(k) != v
    ]


def _contract_normalizer():
    """``row_key`` of tools/check_contract.py, the contract gate's
    value normalisation, loaded from its file."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "check_contract.py")
    spec = importlib.util.spec_from_file_location("_check_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.row_key


def query_rows(
    name: str,
    got_cols: list[str], got_rows: list[tuple],
    want_cols: list[str], want_rows: list[tuple],
    row_key=None,
) -> list[str]:
    """Order-insensitive equality of a query's rows with its oracle's,
    columns matched by name, values compared as the contract gate
    normalises them."""
    row_key = row_key or _contract_normalizer()
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} vs {sorted(want_cols)}"]
    cols = sorted(got_cols)
    gi = [got_cols.index(c) for c in cols]
    wi = [want_cols.index(c) for c in cols]
    got = sorted(row_key(tuple(r[i] for i in gi)) for r in got_rows)
    want = sorted(row_key(tuple(r[i] for i in wi)) for r in want_rows)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if got != want:
        diff = next(a for a, b in zip(got, want) if a != b)
        return [f"{name}: values differ from the oracle, e.g. {diff}"]
    return []
