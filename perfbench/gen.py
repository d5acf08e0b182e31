"""Seeded inputs for the benchmark workloads.

Pure functions of the seed: no Spark, no clock, no filesystem.  The
program under test only ever sees what these return.  Every payload
is built by the package's own fixture builders, so the inputs are the
ones the tests already treat as valid.
"""

from __future__ import annotations

import gzip
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from doclayout_yolo_spark.fixtures import make_page, make_pdf_rows, url_for
from doclayout_yolo_spark.http import build_http_response

# seeds get disjoint row-index ranges of this width
SEED_STRIDE = 100_000

# wire formats of the job snapshot, with their share of documents.  A
# coverage mix with arbitrary weights, not a measured traffic mix: each
# parser gets enough documents to weigh in the job's time.  Real crawls
# are far more HTML-heavy.
JOB_KINDS = {
    "html": 0.40,
    "gzip": 0.14,
    "http": 0.14,
    "cp1252": 0.10,
    "pdf": 0.18,
    "corrupt_pdf": 0.02,    # must degrade to an empty-text row
    "encrypted_pdf": 0.02,  # must yield an error row
}
PLANTED = ("corrupt_pdf", "encrypted_pdf")
# recrawl: shares of snapshot 1 changed / removed, and added on top
RECRAWL_CHANGED = 0.01
RECRAWL_REMOVED = 0.005
RECRAWL_ADDED = 0.005

_CP1252_PARA = "<p>Café “quoted” — €5 naïve résumé</p>"


def row_offset(seed: int) -> int:
    """First row index of a seed's input range."""
    return (seed % 10_000 + 1) * SEED_STRIDE


def query_order(seed: int, names: list[str]) -> list[str]:
    rng = np.random.default_rng([seed, 3])
    return [names[i] for i in rng.permutation(len(names))]


# ---------------------------------------------------------------------------
# mixed-wire snapshots for the extraction job
# ---------------------------------------------------------------------------


def _html_payload(kind: str, i: int, rev: int) -> tuple[str, bytes]:
    url = url_for(i)
    html, _text, _lang = make_page(url)
    if rev:
        html = html.replace(
            b"</body>", f"<p>Revision {rev} of this page.</p></body>".encode()
        )
    if kind == "gzip":
        return url, gzip.compress(html, mtime=0)
    if kind == "http":
        return url, build_http_response(
            html, charset="utf-8", chunked=True, content_encoding="gzip"
        )
    if kind == "cp1252":
        body = html.decode("utf-8").replace("</h1>", "</h1>" + _CP1252_PARA, 1)
        return url, build_http_response(
            body.encode("cp1252"), charset="windows-1252"
        )
    return url, html


def _corrupt_pdf(i: int) -> bytes:
    """A PDF whose only content stream is a truncated flate body: the
    parser finds no text and degrades the row to empty text."""
    rng = np.random.default_rng([i, 11])
    junk = rng.integers(0, 256, 48, dtype=np.uint8).tobytes()
    return (
        b"%%PDF-1.4\n1 0 obj\n<< /Length %d /Filter /FlateDecode >>\n"
        b"stream\n%s\nendstream\nendobj\n" % (len(junk), junk)
    )


def _encrypt(pdf: bytes) -> bytes:
    return pdf.replace(b"trailer\n<< ", b"trailer\n<< /Encrypt 99 0 R ", 1)


# changed PDFs take the body of another id, outside every seed range
# (the fixture seeds numpy's 32-bit RandomState with the id)
_PDF_REV_SHIFT = 2_000_000_000


def _payloads(kinds: list[str], ids: list[int], rev: int) -> list[tuple[str, bytes]]:
    pdf_ids = [i for k, i in zip(kinds, ids) if k in ("pdf", "encrypted_pdf")]
    body_ids = [i + _PDF_REV_SHIFT if rev else i for i in pdf_ids]
    pdfs = make_pdf_rows(body_ids)
    pdf_of = dict(zip(pdf_ids, pdfs["html"]))
    out = []
    for k, i in zip(kinds, ids):
        if k in PLANTED or k == "pdf":
            url = f"https://pdfhost{i % 7:02d}.example.com/doc/{i}.pdf"
            if k == "pdf":
                raw = pdf_of[i]
            elif k == "encrypted_pdf":
                raw = _encrypt(pdf_of[i])
            else:
                raw = _corrupt_pdf(i)
            out.append((url, raw))
        else:
            out.append(_html_payload(k, i, rev))
    return out


@dataclass
class JobInputs:
    snap1: pd.DataFrame  # (url, html) of the first crawl
    snap2: pd.DataFrame  # (url, html) of the recrawl
    kind: dict[str, str] = field(default_factory=dict)  # url -> wire kind
    added: list[str] = field(default_factory=list)
    removed: list[str] = field(default_factory=list)
    changed: list[str] = field(default_factory=list)

    def planted(self, kind: str) -> int:
        """Planted documents of ``kind`` in the recrawl."""
        live = set(self.snap2["url"])
        return sum(1 for u, k in self.kind.items() if k == kind and u in live)


def _assign_kinds(rng: np.random.Generator, n: int) -> list[str]:
    counts = {k: int(round(s * n)) for k, s in JOB_KINDS.items()}
    counts["html"] += n - sum(counts.values())
    kinds = [k for k, c in counts.items() for _ in range(c)]
    return [kinds[i] for i in rng.permutation(n)]


def job_inputs(seed: int, n: int) -> JobInputs:
    """Snapshot 1 of ``n`` mixed-wire documents and a recrawl that
    changes, removes and adds a seeded share of unplanted urls."""
    rng = np.random.default_rng([seed, 5])
    base = row_offset(seed)
    ids = list(range(base, base + n))
    kinds = _assign_kinds(rng, n)
    snap1 = _payloads(kinds, ids, rev=0)

    plain = [j for j, k in enumerate(kinds) if k not in PLANTED]
    n_changed = max(1, int(round(RECRAWL_CHANGED * n)))
    n_removed = max(1, int(round(RECRAWL_REMOVED * n)))
    n_added = max(1, int(round(RECRAWL_ADDED * n)))
    pick = rng.choice(plain, size=n_changed + n_removed, replace=False)
    changed_j = sorted(int(j) for j in pick[:n_changed])
    removed_j = {int(j) for j in pick[n_changed:]}
    new_ids = list(range(base + n, base + n + n_added))
    new_kinds = [
        str(k) for k in rng.choice(["html", "gzip", "http", "cp1252", "pdf"], n_added)
    ]
    changed_payloads = dict(
        zip(changed_j, _payloads([kinds[j] for j in changed_j],
                                 [ids[j] for j in changed_j], rev=1))
    )
    added = _payloads(new_kinds, new_ids, rev=0)

    snap2 = [
        changed_payloads.get(j, p)
        for j, p in enumerate(snap1)
        if j not in removed_j
    ] + added
    kind = {u: k for (u, _), k in zip(snap1, kinds)}
    kind.update({u: k for (u, _), k in zip(added, new_kinds)})
    return JobInputs(
        snap1=pd.DataFrame(snap1, columns=["url", "html"]),
        snap2=pd.DataFrame(snap2, columns=["url", "html"]),
        kind=kind,
        added=[u for u, _ in added],
        removed=[snap1[j][0] for j in sorted(removed_j)],
        changed=[snap1[j][0] for j in changed_j],
    )


# fixed per-format samples for the single-process kernel timing: the
# same documents on every seed, so the figure compares across runs
FORMAT_SAMPLE_IDS = list(range(40))


def format_samples() -> dict[str, list[bytes]]:
    ids = FORMAT_SAMPLE_IDS
    out = {
        k: [raw for _u, raw in _payloads([k] * len(ids), ids, rev=0)]
        for k in ("html", "gzip", "http", "cp1252", "pdf")
    }
    return out
