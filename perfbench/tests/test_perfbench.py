"""Tests of the benchmark's own logic: input generation, span
arithmetic, plan counting and the output checks.  No Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.catalog import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.spans import Span, Tracer, covered, plan_counts, self_time  # noqa: E402

# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def _job_bytes(ji: gen.JobInputs) -> tuple:
    return (
        tuple(ji.snap1["url"]), tuple(ji.snap1["html"]),
        tuple(ji.snap2["url"]), tuple(ji.snap2["html"]),
    )


def test_job_inputs_byte_stable_per_seed_and_differ_across_seeds():
    a, b = gen.job_inputs(3, 400), gen.job_inputs(3, 400)
    assert _job_bytes(a) == _job_bytes(b)
    assert (a.added, a.removed, a.changed) == (b.added, b.removed, b.changed)
    c = gen.job_inputs(4, 400)
    assert set(c.snap1["url"]).isdisjoint(a.snap1["url"])
    assert set(c.snap1["html"]).isdisjoint(a.snap1["html"])


def test_job_inputs_recrawl_shape():
    ji = gen.job_inputs(9, 1000)
    s1, s2 = set(ji.snap1["url"]), set(ji.snap2["url"])
    assert len(s1) == len(ji.snap1) and len(s2) == len(ji.snap2)
    assert s2 == (s1 - set(ji.removed)) | set(ji.added)
    assert (len(ji.changed), len(ji.removed), len(ji.added)) == (10, 5, 5)
    old = dict(zip(ji.snap1["url"], ji.snap1["html"]))
    new = dict(zip(ji.snap2["url"], ji.snap2["html"]))
    assert [u for u in s1 & s2 if old[u] != new[u]] != []
    assert sorted(u for u in s1 & s2 if old[u] != new[u]) == sorted(ji.changed)
    # planted documents are never recrawled away
    assert ji.planted("corrupt_pdf") == ji.planted("encrypted_pdf") == 20
    for u in ji.changed + ji.removed:
        assert ji.kind[u] not in gen.PLANTED


def test_query_order_is_seeded():
    names = [f"q{i}" for i in range(8)]
    assert gen.query_order(1, names) == gen.query_order(1, names)
    assert sorted(gen.query_order(1, names)) == names
    assert len({tuple(gen.query_order(s, names)) for s in range(6)}) > 1


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_covered_is_the_length_of_the_union():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3  # clipped to [0, 10]
    assert covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_time_on_a_hand_built_tree():
    root = Span(0, "workload", None, 0.0, 10.0)
    a = Span(1, "pass", 0, 1.0, 4.0)
    b = Span(2, "pass", 0, 3.0, 6.0)  # overlaps a by one second
    c = Span(3, "call", 1, 1.5, 2.5)
    assert self_time(root, [a, b]) == pytest.approx(10 - 5)
    assert self_time(a, [c]) == pytest.approx(3 - 1)
    assert self_time(c, []) == pytest.approx(1)


class _Sc:
    def __init__(self):
        self.groups = []
        self._jsc = self

    def setJobGroup(self, group, _desc):
        self.groups.append(group)

    def clearJobGroup(self):
        self.groups.append(None)


def test_tracer_records_only_when_enabled(tmp_path):
    sc = _Sc()
    off = Tracer(sc, enabled=False)
    with off.span("a", spark_jobs=True) as s:
        pass
    assert off.spans == [] and sc.groups == [] and s.duration >= 0
    on = Tracer(sc, enabled=True)
    with on.span("workload") as w:
        with on.span("call", spark_jobs=True, call=True) as c:
            pass
    assert [x.name for x in on.spans] == ["workload", "call"]
    assert c.parent == w.id and on.children(w) == [c]
    assert sc.groups == [c.group, None]
    on.dump(str(tmp_path / "t.json"))
    tree = json.loads((tmp_path / "t.json").read_text())["spans"]
    assert tree[0]["self_s"] == pytest.approx(w.duration - c.duration)


_AQE_PLAN = """== Physical Plan ==
OverwriteByExpression (14)
+- AdaptiveSparkPlan (13)
   +- == Final Plan ==
      ResultQueryStage (9), Statistics(sizeInBytes=8.0 EiB)
      +- MapInArrow (8)
         +- * HashAggregate (7)
            +- AQEShuffleRead (6)
               +- ShuffleQueryStage (5), Statistics(sizeInBytes=672.0 B, rowCount=28)
                  +- Exchange (4)
                     +- * HashAggregate (3)
                        +- * Project (2)
                           +- * Range (1)
   +- == Initial Plan ==
      MapInArrow (12)
      +- HashAggregate (11)
         +- Exchange (10)
            +- HashAggregate (3)
               +- Project (2)
                  +- Range (1)


(1) Range [codegen id : 1]
Output [1]: [id#0L]

(4) Exchange
Input [2]: [k#1L, count#10L]
"""


def test_plan_counts_final_plan_only():
    assert plan_counts(_AQE_PLAN) == {"exchanges": 1, "python_evals": 1}
    joined = (
        "== Physical Plan ==\n* BroadcastHashJoin Inner (5)\n"
        ":- ArrowEvalPython (2)\n:  +- Scan (1)\n"
        "+- BroadcastExchange (4)\n   +- ReusedExchange (3)\n"
    )
    assert plan_counts(joined) == {"exchanges": 1, "python_evals": 1}


# ---------------------------------------------------------------------------
# output checks fail on corrupted results
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def job():
    ji = gen.job_inputs(2, 400)
    rows = [
        (u, ji.kind[u] == "encrypted_pdf", ji.kind[u] in gen.PLANTED)
        for u in ji.snap2["url"]
    ]
    return ji, rows


def test_job_output_check_passes_on_the_expected_table(job):
    ji, rows = job
    assert checks.job_output(rows, ji) == []


def test_job_output_check_fails_on_corruption(job):
    ji, rows = job
    assert checks.job_output(rows + [rows[0]], ji)  # duplicate
    assert checks.job_output(rows[1:], ji)  # missing url
    assert checks.job_output(rows + [(ji.removed[0], False, False)], ji)
    flip = [(u, not e if i == 0 else e, d) for i, (u, e, d) in enumerate(rows)]
    assert checks.job_output(flip, ji)  # error count off
    plain = next(i for i, (_u, e, d) in enumerate(rows) if not (e or d))
    emptied = [(u, e, d or i == plain) for i, (u, e, d) in enumerate(rows)]
    assert checks.job_output(emptied, ji)  # degraded count off


def test_incremental_result_check(job):
    ji, _rows = job
    good = {"n_added": len(ji.added), "n_removed": len(ji.removed),
            "n_changed": len(ji.changed)}
    assert checks.incremental_result(good, ji) == []
    assert checks.incremental_result({**good, "n_changed": 0}, ji)


def test_query_rows_check():
    def row_key(r):
        return tuple(repr(v) for v in r)

    cols, rows = ["a", "b"], [(1, 2.5), (2, 3.5)]
    ok = checks.query_rows("q", cols, rows, ["b", "a"], [(3.5, 2), (2.5, 1)],
                           row_key=row_key)
    assert ok == []
    assert checks.query_rows("q", cols, rows, cols, rows[:1], row_key=row_key)
    assert checks.query_rows("q", cols, rows, cols, [(1, 2.5), (2, 3.25)],
                             row_key=row_key)
    assert checks.query_rows("q", cols, rows, ["a", "c"], rows, row_key=row_key)


def test_query_rows_uses_the_contract_normalisation():
    row_key = checks._contract_normalizer()
    assert checks.query_rows(
        "q", ["x"], [(float("nan"),)], ["x"], [(float("nan"),)], row_key=row_key
    ) == []


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with what the benchmark prints
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
    from perfbench.run import WORKLOAD_NAMES
    from perfbench.workloads import WORKLOADS

    assert set(WORKLOADS) == set(WORKLOAD_NAMES)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOAD_NAMES)
