"""Spans around the benchmark's calls into the package, and the Spark
status-store figures attached to them.

A span is (id, name, parent, start, end).  With tracing on, every span
that may run Spark jobs tags them with ``setJobGroup(<span id>)``, so
the jobs, stages and SQL executions in Spark's status store can be
attributed to the span that caused them.  Spans stay in memory and are
written out once, at exit.  With tracing off the same context manager
only reads the clock: the end-to-end figures come from those runs.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        # closed spans marked ``call=True``, traced or not
        self.calls: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, spark_jobs: bool = False, **attrs):
        """Time a block.  The yielded span's duration is valid after
        the block; with tracing on it joins the tree, and with
        ``spark_jobs`` its Spark jobs carry its job group."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, name, parent, 0.0, attrs=dict(attrs))
        self._next += 1
        if self.enabled:
            self.spans.append(s)
            if spark_jobs:
                self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if s.attrs.get("call"):
                self.calls.append(s)
            if self.enabled and spark_jobs:
                self.sc._jsc.clearJobGroup()

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            pid = todo.pop()
            kids = [c for c in self.spans if c.parent == pid]
            out.extend(kids)
            todo.extend(c.id for c in kids)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        tree = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self_time(s, self.children(s))
            tree.append(d)
        with open(path, "w") as f:
            json.dump({"spans": tree, **(extra or {})}, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# executed-plan node counts
# ---------------------------------------------------------------------------

_NODE_RE = re.compile(r"^[\s:|+\-*]*([A-Za-z]\w*) \((\d+)\)")
_PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython")


def plan_counts(description: str) -> dict[str, int]:
    """Exchanges and Python-evaluation nodes in a formatted physical
    plan.  Under AQE only the final plan counts: the initial plan is
    what Catalyst proposed, not what ran.  Reused exchanges are not
    counted: they shuffle nothing."""
    nodes: dict[str, str] = {}
    skip = False
    for line in description.splitlines():
        if "== Initial Plan ==" in line:
            skip = True
            continue
        if "== Final Plan ==" in line or not line.strip():
            skip = False
            continue
        m = _NODE_RE.match(line)
        if m and not skip:
            nodes[m.group(2)] = m.group(1)
    names = list(nodes.values())
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in names),
        "python_evals": sum(bool(_PYTHON_NODE.search(n)) for n in names),
    }


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Jobs, stages and SQL executions of this application, grouped by
    job group.  Read once, after the measured passes."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        self.jobs: dict[int, dict] = {}
        self.by_group: dict[str, list[dict]] = {}
        for j in _seq(store.jobsList(None)):
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            job = {
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "start": sub.getTime() / 1000 if sub else 0.0,
                "end": done.getTime() / 1000 if done else 0.0,
                "stages": _seq(j.stageIds()),
            }
            self.jobs[job["id"]] = job
            if job["group"]:
                self.by_group.setdefault(job["group"], []).append(job)
        self._store = store
        self._stages: dict[int, dict | None] = {}
        self.plans: dict[str, dict[str, int]] = {}
        sql = spark._jsparkSession.sharedState().statusStore()
        for e in _seq(sql.executionsList()):
            job_ids = [int(k) for k in _seq(e.jobs().keys().toSeq())]
            groups = {self.jobs[k]["group"] for k in job_ids if k in self.jobs}
            counts = plan_counts(e.physicalPlanDescription())
            for g in groups - {None}:
                acc = self.plans.setdefault(g, {"exchanges": 0, "python_evals": 0})
                for k, v in counts.items():
                    acc[k] += v

    def stage(self, sid: int) -> dict | None:
        """Metrics of a completed stage (None for skipped ones)."""
        if sid not in self._stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never ran
                self._stages[sid] = None
                return None
            if str(st.status()) != "COMPLETE":
                self._stages[sid] = None
                return None
            tasks = _seq(self._store.taskList(sid, st.attemptId(), 1_000_000))
            self._stages[sid] = {
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "shuffle_write_b": st.shuffleWriteBytes(),
                "shuffle_read_b": st.shuffleReadBytes(),
                "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "peak_exec_mem_b": st.peakExecutionMemory(),
                "tasks": st.numCompleteTasks(),
                "task_s": [
                    (_opt(t.duration()) or 0) / 1e3 for t in tasks
                ],
            }
        return self._stages[sid]

    def span_jobs(self, spans: list[Span]) -> list[dict]:
        return [j for s in spans for j in self.by_group.get(s.group, [])]

    def spark_busy(self, span: Span) -> float:
        """Seconds of ``span`` during which one of its jobs ran."""
        jobs = self.by_group.get(span.group, [])
        return covered([(j["start"], j["end"]) for j in jobs], span.start, span.end)

    def engine(self, spans: list[Span], wall: float, cores: int) -> dict:
        """spark.* figures over the jobs of ``spans``."""
        stages = [
            st for st in (
                self.stage(sid)
                for sid in sorted({s for j in self.span_jobs(spans) for s in j["stages"]})
            ) if st is not None
        ]
        mb = 1e6
        run = sum(s["run_s"] for s in stages)
        cpu = sum(s["cpu_s"] for s in stages)
        longest = max(stages, key=lambda s: s["run_s"], default=None)
        skew = 0.0
        if longest and longest["task_s"]:
            ts = sorted(longest["task_s"])
            med = ts[len(ts) // 2]
            skew = ts[-1] / med if med > 0 else 0.0
        return {
            "spark.executor_run_s": run,
            "spark.executor_cpu_s": cpu,
            "spark.cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
            "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / mb,
            "spark.spill_mb": sum(s["spill_b"] for s in stages) / mb,
            "spark.peak_exec_mem_mb": max(
                (s["peak_exec_mem_b"] for s in stages), default=0
            ) / mb,
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.task_skew": skew,
        }

    def plan(self, spans: list[Span]) -> dict[str, int]:
        out = {"exchanges": 0, "python_evals": 0}
        for s in spans:
            for k, v in self.plans.get(s.group, {}).items():
                out[k] += v
        return out
