"""The benchmark's workloads.

Each workload is a ``pass`` run repeatedly in one warm session: a
first pass, then steady passes until the run's seconds are spent.
With tracing on, the first pass and half the steady passes are
traced; the untraced steady passes give the overhead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from doclayout_yolo_spark.contract import ALL_QUERIES
from doclayout_yolo_spark.extract import extract_documents
from doclayout_yolo_spark.pipeline import (
    data_path,
    read_extracted,
    read_lineage,
    run_extraction_job,
    run_incremental_job,
)

from . import checks, gen
from .procmem import TreeMeter
from .spans import Span, StatusStore, Tracer

N_JOB_DOCS = 2000
MIN_STEADY = 3
MIN_STEADY_TRACED = 4  # two traced, two untraced

# one contract query per query module, each named by an open item
# where one fits the benchmark's time budget
QUERIES = {
    "queries_relational": ["q5_region_revenue"],
    "queries_text": ["tfidf_top_terms"],
    "queries_vector": ["ann_lsh_multiband"],
    "queries_detect": ["detection_map"],
    "queries_curation": ["warc_roundtrip"],
}
QUERY_NAMES = [q for qs in QUERIES.values() for q in qs]


def _force(df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


def _heap_pools(spark) -> list:
    """The driver JVM's heap memory pools (eden, survivor, old)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


@dataclass
class Pass:
    seconds: float
    traced: bool
    span: Span
    extra: object  # what the workload's pass function returned
    peak_rss: dict  # peak bytes resident during the pass, by process kind
    cpu_s: float  # CPU seconds the process tree used during the pass
    heap_peak: int  # sum of the JVM heap pools' peak bytes in use
    calls: dict  # seconds of each call into the package, by span name


@dataclass
class Run:
    spark: object
    tracer: Tracer
    mem: TreeMeter
    seed: int
    seconds: float
    trace: bool
    cpus: int
    work: str
    root: str
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    passes: list[Pass] = field(default_factory=list)

    def attempt(self, what: str, fn, *args, **kwargs):
        """One operation against the program: a raise is a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
            self.failed += 1
            self.problems.append(f"{what}: {type(e).__name__}: {e}"[:400])
            return None

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def loop(self, one_pass) -> None:
        """First pass, then steady passes until ``seconds`` have passed
        since the first began (and at least a minimum of them)."""
        deadline = time.time() + self.seconds
        least = self._skip + (MIN_STEADY_TRACED if self.trace else MIN_STEADY) - 1
        pools = _heap_pools(self.spark)
        k = 0
        while k <= least or time.time() < deadline:
            # traced: the first pass; then, after one untraced pass
            # that only warms up, traced, untraced, untraced, traced,
            # ... so that a slow drift weighs on both sides of the
            # overhead ratio alike
            traced = self.trace and (k == 0 or k >= 2 and (k - 2) % 4 in (0, 3))
            self.tracer.enabled = traced
            for p in pools:
                p.resetPeakUsage()
            self.mem.new_window()
            self.tracer.calls = []
            with self.tracer.span("pass", index=k) as s:
                extra = one_pass(k, traced)
            calls = {c.name: c.duration for c in self.tracer.calls}
            peak, cpu = self.mem.new_window()
            heap = sum(p.getPeakUsage().getUsed() for p in pools)
            self.passes.append(
                Pass(s.duration, traced, s, extra, peak, cpu, heap, calls))
            self.tracer.enabled = self.trace
            k += 1

    # -- end-to-end figures ------------------------------------------------

    def first_pass_s(self) -> float:
        return self.passes[0].seconds

    @property
    def _skip(self) -> int:
        """Passes before the steady ones: the first, and in a traced
        run one more, whose JIT warm-up would bias the overhead."""
        return 2 if self.trace else 1

    def steady(self, traced: bool) -> list[Pass]:
        return [p for p in self.passes[self._skip:] if p.traced == traced]

    def steady_pass_s(self, traced: bool = False) -> float:
        """Sum over the pass's calls of each call's median across the
        steady passes: a slow spell on a shared host then costs one
        call one sample, not a whole pass."""
        passes = self.steady(traced)
        return sum(
            statistics.median(p.calls[name] for p in passes)
            for name in passes[0].calls
        )

    def steady_cpu_s(self) -> float:
        """Mean over the untraced steady passes of the CPU seconds the
        process tree used.  Unlike wall time, CPU time does not grow
        while a shared host's hypervisor runs other guests.  The steady
        passes still warm up, each costing less than the one before, so
        a median would be just the middle pass; the mean counts all the
        measured work."""
        return statistics.fmean(p.cpu_s for p in self.steady(False))

    def steady_peak_rss_mb(self, kind: str = "total") -> float:
        """Median over the untraced steady passes of each pass's peak."""
        return statistics.median(
            p.peak_rss[kind] for p in self.steady(False)) / 1e6


def _median_dict(dicts: list[dict]) -> dict:
    keys = dicts[0].keys() if dicts else []
    return {k: statistics.median(d[k] for d in dicts) for k in keys}


# ---------------------------------------------------------------------------
# per-layer figures shared by every workload
# ---------------------------------------------------------------------------


def _calls(tracer: Tracer, span: Span) -> list[Span]:
    return [s for s in tracer.descendants(span) if s.attrs.get("call")]


def common_layers(run: Run, store: StatusStore) -> dict:
    """driver.*, plan.*, spark.* and trace.overhead_ratio."""
    tr = run.tracer

    def driver_s(span):
        return sum(c.duration - store.spark_busy(c) for c in _calls(tr, span))

    def busy_s(span):
        return sum(store.spark_busy(c) for c in _calls(tr, span))

    traced = run.steady(True)
    out = {
        "steady_pass_s": run.steady_pass_s(),
        "first_pass_s": run.first_pass_s(),
        "driver.first_build_s": driver_s(run.passes[0].span),
        "driver.build_s": statistics.median(driver_s(p.span) for p in traced),
        "driver.execute_s": statistics.median(busy_s(p.span) for p in traced),
    }
    plan = store.plan(_calls(tr, traced[-1].span))
    out["plan.exchanges"] = plan["exchanges"]
    out["plan.python_evals"] = plan["python_evals"]
    out.update(_median_dict([
        store.engine(_calls(tr, p.span), p.seconds, run.cpus) for p in traced
    ]))
    out["trace.overhead_ratio"] = run.steady_pass_s(True) / run.steady_pass_s()
    out["mem.driver_rss_mb"] = run.steady_peak_rss_mb("driver")
    out["mem.worker_rss_mb"] = run.steady_peak_rss_mb("workers")
    out["mem.jvm_heap_mb"] = statistics.median(
        p.heap_peak for p in run.steady(False)) / 1e6
    return out


def kernel_layers(lineage: list[dict]) -> dict:
    """extract.* / kernels.* / pipeline.* from per-task lineage rows."""
    task_s = sum(r["t_end"] - r["t_start"] for r in lineage)
    stages = {k: sum(r[k] for r in lineage) for k in
              ("parse_s", "detect_s", "nms_s", "assemble_s")}
    docs = sum(r["n_docs"] for r in lineage)
    return {
        "extract.parse_s": stages["parse_s"],
        "extract.detect_s": stages["detect_s"],
        "kernels.nms_s": stages["nms_s"],
        "extract.assemble_s": stages["assemble_s"],
        "pipeline.kernel_task_s": task_s,
        "pipeline.arrow_build_s": task_s - sum(stages.values()),
        "pipeline.docs": docs,
        "pipeline.input_mb": sum(r["bytes_in"] for r in lineage) / 1e6,
        "pipeline.regions_per_doc": (
            sum(r["n_regions"] for r in lineage) / docs if docs else 0.0
        ),
    }


def format_kernel_us() -> dict:
    """Single-process microseconds per document of
    ``extract.extract_documents`` on a fixed sample of each wire
    format, best of three."""
    out = {}
    for fmt, payloads in gen.format_samples().items():
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            extract_documents(payloads)
            best = min(best, time.perf_counter() - t0)
        out[f"extract.us_per_doc.{fmt}"] = best / len(payloads) * 1e6
    return out


# ---------------------------------------------------------------------------
# extract_job_incremental: the write path
# ---------------------------------------------------------------------------


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def extract_job_incremental(run: Run) -> dict:
    spark = run.spark
    inputs = gen.job_inputs(run.seed, N_JOB_DOCS)
    ddl = "url string, html binary"
    snap1 = spark.createDataFrame(inputs.snap1, ddl).cache()
    snap2 = spark.createDataFrame(inputs.snap2, ddl).cache()
    snap1.count()
    snap2.count()
    in1 = int(inputs.snap1["html"].map(len).sum())
    in2 = int(inputs.snap2["html"].map(len).sum())
    base = os.path.join(run.work, "job")
    shutil.rmtree(base, ignore_errors=True)

    def one_pass(k, traced):
        out = os.path.join(base, f"pass{k}")
        with run.tracer.span(
            "run_extraction_job", spark_jobs=True, call=True
        ) as js:
            job = run.attempt(
                "run_extraction_job", run_extraction_job, spark, snap1, out
            )
        with run.tracer.span(
            "run_incremental_job", spark_jobs=True, call=True
        ) as inc_span:
            inc = run.attempt(
                "run_incremental_job", run_incremental_job, spark, snap1, snap2, out
            )
        return {
            "job": job, "job_s": js.duration, "inc": inc,
            "inc_s": inc_span.duration, "out": out,
        }

    run.loop(one_pass)

    # output checks, outside the timed passes
    for p in run.passes:
        if p.extra["inc"] is not None:
            run.check(checks.incremental_result(p.extra["inc"], inputs))
    last = run.passes[-1].extra
    rows = run.attempt(
        "read_extracted",
        lambda: read_extracted(spark, last["out"]).select(
            "url", F.col("error").isNotNull().alias("e"),
            (F.col("extracted_text") == "").alias("d"),
        ).collect(),
    )
    if rows is not None:
        run.check(checks.job_output([(r.url, r.e, r.d) for r in rows], inputs))

    layers = {}
    if run.trace:
        per_pass = []
        for extra in (p.extra for p in run.steady(True)):
            if not extra["job"] or not extra["inc"]:
                continue
            job, inc = extra["job"], extra["inc"]
            lineage = [r.asDict() for r in read_lineage(spark, extra["out"]).collect()]
            files, size = _dir_stats(data_path(extra["out"]))
            d = kernel_layers(lineage)
            d.update({
                "sink.write_s": job["wall_s"],
                "sink.commit_s": extra["job_s"] - job["wall_s"],
                "tableformat.files": files,
                "tableformat.output_mb": size / 1e6,
                "tableformat.bytes_per_input_byte": size / in2,
                "incremental.buckets_reprocessed": inc["n_buckets_reprocessed"],
                "incremental.docs_reextracted": inc["n_docs"],
                "incremental.useful_ratio": (
                    (inc["n_added"] + inc["n_changed"]) / inc["n_docs"]
                    if inc["n_docs"] else 0.0
                ),
            })
            per_pass.append(d)
        layers = _median_dict(per_pass)
        if rows is not None:
            layers["pipeline.error_rows"] = sum(1 for r in rows if r.e)
            layers["pipeline.degraded_rows"] = sum(1 for r in rows if r.d and not r.e)
        untraced = run.steady(False)
        layers["sink.job_docs_per_s"] = statistics.median(
            N_JOB_DOCS / p.extra["job_s"] for p in untraced
        )
        layers["incremental.call_s"] = statistics.median(
            p.extra["inc_s"] for p in untraced
        )
        layers["tableformat.input_mb"] = in1 / 1e6
    shutil.rmtree(base, ignore_errors=True)
    snap1.unpersist()
    snap2.unpersist()
    return layers


# ---------------------------------------------------------------------------
# contract_queries: driver build + execution of contract queries
# ---------------------------------------------------------------------------


def contract_queries(run: Run) -> dict:
    import duckdb  # noqa: PLC0415

    spark = run.spark
    sf = os.path.join(run.root, "perfbench", "data", "sf0.01")
    order = gen.query_order(run.seed, QUERY_NAMES)

    def collected(q, df):
        got = run.attempt(q, df.collect)
        return None if got is None else (df.columns, [tuple(r) for r in got])

    def one_pass(k, traced):
        """Build and force each query.  The first pass forces with a
        collect, whose rows the oracle check reads afterwards (the
        results are a few hundred rows at most); later passes force
        with a noop write.  The first query of a cold pass pays for
        warming Catalyst, so the first pass keeps one order on every
        seed."""
        rows = {}
        for q in QUERY_NAMES if k == 0 else order:
            fn = ALL_QUERIES[q][0]
            with run.tracer.span(f"build:{q}", spark_jobs=True, call=True):
                df = run.attempt(q, fn, spark, sf)
            with run.tracer.span(f"execute:{q}", spark_jobs=True, call=True):
                if df is not None and k == 0:
                    rows[q] = collected(q, df)
                elif df is not None:
                    run.attempt(q, _force, df)
        return rows

    run.loop(one_pass)

    # output checks against the DuckDB oracle, outside the timed passes:
    # the first pass's rows, and one more build of each query in the
    # warm session, on the memo state the steady passes ran on
    warm = {}
    for q in QUERY_NAMES:
        df = run.attempt(q, ALL_QUERIES[q][0], spark, sf)
        if df is not None:
            warm[q] = collected(q, df)
    row_key = checks._contract_normalizer()
    con = duckdb.connect()
    for name in sorted(os.listdir(sf)):
        if name.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                f"parquet_scan('{os.path.join(sf, name)}')"
            )
    for q in QUERY_NAMES:
        res = run.attempt(f"{q} oracle", con.execute, ALL_QUERIES[q][1])
        if res is None:
            continue
        want_cols, want = [d[0] for d in res.description], res.fetchall()
        for when, got in (("first pass", run.passes[0].extra.get(q)),
                          ("warm", warm.get(q))):
            if got is not None:
                run.check(checks.query_rows(
                    f"{q} ({when})", *got, want_cols, want, row_key=row_key))
    con.close()
    return {}


def query_layers(run: Run, store: StatusStore) -> dict:
    """q.<query>.* over the traced steady passes (contract_queries)."""
    spans: dict[str, list[Span]] = {}
    for p in run.steady(True):
        for c in run.tracer.children(p.span):
            spans.setdefault(c.name, []).append(c)
    out = {}
    for q in QUERY_NAMES:
        builds, executes = spans.get(f"build:{q}", []), spans.get(f"execute:{q}", [])
        if not builds:
            continue
        plan = store.plan([builds[-1], executes[-1]])
        out[f"q.{q}.build_s"] = statistics.median(b.duration for b in builds)
        out[f"q.{q}.execute_s"] = statistics.median(x.duration for x in executes)
        out[f"q.{q}.exchanges"] = plan["exchanges"]
        out[f"q.{q}.python_evals"] = plan["python_evals"]
    return out


WORKLOADS = {
    "extract_job_incremental": extract_job_incremental,
    "contract_queries": contract_queries,
}
