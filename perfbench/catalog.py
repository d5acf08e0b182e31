"""Every metric the benchmark prints: name -> (unit, better).
BENCHMARK.json declares the same names (a test holds the two
together)."""

from __future__ import annotations

from .workloads import QUERY_NAMES

LOWER, HIGHER = "lower", "higher"

END_TO_END = {
    "setup_s": ("s", LOWER),
    "steady_cpu_s": ("s", LOWER),
    "peak_rss_mb": ("MB", LOWER),
}

PER_LAYER = {
    # wall times of a pass: they follow the shared host's load too
    # closely to carry a bound (see README.md)
    "steady_pass_s": ("s", LOWER),
    "first_pass_s": ("s", LOWER),
    # extract / kernels: per-task stage sums from the lineage rows
    "extract.parse_s": ("s", LOWER),
    "extract.detect_s": ("s", LOWER),
    "kernels.nms_s": ("s", LOWER),
    "extract.assemble_s": ("s", LOWER),
    **{f"extract.us_per_doc.{f}": ("us", LOWER)
       for f in ("html", "gzip", "http", "cp1252", "pdf")},
    # pipeline: the Arrow kernel tasks
    "pipeline.kernel_task_s": ("s", LOWER),
    "pipeline.arrow_build_s": ("s", LOWER),
    "pipeline.docs": ("count", HIGHER),
    "pipeline.input_mb": ("MB", HIGHER),
    "pipeline.regions_per_doc": ("count", HIGHER),
    "pipeline.error_rows": ("count", LOWER),
    "pipeline.degraded_rows": ("count", LOWER),
    # sink / tableformat
    "sink.write_s": ("s", LOWER),
    "sink.commit_s": ("s", LOWER),
    "sink.job_docs_per_s": ("docs/s", HIGHER),
    "tableformat.files": ("count", LOWER),
    "tableformat.input_mb": ("MB", HIGHER),
    "tableformat.output_mb": ("MB", LOWER),
    "tableformat.bytes_per_input_byte": ("ratio", LOWER),
    # incremental
    "incremental.call_s": ("s", LOWER),
    "incremental.buckets_reprocessed": ("count", LOWER),
    "incremental.docs_reextracted": ("count", LOWER),
    "incremental.useful_ratio": ("ratio", HIGHER),
    # driver: scan, memo, session and the query builders
    "driver.first_build_s": ("s", LOWER),
    "driver.build_s": ("s", LOWER),
    "driver.execute_s": ("s", LOWER),
    "plan.exchanges": ("count", LOWER),
    "plan.python_evals": ("count", LOWER),
    **{
        f"q.{q}.{m}": (u, LOWER)
        for q in QUERY_NAMES
        for m, u in (("build_s", "s"), ("execute_s", "s"),
                     ("exchanges", "count"), ("python_evals", "count"))
    },
    # Spark engine, from the status store
    "spark.executor_run_s": ("s", LOWER),
    "spark.executor_cpu_s": ("s", LOWER),
    "spark.cpu_util": ("ratio", HIGHER),
    "spark.shuffle_write_mb": ("MB", LOWER),
    "spark.shuffle_read_mb": ("MB", LOWER),
    "spark.spill_mb": ("MB", LOWER),
    "spark.peak_exec_mem_mb": ("MB", LOWER),
    "spark.tasks": ("count", LOWER),
    "spark.task_skew": ("ratio", LOWER),
    # memory and tracing
    "mem.driver_rss_mb": ("MB", LOWER),
    "mem.worker_rss_mb": ("MB", LOWER),
    "mem.jvm_heap_mb": ("MB", LOWER),
    "trace.overhead_ratio": ("ratio", LOWER),
}
