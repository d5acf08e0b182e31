"""SparkSession factory with the tuned physical configs (SURVEY §4).

All performance-relevant knobs live here so bench / tests / driver use
identical settings:

- AQE on (runtime re-plan + skew-join split backstop, P9)
- shuffle partitions sized to cores, not the 200 default
- Arrow enabled + ``maxRecordsPerBatch`` tuned explicitly for
  binary-html payload rows (north rule: "Arrow batch sizing tuned
  explicitly"; P1).  1024 rows/batch measured ~10% faster end-to-end
  extraction than 256 in an interleaved A/B at local[32] (fewer
  Arrow round-trips; per-batch memory stays ~30 MB at Common-Crawl
  page weight, far under executor headroom; 4096 regressed again —
  worse pipelining).
- each generated class compiled once per session (P11: the relational
  work runs through whole-stage codegen; Janino compiles and the JIT
  of each fresh class cost driver CPU).  Spark keeps compiled classes
  in an LRU of ``spark.sql.codegen.cache.maxEntries`` (default 100)
  keyed by source text.  The engine's working set is larger: the 139
  contract queries at sf0.001 compile 1,231 distinct classes, the
  five queries of the benchmark's ``contract_queries`` workload 142.
  With the default the cache thrashes: a second sweep of the 139
  queries in one session recompiled 1,644 classes (16.5 s of Janino
  time), and every steady pass of the five recompiled 86-119.  With
  ``CODEGEN_CACHE_ENTRIES`` = 4096 (3x headroom) and the next conf the
  second sweep compiles 14 (in four join-heavy queries, likely the
  second plan shapes described below) and the steady passes 0.
  ``spark.sql.codegen.useIdInClassName=false`` takes the codegen stage
  id out of ``GeneratedIteratorForCodegenStage<N>``: AQE numbers
  stages as it creates them, so the same code gets another id (new
  source text, a miss however large the cache) when it runs behind
  other stages; with the large cache alone steady passes still
  compiled 6-13 classes.  AQE can also pick the other build side of
  a broadcast join when the other shuffle stage finishes first: a
  second plan shape, whose classes compile once.  Memory: the
  default evicts classes that mostly stay loaded (309 unloaded of
  3,454 compiled over two sweeps); metaspace after the two sweeps was
  193.5 MB with the default and 191.3 MB with both confs (after a
  forced full GC 181.4 vs 191.3 MB: ~10 MB holds the whole working
  set).  Both are settings of the session, not per-query options: the
  cache size is a static conf, read once when the JVM's codegen cache
  is built, and identical code hits the cache only if every query in
  the session names its classes the same way.

``local_df`` is the one way driver-side rows (lineage, manifest,
small dimension tables) become a DataFrame: built as an Arrow table,
so the plan is a JVM-only ``LocalTableScan`` and no Python worker
task runs for rows that never need Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

ARROW_BATCH_ROWS = 1024
# Spark's compiled-class cache (default 100 entries) sized above the
# engine's working set of generated classes; see the module docstring.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app: str = "doclayout-yolo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = ARROW_BATCH_ROWS,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    n_cores = int(master[master.index("[") + 1 : -1]) if "[" in master else cpus
    shuffle = shuffle_partitions or max(n_cores, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # scan-parallelism floor (guide §6): derived from the session's
        # core count, never a constant — locally it splits the 131 MB
        # lineitem file across its 6 row groups instead of 2 x 128 MB
        # splits; at production scale totalBytes/cores >> 128 MB so
        # maxPartitionBytes governs and this floor is inert
        .config("spark.sql.files.minPartitionNum", str(n_cores))
        # zstd: ~30% smaller than snappy on text-heavy columns at
        # comparable CPU — at 100 TB the scan is IO-bound, so this is
        # a direct throughput lever for downstream readers
        .config("spark.sql.parquet.compression.codec", "zstd")
        # compile each generated class once per session: a cache that
        # holds the working set, and class names without the codegen
        # stage id, which AQE assigns in the order it creates stages
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-side row tuples -> a DataFrame typed by ``ddl``.

    ``createDataFrame(<python list>)`` goes ``sc.parallelize`` ->
    ``applySchemaToPythonRDD``: one Python worker task per
    default-parallelism slice, each paying the worker's start-up cost
    (and, on first use, a second worker daemon).  An Arrow table
    typed from the DDL crosses once, driver to JVM, and plans as a
    ``LocalTableScan`` with no ``PythonRDD`` in its lineage."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import _parse_datatype_string  # noqa: PLC0415

    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
