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

``local_df`` is the one way driver-side rows (lineage, manifest,
small dimension tables) become a DataFrame: built as an Arrow table,
so the plan is a JVM-only ``LocalTableScan`` and no Python worker
task runs for rows that never need Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

ARROW_BATCH_ROWS = 1024


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
