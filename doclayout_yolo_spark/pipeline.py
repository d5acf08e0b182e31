"""The Spark extraction job.

Plan (SURVEY §3.1 Spark rendering):

    scan(pages) -> select(url, html)            # column pruning, P3
      -> withColumn(part_id = pmod(xxhash64(url), n_buckets))
      -> choose buckets:                        # per entry point
           run_extraction_job:      LEFT ANTI JOIN manifest ON part_id
           reprocess_stale_buckets: part_id IN stale buckets
           run_incremental_job:     part_id IN touched buckets
      -> _extract_and_commit:                   # the one sink path
           repartition(P, part_id)              # explicit shuffle, P8
           -> mapInArrow(extract_kernel)        # fused Arrow kernel, P1/P11
           -> write parquet partitioned by part_id  (append, or
              dynamic overwrite of the buckets present)
           -> lineage append (per-task accumulator rows, one file)
           -> ONE manifest append (one file): the buckets the lineage
              says were written, stamped KERNEL_VERSION, plus the
              tombstones of emptied buckets

Commit order is data, then lineage, then manifest: a crash before the
manifest append leaves data no manifest row claims, which the next
``run_extraction_job`` deletes (``reconcile``) and re-extracts.
Lineage and manifest rows are built on the driver and committed from
Arrow-built local frames (``session.local_df``): the plan is a
JVM-only LocalTableScan, so a commit runs no Python worker task.  Both
side tables are read with their declared schemas (``LINEAGE_DDL``,
``MANIFEST_DDL``), so a read samples no footer and runs no schema-merge
job; columns that older files lack read as null and are coalesced.

At 100 TB this maps 1:1 onto an Iceberg table: ``part_id`` becomes the
``bucket(url)`` partition transform, the manifest+data write becomes a
single atomic snapshot commit, and resume prunes scanned files by
partition.  Parquet stands in here because no Iceberg runtime jar is
available in the sandbox; the logic (anti-join resume keyed on bucket,
idempotent re-run) is identical.

Kernel determinism: per-document computation uses only the document's
own bytes (extract.extract_document), so outputs are byte-identical at
any parallelism / batch composition — the cross-parallelism test pins
this (SURVEY §5.6).
"""

from __future__ import annotations

import operator
import time
from collections.abc import Sequence
from itertools import repeat

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import KERNEL_VERSION, extract_documents
from .session import local_df
from .tableformat import FORMAT

SPANS_DDL = (
    "array<struct<region_id:int,cls:int,name:string,conf:double,"
    "x1:double,y1:double,x2:double,y2:double,start:int,end:int>>"
)
OUTPUT_DDL = (
    "url string, part_id int, extracted_text string, "
    f"spans {SPANS_DDL}, n_regions int, n_blocks int, page_h double, "
    "error string"
)

DEFAULT_BUCKETS = 64  # >> cores locally; thousands on a real cluster


class _ListAccum(AccumulatorParam):
    """Accumulates small per-task lineage dicts to the driver (one row
    per Arrow-kernel task — tiny even at 10^5 partitions)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


_NUMPY_TYPES = {"int32": "int32", "int64": "int64", "float": "float32", "double": "float64"}


def _arrow_array(values, type_):
    """One output column of the Arrow kernels, built from a Python list
    (or a NumPy array) with ``pa.Array.from_buffers`` over NumPy
    buffers; ``.equals`` the ``pa.array(values, type_)`` it replaces.
    ``pa.array`` is never called because its array-like probe imports
    pandas into the Python worker (+38 MB RSS per worker, measured),
    and no kernel here uses pandas.  ``type_`` is ``pa.int32()``,
    ``pa.int64()``, ``pa.float64()``, ``pa.bool_()``, ``pa.string()``
    or ``pa.binary()``; a None value becomes a null (validity bitmap).
    Strings and binaries take int32 offsets."""
    import numpy as np  # noqa: PLC0415 — executor-side import
    import pyarrow as pa  # noqa: PLC0415

    n = len(values)
    kind = str(type_)
    validity, n_null = None, 0
    if not isinstance(values, np.ndarray) and None in values:
        valid = np.fromiter(map(operator.is_not, values, repeat(None)), np.bool_, n)
        n_null = n - int(valid.sum())
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
        fill = {"string": "", "binary": b""}.get(kind, 0)
        values = [fill if v is None else v for v in values]
    if kind == "bool":
        bits = np.packbits(np.asarray(values, np.bool_), bitorder="little")
        return pa.Array.from_buffers(type_, n, [validity, pa.py_buffer(bits)], null_count=n_null)
    if kind not in ("string", "binary"):
        arr = np.ascontiguousarray(values, dtype=_NUMPY_TYPES[kind])
        return pa.Array.from_buffers(type_, n, [validity, pa.py_buffer(arr)], null_count=n_null)
    encoded = [v.encode() for v in values] if kind == "string" else values
    lengths, data = map(len, encoded), b"".join(encoded)
    if len(data) > np.iinfo(np.int32).max:
        raise OverflowError(f"{kind} column over 2 GiB: offsets are int32")
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(np.fromiter(lengths, np.int32, n), out=offsets[1:])
    return pa.Array.from_buffers(
        type_, n, [validity, pa.py_buffer(offsets), pa.py_buffer(data)], null_count=n_null
    )


_DDL_TYPES = {"int": "int32", "long": "int64", "double": "float64",
              "boolean": "bool_", "string": "string", "binary": "binary"}


def _arrow_table(ddl: str, columns: list):
    """The result of an Arrow kernel whose Spark schema is the flat
    ``ddl`` (``"name type, ..."`` over int/long/double/boolean/string/
    binary), from one list or NumPy array per column, each built with
    :func:`_arrow_array`.  The types are the exact ones
    ``mapInArrow``/``applyInArrow`` check the result against."""
    import pyarrow as pa  # noqa: PLC0415 — executor-side import

    schema = pa.schema(
        [(name, getattr(pa, _DDL_TYPES[t])()) for name, t in map(str.split, ddl.split(","))]
    )
    return pa.Table.from_arrays(
        [_arrow_array(c, f.type) for c, f in zip(columns, schema)], schema=schema
    )


def _numpy_of(col):
    """A null-free int32/int64/float32/float64 Arrow column (Array or
    ChunkedArray) as a NumPy array, read from its data buffer.  The
    kernels' way in, mirroring :func:`_arrow_array` on the way out:
    ``Array.to_numpy`` imports pandas into the worker."""
    import numpy as np  # noqa: PLC0415 — executor-side import

    if hasattr(col, "combine_chunks"):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"{col.type} column has {col.null_count} nulls")
    dtype = np.dtype(_NUMPY_TYPES[str(col.type)])
    return np.frombuffer(
        col.buffers()[1], dtype, len(col), col.offset * dtype.itemsize
    )


def _extract_batches(batches, lineage_acc=None):
    """mapInArrow kernel: iterator of Arrow record batches of (url,
    html, part_id) -> iterator of output record batches.  One fused
    kernel per task, mirroring the reference's
    single-predictor-per-worker pattern (engine/predictor.py:112,218).

    r6: Arrow-native on BOTH sides (was mapInPandas).  The old path
    paid a pandas object-column round trip each way, and built spans
    as per-row lists of dicts that pandas->Arrow coerced row by row —
    the dominant non-compute cost of the flagship (guide §4.2: hand
    whole batches to vectorized construction).  Spans are now built
    once per batch from flat field lists via StructArray/
    ListArray.from_arrays; url/html/part_id pass through as Arrow
    columns.  Row values are identical — only the serialization path
    changed (golden byte-identity + contract sweeps pin this).

    Every built column goes through :func:`_arrow_array`, never
    ``pa.array``, so the worker running this kernel never imports
    pandas (``tests/test_arrow_kernels.py`` pins both)."""
    import pyarrow as pa  # noqa: PLC0415 — executor-side import

    from pyspark import TaskContext  # noqa: PLC0415

    t_start = time.time()
    n_docs = 0
    n_regions_total = 0
    bytes_in = 0
    part_ids = set()
    # per-stage speed attribution (A11 / predictor.py:259-266 parity):
    # parse / detect / NMS / assemble wall seconds, summed per task
    stage_acc: dict = {}
    span_struct = pa.struct(
        [
            ("region_id", pa.int32()), ("cls", pa.int32()),
            ("name", pa.string()), ("conf", pa.float64()),
            ("x1", pa.float64()), ("y1", pa.float64()),
            ("x2", pa.float64()), ("y2", pa.float64()),
            ("start", pa.int32()), ("end", pa.int32()),
        ]
    )
    out_schema = pa.schema(
        [
            ("url", pa.string()), ("part_id", pa.int32()),
            ("extracted_text", pa.string()),
            ("spans", pa.list_(span_struct)),
            ("n_regions", pa.int32()), ("n_blocks", pa.int32()),
            ("page_h", pa.float64()), ("error", pa.string()),
        ]
    )
    for rb in batches:
        raws = [
            h if h is not None else b""
            for h in rb.column(rb.schema.get_field_index("html")).to_pylist()
        ]
        pid_col = rb.column(rb.schema.get_field_index("part_id"))
        pids = pid_col.to_pylist()
        # one batched detector + NMS pass for the whole Arrow batch —
        # byte-identical to the per-doc path (extract.extract_documents),
        # ~1.4-16x the per-doc throughput depending on page size
        results = extract_documents(raws, stage_acc)
        texts: list[str] = []
        errors: list[str | None] = []
        nregs: list[int] = []
        nblks: list[int] = []
        pageh: list[float] = []
        offsets: list[int] = [0]
        f_rid: list[int] = []
        f_cls: list[int] = []
        f_name: list[str] = []
        f_conf: list[float] = []
        f_x1: list[float] = []
        f_y1: list[float] = []
        f_x2: list[float] = []
        f_y2: list[float] = []
        f_start: list[int] = []
        f_end: list[int] = []
        for raw, pid, (text, regions, meta, err) in zip(
            raws, pids, results
        ):
            texts.append(text)
            errors.append(err)
            nregs.append(meta["n_regions"])
            nblks.append(meta["n_blocks"])
            pageh.append(meta["page_h"])
            for r in regions:
                f_rid.append(r.region_id)
                f_cls.append(r.cls)
                f_name.append(r.name)
                f_conf.append(r.conf)
                f_x1.append(r.x1)
                f_y1.append(r.y1)
                f_x2.append(r.x2)
                f_y2.append(r.y2)
                f_start.append(r.start)
                f_end.append(r.end)
            offsets.append(len(f_rid))
            n_docs += 1
            n_regions_total += meta["n_regions"]
            bytes_in += len(raw)
            part_ids.add(pid)
        i32, f64, txt = pa.int32(), pa.float64(), pa.string()
        struct_arr = pa.StructArray.from_arrays(
            [
                _arrow_array(f_rid, i32), _arrow_array(f_cls, i32),
                _arrow_array(f_name, txt), _arrow_array(f_conf, f64),
                _arrow_array(f_x1, f64), _arrow_array(f_y1, f64),
                _arrow_array(f_x2, f64), _arrow_array(f_y2, f64),
                _arrow_array(f_start, i32), _arrow_array(f_end, i32),
            ],
            fields=list(span_struct),
        )
        spans_arr = pa.ListArray.from_arrays(_arrow_array(offsets, i32), struct_arr)
        yield pa.RecordBatch.from_arrays(
            [
                rb.column(rb.schema.get_field_index("url")).cast(txt),
                pid_col.cast(i32),
                _arrow_array(texts, txt),
                spans_arr,
                _arrow_array(nregs, i32),
                _arrow_array(nblks, i32),
                _arrow_array(pageh, f64),
                _arrow_array(errors, txt),
            ],
            schema=out_schema,
        )
    if lineage_acc is not None and n_docs > 0:  # skip empty tasks
        tc = TaskContext.get()
        lineage_acc.add(
            [
                {
                    "task_partition_id": tc.partitionId() if tc else -1,
                    # accumulator updates in transformations are
                    # at-least-once (task retries / speculative attempts
                    # re-fire them); the driver dedups by partition id,
                    # last attempt wins
                    "attempt_number": tc.attemptNumber() if tc else 0,
                    "task_attempt_id": tc.taskAttemptId() if tc else -1,
                    "part_ids": sorted(part_ids),
                    "n_docs": n_docs,
                    "n_regions": n_regions_total,
                    "bytes_in": bytes_in,
                    "t_start": t_start,
                    "t_end": time.time(),
                    "parse_s": stage_acc.get("parse_s", 0.0),
                    "detect_s": stage_acc.get("detect_s", 0.0),
                    "nms_s": stage_acc.get("nms_s", 0.0),
                    "assemble_s": stage_acc.get("assemble_s", 0.0),
                    "kernel_version": KERNEL_VERSION,
                }
            ]
        )


def with_part_id(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Bucket assignment — the Iceberg ``bucket(n, url)`` transform
    analog.  xxhash64 is JVM-side and stable across runs."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def extract_pages(
    df: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
    lineage_acc=None,
) -> DataFrame:
    """Core transform: prune columns, bucket, run the fused Arrow
    kernel.  Returns the extraction DataFrame (lazy).

    The kernel is per-document deterministic, so the QUERY path never
    needs the rows grouped by bucket — shuffling the html payloads
    here was pure overhead (guide §8: heavy opaque bytes must move at
    most once, and for a read-compute-discard query they need not move
    at all).  With ``num_partitions=None`` the kernel runs on the
    input's own partitioning: a narrow fixture scan is widened where it
    is read (``scan.table(..., spread=True)``), and the bucket-grouped
    layout the Iceberg-style sink wants is established by
    ``run_extraction_job``'s own repartition before its partitioned
    write.  An explicit ``num_partitions`` is always honoured (one
    exchange to exactly that many partitions)."""
    pruned = df.select("url", "html")  # never ship text/lang into the kernel (P3)
    bucketed = with_part_id(pruned, n_buckets)
    if num_partitions is not None:
        bucketed = bucketed.repartition(num_partitions, "part_id")
    return bucketed.mapInArrow(
        lambda it: _extract_batches(it, lineage_acc), schema=OUTPUT_DDL
    )


# ---------------------------------------------------------------------------
# job runner: manifest + lineage + exactly-once resume
# ---------------------------------------------------------------------------


# Storage concerns (data/manifest layout, commit, reconcile,
# snapshot-staleness) live behind the TableFormat seam — see
# tableformat.py for the 1:1 mapping of each operation to the real
# Iceberg call a production deployment swaps in.


def data_path(output_path: str) -> str:
    return FORMAT.data_path(output_path)


def completed_buckets(spark: SparkSession, output_path: str) -> DataFrame | None:
    return FORMAT.committed_buckets(spark, output_path, KERNEL_VERSION)


LINEAGE_DDL = (
    "task_partition_id int, attempt_number int, "
    "part_ids array<int>, n_docs long, "
    "n_regions long, bytes_in long, t_start double, t_end double, "
    "parse_s double, detect_s double, nms_s double, assemble_s double, "
    "kernel_version string"
)
_STAGE_COLS = ("parse_s", "detect_s", "nms_s", "assemble_s")


def _dedup_lineage(rows) -> list[dict]:
    """Accumulator delivery is at-least-once under task retries /
    speculation: keep exactly one row per task partition, last attempt
    wins, so stats and the lineage table never double-count."""
    best: dict[int, dict] = {}
    for r in rows:
        k = r["task_partition_id"]
        cur = best.get(k)
        if cur is None or (
            (r["attempt_number"], r["task_attempt_id"])
            > (cur["attempt_number"], cur["task_attempt_id"])
        ):
            best[k] = r
    return [best[k] for k in sorted(best)]


def _write_lineage(spark: SparkSession, lineage_rows: list[dict], output_path: str) -> None:
    """Append one job's lineage rows as ONE parquet file."""
    if not lineage_rows:
        return
    cols = [c.split()[0] for c in LINEAGE_DDL.split(", ")]
    local_df(
        spark, [tuple(r[c] for c in cols) for r in lineage_rows], LINEAGE_DDL
    ).coalesce(1).write.mode("append").parquet(FORMAT.lineage_path(output_path))


def _extract_and_commit(
    spark: SparkSession,
    bucketed: DataFrame,
    output_path: str,
    num_partitions: int | None,
    overwrite: bool,
    deleted: Sequence[int] = (),
) -> tuple[int, list[int], float, dict]:
    """The sink's one extract-and-commit path.  ``bucketed`` holds
    (url, html, part_id) rows; they are grouped by bucket, run through
    the Arrow kernel and written under ``data/part_id=<p>`` — appended,
    or with ``overwrite`` replaced by DYNAMIC partition overwrite, which
    rewrites only the buckets present in the write (idempotent: a
    crashed re-run repeats harmlessly).  Then the task lineage rows are
    appended and ONE manifest commit records exactly the buckets those
    rows say were written, at ``KERNEL_VERSION``, plus the ``deleted``
    tombstones.  Returns (n_docs, written buckets, write wall seconds,
    observed metrics)."""
    sc = spark.sparkContext
    lineage_acc = sc.accumulator([], _ListAccum())
    parts = num_partitions or sc.defaultParallelism
    out = bucketed.repartition(parts, "part_id").mapInArrow(
        lambda it: _extract_batches(it, lineage_acc), schema=OUTPUT_DDL
    )
    # Observation: the idiomatic Spark metrics hook — aggregates ride
    # the write action itself (no second job), complementing the
    # row-level lineage table with run-level counters
    obs = Observation("extract_metrics")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.length("extracted_text")).alias("chars"),
        F.count(F.col("error")).alias("errors"),
    )
    writer = out.write.partitionBy("part_id")
    if overwrite:
        writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.mode("append")
    t0 = time.time()
    writer.parquet(data_path(output_path))
    wall = time.time() - t0

    # lineage + manifest (post-write: in Iceberg these rows join the
    # same atomic snapshot commit as the data files)
    lineage_rows = _dedup_lineage(lineage_acc.value)
    written = sorted({p for r in lineage_rows for p in r["part_ids"]})
    _write_lineage(spark, lineage_rows, output_path)
    FORMAT.commit(spark, output_path, KERNEL_VERSION, written, deleted)
    n_docs = sum(r["n_docs"] for r in lineage_rows)
    return n_docs, written, wall, obs.get


def _buckets_of(pages: DataFrame, n_buckets: int, part_ids: list[int]) -> DataFrame:
    """(url, html, part_id) rows of ``pages`` in the buckets ``part_ids``."""
    return with_part_id(pages.select("url", "html"), n_buckets).filter(
        F.col("part_id").isin(part_ids)
    )


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
    bucket_filter=None,
) -> dict:
    """Run (or resume) the extraction job.

    Resume semantics (P13): buckets listed in the manifest are skipped
    via a broadcast LEFT ANTI JOIN — re-running after a partial failure
    processes only unfinished buckets and never duplicates a row.
    Data directories for buckets missing from the manifest (crash
    between data and manifest commit) are deleted up front, so the
    pair behaves atomically.  ``bucket_filter`` (a Column predicate on
    part_id) exists for the kill/resume test to simulate a mid-job
    crash.
    """
    orphans = FORMAT.reconcile(spark, output_path)
    bucketed = with_part_id(pages.select("url", "html"), n_buckets)
    done = completed_buckets(spark, output_path)
    if done is not None:
        bucketed = bucketed.join(F.broadcast(done), "part_id", "left_anti")
    if bucket_filter is not None:
        bucketed = bucketed.filter(bucket_filter)
    n_docs, written, wall, observed = _extract_and_commit(
        spark, bucketed, output_path, num_partitions, overwrite=False
    )
    return {
        "n_docs": n_docs,
        "n_buckets_processed": len(written),
        "n_orphan_buckets_repaired": len(orphans),
        "wall_s": wall,
        "docs_per_sec": n_docs / wall if wall > 0 else 0.0,
        "observed_rows": int(observed.get("rows", 0) or 0),
        "observed_chars": int(observed.get("chars", 0) or 0),
        "observed_errors": int(observed.get("errors", 0) or 0),
    }


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(data_path(output_path))


def read_lineage(spark: SparkSession, output_path: str) -> DataFrame:
    """Lineage rows read with the declared ``LINEAGE_DDL`` (no footer
    sampling, no schema-merge job).  Files of older rounds lack
    columns: round-1 files have no attempt_number, pre-round-5 files no
    per-stage seconds.  Those read as null and surface as
    attempt_number = 0 (first attempt, the only kind round 1 recorded)
    and 0.0 seconds."""
    df = spark.read.schema(LINEAGE_DDL).parquet(FORMAT.lineage_path(output_path))
    return df.withColumns(
        {
            "attempt_number": F.coalesce("attempt_number", F.lit(0)),
            **{c: F.coalesce(c, F.lit(0.0)) for c in _STAGE_COLS},
        }
    )


def stale_buckets(
    spark: SparkSession, output_path: str, version: str = KERNEL_VERSION
) -> list[int]:
    """Buckets whose newest manifest row was written by an OLDER
    kernel: the targets of an incremental re-extraction after a kernel
    upgrade (the Iceberg snapshot-evolution analog — reprocess only
    what the new code would change, not the whole corpus).  Tombstoned
    buckets (emptied by an incremental removal) are NOT stale — they
    have no data to upgrade."""
    return FORMAT.stale_buckets(spark, output_path, version)


def reprocess_stale_buckets(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
) -> dict:
    """Re-extract the buckets stamped with an older kernel version
    from ``pages``, through the sink's one extract-and-commit path with
    dynamic partition overwrite.  The manifest commit stamps only the
    buckets the lineage says were rewritten, so after it
    ``stale_buckets`` no longer lists them; a stale bucket with no url
    in ``pages`` is not rewritten, stays stale and is not counted in
    ``n_buckets_reprocessed``.  Old manifest rows stay as history,
    exactly like superseded Iceberg snapshots."""
    stale = stale_buckets(spark, output_path)
    if not stale:
        return {"n_docs": 0, "n_buckets_reprocessed": 0}
    n_docs, written, _wall, _obs = _extract_and_commit(
        spark, _buckets_of(pages, n_buckets, stale), output_path,
        num_partitions, overwrite=True,
    )
    return {"n_docs": n_docs, "n_buckets_reprocessed": len(written)}


def snapshot_diff(old_pages: DataFrame, new_pages: DataFrame) -> DataFrame:
    """(url, status) for two crawl snapshots of the pages table:
    added / removed / changed / unchanged by html content hash.  One
    full-outer hash join on the url key — no windows, no collect; the
    generic twin of the fixture-bound ``crawl_snapshot_diff`` contract
    query (queries_curation.py)."""
    # presence flags, not md5 nullness, decide added/removed: a page
    # whose html is null is still present in its snapshot
    cur = new_pages.select(
        "url", F.md5(F.col("html")).alias("cur_md5"), F.lit(True).alias("in_cur")
    )
    prev = old_pages.select(
        "url", F.md5(F.col("html")).alias("prev_md5"), F.lit(True).alias("in_prev")
    )
    status = (
        F.when(F.col("in_prev").isNull(), "added")
        .when(F.col("in_cur").isNull(), "removed")
        .when(F.col("cur_md5").eqNullSafe(F.col("prev_md5")), "unchanged")
        .otherwise("changed")
    )
    return cur.join(prev, "url", "full_outer").select(
        "url", status.alias("status")
    )


def run_incremental_job(
    spark: SparkSession,
    old_pages: DataFrame,
    new_pages: DataFrame,
    output_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
) -> dict:
    """Incremental crawl update: diff the two snapshots, then
    re-extract ONLY the buckets touched by added / changed / removed
    urls.  Each touched bucket that still has urls is rebuilt from the
    NEW snapshot through the sink's one extract-and-commit path with
    dynamic partition overwrite (idempotent: a crashed run repeats
    harmlessly); a touched bucket whose urls all vanished has its data
    partition deleted and is tombstoned in the SAME manifest append
    (the delete-file half of one Iceberg overwrite snapshot).
    Untouched buckets are never read, never rewritten.

    Cost at crawl scale: one url-hash join (the diff, aggregated once
    per (bucket, status)) + re-extraction of EVERY document in each
    touched bucket, unchanged ones included, + one lineage append and
    one manifest append.  That is proportional to the touched buckets,
    not to the changed content: 30 added or changed urls spread over 64
    buckets touch about half of them, and re-extract ~1,000 of 2,000
    documents (3% of that work is useful).  Untouched buckets cost
    nothing, which is what bounds a recrawl at 10^12 documents when its
    changes cluster in few buckets."""
    # ONE aggregation answers everything the driver needs: per-status
    # counts, the touched buckets (any non-unchanged url) and the live
    # buckets (any url still present in the new snapshot).  Bounded by
    # 4 x n_buckets rows — dimension-sized, never corpus-sized — and the
    # full-outer md5 join runs once, with no persist and no re-scan of
    # the new snapshot.
    agg = (
        with_part_id(snapshot_diff(old_pages, new_pages), n_buckets)
        .groupBy("part_id", "status")
        .count()
        .collect()
    )
    counts: dict[str, int] = {}
    for r in agg:
        counts[r["status"]] = counts.get(r["status"], 0) + r["count"]
    stale = sorted({r["part_id"] for r in agg if r["status"] != "unchanged"})
    live = {r["part_id"] for r in agg if r["status"] != "removed"}
    result = {
        "n_added": counts.get("added", 0),
        "n_removed": counts.get("removed", 0),
        "n_changed": counts.get("changed", 0),
        "n_unchanged": counts.get("unchanged", 0),
        "n_buckets_reprocessed": len(stale),
        "n_docs": 0,
    }
    if not stale:
        return result
    # dynamic overwrite only replaces partitions PRESENT in the write:
    # a bucket emptied by removals is deleted AND tombstoned by the
    # commit — deleting only the data would leave completed_buckets
    # claiming a bucket with no data directory, indistinguishable from
    # a committed one at the next reconcile (r4 advisor finding)
    result["n_docs"], _written, _wall, _obs = _extract_and_commit(
        spark, _buckets_of(new_pages, n_buckets, stale), output_path,
        num_partitions, overwrite=True,
        deleted=[p for p in stale if p not in live],
    )
    return result


# ---------------------------------------------------------------------------
# crawl-frontier outlinks
# ---------------------------------------------------------------------------

OUTLINKS_DDL = "url string, link_pos int, target string"


def extract_outlinks_df(pages: DataFrame) -> DataFrame:
    """(url, html) pages -> (url, link_pos, target) frontier rows via
    the shared outlink extractor (gzip + charset handling identical to
    the content path).  Map-only — zero shuffle; a poisoned page
    contributes no links rather than failing the task (P9 parity)."""

    def kern(batches):
        import pyarrow as pa  # noqa: PLC0415

        from .extract import extract_outlinks  # noqa: PLC0415

        for rb in batches:
            urls, pos, tgt = [], [], []
            htmls = rb.column("html").to_pylist()
            for u, h in zip(rb.column("url").to_pylist(), htmls):
                try:
                    links = extract_outlinks(
                        u, bytes(h) if h is not None else b""
                    )
                except Exception:  # noqa: BLE001 — quarantine parity
                    links = []
                for i, t in enumerate(links):
                    urls.append(u)
                    pos.append(i)
                    tgt.append(t)
            yield pa.RecordBatch.from_arrays(
                [
                    _arrow_array(urls, pa.string()),
                    _arrow_array(pos, pa.int32()),
                    _arrow_array(tgt, pa.string()),
                ],
                names=["url", "link_pos", "target"],
            )

    return pages.select("url", "html").mapInArrow(kern, schema=OUTLINKS_DDL)


METADATA_DDL = (
    "url string, title string, description string, og_title string,"
    " canonical string, lang string"
)


def extract_metadata_df(pages: DataFrame) -> DataFrame:
    """(url, html) pages -> one metadata row per page via the shared
    extractor (extract.extract_page_metadata — gzip + charset handling
    identical to the content path).  Map-only, zero shuffle; a
    poisoned page yields an all-None row rather than failing the task
    (P9 parity)."""

    def kern(batches):
        import pyarrow as pa  # noqa: PLC0415

        from .extract import extract_page_metadata  # noqa: PLC0415

        fields = ("title", "description", "og_title", "canonical", "lang")
        for rb in batches:
            cols = {f: [] for f in fields}
            htmls = rb.column("html").to_pylist()
            for u, h in zip(rb.column("url").to_pylist(), htmls):
                try:
                    md = extract_page_metadata(
                        u, bytes(h) if h is not None else b""
                    )
                except Exception:  # noqa: BLE001 — quarantine parity
                    md = {}
                for f, vals in cols.items():
                    vals.append(md.get(f))
            yield pa.RecordBatch.from_arrays(
                [rb.column("url").cast(pa.string())]
                + [_arrow_array(vals, pa.string()) for vals in cols.values()],
                names=["url", *fields],
            )

    return pages.select("url", "html").mapInArrow(kern, schema=METADATA_DDL)


# ---------------------------------------------------------------------------
# skew-aware host aggregation (salting exemplar, P9)
# ---------------------------------------------------------------------------


def host_stats(pages: DataFrame, n_salts: int = 16) -> DataFrame:
    """Per-host page counts/bytes over a zipf-skewed host distribution.

    Two-stage salted aggregation: stage 1 groups on (host, salt) so the
    hot host's rows spread over ``n_salts`` reducers (map-side partial
    aggregation still applies); stage 2 re-aggregates the tiny
    (host, salt) partials.  This is the explicit skew treatment the
    north rule asks for; AQE skew-join handling is the backstop.
    """
    host = F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host")
    salted = pages.select(
        host,
        F.length("html").alias("html_bytes"),
        F.pmod(F.xxhash64("url"), F.lit(n_salts)).alias("salt"),
    )
    partial = salted.groupBy("host", "salt").agg(
        F.count("*").alias("c"), F.sum("html_bytes").alias("b")
    )
    return (
        partial.groupBy("host")
        .agg(F.sum("c").alias("n_pages"), F.sum("b").alias("total_html_bytes"))
        .orderBy(F.desc("n_pages"), "host")
    )


# ---------------------------------------------------------------------------
# host-graph PageRank (crawl prioritization over the outlink frontier)
# ---------------------------------------------------------------------------


def pagerank_df(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    handle_dangling: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over a weighted ``(src, dst, w)`` host
    graph — the crawl-prioritization consumer of the outlink frontier
    (``extract_outlinks_df``).  Output: one row per host, columns
    ``(host, pr)`` with Σpr = 1.

    Scale shape (|hosts| ~ 10^8 at crawl scale — far too big to
    broadcast or collect, tiny next to |docs|): each iteration is ONE
    equi-join of the rank vector to the edge list on ``src`` (both
    sides hash-partitioned on the join key; the edge side's shuffle is
    reused across iterations because the edge subtree is identical
    every round and Spark's ReuseExchange dedups identical exchanges
    in the final plan) plus ONE ``groupBy(dst)`` with map-side partial
    aggregation.  No driver-side actions, collects, or persists — the
    whole ``iters``-deep recurrence is a single lazy plan.

    Dangling hosts (no out-edges) leak rank mass; the leaked mass is
    recovered as ``1 - Σ contributions`` (rank mass is conserved, so
    the contributions' total is exactly the non-dangling share), read
    from the same aggregation via a one-row cross join.  That second
    reference to the contribution subtree would double the LOGICAL
    plan every round (2^iters analysis blowup), so the dangling path
    truncates lineage with an eager ``localCheckpoint`` per iteration
    — the standard Spark shape for iterative algorithms; the
    checkpointed frame is the |hosts|-row rank vector, not the edge
    list.  With ``handle_dangling=False`` (use when the graph is known
    dangling-free, e.g. every host link-reciprocated by construction)
    the whole recurrence stays one lazy, action-free, linear plan.
    """
    # the static side (edge transitions, host list, n) is referenced by
    # EVERY iteration; a lazy chain would re-derive it — and whatever
    # upstream corpus scan/extraction produced the edges — once per
    # iteration.  Materialize it once with an eager localCheckpoint:
    # the recurrence then references checkpointed partitions, the
    # upstream runs exactly once, and storage is released with the
    # frames (no persist bookkeeping).  localCheckpoint is lost on
    # executor failure — acceptable for a rank job that simply reruns.
    edges = edges.localCheckpoint(eager=True)
    hosts = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_df = hosts.agg(F.count("*").cast("double").alias("n"))
    # per-src out-mass ow = Σw; the per-edge contribution is computed
    # as (pr * w) / ow — the SAME association order as the oracle's
    # `p.pr * ew.w / outw.ow`, so cross-engine drift is summation
    # order only (~1 ulp, far under the 6-dp rounding)
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    trans = (
        edges.join(outw, "src")
        .select("src", "dst", "w", "ow")
        .localCheckpoint(eager=True)
    )
    ranks = hosts.crossJoin(F.broadcast(n_df)).select(
        "host", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            ranks.join(trans, ranks.host == trans.src)
            .groupBy("dst")
            .agg(
                F.sum(F.col("pr") * F.col("w") / F.col("ow")).alias("contrib")
            )
        )
        base = hosts.join(
            contrib, hosts.host == contrib.dst, "left"
        ).select("host", F.coalesce("contrib", F.lit(0.0)).alias("contrib"))
        if handle_dangling:
            total = contrib.agg(F.sum("contrib").alias("tot"))
            base = base.crossJoin(F.broadcast(total))
            inflow = F.col("contrib") + (F.lit(1.0) - F.col("tot")) / F.col("n")
        else:
            inflow = F.col("contrib")
        ranks = base.crossJoin(F.broadcast(n_df)).select(
            "host",
            (
                (F.lit(1.0) - F.lit(damping)) / F.col("n")
                + F.lit(damping) * inflow
            ).alias("pr"),
        )
        if handle_dangling:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks
