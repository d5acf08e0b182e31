"""Table-format seam: the four storage operations the extraction
pipeline needs from its output table, implemented here as a
parquet+manifest EMULATION (this sandbox ships no Iceberg runtime jar)
and documented 1:1 against the Iceberg calls a real deployment swaps
in.  pipeline.py holds only orchestration; everything that a catalog
would own lives behind this class, so adopting Iceberg deletes this
file's bodies, not the pipeline (r4 verdict item 8).

Emulation -> Iceberg mapping (Iceberg 1.x Java/Spark API):

===========================  ==============================================
emulation (this class)       real Iceberg call
===========================  ==============================================
``commit``                   ``table.newOverwrite()`` (``OverwriteFiles``)
                             ``.addFile(...)`` for the written buckets,
                             ``.deleteFile(...)`` for the replaced and the
                             emptied ones, ``.commit()`` — ONE atomic
                             snapshot per job covering data files AND
                             metadata (a pure append is ``newAppend()``).
                             The emulation removes the emptied buckets'
                             directories and appends their ``__deleted__``
                             tombstones and the written buckets' rows in
                             one manifest file; its separate data-write +
                             manifest-append is why ``reconcile`` exists
``committed_buckets``        ``table.currentSnapshot()`` + partition
                             metadata table (``table.partitions``): which
                             partitions exist in the current snapshot
``stale_buckets``            snapshot summary / partition metadata query on
                             a ``kernel_version`` write property — Iceberg
                             snapshot-evolution: reprocess only partitions
                             stamped by an older writer
``reconcile``                DISAPPEARS: data+metadata commit atomically in
                             Iceberg, there is no crash window between
                             them.  (The related maintenance action is
                             ``SparkActions.deleteOrphanFiles``, which
                             removes files no snapshot references.)
===========================  ==============================================

The manifest is an append-only parquet dir of
``(part_id, kernel_version, seq)`` rows, one file per commit, read with
the declared ``MANIFEST_DDL`` (no footer sampling, no schema-merge
job); a bucket's NEWEST row decides liveness (a ``__deleted__``
tombstone supersedes earlier commits, a re-commit supersedes the
tombstone) — exactly the role of Iceberg's snapshot log, linearized by
the driver-side ``seq`` stamp instead of a catalog's atomic swap.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_df

#: manifest kernel_version marker for a bucket whose data partition was
#: deleted (all its urls removed by an incremental update).  The analog
#: of an Iceberg delete-files snapshot entry.
TOMBSTONE = "__deleted__"

MANIFEST_DDL = "part_id int, kernel_version string, seq double"


class ParquetManifestFormat:
    """The sandbox table format: hash-bucketed parquet partitions under
    ``<table>/data`` + the append-only manifest under
    ``<table>/_manifest`` (+ the lineage side table).  ``table_path`` is
    a local filesystem path: the manifest's existence, its ``seq``
    floor and the orphan partitions are read with ``os``."""

    # -- paths ------------------------------------------------------------
    def data_path(self, table_path: str) -> str:
        return os.path.join(table_path, "data")

    def manifest_path(self, table_path: str) -> str:
        return os.path.join(table_path, "_manifest")

    def lineage_path(self, table_path: str) -> str:
        return os.path.join(table_path, "_lineage")

    # -- manifest I/O ------------------------------------------------------
    def read_manifest(
        self, spark: SparkSession, table_path: str
    ) -> DataFrame | None:
        """Manifest rows, read with the declared ``MANIFEST_DDL``: the
        read starts no Spark job.  Files written before round 5 lack
        the ``seq`` column; it reads as null and is coalesced to 0.0
        (older than any stamped row).  ``None`` if no manifest exists:
        the directory is checked first, so a fresh table makes no
        failing ``spark.read`` (whose error Spark logs with a stack
        trace)."""
        path = self.manifest_path(table_path)
        if not os.path.isdir(path):
            return None
        df = spark.read.schema(MANIFEST_DDL).parquet(path)
        return df.withColumn("seq", F.coalesce("seq", F.lit(0.0)))

    def _max_seq(self, table_path: str) -> float | None:
        """The largest ``seq`` in the manifest, read on the driver with
        pyarrow from each file's ``seq`` column: no Spark job.  Files
        written before round 5 have no ``seq`` (their rows read as 0.0,
        below any clock) and are skipped, as are the hidden files
        (``_SUCCESS``, ``.crc``) Spark's reader skips too.  ``None`` for
        an absent or empty manifest."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        path = self.manifest_path(table_path)
        if not os.path.isdir(path):
            return None
        seqs = []
        for name in os.listdir(path):
            if name.startswith(("_", ".")):
                continue
            f = pq.ParquetFile(os.path.join(path, name))
            if "seq" in f.schema_arrow.names:
                seqs += f.read(columns=["seq"]).column("seq").to_pylist()
        return max((v for v in seqs if v is not None), default=None)

    @staticmethod
    def _latest_rows(m: DataFrame, version: str) -> DataFrame:
        """(part_id, kernel_version) of each bucket's NEWEST manifest
        row.  Tie-break (possible only among pre-seq legacy rows, which
        contain no tombstones): prefer the current kernel version,
        preserving the legacy ``stale_buckets`` semantics of "current
        row present => not stale"."""
        order = F.struct(
            F.col("seq"),
            (F.col("kernel_version") == F.lit(version)).cast("int"),
        )
        return m.groupBy("part_id").agg(
            F.max_by("kernel_version", order).alias("kernel_version")
        )

    # -- the four seam operations -----------------------------------------
    def commit(
        self, spark: SparkSession, table_path: str, version: str,
        written: Sequence[int] = (), deleted: Sequence[int] = (),
    ) -> None:
        """One snapshot: record ``written`` as committed by ``version``
        and ``deleted`` as tombstoned, after removing the deleted
        buckets' data directories (Iceberg: one ``OverwriteFiles``
        commit).  The rows go out as ONE manifest file, stamped with a
        MONOTONE ``seq``: driver wall clock, floored to strictly above
        the manifest's current max — a backwards NTP step between a
        commit and a later tombstone must not let the commit win
        ``_latest_rows`` (r5 review finding; the clock alone is not
        monotone).  The floor is read on the driver (``_max_seq``), so
        the manifest write is the commit's only Spark job."""
        rows = [(p, version) for p in written]
        rows += [(p, TOMBSTONE) for p in deleted]
        if not rows:
            return
        for p in deleted:
            shutil.rmtree(
                os.path.join(self.data_path(table_path), f"part_id={p}"),
                ignore_errors=True,
            )
        now = time.time()
        last = self._max_seq(table_path)
        if last is not None and now <= last:
            now = last + 1e-3
        local_df(
            spark, [(p, v, now) for p, v in rows], MANIFEST_DDL
        ).coalesce(1).write.mode("append").parquet(self.manifest_path(table_path))

    def committed_buckets(
        self, spark: SparkSession, table_path: str, version: str
    ) -> DataFrame | None:
        """Buckets with data committed and not since tombstoned
        (Iceberg: current-snapshot partition listing).  Resume
        anti-joins against this, so an emptied-then-re-added bucket is
        correctly re-extracted rather than skipped."""
        m = self.read_manifest(spark, table_path)
        if m is None:
            return None
        return (
            self._latest_rows(m, version)
            .filter(F.col("kernel_version") != TOMBSTONE)
            .select("part_id")
        )

    def stale_buckets(
        self, spark: SparkSession, table_path: str, version: str
    ) -> list[int]:
        """Buckets whose newest manifest row was written by an OLDER
        kernel (Iceberg: partition metadata filtered on a writer-version
        snapshot property).  Tombstoned buckets are NOT stale — they
        have no data to upgrade."""
        m = self.read_manifest(spark, table_path)
        if m is None:
            return []
        stale = (
            self._latest_rows(m, version)
            .filter(~F.col("kernel_version").isin(version, TOMBSTONE))
            .collect()
        )
        return sorted(r["part_id"] for r in stale)

    def reconcile(self, spark: SparkSession, table_path: str) -> list[int]:
        """Close the crash window between data commit and manifest
        commit: delete any data partition directory whose bucket is NOT
        live in the manifest (idempotent repair — the bucket is then
        re-extracted deterministically).  With a real Iceberg catalog
        data + metadata share one atomic snapshot commit and this step
        DISAPPEARS (the related maintenance is deleteOrphanFiles)."""
        dp = self.data_path(table_path)
        if not os.path.isdir(dp):
            return []
        # version string is irrelevant for liveness here (any non-
        # tombstone newest row means committed); reuse a fixed label
        done = self.committed_buckets(spark, table_path, version="")
        done_ids = (
            {r["part_id"] for r in done.collect()} if done is not None else set()
        )
        orphans = []
        for name in os.listdir(dp):
            if not name.startswith("part_id="):
                continue
            pid = int(name.split("=", 1)[1])
            if pid not in done_ids:
                shutil.rmtree(os.path.join(dp, name), ignore_errors=True)
                orphans.append(pid)
        return sorted(orphans)


#: the pipeline's table format.  A real deployment swaps this instance
#: for an Iceberg-backed implementation of the same four operations.
FORMAT = ParquetManifestFormat()
