"""The sink's commit path: one lineage file and one manifest file per
job, manifest and lineage read with their declared schemas (no
schema-merge job), a commit whose only Spark job is its write, no
manifest read on a table that has none, and the public names the
benchmark imports."""

from __future__ import annotations

import glob
import importlib
import os
import sys
import uuid

import pytest
from pyspark.sql import functions as F

from doclayout_yolo_spark.extract import KERNEL_VERSION
from doclayout_yolo_spark.fixtures import generate_pages_df
from doclayout_yolo_spark.pipeline import (
    completed_buckets,
    read_lineage,
    run_extraction_job,
    run_incremental_job,
    stale_buckets,
    with_part_id,
)
from doclayout_yolo_spark.session import local_df
from doclayout_yolo_spark.tableformat import FORMAT, MANIFEST_DDL, TOMBSTONE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_BUCKETS = 8


def _parquet_files(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "*.parquet")))


def _side_files(out: str) -> tuple[set[str], set[str]]:
    return (
        _parquet_files(FORMAT.lineage_path(out)),
        _parquet_files(FORMAT.manifest_path(out)),
    )


def _jobs_of(spark, fn):
    """(fn's result, ids of the Spark jobs fn started), counted under a
    fresh job group from the status tracker."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return res, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A job over 40 pages, then an incremental run that changes one
    page in one bucket and removes every url of another; the side-table
    files after each step."""
    out = str(tmp_path_factory.mktemp("sink") / "t")
    v1 = generate_pages_df(spark, 40, partitions=2).select("url", "html").cache()
    by_bucket = {}
    for r in with_part_id(v1, N_BUCKETS).collect():
        by_bucket.setdefault(r["part_id"], []).append(r["url"])
    emptied, changed = sorted(by_bucket)[:2]
    v2 = v1.filter(~F.col("url").isin(by_bucket[emptied])).withColumn(
        "html",
        F.when(
            F.col("url") == by_bucket[changed][0],
            F.lit("<html><body><p>changed</p></body></html>").cast("binary"),
        ).otherwise(F.col("html")),
    )
    steps = [_side_files(out)]
    run_extraction_job(spark, v1, out, n_buckets=N_BUCKETS)
    steps.append(_side_files(out))
    inc = run_incremental_job(spark, v1, v2, out, n_buckets=N_BUCKETS)
    steps.append(_side_files(out))
    return {"out": out, "steps": steps, "inc": inc, "emptied": emptied,
            "changed": changed}


def test_each_commit_adds_one_lineage_and_one_manifest_file(table):
    steps = table["steps"]
    assert steps[0] == (set(), set())
    for before, after in zip(steps, steps[1:]):
        for b, a in zip(before, after):
            assert b <= a and len(a - b) == 1


def test_incremental_with_emptied_bucket_appends_one_manifest_file(spark, table):
    inc, out = table["inc"], table["out"]
    assert inc["n_changed"] == 1 and inc["n_removed"] > 0
    assert inc["n_buckets_reprocessed"] == 2
    (_, m_job), (_, m_inc) = table["steps"][1:]
    assert len(m_inc - m_job) == 1
    # that one file holds the re-commit and the tombstone together
    rows = spark.read.parquet(*(m_inc - m_job)).collect()
    assert sorted((r["part_id"], r["kernel_version"]) for r in rows) == sorted(
        [(table["changed"], KERNEL_VERSION), (table["emptied"], TOMBSTONE)]
    )
    assert len({r["seq"] for r in rows}) == 1
    done = {r["part_id"] for r in completed_buckets(spark, out).collect()}
    assert table["emptied"] not in done and table["changed"] in done


def test_manifest_reads_start_no_schema_job(spark, table):
    out = table["out"]
    m, jobs = _jobs_of(spark, lambda: FORMAT.read_manifest(spark, out))
    assert m is not None and jobs == []
    done, jobs = _jobs_of(spark, lambda: completed_buckets(spark, out))
    assert done is not None and jobs == []
    # stale_buckets runs exactly the jobs of its own collect
    latest = FORMAT._latest_rows(m, KERNEL_VERSION).filter(
        ~F.col("kernel_version").isin(KERNEL_VERSION, TOMBSTONE)
    )
    _, collect_jobs = _jobs_of(spark, latest.collect)
    stale, jobs = _jobs_of(spark, lambda: stale_buckets(spark, out))
    assert stale == [] and len(jobs) == len(collect_jobs)


def test_commit_starts_no_job_besides_its_write(spark, tmp_path_factory):
    # the seq floor is read on the driver: the commit's jobs are those
    # of a bare manifest-file write
    base = tmp_path_factory.mktemp("commit_jobs")
    out = str(base / "t")
    FORMAT.commit(spark, out, KERNEL_VERSION, written=[1])
    _, jobs = _jobs_of(
        spark,
        lambda: FORMAT.commit(spark, out, KERNEL_VERSION, written=[2], deleted=[1]),
    )
    _, write_jobs = _jobs_of(
        spark,
        lambda: local_df(spark, [(2, KERNEL_VERSION, 1.0)], MANIFEST_DDL)
        .coalesce(1).write.mode("append").parquet(str(base / "bare")),
    )
    assert len(jobs) == len(write_jobs) >= 1
    rows = FORMAT.read_manifest(spark, out).collect()
    assert len(rows) == 3 and len({r["seq"] for r in rows}) == 2


def test_missing_table_makes_no_spark_read(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    def no_read(*args, **kwargs):
        raise AssertionError("spark.read on a table with no manifest")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    out = str(tmp_path / "absent")
    assert FORMAT.read_manifest(spark, out) is None
    assert FORMAT.committed_buckets(spark, out, KERNEL_VERSION) is None
    assert FORMAT.stale_buckets(spark, out, KERNEL_VERSION) == []
    assert FORMAT.reconcile(spark, out) == []


def test_legacy_manifest_file_reads_seq_zero(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("legacy_m") / "t")
    spark.createDataFrame(
        [(5, "0.1.0")], "part_id int, kernel_version string"
    ).write.parquet(FORMAT.manifest_path(out))
    FORMAT.commit(spark, out, "1.0.0", written=[6])
    rows = {
        r["part_id"]: (r["kernel_version"], r["seq"])
        for r in FORMAT.read_manifest(spark, out).collect()
    }
    assert rows[5] == ("0.1.0", 0.0)
    assert rows[6][0] == "1.0.0" and rows[6][1] > 0.0
    assert stale_buckets(spark, out, "1.0.0") == [5]


def test_legacy_lineage_file_reads_zeros(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("legacy_l") / "t")
    spark.createDataFrame(
        [(0, [1, 2], 3, 9, 100, 1.0, 2.0, "0.1.0")],
        "task_partition_id int, part_ids array<int>, n_docs long, "
        "n_regions long, bytes_in long, t_start double, t_end double, "
        "kernel_version string",
    ).write.parquet(FORMAT.lineage_path(out))
    (row,) = read_lineage(spark, out).collect()
    assert row["attempt_number"] == 0
    assert [row[c] for c in ("parse_s", "detect_s", "nms_s", "assemble_s")] == [
        0.0, 0.0, 0.0, 0.0,
    ]
    assert (row["n_docs"], row["part_ids"]) == (3, [1, 2])


def test_benchmark_workloads_import():
    """The benchmark imports the sink's public names; a refactor that
    drops one must fail here, not in the benchmark run."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    importlib.import_module("perfbench.workloads")
