"""Incremental-crawl composite job: snapshot diff -> targeted bucket
re-extraction (r3 verdict item 9).

The invariant: after `run_incremental_job(old, new, out)`, the output
table is BYTE-IDENTICAL to a from-scratch extraction of the new
snapshot — while only the buckets touched by added/changed/removed
urls were rewritten.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doclayout_yolo_spark.pipeline import (
    data_path,
    read_extracted,
    run_extraction_job,
    run_incremental_job,
    snapshot_diff,
    with_part_id,
)

N_BUCKETS = 16


@pytest.fixture(scope="module")
def snapshots(spark):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from incremental_job import synth_snapshots

    v1, v2 = synth_snapshots(spark, 300)
    v1.cache().count()
    v2.cache().count()
    return v1, v2


_COLS = (
    "url", "extracted_text", "spans", "n_regions", "n_blocks", "page_h",
    "error",
)


def _rows(spark, out_dir):
    """Every output column per url (urls are unique in a committed
    table, so the url alone orders the rows)."""
    return sorted(
        (tuple(r) for r in read_extracted(spark, out_dir).select(*_COLS).collect()),
        key=lambda t: t[0],
    )


def test_snapshot_diff_statuses(spark, snapshots):
    v1, v2 = snapshots
    counts = {
        r["status"]: r["count"]
        for r in snapshot_diff(v1, v2).groupBy("status").count().collect()
    }
    assert counts["removed"] == 20
    assert counts["changed"] == 20
    assert counts["added"] == 60  # ids 300..359
    assert counts["unchanged"] == 260


def test_snapshot_diff_null_html_is_present(spark):
    """A page whose html is null is still in its snapshot: the diff
    decides added/removed by presence, not by a null content hash."""
    ddl = "url string, html binary"
    old = spark.createDataFrame(
        [("a", b"x"), ("b", b"y"), ("c", None), ("e", b"z")], ddl
    )
    new = spark.createDataFrame(
        [("a", None), ("b", b"y"), ("c", None), ("d", None)], ddl
    )
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        "a": "changed", "b": "unchanged", "c": "unchanged", "d": "added",
        "e": "removed",
    }


def test_incremental_equals_full_reextraction(spark, snapshots, tmp_path_factory):
    v1, v2 = snapshots
    out = str(tmp_path_factory.mktemp("incr") / "out")
    ref = str(tmp_path_factory.mktemp("incr") / "ref")
    run_extraction_job(spark, v1, out, n_buckets=N_BUCKETS)
    stats = run_incremental_job(spark, v1, v2, out, n_buckets=N_BUCKETS)
    assert stats["n_added"] == 60 and stats["n_changed"] == 20
    assert stats["n_removed"] == 20 and stats["n_unchanged"] == 260
    assert 0 < stats["n_buckets_reprocessed"] <= N_BUCKETS
    # ground truth: extract the new snapshot from scratch
    run_extraction_job(spark, v2, ref, n_buckets=N_BUCKETS)
    assert _rows(spark, out) == _rows(spark, ref)
    # the changed docs really carry the v2 paragraph
    changed_txt = [
        r for r in _rows(spark, out)
        if "updated paragraph appended in the v2 crawl" in r[1]
    ]
    assert len(changed_txt) == 20

    # idempotence: running the SAME incremental again must not change
    # a byte (dynamic overwrite of the same buckets to the same data)
    before = _rows(spark, out)
    stats2 = run_incremental_job(spark, v1, v2, out, n_buckets=N_BUCKETS)
    assert stats2["n_buckets_reprocessed"] == stats["n_buckets_reprocessed"]
    assert _rows(spark, out) == before


def test_incremental_job_entrypoint_smoke(spark, tmp_path_factory, monkeypatch):
    # the spark-submit wrapper end-to-end on the seeded fixture twins
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import incremental_job

    out = str(tmp_path_factory.mktemp("incrjob") / "o")
    monkeypatch.setattr(
        sys, "argv",
        ["incremental_job.py", "--generate", "150", "--output", out,
         "--buckets", str(N_BUCKETS)],
    )
    incremental_job.main(stop_session=False)
    urls = {r["url"] for r in read_extracted(spark, out).select("url").collect()}
    assert len(urls) == 150 - 20 + 30  # removed 20, added n//5


def test_emptied_bucket_partition_is_deleted(spark, snapshots, tmp_path_factory):
    v1, _v2 = snapshots
    out = str(tmp_path_factory.mktemp("incr") / "out")
    run_extraction_job(spark, v1, out, n_buckets=N_BUCKETS)
    # new snapshot removes EVERY url of one bucket
    victim = (
        with_part_id(v1.select("url"), N_BUCKETS)
        .groupBy("part_id").count().orderBy("count", "part_id").first()["part_id"]
    )
    doomed = [
        r["url"]
        for r in with_part_id(v1.select("url"), N_BUCKETS)
        .filter(F.col("part_id") == victim).collect()
    ]
    v2 = v1.filter(~F.col("url").isin(doomed))
    stats = run_incremental_job(spark, v1, v2, out, n_buckets=N_BUCKETS)
    assert stats["n_removed"] == len(doomed)
    assert not os.path.exists(os.path.join(data_path(out), f"part_id={victim}"))
    got_urls = {r["url"] for r in read_extracted(spark, out).select("url").collect()}
    assert got_urls == {r["url"] for r in v2.select("url").collect()}

    # manifest/data consistency (r4 advisor finding): the emptied bucket
    # is TOMBSTONED, so completed_buckets no longer claims it and a
    # reconcile pass can't confuse it with a committed bucket...
    from doclayout_yolo_spark.pipeline import completed_buckets, stale_buckets

    done = {r["part_id"] for r in completed_buckets(spark, out).collect()}
    assert victim not in done
    assert victim not in stale_buckets(spark, out)  # nothing to upgrade

    # ...and a later snapshot that RE-ADDS those urls re-extracts the
    # bucket (re-commit supersedes the tombstone)
    stats3 = run_incremental_job(spark, v2, v1, out, n_buckets=N_BUCKETS)
    assert stats3["n_added"] == len(doomed)
    done3 = {r["part_id"] for r in completed_buckets(spark, out).collect()}
    assert victim in done3
    assert os.path.exists(os.path.join(data_path(out), f"part_id={victim}"))
    urls3 = {r["url"] for r in read_extracted(spark, out).select("url").collect()}
    assert urls3 == {r["url"] for r in v1.select("url").collect()}


def test_null_html_page_keeps_its_bucket_live(spark, snapshots, tmp_path_factory):
    """A bucket whose only surviving page has null html is still live:
    it is re-extracted and committed, never deleted or tombstoned."""
    v1, _v2 = snapshots
    out = str(tmp_path_factory.mktemp("incr") / "out")
    ref = str(tmp_path_factory.mktemp("incr") / "ref")
    run_extraction_job(spark, v1, out, n_buckets=N_BUCKETS)
    victim = (
        with_part_id(v1.select("url"), N_BUCKETS)
        .groupBy("part_id").count().orderBy("count", "part_id").first()["part_id"]
    )
    doomed = sorted(
        r["url"]
        for r in with_part_id(v1.select("url"), N_BUCKETS)
        .filter(F.col("part_id") == victim).collect()
    )
    keep = doomed[0]
    v2 = v1.filter(~F.col("url").isin(doomed[1:])).withColumn(
        "html",
        F.when(F.col("url") == keep, F.lit(None).cast("binary")).otherwise(
            F.col("html")
        ),
    )
    stats = run_incremental_job(spark, v1, v2, out, n_buckets=N_BUCKETS)
    assert stats["n_changed"] == 1
    assert stats["n_removed"] == len(doomed) - 1
    assert os.path.exists(os.path.join(data_path(out), f"part_id={victim}"))
    run_extraction_job(spark, v2, ref, n_buckets=N_BUCKETS)
    assert _rows(spark, out) == _rows(spark, ref)
