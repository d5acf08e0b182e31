"""End-to-end Spark pipeline tests: golden byte-identity vs the
single-process oracle, distributed fixture generation, exactly-once
resume, parallelism invariance, skew-aware host stats (SURVEY §5.3-5.6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doclayout_yolo_spark.fixtures import PAGES_DDL, generate_pages_df, generate_pages_pandas
from doclayout_yolo_spark.oracle import extract_rows
from doclayout_yolo_spark.pipeline import (
    extract_pages,
    host_stats,
    read_extracted,
    run_extraction_job,
)

N_PAGES = 80


@pytest.fixture(scope="module")
def pages_pdf():
    return generate_pages_pandas(N_PAGES)


@pytest.fixture(scope="module")
def pages_df(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf, schema=PAGES_DDL)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def golden(pages_pdf):
    return {
        r["url"]: r
        for r in extract_rows(zip(pages_pdf["url"], pages_pdf["html"]))
    }


def test_distributed_generator_matches_pandas(spark, pages_pdf):
    dist = generate_pages_df(spark, N_PAGES, partitions=7).toPandas()
    dist = dist.sort_values("url").reset_index(drop=True)
    local = pages_pdf.sort_values("url").reset_index(drop=True)
    assert list(dist["url"]) == list(local["url"])
    assert all(bytes(a) == bytes(b) for a, b in zip(dist["html"], local["html"]))
    assert list(dist["lang"]) == list(local["lang"])


def test_golden_byte_identity(spark, pages_df, golden):
    """The north-rule gate: Spark extracted_text byte-equal per url to
    the single-process oracle."""
    out = extract_pages(pages_df, n_buckets=16, num_partitions=5).collect()
    assert len(out) == N_PAGES
    for row in out:
        g = golden[row["url"]]
        assert row["extracted_text"] == g["extracted_text"], row["url"]
        got_spans = [s.asDict() for s in row["spans"]]
        assert got_spans == g["spans"], row["url"]
        assert row["n_regions"] == g["n_regions"]


def test_parallelism_invariance(spark, pages_df, golden):
    """Same input at different partition counts -> identical output
    (per-document kernel never depends on batch composition)."""
    a_df = extract_pages(pages_df, num_partitions=2)
    b_df = extract_pages(pages_df, num_partitions=13)
    # an explicit num_partitions is honoured, not overridden by the probe
    assert a_df.rdd.getNumPartitions() == 2
    assert b_df.rdd.getNumPartitions() == 13
    a = {r["url"]: r["extracted_text"] for r in a_df.collect()}
    b = {r["url"]: r["extracted_text"] for r in b_df.collect()}
    assert a == b


def test_run_job_and_resume(spark, pages_df, tmp_path_factory, golden):
    """Kill/resume semantics: a partial run (simulated crash after some
    buckets) followed by a resumed run yields exactly the one-shot
    output — no missing urls, no duplicates (SURVEY §5.5)."""
    out1 = str(tmp_path_factory.mktemp("oneshot"))
    stats = run_extraction_job(spark, pages_df, out1, n_buckets=8)
    assert stats["n_docs"] == N_PAGES
    oneshot = {
        r["url"]: r["extracted_text"] for r in read_extracted(spark, out1).collect()
    }
    assert len(oneshot) == N_PAGES

    out2 = str(tmp_path_factory.mktemp("resumed"))
    partial = run_extraction_job(
        spark, pages_df, out2, n_buckets=8, bucket_filter=F.col("part_id") < 4
    )
    assert 0 < partial["n_docs"] < N_PAGES
    resumed = run_extraction_job(spark, pages_df, out2, n_buckets=8)
    assert partial["n_docs"] + resumed["n_docs"] == N_PAGES
    rows = read_extracted(spark, out2).collect()
    assert len(rows) == N_PAGES  # no duplicates
    assert {r["url"]: r["extracted_text"] for r in rows} == oneshot

    # idempotent: a third run must process nothing
    again = run_extraction_job(spark, pages_df, out2, n_buckets=8)
    assert again["n_docs"] == 0
    assert len(read_extracted(spark, out2).collect()) == N_PAGES

    # lineage recorded and consistent
    from doclayout_yolo_spark.pipeline import read_lineage

    lineage = read_lineage(spark, out2)
    agg = lineage.agg(F.sum("n_docs").alias("d")).collect()[0]
    assert agg["d"] == N_PAGES
    assert lineage.filter(F.col("bytes_in") <= 0).count() == 0

    # schema evolution: a round-1-era lineage file (no attempt_number)
    # appended into the same dir must not break the read or drop the
    # column — legacy rows surface as attempt_number = 0
    legacy_cols = [c for c in lineage.columns if c != "attempt_number"]
    lineage.select(*legacy_cols).limit(1).write.mode("append").parquet(
        f"{out2}/_lineage"
    )
    merged = read_lineage(spark, out2)
    assert "attempt_number" in merged.columns
    assert merged.count() == lineage.count() + 1
    assert merged.filter(F.col("attempt_number").isNull()).count() == 0


def test_large_binary_rows_survive_batching(spark):
    # SURVEY §7 hard part 5: html:binary rows far above the Arrow
    # batch average must flow through the fused kernel without OOM or
    # row loss — one ~2 MB page among normal ones
    import pandas as pd

    from doclayout_yolo_spark.fixtures import generate_pages_pandas

    pdf = generate_pages_pandas(12)
    big_body = "<p>" + ("lorem ipsum dolor sit amet " * 80_000) + "</p>"
    big = pdf.iloc[:1].copy()
    big["url"] = "https://bighost.example.com/huge"
    big["html"] = [("<html><body>" + big_body + "</body></html>").encode()]
    both = pd.concat([pdf, big], ignore_index=True)
    out = extract_pages(
        spark.createDataFrame(both, schema=PAGES_DDL), n_buckets=4
    ).collect()
    assert len(out) == 13
    assert all(r["error"] is None for r in out)
    huge = [r for r in out if r["url"].endswith("/huge")][0]
    assert len(huge["extracted_text"]) > 1_000_000


def test_orphan_bucket_reconciliation(spark, pages_df, tmp_path_factory):
    """Crash between data commit and manifest commit: the orphaned data
    partition must be deleted and re-extracted on resume — no
    duplicates, no missing urls."""
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("orphan"))
    run_extraction_job(spark, pages_df, out, n_buckets=8)
    data_dir = f"{out}/data"
    manifest_dir = f"{out}/_manifest"
    # simulate the crash window: bucket 3's manifest rows vanish while
    # its data remains (equivalently: data landed, manifest write died)
    m = spark.read.parquet(manifest_dir).filter(F.col("part_id") != 3)
    rows = [
        (r["part_id"], r["kernel_version"], r["seq"]) for r in m.collect()
    ]
    shutil.rmtree(manifest_dir)
    spark.createDataFrame(
        rows, schema="part_id int, kernel_version string, seq double"
    ).write.parquet(manifest_dir)
    assert os.path.isdir(f"{data_dir}/part_id=3")

    stats = run_extraction_job(spark, pages_df, out, n_buckets=8)
    assert stats["n_orphan_buckets_repaired"] == 1
    assert stats["n_buckets_processed"] == 1  # only bucket 3 redone
    res = read_extracted(spark, out)
    assert res.count() == N_PAGES
    assert res.select("url").distinct().count() == N_PAGES


def test_golden_matches_job_output(spark, pages_df, tmp_path_factory, golden):
    out = str(tmp_path_factory.mktemp("job"))
    run_extraction_job(spark, pages_df, out, n_buckets=8)
    for r in read_extracted(spark, out).collect():
        assert r["extracted_text"] == golden[r["url"]]["extracted_text"]


def test_host_stats_salted_agg_correct(spark, pages_df):
    got = {r["host"]: r["n_pages"] for r in host_stats(pages_df, n_salts=4).collect()}
    naive = {
        r["host"]: r["n"]
        for r in pages_df.select(
            F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host")
        )
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == naive
    assert max(got.values()) > 3 * min(got.values())  # skew actually present


def test_pagerank_dangling_matches_numpy_power_iteration(spark):
    # pagerank_df(handle_dangling=True) on a graph WITH a dangling
    # node (d has no out-edges) must match the dense NumPy power
    # iteration with uniform dangling-mass redistribution
    import numpy as np

    from doclayout_yolo_spark.pipeline import pagerank_df

    #   a -> b (2), a -> c (1), b -> c (1), c -> d (1); d dangles
    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)],
        "src string, dst string, w double",
    )
    iters, damp = 6, 0.85
    got = {
        r["host"]: r["pr"]
        for r in pagerank_df(edges, iters=iters, damping=damp).collect()
    }
    hosts = ["a", "b", "c", "d"]
    T = np.zeros((4, 4))  # T[i, j] = mass share j -> i
    T[1, 0], T[2, 0] = 2 / 3, 1 / 3
    T[2, 1] = 1.0
    T[3, 2] = 1.0
    r = np.full(4, 0.25)
    for _ in range(iters):
        contrib = T @ r
        dangling = 1.0 - contrib.sum()  # == r[d], mass conservation
        r = (1 - damp) / 4 + damp * (contrib + dangling / 4)
    for i, h in enumerate(hosts):
        assert abs(got[h] - r[i]) < 1e-12, (h, got[h], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # rank mass conserved
    # the dangling node's rank actually recirculates: a gets more than
    # the teleport floor
    assert got["a"] > (1 - damp) / 4 + 1e-6


def test_kernel_version_reprocessing(spark, tmp_path_factory):
    # Iceberg snapshot-evolution analog: after a kernel upgrade, only
    # buckets stamped with the old version are re-extracted, via
    # idempotent dynamic partition overwrite + manifest append
    from doclayout_yolo_spark.pipeline import (
        reprocess_stale_buckets,
        run_extraction_job,
        stale_buckets,
    )

    out = str(tmp_path_factory.mktemp("reproc") / "o")
    pages = generate_pages_df(spark, 60, partitions=4)
    run_extraction_job(spark, pages, out, n_buckets=8)
    before = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(f"{out}/data").collect()
    }
    assert stale_buckets(spark, out) == []

    # simulate a prior run under an older kernel: rewrite the manifest
    # stamping half the buckets with "v0"
    mdir = f"{out}/_manifest"
    man = spark.read.parquet(mdir).collect()
    rows = [
        (r["part_id"], "v0" if r["part_id"] % 2 == 0 else r["kernel_version"])
        for r in man
    ]
    import shutil

    shutil.rmtree(mdir)
    spark.createDataFrame(
        rows, schema="part_id int, kernel_version string"
    ).write.parquet(mdir)
    expect_stale = sorted({p for p, v in rows if v == "v0"})
    assert stale_buckets(spark, out) == expect_stale

    res = reprocess_stale_buckets(spark, pages, out, n_buckets=8)
    assert res["n_buckets_reprocessed"] == len(expect_stale)
    assert res["n_docs"] > 0
    # content identical (deterministic kernel), no duplicates, stale gone
    after = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(f"{out}/data").collect()
    }
    assert after == before
    assert spark.read.parquet(f"{out}/data").count() == 60
    assert stale_buckets(spark, out) == []
    # and a plain resume still sees everything complete
    r2 = run_extraction_job(spark, pages, out, n_buckets=8)
    assert r2["n_docs"] == 0


def test_reprocess_stamps_only_buckets_it_rewrote(spark, tmp_path_factory):
    """A stale bucket with no url in ``pages`` is not rewritten, so it
    must not be stamped with the current kernel or counted as
    reprocessed: it stays stale, its old rows untouched."""
    from doclayout_yolo_spark.pipeline import (
        FORMAT,
        reprocess_stale_buckets,
        stale_buckets,
        with_part_id,
    )

    out = str(tmp_path_factory.mktemp("reproc_missing") / "o")
    pages = generate_pages_df(spark, 40, partitions=4)
    run_extraction_job(spark, pages, out, n_buckets=8)
    FORMAT.commit(spark, out, "0.9.0", written=[3])
    assert stale_buckets(spark, out) == [3]
    old3 = sorted(
        tuple(r) for r in read_extracted(spark, out).filter("part_id = 3").collect()
    )
    assert old3

    without3 = with_part_id(pages, 8).filter("part_id != 3").drop("part_id")
    res = reprocess_stale_buckets(spark, without3, out, n_buckets=8)
    assert res == {"n_docs": 0, "n_buckets_reprocessed": 0}
    assert stale_buckets(spark, out) == [3]
    assert sorted(
        tuple(r) for r in read_extracted(spark, out).filter("part_id = 3").collect()
    ) == old3


def test_observed_metrics_match_lineage(spark, tmp_path_factory):
    # the Observation counters ride the write action and must agree
    # with the lineage-accumulator totals — including on a fully
    # resumed (zero-work) rerun
    from doclayout_yolo_spark.fixtures import generate_pages_df
    from doclayout_yolo_spark.pipeline import read_extracted, run_extraction_job

    out = str(tmp_path_factory.mktemp("obs") / "o")
    pages = generate_pages_df(spark, 60, partitions=4)
    s = run_extraction_job(spark, pages, out, n_buckets=8)
    assert s["observed_rows"] == s["n_docs"] == 60
    assert s["observed_errors"] == 0
    total_chars = sum(
        len(r["extracted_text"]) for r in read_extracted(spark, out).collect()
    )
    assert s["observed_chars"] == total_chars
    s2 = run_extraction_job(spark, pages, out, n_buckets=8)
    assert s2["observed_rows"] == 0 and s2["observed_chars"] == 0


def test_manifest_seq_is_monotone_despite_clock(spark, tmp_path_factory):
    """r5 review finding: a backwards wall-clock step between a commit
    and a later tombstone must not let the commit out-rank it — seq is
    floored strictly above the manifest's current max."""
    from doclayout_yolo_spark.pipeline import FORMAT, completed_buckets

    out = str(tmp_path_factory.mktemp("seq") / "t")
    future = 4_000_000_000.0  # year ~2096: simulates a clock that ran ahead
    spark.createDataFrame(
        [(1, "1.0.0", future)],
        schema="part_id int, kernel_version string, seq double",
    ).write.mode("append").parquet(FORMAT.manifest_path(out))
    # "now" < future, yet the tombstone must supersede the commit
    FORMAT.commit(spark, out, "1.0.0", deleted=[1])
    assert completed_buckets(spark, out).count() == 0
    # and a re-commit supersedes the tombstone in turn
    FORMAT.commit(spark, out, "1.0.0", written=[1])
    assert [r["part_id"] for r in completed_buckets(spark, out).collect()] == [1]
