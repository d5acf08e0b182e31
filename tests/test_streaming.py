"""Streaming surface tests: file-source stream -> foreachBatch
extraction equals the batch pipeline; quarantine wrapper; windowed
aggregation shape."""

from __future__ import annotations

import numpy as np

from doclayout_yolo_spark import pipeline as pl
from doclayout_yolo_spark.fixtures import PAGES_DDL, generate_pages_pandas
from doclayout_yolo_spark.pipeline import extract_pages
from doclayout_yolo_spark.streaming import (
    start_extraction_stream,
    windowed_region_counts,
)

N = 40


def test_stream_equals_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    pdf = generate_pages_pandas(N)
    df = spark.createDataFrame(pdf, schema=PAGES_DDL)
    # several files so the stream sees multiple micro-batches
    df.repartition(5).write.parquet(in_dir)

    q = start_extraction_stream(spark, in_dir, out_dir, ckpt, available_now=True)
    q.awaitTermination(120)

    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(df, n_buckets=64).collect()
    }
    assert got == want
    # restart with same checkpoint: no new data -> no duplicates
    q2 = start_extraction_stream(spark, in_dir, out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == N


def test_rate_source_stream_equals_batch(spark, tmp_path_factory):
    # Kafka-style UNBOUNDED source (rate-micro-batch stand-in): pages
    # synthesized from the stream's value column must extract
    # byte-identically to the batch generator for the same ids
    import time

    from doclayout_yolo_spark.fixtures import generate_pages_df
    from doclayout_yolo_spark.streaming import (
        read_pages_rate_stream,
        write_extracted_batch,
    )

    base = tmp_path_factory.mktemp("rate")
    out_dir, ckpt = str(base / "out"), str(base / "ckpt")
    stream = read_pages_rate_stream(spark, rows_per_batch=40)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: write_extracted_batch(df, bid, out_dir, n_buckets=16)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = time.time() + 120
    got = {}
    while time.time() < deadline:
        try:
            got = {
                r["url"]: r["extracted_text"]
                for r in spark.read.parquet(out_dir).collect()
            }
        except Exception:
            got = {}
        if len(got) >= 40:
            break
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)
    # consistent re-read after the stream is fully stopped
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert len(got) >= 40
    want = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(
            generate_pages_df(spark, len(got) + 40), n_buckets=16
        ).collect()
    }
    # every streamed url matches the batch path byte-for-byte
    for url, text in got.items():
        assert want[url] == text


def test_stateful_band_neardup_equals_batch_lsh(spark, tmp_path_factory):
    # streaming LSH candidates must equal the batch dedup_minhash_lsh
    # pair set on the same corpus (same tokenizer/hashes/bands; buckets
    # under the cap) — across MULTIPLE micro-batches, so keyed state
    # genuinely carries bucket membership between batches
    from doclayout_yolo_spark.queries_text import dedup_minhash_lsh
    from doclayout_yolo_spark.streaming import stateful_band_neardup

    sf_dir = "/root/testdata/sf0.001"
    base = tmp_path_factory.mktemp("banddup")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    sub_dir = str(base / "sub")
    # a 150-doc subset keeps the state-store key count (docs x bands
    # buckets, each a per-key Python state call) test-sized; the batch
    # reference runs on the SAME subset table
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 150")
        .select("doc_id", "text")
    )
    docs.write.parquet(f"{sub_dir}/documents.parquet")
    # two files -> two micro-batches: enough to prove state carries
    # bucket membership across batches
    docs.repartition(2).write.parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stateful_band_neardup(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, sub_dir).collect()
    }
    assert got == want
    assert len(want) > 0  # non-vacuous: the fixture has near-dups


def test_stream_static_enrichment_join(spark, tmp_path_factory):
    from doclayout_yolo_spark.streaming import enriched_pages_stream, read_pages_stream

    base = tmp_path_factory.mktemp("enrich")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    pdf = generate_pages_pandas(20)
    spark.createDataFrame(pdf, schema=PAGES_DDL).repartition(3).write.parquet(in_dir)

    hosts = sorted({u.split("//")[1].split("/")[0] for u in pdf["url"]})
    # label only half the hosts: unmatched pages must keep flowing
    labels = spark.createDataFrame(
        [(h, f"label_{i}") for i, h in enumerate(hosts[: len(hosts) // 2])],
        schema="host string, crawl_label string",
    )
    stream = enriched_pages_stream(read_pages_stream(spark, in_dir), labels)
    q = (
        stream.select("url", "host", "crawl_label")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 20  # left join: nothing dropped
    got_labeled = {r["host"] for r in rows if r["crawl_label"] is not None}
    assert got_labeled == set(hosts[: len(hosts) // 2])
    assert all(r["host"] in r["url"] for r in rows)


def test_watermarked_url_dedup(spark, tmp_path_factory):
    import pandas as pd

    from doclayout_yolo_spark.streaming import read_pages_stream, watermarked_url_dedup

    base = tmp_path_factory.mktemp("wmdedup")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    pdf = generate_pages_pandas(10)
    dup = pdf.iloc[:4].copy()  # re-crawls of the first 4 urls
    dup["warc_ts"] = dup["warc_ts"] + pd.Timedelta(minutes=5)
    both = pd.concat([pdf, dup], ignore_index=True)
    spark.createDataFrame(both, schema=PAGES_DDL).repartition(3).write.parquet(in_dir)

    q = (
        watermarked_url_dedup(read_pages_stream(spark, in_dir))
        .select("url")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    urls = [r["url"] for r in spark.read.parquet(out_dir).collect()]
    assert len(urls) == 10  # one per url, re-crawls suppressed
    assert sorted(urls) == sorted(pdf["url"])


def test_streaming_session_windows(spark, tmp_path_factory):
    import pandas as pd

    from doclayout_yolo_spark.streaming import (
        read_pages_stream,
        sessionized_host_activity,
    )

    base = tmp_path_factory.mktemp("sess")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    # one host, two bursts separated by > gap; another host, one burst
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    for i, (host, off_min) in enumerate(
        [("a.com", 0), ("a.com", 5), ("a.com", 90), ("a.com", 95),
         ("b.com", 10), ("b.com", 20)]
    ):
        rows.append(
            {
                "url": f"https://{host}/p{i}",
                "warc_ts": t0 + pd.Timedelta(minutes=off_min),
                "html": b"<p>x</p>",
                "text": "x",
                "lang": "en",
            }
        )
    pdf = pd.DataFrame(rows)

    def run_once():
        q = (
            sessionized_host_activity(read_pages_stream(spark, in_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def flush_row(hours):
        return pd.DataFrame(
            [{
                "url": f"https://flush.example.com/{hours}",
                "warc_ts": t0 + pd.Timedelta(hours=hours),
                "html": b"<p>x</p>", "text": "x", "lang": "en",
            }]
        )

    # run 1: main bursts + a far-future event pushes the watermark
    spark.createDataFrame(
        pd.concat([pdf, flush_row(10)]), schema=PAGES_DDL
    ).repartition(2).write.mode("append").parquet(in_dir)
    run_once()
    # run 2: append-mode emits sessions finalized by the PRE-batch
    # watermark (t0+8h), so a second batch flushes the main sessions
    spark.createDataFrame(flush_row(11), schema=PAGES_DDL).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()

    got = {
        (r["host"], r["session_start"].isoformat(), r["n_pages"])
        for r in spark.read.parquet(out_dir).collect()
        if r["host"] != "flush.example.com"
    }
    # a.com splits at the 85-min gap; b.com's 10-min gap stays merged
    assert got == {
        ("a.com", "2026-01-01T00:00:00", 2),
        ("a.com", "2026-01-01T01:30:00", 2),
        ("b.com", "2026-01-01T00:10:00", 2),
    }
    # static-frame twin produces identical sessions
    static = {
        (r["host"], r["session_start"].isoformat(), r["n_pages"])
        for r in sessionized_host_activity(
            spark.createDataFrame(pdf, schema=PAGES_DDL)
        ).collect()
    }
    assert static == got


def test_quarantine_wrapper(monkeypatch):
    from doclayout_yolo_spark import extract

    def boom(raw):
        raise ValueError("poisoned document")

    monkeypatch.setattr(extract, "_parse_payload", boom)
    text, regions, meta, err = extract.extract_documents([b"<p>x</p>"])[0]
    assert text == "" and regions == [] and meta["n_regions"] == 0
    assert err is not None and "poisoned" in err


def test_error_column_null_on_clean_input(spark):
    pdf = generate_pages_pandas(6)
    df = spark.createDataFrame(pdf, schema=PAGES_DDL)
    out = extract_pages(df, n_buckets=4).collect()
    assert all(r["error"] is None for r in out)


def test_stateful_host_counter(spark, tmp_path_factory):
    from doclayout_yolo_spark.streaming import (
        read_pages_stream,
        stateful_host_counter,
    )

    base = tmp_path_factory.mktemp("stateful")
    in_dir, ckpt = str(base / "in"), str(base / "ckpt")
    pdf = generate_pages_pandas(30)
    df = spark.createDataFrame(pdf, schema=PAGES_DDL)
    df.repartition(3).write.parquet(in_dir)

    stream = read_pages_stream(spark, in_dir, max_files_per_trigger=1)
    counted = stateful_host_counter(stream)
    q = (
        counted.writeStream.format("memory")
        .queryName("host_counts")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # final state per host (last update wins) must equal the batch counts
    rows = spark.sql(
        "select host, max(n_pages) as n from host_counts group by host"
    ).collect()
    got = {r["host"]: r["n"] for r in rows}
    import collections

    want = collections.Counter(u.split("/")[2] for u in pdf["url"])
    assert got == dict(want)


def test_windowed_region_counts_static(spark):
    pdf = generate_pages_pandas(30)
    df = spark.createDataFrame(pdf, schema=PAGES_DDL)
    extracted = extract_pages(df, n_buckets=8).select("url", "n_regions")
    joined = df.select("url", "warc_ts", "lang").join(extracted, "url")
    agg = windowed_region_counts(joined).collect()
    assert sum(r["n_pages"] for r in agg) == 30
    assert all(r["n_regions"] > 0 for r in agg)


def test_batch_replay_is_idempotent(spark, tmp_path_factory):
    # crash-window semantics: a micro-batch replayed with the same
    # batch_id (checkpoint not yet committed on the first attempt) must
    # not duplicate rows — the batch_id partition is overwritten
    from doclayout_yolo_spark.fixtures import generate_pages_df
    from doclayout_yolo_spark.streaming import write_extracted_batch

    out = str(tmp_path_factory.mktemp("replay") / "out")
    pages = generate_pages_df(spark, 40, partitions=2)
    write_extracted_batch(pages, 7, out, n_buckets=4)
    first = spark.read.parquet(out)
    n1, urls1 = first.count(), sorted(r["url"] for r in first.select("url").collect())
    write_extracted_batch(pages, 7, out, n_buckets=4)  # replay
    second = spark.read.parquet(out)
    assert second.count() == n1 == 40
    assert sorted(r["url"] for r in second.select("url").collect()) == urls1
    # a different batch_id appends, never clobbers other partitions
    write_extracted_batch(pages.limit(5), 8, out, n_buckets=4)
    assert spark.read.parquet(out).count() == 45


def test_stateful_url_dedup(spark, tmp_path_factory):
    # duplicates split across micro-batches: each url must be emitted
    # exactly once (first occurrence wins; later re-fetches suppressed
    # by keyed state)
    import pandas as pd

    from doclayout_yolo_spark.streaming import (
        read_pages_stream,
        stateful_url_dedup,
    )

    base = tmp_path_factory.mktemp("urldedup")
    in_dir, ckpt = str(base / "in"), str(base / "ckpt")
    pdf = generate_pages_pandas(20)
    dup = pd.concat([pdf, pdf.iloc[:10], pdf.iloc[:5]], ignore_index=True)
    df = spark.createDataFrame(dup, schema=PAGES_DDL)
    df.repartition(5).write.parquet(in_dir)

    stream = read_pages_stream(spark, in_dir, max_files_per_trigger=1)
    deduped = stateful_url_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("url_dedup")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select url from url_dedup").collect()
    urls = [r["url"] for r in rows]
    assert sorted(urls) == sorted(pdf["url"])  # each exactly once


def test_watermark_drops_late_events(spark, tmp_path_factory):
    # event-time correctness in append mode: a late event (older than
    # the watermark) must not reopen its already-finalized window
    import datetime as dt

    import pandas as pd

    base = tmp_path_factory.mktemp("late")
    in_dir, ckpt = str(base / "in"), str(base / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    schema = "url string, warc_ts timestamp, lang string, n_regions long"

    def frame(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["url", "warc_ts", "lang", "n_regions"]),
            schema=schema,
        )

    from doclayout_yolo_spark.streaming import windowed_region_counts

    out_dir = str(base / "out")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        agg = windowed_region_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: u1 at t0 plus u2 at t0+4h -> watermark ends at t0+2h,
    # which finalizes and emits the [t0, t0+1h) window
    frame([
        ("u1", t0, "en", 2),
        ("u2", t0 + dt.timedelta(hours=4), "en", 3),
    ]).write.mode("append").parquet(in_dir)
    run_once()
    # run 2: a LATE event back inside the finalized t0 window, plus a
    # fresh on-time event so the batch triggers state eviction
    frame([
        ("u3", t0 + dt.timedelta(minutes=5), "en", 7),
        ("u4", t0 + dt.timedelta(hours=5), "en", 1),
    ]).write.mode("append").parquet(in_dir)
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    by_win = {r["window_start"]: (r["n_pages"], r["n_regions"]) for r in rows}
    # the t0 window reflects ONLY the on-time u1 row; the late u3 was
    # dropped, and the window was never re-emitted
    assert by_win.get(t0) == (1, 2), by_win
    assert sum(1 for r in rows if r["window_start"] == t0) == 1


def test_warc_stream_equals_batch_parse(spark, tmp_path_factory):
    # two WARC files streamed in -> the exact records a direct parse
    # yields, exactly once, payload bytes intact
    import pandas as pd

    from doclayout_yolo_spark.streaming import (
        WARC_RECORDS_DDL,
        read_warc_stream,
        warc_records_kernel,
    )
    from doclayout_yolo_spark.warc import build_warc, parse_warc

    base = tmp_path_factory.mktemp("warcstream")
    blobs = []
    for fid in range(2):
        recs = [
            (
                f"https://s{fid}.example/{i}",
                "2026-02-01T00:00:00Z",
                f"payload {fid}/{i} \r\nWARC/1.0 decoy".encode(),
            )
            for i in range(3)
        ]
        blobs.append((fid, build_warc(recs)))
    in_dir = base / "in"
    in_dir.mkdir()
    for fid, blob in blobs:
        pd.DataFrame({"file_id": [fid], "blob": [blob]}).to_parquet(
            in_dir / f"f{fid}.parquet"
        )
    out_dir, ckpt = str(base / "out"), str(base / "ckpt")
    q = (
        read_warc_stream(spark, str(in_dir), max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["file_id"], r["rec_index"]): (r["uri"], bytes(r["payload"]))
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (fid, i): (rec["uri"], rec["payload"])
        for fid, blob in blobs
        for i, rec in enumerate(parse_warc(blob))
    }
    assert got == want and len(got) == 6

