"""spark-submit entry point for the crawl-frontier job: pages ->
outlink extraction -> robots.txt policy filter -> host-graph PageRank
-> prioritized frontier table.  The acquisition-tier companion to
jobs/extract_job.py (content) and jobs/curate_job.py (corpus): its
output is the ranked, policy-clean list of urls a fetcher crawls
next.

Usage (cluster):
    python tools/make_pyfiles.py
    spark-submit --py-files dist/doclayout_yolo_spark.zip \
        jobs/crawl_job.py --input <pages path> --output <frontier path> \
        [--robots <robots parquet (host, body)>] [--iters 5] \
        [--keep-disallowed] [--sitemaps <parquet (sm_url, body)>] \
        [--schedule]

Local smoke:
    spark-submit --master local[8] --py-files dist/doclayout_yolo_spark.zip \
        jobs/crawl_job.py --generate 1000 --output /tmp/frontier

Output schema: (target, src_url, link_pos, via, allowed, matched,
host, host_pr[, slot, fetch_offset_s]) — one row per discovered url
(via = 'link' from page outlinks, 'sitemap' from --sitemaps
documents), PageRank of the
TARGET host joined on (plain equi-join; AQE broadcasts while the
rank vector is small and shuffles when a real crawl's host set
outgrows the threshold),
disallowed targets dropped unless --keep-disallowed (then carried
with allowed=false for audit).  --schedule appends the politeness
plan: per-host sequential slot + fetch_offset_s (slot x the host's
Crawl-delay, default 1 s) over distinct targets.  A stats JSON line
goes to stdout: input pages, links, sitemap urls, distinct hosts,
disallowed count (no silent drops).
"""

from __future__ import annotations

import argparse
import json


def main(stop_session: bool = True) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="pages table path (url, html, ...)")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--generate",
        type=int,
        default=None,
        help="generate N seeded fixture pages instead of reading --input",
    )
    p.add_argument(
        "--robots",
        default=None,
        help="robots.txt table path (host, body); omitted = no policy"
        " filter (every target allowed)",
    )
    p.add_argument("--iters", type=int, default=5)
    p.add_argument(
        "--sitemaps",
        default=None,
        help="sitemap documents parquet (sm_url, body): advertised"
        " urls join the frontier with via='sitemap'",
    )
    p.add_argument(
        "--schedule",
        action="store_true",
        help="append the politeness plan (slot, fetch_offset_s) per"
        " target using each host's Crawl-delay",
    )
    p.add_argument(
        "--keep-disallowed",
        action="store_true",
        help="carry robots-disallowed targets with allowed=false"
        " instead of dropping them",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from doclayout_yolo_spark.crawl import (
        crawl_delays_df,
        fetch_schedule_df,
        robots_filter_df,
        robots_rules_df,
        sitemap_entries_df,
    )
    from doclayout_yolo_spark.fixtures import generate_pages_df
    from doclayout_yolo_spark.pipeline import (
        extract_outlinks_df,
        pagerank_df,
    )
    from doclayout_yolo_spark.session import local_df

    spark = SparkSession.builder.appName("doclayout-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if args.generate:
        pages = generate_pages_df(spark, args.generate)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        raise SystemExit("need --input or --generate")

    n_pages = pages.count()
    # one extraction pass feeds BOTH the rank graph and the frontier
    links = extract_outlinks_df(pages).localCheckpoint(eager=True)
    # lowercase port-less host key (repo-wide normalization): a
    # mixed-case link must not split a rank node or dodge its robots
    host_re = r"^https?://([^/:?#]+)"
    edges = (
        links.select(
            F.lower(F.regexp_extract("url", host_re, 1)).alias("src"),
            F.lower(F.regexp_extract("target", host_re, 1)).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank_df(edges, iters=args.iters, handle_dangling=True)

    frontier = links.select(
        F.col("target"),
        F.col("url").alias("src_url"),
        "link_pos",
        F.lit("link").alias("via"),
    )
    n_sitemap_urls = 0
    if args.sitemaps:
        sm = sitemap_entries_df(spark.read.parquet(args.sitemaps))
        # checkpoint like `links` above: the job runs several actions
        # (counts + write) and must not re-parse every sitemap body
        # per action
        sm_urls = (
            sm.filter(F.col("kind") == "url")
            .select(
                F.col("loc").alias("target"),
                F.col("sm_url").alias("src_url"),
                F.col("pos").alias("link_pos"),
                F.lit("sitemap").alias("via"),
            )
            .localCheckpoint(eager=True)
        )
        n_sitemap_urls = sm_urls.count()
        frontier = frontier.unionByName(sm_urls)
    frontier = frontier.withColumn(
        "host", F.lower(F.regexp_extract("target", host_re, 1))
    )
    n_disallowed = 0
    if args.robots:
        robots = spark.read.parquet(args.robots)
        verdict = robots_filter_df(
            frontier.select(F.col("target").alias("url")).distinct(),
            robots_rules_df(robots),
        )
        frontier = frontier.join(
            verdict.select(
                F.col("url").alias("target"), "allowed", "matched"
            ),
            "target",
        )
        n_disallowed = frontier.filter(~F.col("allowed")).count()
        if not args.keep_disallowed:
            frontier = frontier.filter(F.col("allowed"))
    else:
        frontier = frontier.withColumn("allowed", F.lit(True)).withColumn(
            "matched", F.lit(None).cast("string")
        )

    # rank vector is hosts-sized but NOT broadcast-hinted: at the
    # 10^12-page tier the host set (~10^8) outgrows any broadcast
    # threshold (pagerank_df's own scale model) — a plain equi-join
    # lets AQE broadcast when small and shuffle when not
    out = frontier.join(
        ranks.select(F.col("host"), F.col("pr").alias("host_pr")),
        "host",
        "left",
    ).select(
        "target", "src_url", "link_pos", "via", "allowed", "matched",
        "host", "host_pr",
    )
    if args.schedule:
        delays = (
            crawl_delays_df(spark.read.parquet(args.robots))
            if args.robots
            else local_df(spark, [], "host string, delay_s double")
        )
        # only ALLOWED targets consume fetch slots: under
        # --keep-disallowed the blocked rows stay for audit but get
        # NULL slot/offset (a polite fetcher never queues them)
        sched = fetch_schedule_df(
            out.filter(F.col("allowed"))
            .select(F.col("target").alias("url"))
            .distinct(),
            delays,
        ).select(F.col("url").alias("target"), "slot", "fetch_offset_s")
        out = out.join(sched, "target", "left")
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    print(
        json.dumps(
            {
                "n_input_pages": n_pages,
                "n_links": links.count(),
                "n_sitemap_urls": n_sitemap_urls,
                "n_hosts": ranks.count(),
                "n_disallowed": n_disallowed,
                "n_frontier_rows": written.count(),
            }
        )
    )
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main()
