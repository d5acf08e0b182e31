"""Physical-plan assertions (SURVEY §4): the optimizations we rely on
at 100 TB must be visible in the plan — column pruning reaching the
parquet scan, predicate pushdown, broadcast joins for small dims, and
a single explicit exchange in the extraction job."""

from __future__ import annotations

import contextlib
import io

from doclayout_yolo_spark.fixtures import PAGES_DDL, generate_pages_pandas
from doclayout_yolo_spark.pipeline import extract_pages
from doclayout_yolo_spark.queries_detect import extract_pages_flagship
from doclayout_yolo_spark.queries_relational import q1_pricing_summary, q5_region_revenue

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_flagship_scan_prunes_columns(spark):
    plan = plan_of(extract_pages_flagship(spark, SF_DIR))
    # the parquet scan must read only (doc_id, text) — never lang /
    # source / n_chars (P3 column pruning through the html-build projection)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "lang" not in plan.split("ReadSchema")[1][:200]


def test_extraction_query_path_shuffles_only_when_narrow(spark):
    # r6: the query path never shuffles html payloads on its own (guide
    # §8 — heavy opaque bytes move at most once; here not at all): with
    # num_partitions=None the kernel keeps the input's partitioning, and
    # narrow fixture scans are widened where they are read
    # (scan.table(..., spread=True)).  An explicit num_partitions is one
    # bucket shuffle to exactly that many partitions.
    pdf = generate_pages_pandas(10)
    df = spark.createDataFrame(pdf, schema=PAGES_DDL)
    import re

    wide = df.repartition(spark.sparkContext.defaultParallelism)
    plan = plan_of(extract_pages(wide, n_buckets=16))
    # the input repartition is the ONLY exchange; none added on top
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "MapInArrow" in plan  # r6: Arrow-native kernel boundary

    narrow = df.coalesce(1)
    plan = plan_of(extract_pages(narrow, n_buckets=16, num_partitions=4))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "REPARTITION_BY_NUM" in plan
    assert "MapInArrow" in plan


def test_q1_predicate_pushdown(spark):
    plan = plan_of(q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # partial aggregation before the shuffle (map-side combine)
    assert "HashAggregate" in plan


def test_q5_broadcasts_small_dims(spark):
    plan = plan_of(q5_region_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_whole_stage_codegen_covers_q1(spark):
    # AQE plans don't show codegen spans until finalized; the codegen
    # explain mode reports subtrees up front
    plan = plan_of(q1_pricing_summary(spark, SF_DIR), "codegen")
    assert "WholeStageCodegen" in plan


def test_q1_partial_aggregation(spark):
    plan = plan_of(q1_pricing_summary(spark, SF_DIR), "simple")
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_minhash_scans_documents_once(spark):
    # round-1 regression: the per-band union + self-join recomputed the
    # scan->explode->signature subtree 8x; the stack + bucket-groupBy
    # form must hit the parquet file exactly once
    from doclayout_yolo_spark.queries_text import dedup_minhash_lsh

    plan = plan_of(dedup_minhash_lsh(spark, SF_DIR), "simple")
    # the shingle subtree is persisted: either the cache is already
    # materialized (InMemoryTableScan serves every reuse — computed
    # once by definition; explain then also prints the cache's own
    # defining FileScan) or the plan reads the file exactly once
    if "InMemoryTableScan" in plan:
        assert plan.count("FileScan parquet") <= 2
    else:
        assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan  # pairs come from in-bucket expansion


def test_lsh_signature_is_single_mapinarrow(spark):
    # hyperplane signatures must be the in-batch matmul kernel, not the
    # 512-rows-per-vector posexplode x crossJoin shuffle
    from doclayout_yolo_spark.queries_vector import _signatures

    plan = plan_of(_signatures(spark, SF_DIR), "simple")
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    assert "Generate" not in plan  # no posexplode
    assert "Join" not in plan


def test_ivf_assignment_has_no_exchange(spark):
    # cell assignment is a map-side matmul against the broadcast
    # codebook: NO exchange (and no join / window) may appear between
    # the embeddings scan and the assignment — round 2 shuffled
    # n x K_CELLS rows through a row_number window here
    from doclayout_yolo_spark.queries_vector import _ivf_assigned

    plan = plan_of(_ivf_assigned(spark, SF_DIR), "simple")
    assert "MapInPandas" in plan
    # no KEYED exchange / join / window between scan and assignment —
    # the scan-parallelism round-robin (scan.table spread=True) is allowed: it
    # moves each row once, never funnels by key
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_stratified_sample_prefilters_before_window(spark):
    # the exact per-stratum window must see only the map-side
    # per-partition top-k survivors: MapInPandas below the (single)
    # window exchange, never the full table through one reducer per
    # stratum
    from doclayout_yolo_spark.queries_text import stratified_sample

    plan = plan_of(stratified_sample(spark, SF_DIR), "simple")
    assert "MapInPandas" in plan
    # exactly one HASH exchange (the per-stratum window); the scan-
    # parallelism round-robin repartition (scan.table spread=True) is not a
    # per-stratum funnel and is excluded from the pin
    assert plan.count("Exchange hashpartitioning") == 1
    # the exchange consumes the pre-filtered MapInPandas output
    assert plan.index("MapInPandas") > plan.index("Exchange hashpartitioning")


def test_tfidf_join_is_salted_and_single_subtree(spark):
    # Zipfian term skew: the tf->df join must key on (term, salt) so
    # hot terms spread over N_TERM_SALTS reducers; and df must derive
    # from tf (one tokenize subtree — the documents scan appears at
    # most twice, never the 6x of the round-3 first cut)
    from doclayout_yolo_spark.queries_text import tfidf_top_terms

    plan = plan_of(tfidf_top_terms(spark, SF_DIR), "simple")
    assert "salt" in plan
    # tf subtree (x2: scored + df-derivation) + the 1-row corpus count
    assert plan.count("FileScan parquet") <= 3


def test_pq_encoding_has_no_exchange(spark):
    # PQ encoding must be the map-side kernel against the collected
    # codebook — no exchange/join/window between the embeddings scan
    # and the code columns (same guarantee as IVF assignment)
    from pyspark.sql import functions as F

    from doclayout_yolo_spark.queries_vector import (
        _emb,
        _pq_codebook,
        _pq_encoded,
    )

    cb = _pq_codebook(spark, SF_DIR)
    enc = _pq_encoded(_emb(spark, SF_DIR).select("vec_id", "vec"), cb)
    plan = plan_of(enc, "simple")
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning" not in plan  # spread round-robin allowed
    assert "Join" not in plan


def test_simhash_band_rows_are_single_pass(spark):
    # band rows must come from ONE posexplode over the signature
    # aggregation — a per-band union would re-run the whole 32/64-sum
    # aggregation once per band
    from doclayout_yolo_spark.queries_text import (
        simhash64_hamming_pairs,
        simhash_hamming_pairs,
    )

    for q in (simhash_hamming_pairs, simhash64_hamming_pairs):
        plan = plan_of(q(spark, SF_DIR), "simple")
        assert plan.count("FileScan parquet") == 1, q.__name__
        assert "Union" not in plan, q.__name__


def test_range_join_broadcasts_interval_side(spark):
    # the inequality join must be a nested loop over BROADCAST ranges
    # (map-side) — a shuffled cross product would be fatal at 10^12
    # probe rows
    from doclayout_yolo_spark.queries_extra import range_join_clicks_in_window

    plan = plan_of(range_join_clicks_in_window(spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_tables_join_without_shuffle(spark):
    # the Iceberg bucket-transform story, demonstrated with Spark
    # bucketed tables: two fact tables bucketed+sorted on the join key
    # join with ZERO Exchange nodes — the co-located join that turns
    # the biggest shuffle at 100 TB into a local merge
    import re

    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a previously crashed run can leave orphan table dirs behind
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem"))
    # sf0.001 dims are under the broadcast threshold; disable it so the
    # plan shows the co-located merge join a fact-fact join gets at scale
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            spark.table("b_lineitem").l_orderkey == spark.table("b_orders").o_orderkey,
        ).groupBy("o_orderpriority").count()
        plan = plan_of(joined, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert "SortMergeJoin" in plan
    # the join itself must not shuffle either side (bucket co-location);
    # only the tiny post-join aggregation may exchange
    assert not re.search(r"Exchange hashpartitioning\(\w*(l_orderkey|o_orderkey)", plan)
    n = joined.collect()
    assert sum(r["count"] for r in n) == li.count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_output_table_partition_pruning(spark, tmp_path_factory):
    # the extracted table is partitioned by part_id (the Iceberg bucket
    # transform analog): a bucket-filtered read must prune partitions
    # at the scan, not filter rows post-hoc
    from doclayout_yolo_spark.fixtures import generate_pages_df
    from doclayout_yolo_spark.pipeline import read_extracted, run_extraction_job

    out = str(tmp_path_factory.mktemp("prune") / "o")
    pages = generate_pages_df(spark, 40, partitions=4)
    run_extraction_job(spark, pages, out, n_buckets=8)
    from pyspark.sql import functions as F

    df = read_extracted(spark, out).filter(F.col("part_id") == 3)
    plan = plan_of(df)
    assert "PartitionFilters: [isnotnull(part_id" in plan.replace("#", "").replace(
        ")", ""
    ) or "PartitionFilters: [isnotnull(part_id" in plan
    # the predicate must appear in PartitionFilters (pruning), and the
    # scan must not carry it as a data filter
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "part_id" in pf
    assert df.count() == spark.read.parquet(f"{out}/data/part_id=3").count()


def test_sequence_packing_two_phase_prefix_sum(spark):
    # the corpus-sized window must be partitioned by bucket (parallel);
    # the only unpartitioned window runs over the tiny per-bucket
    # aggregate, and the offsets come back via a broadcast join
    from doclayout_yolo_spark.queries_curation import sequence_packing

    plan = plan_of(sequence_packing(spark, SF_DIR))
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert len(specs) == 2
    # a partition column appears bare (no ASC/DESC); an order-only spec
    # starts straight with "col ASC".  Exactly one window is partitioned
    # (the corpus cumsum); the unpartitioned one is the tiny bucket-
    # offsets pass.
    partitioned = [s for s in specs if " ASC" not in s.split(",")[0]]
    assert len(partitioned) == 1 and partitioned[0].startswith("bucket")
    assert "BroadcastHashJoin" in plan  # bucket offsets broadcast back


def test_dedup_paragraphs_single_scan_no_broadcast(spark):
    # one parquet scan feeds the whole lineage; the chunk table must
    # never be broadcast (corpus-sized at scale)
    from doclayout_yolo_spark.queries_curation import dedup_paragraphs

    plan = plan_of(dedup_paragraphs(spark, SF_DIR), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "BroadcastExchange" not in plan


def test_boilerplate_strip_single_scan_two_exchanges(spark):
    # one pruned parquet scan; both windows (lag doc-marker + df sum)
    # share the single (source, chunk) exchange; nothing corpus-sized
    # is broadcast
    from doclayout_yolo_spark.queries_curation import boilerplate_strip

    plan = plan_of(boilerplate_strip(spark, SF_DIR), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_pagerank_no_windows_broadcast_count(spark):
    # iterative PageRank must stay window-free (dst-keyed aggregations
    # + id-keyed joins only); the corpus count joins in via broadcast
    from doclayout_yolo_spark.queries_curation import link_graph_pagerank

    plan = plan_of(link_graph_pagerank(spark, SF_DIR), "simple")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row count cross join


def test_curation_v3_single_extraction_bounded_plan(spark):
    # the full funnel: EXACTLY one extraction kernel instance feeds the
    # chain (exact-dedup is a window on its output, not a second run),
    # the shingle subtree comes from the persisted cache, and the
    # iterative cluster labels are lineage-TRUNCATED (localCheckpoint):
    # before the fix the plan was ~25k lines with ~1600 printed scans
    # (exponential label-propagation lineage) — a driver blowup
    from doclayout_yolo_spark.queries_text import corpus_curation_v3

    plan = plan_of(corpus_curation_v3(spark, SF_DIR), "simple")
    assert plan.count("MapInArrow") == 1           # one extraction kernel (r6: Arrow-native)
    assert "Scan ExistingRDD" in plan              # checkpointed labels
    assert plan.count("FileScan parquet") <= 6
    assert plan.count("\n") < 300                  # bounded, not exponential


def test_round4_text_queries_bounded_scans(spark):
    # unigram_surprisal and exact_substring_dup_fraction must stay at
    # <=3 column-pruned scans (the tfidf derive-don't-recompute bound)
    # and never broadcast a corpus-sized side
    from doclayout_yolo_spark.queries_text import (
        exact_substring_dup_fraction,
        unigram_surprisal,
    )

    for fn in (unigram_surprisal, exact_substring_dup_fraction):
        plan = plan_of(fn(spark, SF_DIR), "simple")
        # when the memoized gram/shingle cache is registered (a prior
        # test in the session materialized it), each InMemoryTableScan
        # reference also prints its DEFINING plan's FileScan — printed
        # inflation, not re-execution (same allowance as
        # test_minhash_scans_documents_once)
        bound = 3 + plan.count("InMemoryTableScan")
        assert plan.count("FileScan parquet") <= bound
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # Catalyst's runtime bloom-filter join pruning (InjectRuntimeFilter):
    # a selective dim-side filter seeds a bloom filter that prunes the
    # fact-side scan BEFORE the shuffle join — the runtime analog of
    # static partition pruning, free at 100 TB when enabled.  Size
    # thresholds are tuned down because fixture tables are tiny; the
    # capability (not the threshold) is what this pins.
    conf = spark.conf
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in keys.items():
        try:
            old[k] = conf.get(k)
        except Exception:
            old[k] = None
        conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(j, "simple")
        assert "bloom" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_pagerank_recurrence_references_checkpointed_statics(spark):
    # host_pagerank's 5-iteration recurrence must NOT re-derive the
    # edge side per iteration: the outlink-extraction MapInPandas and
    # the documents scan run once at build (eager localCheckpoint) and
    # the final plan references only checkpointed RDD scans — bounded
    # exchange count, no extraction kernel, no parquet re-scan
    import re

    from doclayout_yolo_spark.queries_detect import host_pagerank

    plan = plan_of(host_pagerank(spark, SF_DIR))
    assert "MapInPandas" not in plan
    assert "MapInArrow" not in plan
    assert "parquet" not in plan.lower()
    assert "Scan ExistingRDD" in plan
    # ~5 exchange nodes per iteration (contrib shuffle + broadcasts);
    # a lazy un-checkpointed chain measured 78
    assert len(re.findall(r"\(\d+\) Exchange", plan)) < 40
