"""Additional operator coverage: multi-dimensional aggregation (cube),
set difference, exact percentiles, as-of-join rendering, keyword-class
scores (C9), and the JSON-summary sink rendering (S13) — each with a
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import scan
from .textfeat import KEYWORD_TABLE


# --- CUBE aggregation ---------------------------------------------------------

def cube_order_stats(spark, sf_dir):
    o = scan.table(spark, sf_dir, "orders", spread=False)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def rollup_ship_stats(spark, sf_dir):
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    return (
        li.select(
            F.year(F.col("l_shipdate")).cast("long").alias("ship_year"),
            "l_returnflag",
            "l_quantity",
        )
        .rollup("ship_year", "l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


ROLLUP_SQL = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (ship_year, l_returnflag)
"""


# --- set difference (EXCEPT) ----------------------------------------------------

def customers_minus_eventusers(spark, sf_dir):
    o = scan.table(spark, sf_dir, "orders", spread=False).select(F.col("o_custkey").alias("key"))
    ev = scan.table(spark, sf_dir, "events", spread=False).select(F.col("user_id").alias("key"))
    # true set difference: distinct both sides BEFORE subtracting.
    # exceptAll-then-distinct is bag subtraction (a key present in both
    # but with more order rows than event rows would leak through).
    return o.distinct().exceptAll(ev.distinct())


EXCEPT_SQL = """
SELECT DISTINCT o_custkey AS key FROM orders
EXCEPT
SELECT DISTINCT user_id AS key FROM events
"""


# --- exact interpolated percentiles ----------------------------------------------

def event_value_percentiles(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
    )


PERCENTILE_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY event_type
"""


# --- as-of join rendering: last 'click' before each 'purchase' per user ----------

def asof_click_before_purchase(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts_us").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts_us").alias("c_ts")
    )
    joined = purchases.join(clicks, "user_id").filter(F.col("c_ts") <= F.col("p_ts"))
    w = W.partitionBy("purchase_id").orderBy(F.desc("c_ts"), F.desc("click_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "purchase_id", "click_id",
            (F.col("p_ts") - F.col("c_ts")).alias("gap_us"),
        )
    )


ASOF_SQL = """
WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
joined AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
         p.ts_us - c.ts_us AS gap_us,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts_us DESC, c.event_id DESC) AS rn
  FROM ev p JOIN ev c
    ON p.user_id = c.user_id
   AND p.event_type = 'purchase' AND c.event_type = 'click'
   AND c.ts_us <= p.ts_us
)
SELECT user_id, purchase_id, click_id, gap_us FROM joined WHERE rn = 1
"""


# --- C9: keyword-class scores over documents --------------------------------------

def keyword_class_scores(spark, sf_dir):
    d = scan.table(spark, sf_dir, "documents", spread=False)
    cols = [F.col("doc_id")]
    for name, kws in KEYWORD_TABLE.items():
        hits = None
        for k in kws:
            h = F.when(F.col("text").contains(k.lower()), 1).otherwise(0)
            hits = h if hits is None else hits + h
        cols.append(
            F.round(hits / F.lit(float(len(kws))), 6).alias(f"kw_{name.replace(' ', '_')}")
        )
    return d.select(*cols)


def _kw_duck() -> str:
    parts = []
    for name, kws in KEYWORD_TABLE.items():
        terms = " + ".join(
            f"(CASE WHEN strpos(text, '{k.lower()}') > 0 THEN 1 ELSE 0 END)"
            for k in kws
        )
        parts.append(
            f"ROUND(({terms}) / {float(len(kws))}, 6) AS kw_{name.replace(' ', '_')}"
        )
    return ",\n       ".join(parts)


KEYWORD_SQL = f"""
SELECT doc_id,
       {_kw_duck()}
FROM documents
"""


# --- S13 rendering: per-doc JSON summary of regions --------------------------------

def region_json_summary(spark, sf_dir):
    """JSON-summary sink (engine/results.py:388-430 analog) over the
    derived detections: deterministic string building so both engines
    emit byte-equal JSON."""
    from .queries_detect import det_postprocess_sql  # noqa: PLC0415

    d = det_postprocess_sql(spark, sf_dir)
    item = F.format_string(
        '{"id":%s,"cls":%s,"conf":%s}',
        F.col("det_id").cast("string"),
        F.col("cls").cast("long").cast("string"),
        F.round(F.col("conf"), 2).cast("string"),
    )
    per_doc = d.select("doc", "det_id", item.alias("j"))
    agg = per_doc.groupBy("doc").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("det_id"), F.col("j")))
        ).alias("items")
    )
    return agg.select(
        "doc",
        F.concat(
            F.lit("["),
            F.array_join(F.transform("items", lambda s: s["j"]), ","),
            F.lit("]"),
        ).alias("regions_json"),
    )


REGION_JSON_SQL = """
WITH d AS (
  SELECT user_id % 50 AS doc, event_id AS det_id,
         ((event_id * 13) % 100) / 100.0 AS conf,
         FLOOR((event_id % 20) / 2.0) AS cls
  FROM events
),
f AS (SELECT * FROM d WHERE conf > 0.25 AND cls <> 2)
SELECT doc,
       '[' || string_agg(
         '{"id":' || CAST(det_id AS VARCHAR) ||
         ',"cls":' || CAST(CAST(cls AS BIGINT) AS VARCHAR) ||
         ',"conf":' || CAST(ROUND(conf, 2) AS VARCHAR) || '}',
         ',' ORDER BY det_id) || ']' AS regions_json
FROM f GROUP BY doc
"""


# --- F8: lazy coordinate projection views -----------------------------------

def coordinate_views(spark, sf_dir):
    """xyxy / xywh / normalized views of the derived boxes
    (engine/results.py:479-520 analog)."""
    from .queries_detect import PAGE, _derived_dets  # noqa: PLC0415

    d = _derived_dets(spark, sf_dir)
    return d.select(
        "doc",
        "det_id",
        (F.col("cx") - F.col("w") / 2.0).alias("x1"),
        (F.col("cy") - F.col("h") / 2.0).alias("y1"),
        (F.col("cx") + F.col("w") / 2.0).alias("x2"),
        (F.col("cy") + F.col("h") / 2.0).alias("y2"),
        F.round(F.col("cx") / PAGE, 5).alias("cxn"),
        F.round(F.col("cy") / PAGE, 5).alias("cyn"),
        F.round(F.col("w") / PAGE, 5).alias("wn"),
        F.round(F.col("h") / PAGE, 5).alias("hn"),
    )


COORD_VIEWS_SQL = """
WITH d AS (
  SELECT user_id % 50 AS doc, event_id AS det_id,
         CAST((event_id * 37) % 800 + 50 AS DOUBLE) AS cx,
         CAST((event_id * 53) % 800 + 50 AS DOUBLE) AS cy,
         CAST((event_id * 7) % 300 + 100 AS DOUBLE) AS w,
         CAST((event_id * 11) % 240 + 80 AS DOUBLE) AS h
  FROM events
)
SELECT doc, det_id,
       cx - w / 2.0 AS x1, cy - h / 2.0 AS y1,
       cx + w / 2.0 AS x2, cy + h / 2.0 AS y2,
       ROUND(cx / 1000.0, 5) AS cxn, ROUND(cy / 1000.0, 5) AS cyn,
       ROUND(w / 1000.0, 5) AS wn, ROUND(h / 1000.0, 5) AS hn
FROM d
"""


# --- A7: max-F1 threshold pick (grid sweep + window argmax) -------------------

GRID_N = 19  # thresholds 5..95 step 5


def _f1_grid(spark, sf_dir):
    """Per-(event_type, threshold) F1 curve over a broadcast grid."""
    ev = scan.table(spark, sf_dir, "events", spread=False)
    grid = spark.range(1, GRID_N + 1).select((F.col("id") * 5.0).alias("thr"))
    per_type = ev.groupBy("event_type").agg(
        F.count("*").alias("n_total"), F.max("value").alias("vmax")
    )
    joined = ev.join(F.broadcast(grid)).groupBy("event_type", "thr").agg(
        F.sum(F.when(F.col("value") >= F.col("thr"), 1).otherwise(0)).alias("n_above")
    )
    return joined.join(per_type, "event_type").select(
        "event_type",
        "thr",
        F.round(
            2.0
            * (F.col("n_above") / F.col("n_total"))
            * (F.col("thr") / F.col("vmax"))
            / ((F.col("n_above") / F.col("n_total")) + (F.col("thr") / F.col("vmax"))),
            6,
        ).alias("f1"),
    )


def max_f1_threshold(spark, sf_dir):
    """Grid-sweep a score threshold per event_type and pick the
    argmax-F1 point (metrics.py:602-615 rendering: curve + argmax)."""
    scored = _f1_grid(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy(F.desc("f1"), F.asc("thr"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "thr", "f1")
    )


# smooth(y, 0.1) box filter (utils/metrics.py:438-443): odd window
# nf = round(n*0.2)//2+1, edges padded by replicating y[0]/y[-1] —
# rendered as a bounded window average plus first/last-value
# compensation for the rows the frame clips at the edges.
SMOOTH_NF = round(GRID_N * 0.1 * 2) // 2 + 1  # reference formula: 3 at n=19
SMOOTH_K = SMOOTH_NF // 2
assert SMOOTH_NF % 2 == 1, "symmetric box filter needs an odd window"


def max_f1_smoothed(spark, sf_dir):
    """The reference picks argmax of the SMOOTHED F1 curve
    (metrics.py:612 ``smooth(f1_curve.mean(0), 0.1).argmax()``), not the
    raw one — reproduced with window functions: box-filter sum over
    +-K rows, plus y_first/y_last replication for clipped edge rows."""
    scored = _f1_grid(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy(F.asc("thr"))
    frame = wo.rowsBetween(-SMOOTH_K, SMOOTH_K)
    full = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    n = F.count("*").over(full)
    rn = F.row_number().over(wo)
    miss_l = F.greatest(F.lit(0), F.lit(SMOOTH_K) - (rn - 1))
    miss_r = F.greatest(F.lit(0), F.lit(SMOOTH_K) - (n - rn))
    smoothed = F.round(
        (
            F.sum("f1").over(frame)
            + miss_l * F.first("f1").over(full)
            + miss_r * F.last("f1").over(full)
        )
        / F.lit(float(SMOOTH_NF)),
        6,
    )
    curve = scored.select("event_type", "thr", "f1", smoothed.alias("f1_smooth"))
    w = W.partitionBy("event_type").orderBy(F.desc("f1_smooth"), F.asc("thr"))
    return (
        curve.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("event_type", "thr", "f1", "f1_smooth")
    )


_F1_GRID_SQL = f"""
grid AS (SELECT CAST((i + 1) * 5.0 AS DOUBLE) AS thr FROM range({GRID_N}) g(i)),
per_type AS (
  SELECT event_type, COUNT(*) AS n_total, MAX(value) AS vmax FROM events GROUP BY 1
),
joined AS (
  SELECT e.event_type, g.thr,
         SUM(CASE WHEN e.value >= g.thr THEN 1 ELSE 0 END) AS n_above
  FROM events e CROSS JOIN grid g
  GROUP BY 1, 2
),
scored AS (
  SELECT j.event_type, j.thr,
         ROUND(2.0 * (n_above / CAST(n_total AS DOUBLE)) * (thr / vmax)
               / ((n_above / CAST(n_total AS DOUBLE)) + (thr / vmax)), 6) AS f1
  FROM joined j JOIN per_type p ON j.event_type = p.event_type
)
"""

MAX_F1_SQL = f"""
WITH {_F1_GRID_SQL}
SELECT event_type, thr, f1 FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY f1 DESC, thr ASC) AS rn
  FROM scored
) WHERE rn = 1
"""

MAX_F1_SMOOTH_SQL = f"""
WITH {_F1_GRID_SQL},
curve AS (
  SELECT event_type, thr, f1,
         ROUND((
           SUM(f1) OVER (PARTITION BY event_type ORDER BY thr
                         ROWS BETWEEN {SMOOTH_K} PRECEDING AND {SMOOTH_K} FOLLOWING)
           + GREATEST(0, {SMOOTH_K} - (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY thr) - 1))
             * FIRST_VALUE(f1) OVER (PARTITION BY event_type ORDER BY thr
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           + GREATEST(0, {SMOOTH_K} - (COUNT(*) OVER (PARTITION BY event_type)
                                       - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY thr)))
             * LAST_VALUE(f1) OVER (PARTITION BY event_type ORDER BY thr
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ) / {float(SMOOTH_NF)}, 6) AS f1_smooth
  FROM scored
)
SELECT event_type, thr, f1, f1_smooth FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY f1_smooth DESC, thr ASC) AS rnk
  FROM curve
) WHERE rnk = 1
"""


# --- C3: letterbox unscale (exact odd constants, ops.py:89-124) -----------------

LB_FROM_H, LB_FROM_W = 640.0, 640.0
LB_TO_H, LB_TO_W = 1000.0, 800.0


def letterbox_unscale(spark, sf_dir):
    """scale_boxes as a relational expression with the reference's
    exact constants: gain = min(h1/h0, w1/w0), pad = round((s1 -
    s0*gain)/2 - 0.1), subtract pad, divide by gain, clip (utils/
    ops.py:89-124).  Derived boxes live in the 640x640 letterboxed
    frame; output is in the 1000x800 original frame."""
    from .queries_detect import _derived_dets  # noqa: PLC0415

    gain = min(LB_FROM_H / LB_TO_H, LB_FROM_W / LB_TO_W)
    pad_w = round((LB_FROM_W - LB_TO_W * gain) / 2 - 0.1)
    pad_h = round((LB_FROM_H - LB_TO_H * gain) / 2 - 0.1)
    d = _derived_dets(spark, sf_dir)
    # shrink derived boxes into the 640-frame
    x1 = (F.col("cx") - F.col("w") / 2.0) * 0.64
    y1 = (F.col("cy") - F.col("h") / 2.0) * 0.64
    x2 = (F.col("cx") + F.col("w") / 2.0) * 0.64
    y2 = (F.col("cy") + F.col("h") / 2.0) * 0.64
    unscale_x = lambda c: F.greatest(  # noqa: E731
        F.lit(0.0), F.least(F.lit(LB_TO_W), (c - pad_w) / gain)
    )
    unscale_y = lambda c: F.greatest(  # noqa: E731
        F.lit(0.0), F.least(F.lit(LB_TO_H), (c - pad_h) / gain)
    )
    return d.select(
        "doc",
        "det_id",
        F.round(unscale_x(x1), 5).alias("x1"),
        F.round(unscale_y(y1), 5).alias("y1"),
        F.round(unscale_x(x2), 5).alias("x2"),
        F.round(unscale_y(y2), 5).alias("y2"),
    )


def _letterbox_sql() -> str:
    gain = min(LB_FROM_H / LB_TO_H, LB_FROM_W / LB_TO_W)
    pad_w = round((LB_FROM_W - LB_TO_W * gain) / 2 - 0.1)
    pad_h = round((LB_FROM_H - LB_TO_H * gain) / 2 - 0.1)
    return f"""
WITH d AS (
  SELECT user_id % 50 AS doc, event_id AS det_id,
         CAST((event_id * 37) % 800 + 50 AS DOUBLE) AS cx,
         CAST((event_id * 53) % 800 + 50 AS DOUBLE) AS cy,
         CAST((event_id * 7) % 300 + 100 AS DOUBLE) AS w,
         CAST((event_id * 11) % 240 + 80 AS DOUBLE) AS h
  FROM events
)
SELECT doc, det_id,
  ROUND(GREATEST(0.0, LEAST({LB_TO_W}, ((cx - w/2.0) * 0.64 - {pad_w}) / {gain})), 5) AS x1,
  ROUND(GREATEST(0.0, LEAST({LB_TO_H}, ((cy - h/2.0) * 0.64 - {pad_h}) / {gain})), 5) AS y1,
  ROUND(GREATEST(0.0, LEAST({LB_TO_W}, ((cx + w/2.0) * 0.64 - {pad_w}) / {gain})), 5) AS x2,
  ROUND(GREATEST(0.0, LEAST({LB_TO_H}, ((cy + h/2.0) * 0.64 - {pad_h}) / {gain})), 5) AS y2
FROM d
"""


LETTERBOX_SQL = _letterbox_sql()


# --- C7: clean_str ------------------------------------------------------------

def clean_str_sample(spark, sf_dir):
    """Special-chars -> '_' regex cleanup (utils/ops.py:839-849 analog)
    over document source labels."""
    d = scan.table(spark, sf_dir, "documents", spread=False)
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.concat(F.col("source"), F.lit("|#"), F.col("lang")),
            "[|@#!$%&()+]",
            "_",
        ).alias("clean_name"),
    )


CLEAN_STR_SQL = """
SELECT doc_id,
       regexp_replace(source || '|#' || lang, '[|@#!$%&()+]', '_', 'g') AS clean_name
FROM documents
"""


# --- salted skew join ------------------------------------------------------------

N_JOIN_SALTS = 8


def salted_skew_join(spark, sf_dir):
    """Hot-key join treatment: the fact side gets a random-but-
    deterministic salt (hash of the row key), the dim side is
    replicated once per salt, and the join key becomes (key, salt) —
    a single hot user_id now spreads over N_JOIN_SALTS reducers
    instead of melting one.  Result is identical to the unsalted join
    (the oracle is the plain join), which is exactly the point: same
    answer, bounded per-task input at any skew.  AQE skew-split is the
    runtime backstop; salting is the planned treatment."""
    ev = scan.table(spark, sf_dir, "events", spread=False).select(
        "user_id",
        "event_id",
        "value",
        F.pmod(F.xxhash64("event_id"), F.lit(N_JOIN_SALTS)).alias("salt"),
    )
    cust = scan.table(spark, sf_dir, "customer", spread=False).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    salts = spark.range(N_JOIN_SALTS).select(F.col("id").alias("salt"))
    cust_rep = cust.crossJoin(F.broadcast(salts))
    joined = ev.join(cust_rep, ["user_id", "salt"])
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4)
        .alias("sum_value"),
    )


SALTED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# --- URL canonicalization + host analytics -----------------------------------------
#
# Crawl canonicalization: before any url-keyed dedup, real pipelines
# lowercase the host, drop default ports, and strip tracking params
# (utm_*) — otherwise one page hides under many urls.  The fixture
# synthesizes a messy url per document deterministically IN BOTH
# ENGINES (mixed-case host, :443 port, utm params), then normalizes
# and aggregates per host.

_URL_EXPR = (
    "'https://' || upper(substring(source, 1, 1)) || substring(source, 2) "
    "|| '.Example.com:443/docs/' || CAST(doc_id AS {str_t}) "
    "|| '?utm_source=feed&ref=' || source"
)


RANGE_N_WINDOWS = 50
RANGE_WINDOW_US = 30 * 60 * 1_000_000  # 30 minutes


def range_join_clicks_in_window(spark, sf_dir):
    """RANGE JOIN: the first RANGE_N_WINDOWS purchase events each
    define a 30-minute look-back interval; count the click events of
    ANY user inside each interval.  Scale shape: the interval side is
    small and BROADCAST, so the inequality join is a map-side nested
    loop over broadcast ranges — the plan that works when the probe
    side is 10^12 rows (never a cross shuffle).  Output one row per
    window with click count + distinct clickers."""
    ev = scan.table(spark, sf_dir, "events", spread=False).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    windows = (
        ev.filter(F.col("event_type") == "purchase")
        .orderBy("event_id")
        .limit(RANGE_N_WINDOWS)
        .select(
            F.col("event_id").alias("window_id"),
            (F.col("ts_us") - F.lit(RANGE_WINDOW_US)).alias("w_start"),
            F.col("ts_us").alias("w_end"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("c_ts")
    )
    joined = clicks.join(
        F.broadcast(windows),
        (F.col("c_ts") >= F.col("w_start")) & (F.col("c_ts") < F.col("w_end")),
        "inner",
    )
    counted = joined.groupBy("window_id").agg(
        F.count("*").cast("long").alias("n_clicks"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return windows.join(counted, "window_id", "left").select(
        "window_id",
        F.coalesce(F.col("n_clicks"), F.lit(0)).cast("long").alias("n_clicks"),
        F.coalesce(F.col("n_users"), F.lit(0)).cast("long").alias("n_users"),
    )


RANGE_JOIN_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
w AS (
  SELECT event_id AS window_id, ts_us - {RANGE_WINDOW_US} AS w_start, ts_us AS w_end
  FROM ev WHERE event_type = 'purchase' ORDER BY event_id LIMIT {RANGE_N_WINDOWS}
),
c AS (SELECT user_id, ts_us AS c_ts FROM ev WHERE event_type = 'click'),
hits AS (
  SELECT w.window_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
         CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users
  FROM c JOIN w ON c.c_ts >= w.w_start AND c.c_ts < w.w_end
  GROUP BY 1
)
SELECT w.window_id,
       CAST(COALESCE(hits.n_clicks, 0) AS BIGINT) AS n_clicks,
       CAST(COALESCE(hits.n_users, 0) AS BIGINT) AS n_users
FROM w LEFT JOIN hits ON w.window_id = hits.window_id
"""


def url_host_stats(spark, sf_dir):
    d = scan.table(spark, sf_dir, "documents", spread=True)
    url = F.expr(_URL_EXPR.format(str_t="STRING"))
    host = F.lower(F.regexp_extract(url, r"https?://([^/:?]+)", 1))
    path = F.regexp_extract(url, r"https?://[^/?]+(/[^?]*)", 1)
    return (
        d.select(host.alias("host"), path.alias("path"))
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("path").cast("long").alias("n_paths"),
            F.min(F.concat(F.col("host"), F.col("path"))).alias("sample_canonical"),
        )
    )


URL_HOST_SQL = f"""
WITH u AS (
  SELECT {_URL_EXPR.format(str_t="VARCHAR")} AS url FROM documents
),
p AS (
  SELECT lower(regexp_extract(url, 'https?://([^/:?]+)', 1)) AS host,
         regexp_extract(url, 'https?://[^/?]+(/[^?]*)', 1) AS path
  FROM u
)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
       MIN(host || path) AS sample_canonical
FROM p GROUP BY host
"""


def event_props_json(spark, sf_dir):
    """JSON property extraction (the semi-structured leg every event
    pipeline has): pull props.k out of the JSON string column and
    aggregate per event type.  JVM-side get_json_object — no UDF."""
    ev = scan.table(spark, sf_dir, "events", spread=False)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENT_PROPS_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


EXTRA_QUERIES = {
    "url_host_stats": (url_host_stats, URL_HOST_SQL),
    "range_join_clicks_in_window": (range_join_clicks_in_window, RANGE_JOIN_SQL),
    "event_props_json": (event_props_json, EVENT_PROPS_SQL),
    "coordinate_views": (coordinate_views, COORD_VIEWS_SQL),
    "max_f1_threshold": (max_f1_threshold, MAX_F1_SQL),
    "max_f1_smoothed": (max_f1_smoothed, MAX_F1_SMOOTH_SQL),
    "clean_str_sample": (clean_str_sample, CLEAN_STR_SQL),
    "letterbox_unscale": (letterbox_unscale, LETTERBOX_SQL),
    "cube_order_stats": (cube_order_stats, CUBE_SQL),
    "rollup_ship_stats": (rollup_ship_stats, ROLLUP_SQL),
    "customers_minus_eventusers": (customers_minus_eventusers, EXCEPT_SQL),
    "event_value_percentiles": (event_value_percentiles, PERCENTILE_SQL),
    "asof_click_before_purchase": (asof_click_before_purchase, ASOF_SQL),
    "keyword_class_scores": (keyword_class_scores, KEYWORD_SQL),
    "region_json_summary": (region_json_summary, REGION_JSON_SQL),
    "salted_skew_join": (salted_skew_join, SALTED_JOIN_SQL),
}
