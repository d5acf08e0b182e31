"""Relational operator coverage over the driver testdata (SURVEY §2
renderings of the reference's aggregation / window / join / sort
semantics), each paired with a DuckDB oracle SQL string.

Numeric-parity conventions (Spark vs DuckDB must hash-match):
- money-ish sums: per-row double arithmetic (bit-deterministic), cast
  to decimal(18,4) per row, exact decimal SUM, final cast to double;
- averages: exact decimal sum cast double / count;
- order-sensitive limits: fully deterministic ORDER BY with key
  tie-breaks;
- counts / row_number cast to bigint on the Spark side.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import scan


def _dec(c):
    return c.cast("decimal(18,4)")


def _money(price, *factors):
    """Decimal-first money product: cast each factor to decimal BEFORE
    multiplying, then round the exact decimal product back to 4 dp.

    Casting the fused double product (e.g. 79589.20165...) to decimal is
    engine-ambiguous: DuckDB goes via the shortest decimal string + half-even,
    Spark via the exact binary value + HALF_UP — ~0.7% of rows differ by 1e-4.
    The source columns carry exactly 2 decimal digits, so the per-factor casts
    are unambiguous, the decimal product is exact in both engines, and the
    final ROUND(x, 4) rounds an EXACT decimal half-away-from-zero in BOTH
    engines (a decimal->decimal CAST would NOT work: DuckDB truncates on
    scale-reducing casts while Spark rounds HALF_UP). Mirror in SQL as
    ROUND(CAST(p AS DECIMAL(18,4)) * CAST(f AS DECIMAL(9,4)), 4).
    """
    out = price.cast("decimal(18,4)")
    for f in factors:
        out = out * f.cast("decimal(9,4)")
    return F.round(out, 4)


# --- A1/A8 analog: grouped aggregation (pricing summary) -------------------

def q1_pricing_summary(spark, sf_dir):
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(_money(F.col("l_extendedprice"), 1 - F.col("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                _money(
                    F.col("l_extendedprice"),
                    1 - F.col("l_discount"),
                    1 + F.col("l_tax"),
                )
            )
            .cast("double")
            .alias("sum_charge"),
            (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count("*"))
            .alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(9,4)), 4)) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(9,4)) * CAST(1 + l_tax AS DECIMAL(9,4)), 4)) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# --- join + group + deterministic top-k (shipping priority) ----------------

def q3_top_orders(spark, sf_dir):
    cust = scan.table(spark, sf_dir, "customer", spread=False).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = scan.table(spark, sf_dir, "orders", spread=False).filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = scan.table(spark, sf_dir, "lineitem", spread=False).filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.sum(_money(F.col("l_extendedprice"), 1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderpriority,
       CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(9,4)), 4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- multi-way join with broadcast dims (local supplier volume) ------------

def q5_region_revenue(spark, sf_dir):
    region = scan.table(spark, sf_dir, "region", spread=False).filter(F.col("r_name") == "ASIA")
    nation = scan.table(spark, sf_dir, "nation", spread=False)
    cust = scan.table(spark, sf_dir, "customer", spread=False)
    supp = scan.table(spark, sf_dir, "supplier", spread=False)
    orders = scan.table(spark, sf_dir, "orders", spread=False).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_money(F.col("l_extendedprice"), 1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(9,4)), 4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# --- F1-style predicate + single aggregate (revenue forecast) --------------

def q6_forecast(spark, sf_dir):
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_money(F.col("l_extendedprice"), F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


Q6_SQL = """
SELECT CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(9,4)), 4)) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24
"""


# --- J3 analog: broadcast dimension lookup join ----------------------------

def brand_volume(spark, sf_dir):
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    part = scan.table(spark, sf_dir, "part", spread=False)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("total_qty"),
        )
    )


BRAND_SQL = """
SELECT p_brand, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --- §2.8 per-group top-k: row_number window --------------------------------

def top3_events_per_user(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False)
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


TOP3_SQL = """
SELECT user_id, event_id, value, rn FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
"""


# --- sessionization (lag + gap + running flag-sum) --------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize_events(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False).select(
        "user_id",
        "event_id",
        # parquet ts is TIMESTAMP_NTZ; session tz is UTC so this cast is
        # stable and matches DuckDB's epoch_us on the naive timestamp
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US, 1
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        (F.sum("new_s") + 1).cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
              (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM events
)
SELECT user_id, CAST(SUM(new_s) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


# --- A5 analog: precision envelope = reverse running max --------------------

def precision_envelope(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False)
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    return ev.select(
        "event_type",
        "event_id",
        F.max("value").over(w).alias("envelope"),
    )


ENVELOPE_SQL = """
SELECT event_type, event_id,
       MAX(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS envelope
FROM events
"""


# --- A3 analog: cumulative sum after ordering --------------------------------

def running_value_cumsum(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False)
    w = (
        W.partitionBy("event_type")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_type",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


CUMSUM_SQL = """
SELECT event_type, event_id,
       ROUND(SUM(value) OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
FROM events
"""


# --- A9 analog: confusion-matrix style two-key counts ------------------------

def event_value_confusion(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False)
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(3)).cast("long")
    return (
        ev.select("event_type", bucket.alias("value_bucket"))
        .groupBy("event_type", "value_bucket")
        .agg(F.count("*").alias("n"))
    )


CONFUSION_SQL = """
SELECT event_type,
       CAST(LEAST(FLOOR(value / 25.0), 3) AS BIGINT) AS value_bucket,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


# --- time-bucketed rollup (hourly) -------------------------------------------

def hourly_rollup(spark, sf_dir):
    ev = scan.table(spark, sf_dir, "events", spread=False)
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("value"))).cast("double").alias("sum_value"),
        )
    )


HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# --- set ops: distinct union (U1/U3 analog) ----------------------------------

def active_keys_union(spark, sf_dir):
    orders = scan.table(spark, sf_dir, "orders", spread=False).select(
        F.col("o_custkey").alias("key"), F.lit("order").alias("side")
    )
    ev = scan.table(spark, sf_dir, "events", spread=False).select(
        F.col("user_id").alias("key"), F.lit("event").alias("side")
    )
    return orders.unionByName(ev).distinct()


UNION_SQL = """
SELECT DISTINCT o_custkey AS key, 'order' AS side FROM orders
UNION
SELECT DISTINCT user_id AS key, 'event' AS side FROM events
"""


# --- anti join (resume-semantics rendering, SURVEY §2.3) ---------------------

def customers_without_orders(spark, sf_dir):
    cust = scan.table(spark, sf_dir, "customer", spread=False)
    orders = scan.table(spark, sf_dir, "orders", spread=False)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- correlated scalar subquery (TPC-H q17 shape; Catalyst decorrelates) -----

def small_quantity_revenue(spark, sf_dir):
    """Average yearly revenue lost to small orders: lineitems whose
    quantity is below 20% of the per-part average (the correlated
    scalar-subquery pattern, rendered as a join with a per-part
    aggregate — what Catalyst decorrelation produces)."""
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / 7.0)
            .alias("avg_yearly"),
            F.count("*").alias("n_rows"),
        )
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.2 * AVG(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
)
"""


# --- returned-item revenue (TPC-H q10 shape: fact->dims with top-k) -----------

def returned_item_revenue(spark, sf_dir):
    li = scan.table(spark, sf_dir, "lineitem", spread=False).filter(F.col("l_returnflag") == "R")
    orders = scan.table(spark, sf_dir, "orders", spread=False)
    cust = scan.table(spark, sf_dir, "customer", spread=False)
    nation = scan.table(spark, sf_dir, "nation", spread=False)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_money(F.col("l_extendedprice"), 1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(9,4)), 4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --- disjunctive multi-branch predicate (TPC-H q19 shape) ----------------------

def disjunctive_revenue(spark, sf_dir):
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    part = scan.table(spark, sf_dir, "part", spread=False)
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size") <= 10)
        & (F.col("l_quantity") >= 5)
        & (F.col("l_quantity") <= 20)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size") <= 25)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 30)
    )
    return joined.filter(branch1 | branch2).agg(
        F.sum(_money(F.col("l_extendedprice"), 1 - F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_rows"),
    )


Q19_SQL = """
SELECT CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(9,4)), 4)) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 5 AND 20)
   OR (p_brand = 'Brand#3' AND p_size <= 25 AND l_quantity BETWEEN 10 AND 30)
"""


# --- the spark.sql surface: one ANSI SQL text, two engines -------------------

def sql_api_region_revenue(spark, sf_dir):
    """Runs the DuckDB oracle's EXACT SQL text through spark.sql() over
    registered temp views — demonstrating that the money-parity
    conventions (decimal-first factor casts, ROUND) keep the query in
    the ANSI-portable subset: one string, two engines, identical value
    hashes."""
    for t in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
        scan.table(spark, sf_dir, t, spread=False).createOrReplaceTempView(t)
    return spark.sql(Q5_SQL)


# --- late-shipment priority check (TPC-H q4 shape: EXISTS semi-join) ---------


def priority_late_orders(spark, sf_dir):
    """Orders counted per priority when AT LEAST ONE lineitem shipped
    after the order date — the q4 EXISTS-correlated-subquery shape,
    rendered as a left-semi join (what Catalyst rewrites EXISTS to).
    Scale: semi join keyed by orderkey (no row multiplication from
    multi-line orders), then a tiny priority aggregation."""
    o = scan.table(spark, sf_dir, "orders", spread=False)
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    late = li.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            late,
            (o.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
"""


# --- promo revenue share (TPC-H q14 shape: conditional aggregation) ----------


def promo_revenue_share(spark, sf_dir):
    """Share of revenue from PROMO parts — the conditional-aggregation
    ratio.  Broadcast the part dim; money math follows the decimal
    conventions so both engines agree bitwise."""
    li = scan.table(spark, sf_dir, "lineitem", spread=False)
    p = scan.table(spark, sf_dir, "part", spread=False)
    rev = _money(F.col("l_extendedprice"), 1.0 - F.col("l_discount"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_pct"),
        F.count("*").cast("long").alias("n_rows"),
    )


Q14_SQL = """
SELECT ROUND(CAST(100.0 AS DOUBLE)
         * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN ROUND(CAST(l_extendedprice AS DECIMAL(18,4))
                               * CAST(1.0 - l_discount AS DECIMAL(9,4)), 4)
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(1.0 - l_discount AS DECIMAL(9,4)), 4))
                AS DOUBLE), 6) AS promo_pct,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


# --- dormant high-balance customers (TPC-H q22 shape: anti-join + scalar sub) --


def dormant_rich_customers(spark, sf_dir):
    """Per-nation count and total balance of customers whose account
    balance beats the global positive-balance average but who placed no
    order since 2000-06-01 (dormant) — the q22 anti-join +
    scalar-subquery shape.  The 1-row average enters via a broadcast
    cross join; the anti join is keyed by custkey with the date filter
    pushed to the orders scan."""
    c = scan.table(spark, sf_dir, "customer", spread=False)
    o = scan.table(spark, sf_dir, "orders", spread=False).filter(
        F.col("o_orderdate") >= "2000-06-01"
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count("*")
            ).alias("avg_bal")
        )
    )
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(F.sum(_dec(F.col("c_acctbal"))).cast("double"), 4).alias(
            "total_bal"
        ),
    )


Q22_SQL = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4)
         AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY c_nationkey
"""


RELATIONAL_QUERIES = {
    "priority_late_orders": (priority_late_orders, Q4_SQL),
    "promo_revenue_share": (promo_revenue_share, Q14_SQL),
    "dormant_rich_customers": (dormant_rich_customers, Q22_SQL),
    "sql_api_region_revenue": (sql_api_region_revenue, Q5_SQL),
    "small_quantity_revenue": (small_quantity_revenue, Q17_SQL),
    "returned_item_revenue": (returned_item_revenue, Q10_SQL),
    "disjunctive_revenue": (disjunctive_revenue, Q19_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_orders": (q3_top_orders, Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "q6_forecast": (q6_forecast, Q6_SQL),
    "brand_volume": (brand_volume, BRAND_SQL),
    "top3_events_per_user": (top3_events_per_user, TOP3_SQL),
    "sessionize_events": (sessionize_events, SESSION_SQL),
    "precision_envelope": (precision_envelope, ENVELOPE_SQL),
    "running_value_cumsum": (running_value_cumsum, CUMSUM_SQL),
    "event_value_confusion": (event_value_confusion, CONFUSION_SQL),
    "hourly_rollup": (hourly_rollup, HOURLY_SQL),
    "active_keys_union": (active_keys_union, UNION_SQL),
    "customers_without_orders": (customers_without_orders, ANTI_SQL),
}
