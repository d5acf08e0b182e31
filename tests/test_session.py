"""The session compiles each generated class once: Spark's codegen cache
holds the engine's working set, and class names carry no codegen stage
id, so a repeated query is served from the cache."""

from __future__ import annotations

from pyspark.sql import functions as F

from doclayout_yolo_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (driver and, in local
    mode, executors)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_confs_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_distinct_classes_beyond_default_cache_compile_once(spark):
    # 150 queries, each with its own literals and so its own generated
    # class: more than Spark's default cache of 100 entries holds
    def sweep():
        for i in range(150):
            spark.range(8).selectExpr(f"id * {i} + {i} AS v").collect()

    c0 = _compiles(spark)
    sweep()
    c1 = _compiles(spark)
    assert c1 - c0 >= 150
    sweep()
    assert _compiles(spark) - c1 == 0


def test_repeated_aqe_join_compiles_nothing(spark):
    # two shuffle map stages and a sort-merge join under AQE (the hint
    # keeps AQE from turning it into a broadcast join whose build side
    # depends on which stage finishes first, a second plan shape)
    def join_q():
        a = spark.range(0, 4000, numPartitions=4).selectExpr(
            "id % 97 AS k", "id AS x"
        )
        b = spark.range(0, 800, numPartitions=3).selectExpr(
            "id % 89 AS k", "id * 2 AS y"
        )
        return (
            a.groupBy("k")
            .agg(F.sum("x").alias("sx"))
            .hint("merge")
            .join(b.groupBy("k").agg(F.max("y").alias("my")), "k")
            .groupBy((F.col("k") % 7).alias("g"))
            .agg(F.sum("sx").alias("s"), F.count("my").alias("c"))
        )

    def prefix():
        return (
            spark.range(0, 50, numPartitions=2)
            .selectExpr("id % 5 AS g")
            .groupBy("g")
            .agg(F.sum("g").alias("s"), F.count("g").alias("c"))
        )

    expected = sorted(join_q().collect())
    prefix().collect()
    c0 = _compiles(spark)
    for _ in range(3):
        assert sorted(join_q().collect()) == expected
    assert _compiles(spark) - c0 == 0
    # behind the prefix's stages the join's codegen stages get other
    # ids; with the id in the class name each would compile again
    got = sorted(prefix().unionByName(join_q()).collect())
    assert len(got) == len(expected) + 5
    assert _compiles(spark) - c0 == 0
