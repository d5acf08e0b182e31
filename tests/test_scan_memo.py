"""The scan layer (``scan.table``) and the one memo (``memo.cached``):
hits, mtime eviction with unpersist, per-group keys, and the spread
policy on a single-row-group parquet file."""

from __future__ import annotations

import ast
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from doclayout_yolo_spark import memo, scan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "doclayout_yolo_spark")


def _write(path, n: int) -> None:
    pq.write_table(pa.table({"k": list(range(n))}), str(path))


def _bump_mtime(path) -> None:
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 10))


def test_cached_hit_returns_same_object_without_build(spark, tmp_path):
    src = tmp_path / "t.parquet"
    _write(src, 3)
    calls = []

    def build():
        calls.append(1)
        return object()

    first = memo.cached(spark, ("probe", str(src)), str(src), build)
    again = memo.cached(spark, ("probe", str(src)), str(src), build)
    assert again is first and len(calls) == 1


def test_cached_rewrite_rebuilds_and_unpersists_old(spark, tmp_path):
    src = tmp_path / "t.parquet"
    _write(src, 5)
    builds = []

    def build():
        # the build number in the plan keeps each version's cache entry
        # distinct (CacheManager matches plans, and both read one path)
        builds.append(1)
        df = spark.read.parquet(str(src)).withColumn("v", F.lit(len(builds)))
        df.persist().count()
        return df

    old = memo.cached(spark, ("persisted", str(src)), str(src), build)
    assert old.storageLevel != StorageLevel.NONE
    _write(src, 7)
    _bump_mtime(src)
    new = memo.cached(spark, ("persisted", str(src)), str(src), build)
    assert new is not old and len(builds) == 2 and new.count() == 7
    assert old.storageLevel == StorageLevel.NONE
    assert new.storageLevel != StorageLevel.NONE
    new.unpersist()


def test_cached_groups_over_one_source_coexist(spark, tmp_path):
    src = tmp_path / "t.parquet"
    _write(src, 2)
    a = memo.cached(spark, ("a", str(src)), str(src), lambda: ["a"])
    b = memo.cached(spark, ("b", str(src)), str(src), lambda: ["b"])
    assert memo.cached(spark, ("a", str(src)), str(src), lambda: None) is a
    assert memo.cached(spark, ("b", str(src)), str(src), lambda: None) is b


def test_table_spread_widens_single_row_group_file(spark, tmp_path):
    _write(tmp_path / "one.parquet", 100)
    assert pq.ParquetFile(str(tmp_path / "one.parquet")).num_row_groups == 1
    wide = scan.table(spark, str(tmp_path), "one", spread=True)
    target = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == target > 1
    assert scan.table(spark, str(tmp_path), "one", spread=True) is wide
    assert sorted(r.k for r in wide.collect()) == list(range(100))


def test_table_without_spread_is_the_plain_reader(spark, tmp_path):
    _write(tmp_path / "one.parquet", 10)
    plain = scan.table(spark, str(tmp_path), "one", spread=False)
    assert plain.rdd.getNumPartitions() == 1
    assert scan.table(spark, str(tmp_path), "one", spread=False) is plain
    assert scan.table(spark, str(tmp_path), "one", spread=True) is not plain


def _query_modules():
    return sorted(glob.glob(os.path.join(PKG, "queries_*.py")))


def _is_read_parquet(f) -> bool:
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "parquet"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "read"
    )


def test_query_modules_read_only_through_scan_table():
    """Fixture reads, partition probes and memo lookups live in scan.py
    and memo.py; a query module calling them directly would bring back
    a per-site spread policy or a second cache."""
    found = []
    for path in _query_modules():
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if _is_read_parquet(f) or name in ("getNumPartitions", "memo_lookup"):
                found.append(f"{os.path.basename(path)}:{n.lineno}:{name}")
    assert found == []


def test_no_module_level_cache_dicts_outside_memo():
    """``memo._CACHE`` is the one memo dict: no query module and not
    the scan layer assigns a module-level empty ``{}`` of its own."""
    found = []
    for path in _query_modules() + [os.path.join(PKG, "scan.py")]:
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for n in tree.body:
            value = n.value if isinstance(n, (ast.Assign, ast.AnnAssign)) else None
            empty_literal = isinstance(value, ast.Dict) and not value.keys
            empty_call = (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", "") == "dict"
                and not value.args
                and not value.keywords
            )
            if empty_literal or empty_call:
                found.append(f"{os.path.basename(path)}:{n.lineno}")
    assert found == []
