"""``session.local_df``: driver-side rows become a JVM-only local
frame (no Python worker task), and the sink's lineage and manifest
commits go through it with the declared column types."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql.types import _parse_datatype_string

from doclayout_yolo_spark.fixtures import generate_pages_df
from doclayout_yolo_spark.pipeline import (
    LINEAGE_DDL,
    read_lineage,
    run_extraction_job,
)
from doclayout_yolo_spark.session import local_df
from doclayout_yolo_spark.tableformat import FORMAT, MANIFEST_DDL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DDL = "i int, l long, d double, s string, a array<int>"
ROWS = [
    (1, 2**40, 0.1, "héllo", [1, None, 3]),
    (None, None, None, None, None),
    (-7, -1, -0.0, "", []),
]


def _types(df) -> list[tuple[str, object]]:
    return [(f.name, f.dataType) for f in df.schema.fields]


def _types_of(ddl: str) -> list[tuple[str, object]]:
    return [(f.name, f.dataType) for f in _parse_datatype_string(ddl).fields]


def test_local_df_round_trips_values_and_types(spark):
    df = local_df(spark, ROWS, DDL)
    assert _types(df) == _types_of(DDL)
    assert [tuple(r) for r in df.collect()] == ROWS


def test_local_df_zero_rows_keeps_schema(spark):
    df = local_df(spark, [], DDL)
    assert _types(df) == _types_of(DDL)
    assert df.collect() == []


def test_local_df_plans_a_jvm_only_local_scan(spark):
    df = local_df(spark, ROWS, DDL)
    qe = df._jdf.queryExecution()
    assert "LocalTableScan" in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("commit") / "t")
    stats = run_extraction_job(
        spark, generate_pages_df(spark, 24, partitions=2), out, n_buckets=4
    )
    assert stats["n_docs"] == 24
    return out


def test_lineage_reads_back_with_declared_types(spark, committed):
    got = dict(_types(read_lineage(spark, committed)))
    for name, dtype in _types_of(LINEAGE_DDL):
        assert got[name] == dtype, name
    assert read_lineage(spark, committed).count() > 0


def test_manifest_reads_back_with_declared_types(spark, committed):
    m = FORMAT.read_manifest(spark, committed)
    assert _types(m) == _types_of(MANIFEST_DDL)
    assert _types_of(MANIFEST_DDL) == _types_of(
        "part_id int, kernel_version string, seq double"
    )
    assert sorted(r["part_id"] for r in m.collect()) == [0, 1, 2, 3]


def _create_dataframe_calls(path: str) -> list[str]:
    """``<file>:<line>`` of each ``.createDataFrame(`` call in one
    source file."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    return [
        f"{os.path.relpath(path, ROOT)}:{n.lineno}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame"
    ]


def test_local_df_is_the_only_create_dataframe_call():
    """Driver-side rows in the package and the jobs go through
    ``local_df``; a ``createDataFrame(<python list>)`` would bring the
    Python-RDD path (and its worker tasks) back."""
    calls = []
    for top in ("doclayout_yolo_spark", "jobs"):
        for d, _sub, names in os.walk(os.path.join(ROOT, top)):
            calls += [
                c
                for n in sorted(names)
                if n.endswith(".py")
                for c in _create_dataframe_calls(os.path.join(d, n))
            ]
    # the one call is local_df's own
    assert [c.split(":")[0] for c in calls] == ["doclayout_yolo_spark/session.py"]
