"""Per-query measurement harness for optimization work (guide §1.4):
times any subset of the contract queries with a noop sink and can dump
``explain("formatted")`` plans.  Each query's JSON also carries the
Janino compile count and compile ms of its timed reps, so a run shows
recompilation (a codegen cache miss) without a debugger.  bench.py is
FROZEN for the driver's measurement; this file exists so optimization
rounds can isolate queries without touching it.

Usage:
  python bench_extra.py q1_pricing_summary simhash64_hamming_pairs ...
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py --all
  python bench_extra.py --plans plans/r06 --suffix before q1_pricing_summary
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from doclayout_yolo_spark.contract import ALL_QUERIES  # noqa: E402
from doclayout_yolo_spark.session import get_spark  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _codegen(spark) -> tuple[int, float]:
    """Janino compilations and their total ms so far in this JVM (in
    local mode that includes the executors' compilations)."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return (
        metrics.METRIC_COMPILATION_TIME().getCount(),
        codegen.compileTime() / 1e6,  # nanoseconds
    )


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "plan"
    plans_only = False
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--plans":
            plans_dir = next(it)
        elif a == "--suffix":
            suffix = next(it)
        elif a == "--reps":
            reps = int(next(it))
        elif a == "--plans-only":
            plans_only = True
        elif a == "--all":
            names = list(ALL_QUERIES)
        else:
            names.append(a)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        os.sched_setaffinity(0, range(cpus))
    except (AttributeError, OSError, ValueError):
        pass
    spark = get_spark(app="bench_extra", master=f"local[{cpus}]")
    _force(spark.range(10_000).selectExpr("sum(id) as s"))
    _force(
        spark.range(cpus * 4, numPartitions=cpus).mapInPandas(
            lambda it: it, "id long"
        )
    )

    out: dict[str, dict] = {}
    for name in names:
        fn, _sql = ALL_QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if plans_dir is not None:
            os.makedirs(plans_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(f"{plans_dir}/{name}_{suffix}.txt", "w") as f:
                f.write(buf.getvalue())
        if plans_only:
            continue
        _force(fn(spark, sf_dir))  # warmup (catalyst + codegen)
        runs = []
        n0, ms0 = _codegen(spark)
        for _ in range(reps):
            t0 = time.time()
            _force(fn(spark, sf_dir))
            runs.append(time.time() - t0)
        n1, ms1 = _codegen(spark)
        out[name] = {
            "best": round(min(runs), 3),
            "mean": round(sum(runs) / len(runs), 3),
            "runs": [round(r, 3) for r in runs],
            "compiles": n1 - n0,
            "compile_ms": round(ms1 - ms0, 1),
        }
        print(
            f"{name:36s} best={out[name]['best']:7.3f} runs={out[name]['runs']}"
            f" compiles={n1 - n0}",
            file=sys.stderr,
        )
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": out}))


if __name__ == "__main__":
    main()
