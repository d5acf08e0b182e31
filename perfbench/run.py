"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a fresh process on local[<cpus>], checks its
outputs and prints one JSON line last: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Scratch
files go to ``.bench_work/`` at the root of the checkout; the traced
run also writes its span tree there.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
WORKLOAD_NAMES = ("extract_job_incremental", "contract_queries")
# the library's default driver heap is 24g for its local[32] default:
# 768 MB per core, kept here per CPU the run gets
HEAP_MB_PER_CPU = 768


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(cpus: int) -> None:
    """Pin to ``cpus`` CPUs, keep every scratch file in the checkout,
    and put the checkout on the Python workers' import path whatever
    the current directory."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cpus])
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): temp files in the checkout, and no
    # hsperfdata files, which HotSpot always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{HEAP_MB_PER_CPU * cpus}m"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _warm(batches):
    import doclayout_yolo_spark.pipeline  # noqa: F401, PLC0415

    yield from batches


def start_session(cpus: int):
    """SparkSession up and every core's Python worker warm."""
    from doclayout_yolo_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(
        app="perfbench",
        master=f"local[{cpus}]",
        extra={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the whole heap resident from the start: neither the
            # collector's decisions to grow it nor the first touch of
            # its pages then move CPU time and resident memory
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP_MB_PER_CPU * cpus}m -XX:+AlwaysPreTouch",
        },
    )
    spark.range(cpus * 4, numPartitions=cpus).mapInArrow(
        _warm, "id long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def stop_everything(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext  # noqa: PLC0415

    from perfbench.procmem import descendants  # noqa: PLC0415

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall back to killing it
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "doclayout_yolo_spark")):
        print("perfbench: no doclayout_yolo_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _environment(cpus)

    from perfbench import workloads as w  # noqa: PLC0415
    from perfbench.catalog import END_TO_END, PER_LAYER  # noqa: PLC0415
    from perfbench.procmem import TreeMeter, tree_usage  # noqa: PLC0415
    from perfbench.spans import StatusStore, Tracer  # noqa: PLC0415

    spark = start_session(cpus)
    # one cold start: CPU seconds of the process tree from process start
    # (package imports included) to the session up and its workers warm
    setup_s = tree_usage(os.getpid())[1]

    with TreeMeter() as mem:
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        run = w.Run(
            spark=spark, tracer=tracer, mem=mem, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), cpus=cpus, work=WORK, root=ROOT,
        )
        with tracer.span(args.workload):
            layers = w.WORKLOADS[args.workload](run)
        if args.trace:
            store = StatusStore(spark)
            layers.update(w.common_layers(run, store))
            layers.update(w.query_layers(run, store))
            layers.update(w.format_kernel_us())
    stop_everything(spark)

    if args.trace:
        values = {k: layers.get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "setup_cpu_s": setup_s,
             "metrics": values, "problems": run.problems},
        )
    else:
        values = {
            "setup_s": setup_s,
            "steady_cpu_s": run.steady_cpu_s(),
            "peak_rss_mb": run.steady_peak_rss_mb(),
        }
        units = END_TO_END
    print(f"perfbench: setup cpu {setup_s}, passes {[p.seconds for p in run.passes]}, "
          f"pass cpu {[p.cpu_s for p in run.passes]}, "
          f"pass peak rss MB {[{k: v // 10**6 for k, v in p.peak_rss.items()} for p in run.passes]}",
          file=sys.stderr)
    for p in run.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k][0]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
