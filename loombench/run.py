"""Benchmark entry point.

    python3 loombench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run is a fresh process that pins its
own environment (``local[2]``, 2 shuffle partitions, a 2 GiB driver,
scratch dirs under ``.loombench/`` in the working directory), sets up
the workload once, runs the timed passes ``--seconds`` asks for, checks
every result, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. Every run writes a summary to ``.loombench/out/``; a traced run
also writes its spans there.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Half the 4-core machine the baseline ran on: the Python client, the
# JIT and GC threads and the Arrow-UDF workers then do not compete with
# the task threads, and a busy neighbour on a shared host slows a run
# less. The inputs are small: a warm pass takes the same time on
# local[2] as on local[3].
CORES = 2
DRIVER_MEM = "2g"


def pin_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit; set before
    the JVM starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(paths),  # Arrow-UDF workers import the library
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
        }
    )
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str):
    from graph_loom_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="loombench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM behind the py4j gateway, and wait
    for it to exit (its Python workers die with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graph_loom_spark", "__init__.py")):
        print(f"loombench: no graph_loom_spark package under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".loombench")
    work = os.path.join(base, f"run-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    pin_env(work)

    import metrics
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    real_stdout = sys.stdout
    sys.stdout = sys.stderr  # library prints must not precede the result line
    spark = None
    try:
        spark = start_spark(work)
        run = workloads.Run(
            spark, args.seed, workloads.timed_passes(args.workload, args.seconds), bool(args.trace), work,
            warm=workloads.WARM_PASSES[args.workload],
        )
        workloads.WORKLOADS[args.workload](run)
        t_checked = time.perf_counter()
        result = metrics.result(run, setup_s=run.t_first_op - T_PROCESS)
        run.phases = {
            "setup_s": run.t_first_op - T_PROCESS,
            "timed_s": run.t_last_op - run.t_first_op,
            "checks_s": t_checked - run.t_last_op,
            "heap_s": time.perf_counter() - t_checked,
        }
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        metrics.write_summary(run, result, stem)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        sys.stdout = real_stdout
        print(f"loombench: stop {time.perf_counter() - t_stop:.1f} s, "
              f"process {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
