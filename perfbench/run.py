"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the workload's inputs from the seed,
starts one local Spark session sized from the host's core count, sets up,
measures for ``--seconds``, checks the outputs outside the timed region and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` Spark's event log is on and the metrics are the per-layer
metrics. Every run also writes a JSON artifact (spans, per-pass and per-query
records) under ``.perfbench/`` in the checkout. Everything else it writes goes
to a work directory there that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def build_session(cpus: int, work: str, trace: bool):
    from pyspark.sql import SparkSession

    from html_parser_spark.session import apply_scale_confs

    builder = (
        apply_scale_confs(
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(cpus))
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "3g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes); the JVM stops the Python workers it started."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    root = os.getcwd()
    missing = [p for p in ("__spark_entry__.py", "html_parser_spark/__init__.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    args = parse_args(argv)

    from workloads import WORKLOADS, Run

    cpus = cpu_count()
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers inherit the driver's environment through the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # keep every temporary file of Python, the JVMs and Spark in the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(cpus, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        run = Run(spark, args.seed, args.seconds, bool(args.trace), work, cpus, session_s)
        result = WORKLOADS[args.workload](run)
        stop_session(spark)
        spark = None
        if args.trace:
            result.finish_trace(run)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    artifact = os.path.join(
        base, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(artifact, "w") as f:
        json.dump(result.artifact(run), f, indent=1, default=str)
    print(f"perfbench: cpus={cpus} artifact={os.path.relpath(artifact, root)}", file=sys.stderr)
    print(json.dumps(result.line(bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
