"""Benchmark driver for pq_vector_spark.

    python3 perfbench/run.py --workload ann_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` into a
run directory inside the checkout (``.perfbench_run/``), removed at the
end. The workload runs a closed loop with one client (this process) against
Spark in local mode (``TASK_SLOTS``) for ``--seconds`` of measured ops,
checks every result, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json (timings in
CPU seconds of the whole process tree); ``--trace 1`` reports its per-layer
metrics, measured by wrapping the program's layer functions in spans. The line before it carries the full per-module layer
breakdown (``{"detail": ...}``). ``--size tiny`` shrinks every input for the
self-test (perfbench/selftest.py). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ann_query", "corpus_dedup")
CORES = os.cpu_count() or 1
# Spark task slots per workload. ann_query's ops spend most of their time in
# the driver process (Python, py4j, JVM JIT and GC threads) and in small
# jobs: with half the cores as task slots its ops were faster and followed
# the host's load less than with all but one. corpus_dedup's ops are
# executor-bound and keep all but one core. See perfbench/README.md.
TASK_SLOTS = {"ann_query": max(1, CORES // 2), "corpus_dedup": max(1, CORES - 1)}
PROGRAM_FILES = (
    "pq_vector_spark/__init__.py",
    "tools/gen_scale_embeddings.py",
    "tools/gen_scale_docs.py",
)


def prepare_env(run_dir: str, task_slots: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and pin the session to ``local[<task_slots>]``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"',
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )


def cpu_ticks():
    """(steal, total) CPU ticks of this machine since boot, or None off Linux.
    Steal is time the hypervisor gave this machine's CPUs to other guests:
    its share over a run says how contended the host was."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, TASK_SLOTS[args.workload])
    sys.path.insert(0, ROOT)
    from common import Run

    run = Run(args, run_dir)
    ticks0 = cpu_ticks()
    try:
        if args.workload == "ann_query":
            import ann_query as workload
        else:
            import corpus_dedup as workload
        e2e, layers, detail = workload.run(run)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e["driver_peak_rss_mb"] = {
        "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "unit": "MB",
    }
    e2e["ok_op_ratio"] = {
        "value": (run.attempted - run.failed) / max(1, run.attempted),
        "unit": "ratio",
    }
    detail["failures"] = run.failures
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        detail["host_steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    print(json.dumps({"detail": detail}, sort_keys=True))
    result = {
        "correct": not run.failures and run.attempted > 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": layers if args.trace else e2e,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
