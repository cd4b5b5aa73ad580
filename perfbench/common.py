"""Shared pieces of the benchmark workloads: the run state, statistics and
the per-layer metrics every workload reports from its traced ops."""

from __future__ import annotations

import importlib.util
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(values):
    return float(statistics.median(values))


CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
CPU_PARTS = ("python_driver", "jvm_jit", "jvm_gc", "jvm_rest", "python_workers")
JVM_THREADS = (  # thread-name prefixes of the JVM's own service threads
    ("jvm_jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("jvm_gc", ("GC Thread", "G1 ")),
)


def _stat(path: str):
    """(command name, fields after it) of a ``/proc`` stat file; None once
    the process or thread is gone."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _ticks(fields, children=True) -> int:
    """utime + stime, plus cutime + cstime of reaped children."""
    return sum(int(x) for x in fields[11:15 if children else 13])


def process_tree():
    """{pid: (command name, stat fields)} of this process and every process
    under it (the Spark JVM, its Python daemon and workers); empty without
    ``/proc``."""
    try:
        names = [n for n in os.listdir("/proc") if n.isdigit()]
    except OSError:
        return {}
    stats = {}
    for name in names:
        st = _stat(f"/proc/{name}/stat")
        if st is not None:  # None: exited while listing
            stats[int(name)] = st
    children = {}
    for pid, (_, fields) in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    tree, stack = {}, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        stack.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, including children
    its processes have already reaped.

    On a virtual machine with steal-time accounting, time the hypervisor
    gives to other guests is charged to no process, and time other
    processes of this machine run is charged to them: this clock counts
    the program's own work whether or not the host is busy."""
    return sum(_ticks(fields) for _, fields in process_tree().values()) / CLK_TCK


def cpu_parts() -> dict:
    """``tree_cpu_s`` split by where it ran (``CPU_PARTS``): this Python
    process, the JVM's JIT compiler threads, its garbage-collector threads,
    the rest of the JVM (Catalyst, scheduler, executor tasks), and every
    other process of the tree (Python workers)."""
    out = dict.fromkeys(CPU_PARTS, 0)
    for pid, (comm, fields) in process_tree().items():
        if pid == os.getpid():
            out["python_driver"] += _ticks(fields)
            continue
        if comm != "java":
            out["python_workers"] += _ticks(fields)
            continue
        out["jvm_rest"] += _ticks(fields)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            tids = []
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is None:
                continue
            for part, prefixes in JVM_THREADS:
                if st[0].startswith(prefixes):
                    out[part] += _ticks(st[1], children=False)
                    out["jvm_rest"] -= _ticks(st[1], children=False)
                    break
    return {k: v / CLK_TCK for k, v in out.items()}


class Stopwatch:
    """Wall seconds and CPU seconds (``tree_cpu_s``) of a ``with`` block;
    with ``parts=True`` also the CPU split of ``cpu_parts`` (``parts``)."""

    wall = cpu = 0.0
    parts = None

    def __init__(self, parts: bool = False):
        self._parts = parts

    def __enter__(self):
        self._parts0 = cpu_parts() if self._parts else None
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._cpu0
        if self._parts0 is not None:
            end = cpu_parts()
            self.parts = {k: end[k] - self._parts0[k] for k in CPU_PARTS}
        return False


def load_tool(name: str):
    """Import ``tools/<name>.py`` of the checkout by path."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(ROOT, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    """State of one benchmark run: arguments, run directory, session,
    tracer, and the count of ops attempted and failed."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.seed = args.seed
        self.tiny = args.size == "tiny"
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list = []

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def op(self, name: str, fn):
        """Run one timed op at the benchmark boundary: an exception or a
        failed check counts the op as failed instead of ending the run."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            self.fail(f"op {name} #{self.attempted}")
        return ok


# Program functions wrapped in spans for a traced run, named by layer
# (the module path under pq_vector_spark) and function.
TRACE_TARGETS = [
    ("pq_vector_spark.session", "get_spark"),
    ("pq_vector_spark.index.build", "build_index"),
    ("pq_vector_spark.index.build", "append_to_index"),
    ("pq_vector_spark.index.build", "sample_embeddings_to_driver"),
    ("pq_vector_spark.index.kmeans", "train_kmeans"),
    ("pq_vector_spark.index.search", "load_index"),
    ("pq_vector_spark.index.search", "indexed_topk"),
    ("pq_vector_spark.plans.sql", "pq_sql"),
    ("pq_vector_spark.plans.sql", "register_indexed_table"),
    ("pq_vector_spark.plans.intercept", "try_intercept_topk"),
    ("pq_vector_spark.operators.topk", "brute_force_topk"),
    ("pq_vector_spark.functions.distance", "array_distance"),
    ("pq_vector_spark.operators.dedup", "exact_dedup"),
    ("pq_vector_spark.operators.dedup", "minhash_lsh_pairs"),
    ("pq_vector_spark.operators.dedup", "connected_components"),
    ("pq_vector_spark.operators.dedup", "resolve_duplicates"),
]


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def start_session(run):
    """Create the tracer (recording only in a traced run), wrap the layer
    functions, and time ``get_spark``. Returns its ``Stopwatch``."""
    import pq_vector_spark as pv
    from tracing import Tracer, instrument

    run.tracer = Tracer()
    if run.args.trace:
        instrument(
            run.tracer,
            [(m, f, f"{m[len('pq_vector_spark.'):]}.{f}") for m, f in TRACE_TARGETS],
        )
        run.tracer.enabled = True
    with Stopwatch() as sw:
        run.spark = pv.get_spark("perfbench")
    run.tracer.attach(run.spark.sparkContext)
    return sw


def layer_stats(tree, roots, name: str) -> dict:
    """Median Spark counts and times of the spans called ``name`` under
    ``roots``; empty when there are none."""
    rows = tree.by_name(name, roots)
    if not rows:
        return {}
    return {k: median([r[k] for r in rows]) for k in rows[0]}


def trace_overhead(cpu_by_kind: dict) -> float:
    """Tracing cost per op: for each op kind, median CPU seconds of traced
    ops minus that of untraced ops; the median over kinds that have both.
    Comparing within a kind keeps the mix of op kinds out of the figure."""
    diffs = [median(t) - median(u) for t, u in cpu_by_kind.values() if t and u]
    return median(diffs) if diffs else 0.0


def generic_layers(run, tree, op_roots, op_parts, get_spark, overhead_s, cold_rep) -> dict:
    """The per-layer metrics of BENCHMARK.json, shared by every workload:
    medians per traced op of where its time went (driver or Spark jobs),
    where its CPU time went (``op_parts``: the ``Stopwatch.parts`` of each
    traced op) and what Spark ran for it. ``get_spark`` and ``cold_rep``
    are the ``Stopwatch`` of the session start and of the first set-up
    rep."""
    ops = [tree.stats(r) for r in op_roots]
    if not ops:
        raise RuntimeError("no traced op completed")
    failed_tasks = sum(o["failed_tasks"] for o in ops)
    if failed_tasks:
        run.fail(f"{failed_tasks} Spark tasks failed in traced ops")
    return {
        "session.get_spark_s": metric(get_spark.wall, "s"),
        "driver.self_s": metric(median([o["driver_s"] for o in ops]), "s"),
        "spark.job_s": metric(median([o["job_s"] for o in ops]), "s"),
        "spark.jobs": metric(median([o["jobs"] for o in ops]), "count"),
        "spark.tasks": metric(median([o["tasks"] for o in ops]), "count"),
        "spark.executor_run_s": metric(median([o["executor_run_s"] for o in ops]), "s"),
        "spark.shuffle_write_mb": metric(
            median([o["shuffle_write_bytes"] for o in ops]) / 1e6, "MB"
        ),
        **{
            f"cpu.{part}_s": metric(median([p[part] for p in op_parts]), "s")
            for part in CPU_PARTS
        },
        "setup.cold_rep_cpu_s": metric(cold_rep.cpu, "s"),
        "trace.overhead_s": metric(overhead_s, "s"),
    }
