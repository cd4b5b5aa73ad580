"""Break-even between the two wide-vector distance kernels.

``functions/distance.py`` scores a wide literal query (dim > UNROLL_LIMIT)
either with the native ``zip_with``/``aggregate`` fold (interpreted on the
JVM, no fixed cost) or with the Arrow pandas-UDF kernel (vectorized numpy,
but every task starts a Python worker). This script times both on tables
of growing size and fits ``cost = fixed + per_row × rows`` to each, in
wall seconds and in CPU seconds of the whole process tree (driver, JVM and
Python workers, read from ``/proc``). The rows × dim where the fits cross
is the element budget (``FOLD_ELEMENT_BUDGET``).

Usage (from the repo root):

    SPARK_GRAFT_CPUS=2 python tools/fold_breakeven.py [--dim 256]
        [--rows 2000,8000,16000,32000,64000] [--reps 5] [--files 2]

Each query is ``withColumn(distance) → orderBy → limit(100) → collect``
over a seeded float32 table split into ``--files`` parquet files, the
shape of an IVF re-rank over the candidates of ``--files`` index files.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from common import tree_cpu_s  # noqa: E402  (the benchmark's process-tree CPU clock)


def write_table(path: str, n: int, dim: int, files: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(path)
    for i, ids in enumerate(np.array_split(np.arange(n), files)):
        vecs = rng.normal(size=(len(ids), dim)).astype(np.float32)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
            pa.list_(pa.float32())
        )
        pq.write_table(pa.table({"id": ids, "v": emb}), f"{path}/part-{i:05d}.parquet")


def fit(rows, costs):
    """Least-squares (fixed, per_row) of cost = fixed + per_row × rows."""
    per_row, fixed = np.polyfit(np.asarray(rows, float), np.asarray(costs, float), 1)
    return fixed, per_row


def crossing(fold, arrow):
    """Rows where the fold's fitted cost reaches the Arrow kernel's."""
    (f0, f1), (a0, a1) = fold, arrow
    return (a0 - f0) / (f1 - a1) if f1 > a1 else float("inf")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dim", type=int, default=256)
    ap.add_argument("--rows", default="2000,8000,16000,32000,64000")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--files", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pq_vector_spark import get_spark
    from pq_vector_spark.functions.distance import UNROLL_LIMIT, array_distance

    if args.dim <= UNROLL_LIMIT:
        sys.exit(f"--dim must exceed UNROLL_LIMIT ({UNROLL_LIMIT})")
    spark = get_spark("fold_breakeven", shuffle_partitions=8)
    rng = np.random.default_rng(7)
    tmp = tempfile.mkdtemp(prefix="fold_breakeven_")
    sizes = [int(x) for x in args.rows.split(",")]
    runs = {(n, kernel): ([], []) for n in sizes for kernel in ("fold", "arrow")}
    try:
        for n in sizes:
            write_table(os.path.join(tmp, f"t{n}"), n, args.dim, args.files, seed=n)
        # every (size, kernel) pair once per round, in a fresh random order;
        # the first two rounds warm the JIT and are discarded
        for rnd in range(args.reps + 2):
            order = list(runs)
            rng.shuffle(order)
            for n, kernel in order:
                q = rng.normal(size=args.dim).astype(np.float32).tolist()
                c0, t0 = tree_cpu_s(), time.perf_counter()
                d = array_distance("v", q, rows_hint=n if kernel == "fold" else None)
                (spark.read.parquet(os.path.join(tmp, f"t{n}")).withColumn("d", d)
                 .orderBy(F.col("d")).limit(100).collect())
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                if rnd >= 2:
                    runs[n, kernel][0].append(wall)
                    runs[n, kernel][1].append(cpu)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    res = {kernel: {"wall": [], "cpu": []} for kernel in ("fold", "arrow")}
    for n in sizes:
        for kernel in res:
            walls, cpus = runs[n, kernel]
            res[kernel]["wall"].append(statistics.median(walls))
            res[kernel]["cpu"].append(statistics.median(cpus))
        print(f"rows={n:>7}  elements={n * args.dim:>10}  "
              f"fold wall {res['fold']['wall'][-1]:.3f} s cpu {res['fold']['cpu'][-1]:.3f} s  "
              f"arrow wall {res['arrow']['wall'][-1]:.3f} s cpu {res['arrow']['cpu'][-1]:.3f} s")
    for clock in ("wall", "cpu"):
        fold = fit(sizes, res["fold"][clock])
        arrow = fit(sizes, res["arrow"][clock])
        n_star = crossing(fold, arrow)
        print(f"{clock}: fold {fold[0]:.3f} s + {fold[1] * 1e6:.2f} us/row, "
              f"arrow {arrow[0]:.3f} s + {arrow[1] * 1e6:.2f} us/row; "
              f"break-even {n_star:.0f} rows = {n_star * args.dim:.0f} elements")


if __name__ == "__main__":
    main()
