"""Scan-parallelism guard for compute-heavy map stages.

Guide §2.5's "input skew" case in miniature: a parquet file with a single
row group scans as ONE task no matter how many cores the cluster has —
Spark's split logic can chop byte ranges, but every range maps back to the
same row group, so one task does all the work. When the stage downstream
of such a scan carries heavy per-row compute (md5 shingling, winnowing,
per-token feature extraction), the whole cluster idles behind one core.

``ensure_compute_parallelism`` round-robins the rows across
``sparkContext.defaultParallelism`` partitions ONLY when the source plan
yields fewer partitions than that — i.e. only when the scan genuinely
underprovisions the cores available. At real scale (any input with more
splits than cores) it is an exact no-op: no exchange is added, plans are
unchanged. The exchange it does add in the small case moves the slim
pre-compute projection once (keyless repartition; Spark's
sort-before-repartition keeps the row→partition mapping deterministic
under task retry, SPARK-23207), and the expensive compute then runs
cluster-wide.

This is deliberately a *conditional* rule, not a config: lowering
``spark.sql.files.maxPartitionBytes`` cannot split a single row group,
and an unconditional ``repartition(n)`` would add a pointless corpus
shuffle at scale.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame


def local_plan_df(spark, rows, schema) -> DataFrame:
    """Driver-built tiny plan/lookup tables (budget plans, component maps,
    centroid tables, quantized-llr tables) destined for a broadcast join.

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` slices, so every broadcast build of such a
    table runs a near-empty task per core (measured 0.45–0.77 s per build
    at local[32] vs ~0.05 s of real work; on a big cluster it is a
    cores-wide task wave for a 20-row table). Route the same rows through
    ``sc.parallelize(rows, 1)``: identical verification + toInternal
    conversion (PySpark applies both on the RDD path, just lazily), one
    task per build. Results are bit-identical — broadcast join output
    never depends on build-side partitioning.
    """
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


# Memo for the partition probe below. The probe costs ~0.1-0.2 s of
# driver time per FRESH plan (physical planning + RDD conversion), paid
# at every plan construction of every spread call site — but for a
# file-backed plan the answer is a pure function of the input file set
# and the split confs, so one probe per (app, files, conf) serves every
# later construction at inputFiles() cost (~0.02 s). A stale or
# colliding entry can only mis-tune the SPREAD DECISION (an extra or a
# missing round-robin exchange — speed, never values), so file-set
# keying is safe by construction.
_PROBE_MEMO: dict = {}

# Memo for input-file byte totals (same safety argument: sizes only
# shape the spread TARGET, never values). Keyed per (app, file set).
_BYTES_MEMO: dict = {}


def _input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of ``df``'s input files, or -1 when the plan
    is not file-backed (or listing/stat fails). Local ``file:`` URIs
    stat directly; any other scheme goes through the Hadoop FileSystem.
    Only consulted when the plan is under-partitioned, i.e. when the
    file count is at most a few core-waves — the per-file stat cost is
    bounded by construction."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        files = df.inputFiles()
    except Exception:
        return -1
    if not files:
        return -1
    key = (sc.applicationId, tuple(sorted(files)))
    cached = _BYTES_MEMO.get(key)
    if cached is not None:
        return cached
    total = 0
    try:
        for f in files:
            if f.startswith("file:"):
                path = f[len("file:") :]
                while path.startswith("//"):
                    path = path[1:]
                total += os.stat(path).st_size
            else:
                jvm = sc._jvm
                p = jvm.org.apache.hadoop.fs.Path(f)
                fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
                total += fs.getFileStatus(p).getLen()
    except Exception:
        return -1
    _BYTES_MEMO[key] = total
    return total


def _plan_partitions(df: DataFrame) -> int:
    """Partition count ``df`` would execute with, memoized per input
    file set for file-backed plans (non-file plans probe every time)."""
    spark = df.sparkSession
    sc = spark.sparkContext
    key = None
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        try:
            max_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
        except Exception:
            max_bytes = ""
        key = (
            sc.applicationId,
            tuple(sorted(files)),
            max_bytes,
            sc.defaultParallelism,
        )
        n = _PROBE_MEMO.get(key)
        if n is not None:
            return n
    try:
        # the JVM-side RDD handle skips the Python-serializer wrapping
        # DataFrame.rdd adds (~2x cheaper); same partition count.
        n = df._jdf.javaToPython().getNumPartitions()
    except Exception:
        n = df.rdd.getNumPartitions()
    if key is not None:
        _PROBE_MEMO[key] = n
    return n


# Compute-weighted split: bytes of (compressed parquet) input that
# justify ONE task of downstream featurization compute. Deliberately far
# below the scan split (spark.sql.files.maxPartitionBytes, 128 MB):
# the stages this guard feeds do ~3 orders of magnitude more CPU per
# input byte than a scan (md5 over every token k-gram ≈ 1 µs/byte vs
# ~1 ns/byte scanning), so the task-overhead/compute break-even arrives
# at tens of KB, not ~100 MB. Measured at sf0.1 (r17, OPTIMIZATION_r17.md
# §spread-gate): over the 9 spread-consuming headline rows, 32 KB/task
# (19 partitions for the 584 KB docs table) summed 12.95 s vs 14.86 s at
# the old always-cores-wide behavior and 16.61 s with the spread off —
# 64 KB was statistically tied, 256 KB already gave some back. At scale
# the target saturates at defaultParallelism once input > cores × 32 KB
# (~1 MB per 32 cores), so cluster behavior is unchanged.
_DEFAULT_SPLIT_BYTES = 32 * 1024


# Serializes bounded_take's session-conf window (below). The conf swap is
# VALUE-safe even unserialized (spark.sql.limit.initialNumPartitions only
# shapes take()'s probe waves, never results), but the codebase also
# submits jobs from driver threads (dsir.py's overlapped fits, guide
# §2.6) — the lock guarantees no concurrent bounded_take ever observes
# the other's temporary conf, and the documented contract for OTHER
# concurrent actions is: driver worker threads run plain .collect()-class
# actions only and never read this conf (asserted at the dsir spawn site).
_TAKE_LOCK = threading.Lock()


def bounded_take(df: DataFrame, n: int) -> list:
    """``df.take(n)`` probing a FULL core-wave first. take() defaults to
    probing ONE output partition and growing 4× per wave
    (``spark.sql.limit.initialNumPartitions=1``) — right for take(5) on a
    huge table, wrong for the bounded-capture pattern where the expected
    outcome is "all partitions fit": each extra wave re-runs the reduce
    side of the upstream pipeline. The session conf is swapped for this
    one action under a module lock (r17, verdict #7) and restored even on
    failure."""
    spark = df.sparkSession
    _k = "spark.sql.limit.initialNumPartitions"
    with _TAKE_LOCK:
        try:
            _old = spark.conf.get(_k)
        except Exception:
            _old = None
        spark.conf.set(_k, str(spark.sparkContext.defaultParallelism))
        try:
            return df.take(n)
        finally:
            if _old is None:
                spark.conf.unset(_k)
            else:
                spark.conf.set(_k, _old)


def ensure_compute_parallelism(
    df: DataFrame, *, split_bytes: int = _DEFAULT_SPLIT_BYTES
) -> DataFrame:
    """Spread ``df`` across the cluster's cores iff its plan currently
    yields fewer partitions than ``defaultParallelism`` AND the input is
    big enough for cores-wide task overhead to pay for itself.

    Call it on the slim projection feeding a compute-heavy stage (project
    FIRST — the exchange should carry only the columns the compute needs,
    guide §2.3). Returns ``df`` unchanged when the plan is already at
    least cores-wide or when partition introspection fails.

    The spread target is size-adaptive (r17, guide §2 "make partitioning
    scale-adaptive"): ``min(defaultParallelism, ceil(input_bytes /
    split_bytes))`` (default 32 KB), so a sub-core-wave input gets a narrow
    exchange (or none) instead of a cores-wide task wave whose per-task
    overhead exceeds the compute — the r16 scaling block showed the
    spread-touched rows running 22-33% FASTER at 8 cores than 32 for
    exactly this reason. At real scale the byte target saturates at
    ``defaultParallelism`` long before the scan does (64 KB/task), so
    cluster behavior is unchanged. When the plan is not file-backed the
    input size is unknown and the spread stays cores-wide (those callers
    feed generated/derived frames that are already compute-bound).

    ``split_bytes`` overrides the per-task byte target for call sites whose downstream
    cost profile differs from the featurization default — e.g. the
    incremental-dedup delta sites pass a ~1 MB split because their
    spread frames feed a long cascade of persisted joins whose per-job
    overhead only amortizes over ≥ seconds of featurization per task
    (measured r17: any spread of the bench-scale delta LOST 0.3-0.7 s).
    """
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        n = _plan_partitions(df)
    except Exception:
        return df
    if n >= target:
        return df
    nbytes = _input_bytes(df)
    if nbytes >= 0:
        split_bytes = max(1, split_bytes)
        target = min(target, (nbytes + split_bytes - 1) // split_bytes)
    if n >= target or target <= 1:
        return df
    return df.repartition(target)
