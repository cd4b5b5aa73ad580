"""IVF-indexed top-k search — Spark realization of the reference's probe →
gather → selective-fetch → re-rank pipeline (reference lifecycle §3.2,
src/ivf/search.rs:47-141, src/df_vector/exec.rs:279-293).

Plan shape produced (all lazy DataFrame ops):

  parquet scan (cluster-sorted layout)
    └─ filter cluster_id IN (probed…)      ≙ inverted-list gather A12 +
       [row-group pruning via stats]          access-plan skipping A13/A14
    └─ [optional max_candidates cap]       ≙ round-robin cursor A15
    └─ [user filter — AFTER pruning]       ≙ FilterExec-above-scan semantics
    └─ distance + orderBy + limit k        ≙ re-rank A18 + k-heap A19/A20

The centroid probe (A11) runs on the driver over the tiny sidecar — the
reference also probes all centroids in one thread (src/ivf/index.rs:130-149).
Candidate fetch I/O scales with nprobe/n_clusters of the table, the same
pruning ratio the reference gets from its ParquetAccessPlan.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import reduce
from operator import or_
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import array_distance
from pq_vector_spark.index.build import CLUSTER_COL, INDEX_DIR, assign_clusters
from pq_vector_spark.index.kmeans import nearest_centroids, train_kmeans
from pq_vector_spark.operators.topk import DISTANCE_COL
from pq_vector_spark.session import VectorTopKOptions


class IndexError_(ValueError):
    pass


@dataclass
class LoadedIndex:
    meta: dict
    centroids: np.ndarray  # (n_clusters, dim) f32, row id = cluster id


def _load_sidecar_local(path: str):
    """Driver-side sidecar read for local paths — the sidecar is tiny
    (centroids ≤ 100k×dim floats), so two Spark jobs just to read it would
    dominate small-query latency. Returns None when the path isn't local."""
    import glob
    import os

    root = path[len("file://"):] if path.startswith("file://") else path
    if "://" in root or not os.path.isdir(os.path.join(root, INDEX_DIR)):
        return None
    meta_parts = sorted(glob.glob(os.path.join(root, INDEX_DIR, "meta", "part-*")))
    cent_parts = sorted(glob.glob(os.path.join(root, INDEX_DIR, "centroids", "*.parquet")))
    if not meta_parts or not cent_parts:
        return None
    import pyarrow.parquet as pq

    with open(meta_parts[0]) as f:
        meta = json.loads(f.read().strip())
    tbl = pq.read_table(cent_parts[0]).to_pydict()
    order = np.argsort(tbl["cluster_id"])
    centroids = np.asarray(tbl["centroid"], dtype=np.float32)[order]
    return meta, centroids


def _load_sidecar_hadoop(spark: SparkSession, path: str):
    """Sidecar read for ANY Hadoop-compatible URL (hdfs://, s3a://, ...):
    glob + byte-read through the JVM FileSystem API, parsed with pyarrow on
    the driver — zero Spark jobs, matching the reference's any-object-store
    footer probe (src/ivf/parquet.rs:176-208). Raises IndexError_ when the
    sidecar is missing/unreadable — never a silent brute-force fallback."""
    import io

    import pyarrow.parquet as pq

    from pq_vector_spark.index.build import _hadoop_glob, _hadoop_read_bytes

    meta_parts = sorted(_hadoop_glob(spark, f"{path}/{INDEX_DIR}/meta/part-*"))
    cent_parts = sorted(_hadoop_glob(spark, f"{path}/{INDEX_DIR}/centroids/*.parquet"))
    if not meta_parts or not cent_parts:
        raise IndexError_(
            f"no readable index sidecar under {path}/{INDEX_DIR} "
            "(build_index writes meta/ + centroids/)"
        )
    meta = json.loads(_hadoop_read_bytes(spark, meta_parts[0]).decode("utf-8").strip())
    tbls = [
        pq.read_table(io.BytesIO(_hadoop_read_bytes(spark, p))).to_pydict()
        for p in cent_parts
    ]
    cluster_ids = np.concatenate([np.asarray(t["cluster_id"]) for t in tbls])
    cents = np.concatenate(
        [np.asarray(t["centroid"], dtype=np.float32) for t in tbls]
    )
    return meta, cents[np.argsort(cluster_ids)]


# per-layout sidecar cache: {normalized path: (signature, meta, centroids)}.
# The signature is the sidecar META file's (path, mtime, size) — every
# sidecar write (append refresh, rebuild swap) rewrites meta, so a stale hit
# requires a same-path same-size rewrite inside one mtime tick. Bounded to a
# handful of layouts (a session queries few); evicts insertion-oldest.
_SIDECAR_CACHE: dict = {}
_SIDECAR_CACHE_MAX = 8


def _sidecar_signature(spark: SparkSession, path: str):
    """Cheap freshness probe for the layout's sidecar: one stat of the meta
    part-file (local: os.stat; remote: one FileStatus RPC — still far less
    I/O than re-reading meta + centroid parquet bytes every query). None
    when the probe can't see a sidecar (caller falls through to the real
    load, which raises its own precise error)."""
    import glob
    import os

    root = path[len("file://"):] if path.startswith("file://") else path
    if "://" not in root:
        parts = sorted(glob.glob(os.path.join(root, INDEX_DIR, "meta", "part-*")))
        if not parts:
            return None
        try:
            st = os.stat(parts[0])
        except OSError:
            return None
        return ("local", parts[0], st.st_mtime_ns, st.st_size)
    try:
        from pq_vector_spark.index.build import _hadoop_glob

        parts = sorted(_hadoop_glob(spark, f"{path}/{INDEX_DIR}/meta/part-*"))
        if not parts:
            return None
        jvm = spark._jvm
        jp = jvm.org.apache.hadoop.fs.Path(parts[0])
        st = jp.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(jp)
        return ("hadoop", parts[0], int(st.getModificationTime()), int(st.getLen()))
    except Exception:
        return None


def load_index(
    spark: SparkSession, path: str, *, use_cache: bool = True
) -> LoadedIndex:
    """Read the sidecar (≙ footer-KV + payload read, src/ivf/parquet.rs:120-208).

    Local filesystems are read directly on the driver; any other
    Hadoop-compatible URL reads through the JVM FileSystem API (still
    driver-side, still zero Spark jobs). Unreadable sidecars raise.

    Repeated loads of the same layout hit a per-session cache keyed on the
    sidecar meta file's (mtime, size) — a warm query pays one stat instead
    of re-parsing the centroid parquet (r10 measured ~0.4 s/query of fixed
    cold-path cost at sf0.1). Appends and rebuilds rewrite the meta file,
    so they invalidate naturally; ``use_cache=False`` bypasses for callers
    that must see the storage truth — the MUTATING paths use it
    (``append_to_index`` seeds its sidecar rewrite from this read, and the
    rebuild's pre-swap verify must not trust a cached row count).

    The returned ``meta`` dict is a fresh shallow copy per call (callers
    historically mutate copies); ``centroids`` is SHARED — treat it as
    read-only, which every caller does (assign/probe only read it)."""
    key = path.rstrip("/")
    sig = _sidecar_signature(spark, key) if use_cache else None
    if sig is not None:
        hit = _SIDECAR_CACHE.get(key)
        if hit is not None and hit[0] == sig:
            return LoadedIndex(meta=dict(hit[1]), centroids=hit[2])
    local = _load_sidecar_local(path)
    if local is not None:
        meta, centroids = local
    else:
        meta, centroids = _load_sidecar_hadoop(spark, path)
    if centroids.shape != (meta["n_clusters"], meta["dim"]):
        raise IndexError_(
            f"sidecar corrupt: centroids {centroids.shape} != meta "
            f"({meta['n_clusters']}, {meta['dim']})"
        )
    if sig is not None:
        while len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
            _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
        # enforce the read-only contract: the cached array is SHARED across
        # callers, so an accidental in-place mutation must raise (ValueError:
        # assignment destination is read-only) instead of silently poisoning
        # every later cached load
        centroids.setflags(write=False)
        _SIDECAR_CACHE[key] = (sig, meta, centroids)
    return LoadedIndex(meta=dict(meta), centroids=centroids)


def _check_query_dim(query: Sequence[float], dim: int) -> np.ndarray:
    q = np.asarray(list(query), dtype=np.float32)
    if q.ndim != 1 or q.shape[0] != dim:
        # ≙ src/ivf/search.rs:91-98
        raise IndexError_(f"query dim {q.shape} does not match index dim {dim}")
    return q


def _candidate_counts_from_meta(meta: dict, probed):
    """Per-file candidate-row counts for the probed cluster set, from the
    build-time per-file per-cluster counts (meta['file_stats'][i]['counts'])
    — pure driver metadata, ZERO Spark jobs. None for pre-counts sidecars."""
    file_stats = meta.get("file_stats")
    if not file_stats or any("counts" not in fs_ for fs_ in file_stats):
        return None
    pset = {int(c) for c in probed}
    out = {}
    for fs_ in file_stats:
        n = sum(int(cnt) for cid, cnt in fs_["counts"] if int(cid) in pset)
        if n:
            out[fs_["file"]] = n
    return out


def _round_robin_quotas(counts: dict, cap: int) -> dict:
    """EXACT per-file quotas matching the reference's round-robin cursor
    totals (src/df_vector/access.rs:193-243): take every row with in-file
    rank ≤ L (the highest water level whose total fits the cap), then one
    more row from the first files — in sorted-name order — that still have
    rows, until exactly ``cap`` survive. Skewed files therefore still FILL
    the cap (a flat floor(cap/n_files) quota would under-fill it)."""
    files = sorted(counts)
    cs = {f: int(counts[f]) for f in files}
    if sum(cs.values()) <= cap:
        return cs
    lo, hi = 0, max(cs.values())
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if sum(min(c, mid) for c in cs.values()) <= cap:
            lo = mid
        else:
            hi = mid - 1
    quotas = {f: min(c, lo) for f, c in cs.items()}
    leftover = cap - sum(quotas.values())
    for f in files:
        if leftover <= 0:
            break
        if cs[f] > lo:
            quotas[f] += 1
            leftover -= 1
    return quotas


def _basename_col() -> Column:
    return F.element_at(F.split(F.input_file_name(), "/"), -1)


def _cap_candidates(df: DataFrame, quotas: dict) -> DataFrame:
    """Apply per-file quotas: rank rows within each file and keep rank ≤
    that file's quota (≙ round-robin cursor applied at
    src/df_vector/exec.rs:219-241). In-file order uses the scan's
    ``monotonically_increasing_id`` — stable within one scan, but not a
    documented cross-version contract, so WHICH rows survive a binding cap
    may differ between Spark releases; the cap is an approximation knob and
    the surviving COUNT is exact either way."""
    qmap = F.create_map(
        *[x for f, q in sorted(quotas.items()) for x in (F.lit(f), F.lit(int(q)))]
    )
    w = Window.partitionBy("_pq_file").orderBy(F.monotonically_increasing_id())
    return (
        df.withColumn("_pq_file", _basename_col())
        .withColumn("_pq_rank", F.row_number().over(w))
        .filter(F.col("_pq_rank") <= F.coalesce(qmap[F.col("_pq_file")], F.lit(0)))
        .drop("_pq_file", "_pq_rank")
    )


def indexed_topk(
    spark: SparkSession,
    path: str,
    query: Sequence[float],
    k: int,
    *,
    column: Optional[str] = None,
    options: Optional[VectorTopKOptions] = None,
    pre_filter: Optional[Column] = None,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
    observation=None,
    metric: str = "l2",
) -> DataFrame:
    """Top-k over an indexed table (built by build.py).

    With ``nprobe ≥ n_clusters`` the candidate set is all rows and the
    result is exactly brute force (the reference guarantees the same via
    ``nprobe.min(n_clusters)``, src/ivf/index.rs:131); smaller nprobe trades
    recall for I/O — candidate rows ≈ nprobe/n_clusters of the table.

    ``metric='cosine'`` (extension beyond the reference's L2-only surface)
    ranks by cosine similarity DESCENDING over the same L2-built clusters,
    probing centroids with the same L2 probe as the batch kernel
    (operators/similarity.py:ivf_multi_query_topk) — benched at 1M×256 to
    recall@100 = 1.0 at nprobe=16/1000.
    """
    if metric not in ("l2", "cosine"):
        raise ValueError(f"unknown metric {metric!r}; choose 'l2' or 'cosine'")
    opts = options or VectorTopKOptions()
    idx = load_index(spark, path)
    if column is not None and column != idx.meta["column"]:
        # ≙ column-name validation, src/df_vector/index_exec.rs:123-129
        raise IndexError_(
            f"index was built on column {idx.meta['column']!r}, not {column!r}"
        )
    q = _check_query_dim(query, idx.meta["dim"])

    probed = nearest_centroids(q, idx.centroids, opts.nprobe)
    df = spark.read.parquet(path)
    # The probed-cluster predicate pushes to the parquet scan; the
    # cluster-sorted layout turns it into file/row-group skipping. Beyond
    # spark.sql.parquet.pushdown.inFilterThreshold (default 10) parquet-mr
    # receives an IN-list only as a weak min/max RANGE filter — useless for
    # arbitrary probed ids — so larger probe sets are emitted as an explicit
    # OR-of-equals chain instead: ParquetFilters translates Or recursively
    # (FilterApi.or(eq, eq)) with NO threshold, the pruning is exact, no
    # session conf is mutated, and the pushdown survives any later
    # re-planning of DataFrames derived from this one (a save/restore of
    # the threshold only protected the plan forced inside the window).
    probed_ids = sorted(int(c) for c in probed)
    in_thr = int(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold"))
    if len(probed_ids) <= in_thr:
        cluster_pred = F.col(CLUSTER_COL).isin(probed_ids)
    else:
        cluster_pred = reduce(
            or_, [F.col(CLUSTER_COL) == v for v in probed_ids]
        )
    cands = df.filter(cluster_pred)
    counts = _candidate_counts_from_meta(idx.meta, probed)
    if opts.max_candidates is not None:
        if counts is None:
            # pre-counts sidecar: ONE small aggregation job (cluster column
            # only, map-side combine) recovers exact per-file counts — the
            # alternative (a per-file quota from n_files alone) either
            # under-fills the cap under skew or exceeds it on legacy metas
            rows = cands.groupBy(_basename_col().alias("_f")).count().collect()
            counts = {r["_f"]: int(r["count"]) for r in rows}
        if sum(counts.values()) > opts.max_candidates:
            cands = _cap_candidates(
                cands, _round_robin_quotas(counts, opts.max_candidates)
            )
    # the exact number of rows the re-rank scores picks its distance kernel
    # (functions/distance.py); a sidecar without per-file counts gives None
    n_cands = None
    if counts is not None:
        n_cands = sum(counts.values())
        if opts.max_candidates is not None:
            n_cands = min(n_cands, opts.max_candidates)
    if observation is not None:
        # ≙ the reference's plan counters candidate_rows / files_scanned
        # (src/df_vector/index_exec.rs:283-300, exec.rs:405-427), surfaced
        # through Spark's Observation API with zero extra passes.
        # input_file_name() must be projected BEFORE the metrics node
        # (nondeterministic exprs can't eval inside CollectMetrics), and
        # DISTINCT aggregates are disallowed there — the HLL estimate is
        # exact at file-count cardinalities.
        cands = (
            cands.withColumn("_pq_obs_file", F.input_file_name())
            .observe(
                observation,
                F.count(F.lit(1)).alias("candidate_rows"),
                F.approx_count_distinct("_pq_obs_file").alias("files_scanned"),
            )
            .drop("_pq_obs_file")
        )
    if pre_filter is not None:
        # user predicates apply AFTER candidate pruning — reference keeps
        # FilterExec above the pruned scan (src/df_vector/tests.rs:152-241)
        cands = cands.filter(pre_filter)

    if metric == "cosine":
        from pq_vector_spark.functions.distance import cosine_similarity

        out = cands.withColumn(
            # string name, not F.col(...): lets the one-shot SQL render fire (r16)
            DISTANCE_COL,
            cosine_similarity(
                idx.meta["column"], [float(x) for x in q], rows_hint=n_cands
            ),
        )
        order = [F.col(DISTANCE_COL).desc()]
    else:
        out = cands.withColumn(
            DISTANCE_COL,
            array_distance(idx.meta["column"], list(q), rows_hint=n_cands),
        )
        order = [F.col(DISTANCE_COL).asc_nulls_last()]
    if tie_break is not None:
        order.append(F.col(tie_break).asc())
    out = out.orderBy(*order).limit(k).drop(CLUSTER_COL)
    if not keep_distance:
        out = out.drop(DISTANCE_COL)
    return out


def ivf_topk_adhoc(
    df: DataFrame,
    column: str,
    query: Sequence[float],
    k: int,
    *,
    n_clusters: int,
    nprobe: int,
    max_iters: int = 20,
    seed: int = 42,
    sample_cap: int = 100_000,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
) -> DataFrame:
    """IVF search over an un-persisted DataFrame: train on a sample, assign,
    prune, re-rank — the whole §3.1+§3.2 lifecycle fused, without writing a
    layout. Used by the correctness gate (nprobe=n_clusters ⇒ exact) and as
    the building block for ANN when the caller can't re-layout storage.
    """
    from pq_vector_spark.index.build import _sample_size, sample_embeddings_to_driver
    from pq_vector_spark.schema import validate_vector_column

    stats = validate_vector_column(df, column)
    n_clusters = min(n_clusters, stats.rows)
    sample = sample_embeddings_to_driver(
        df, column, _sample_size(stats.rows, n_clusters, sample_cap), stats.rows, seed
    )
    centroids = train_kmeans(sample, n_clusters, max_iters=max_iters, seed=seed)
    q = _check_query_dim(query, stats.dim)
    probed = set(int(c) for c in nearest_centroids(q, centroids, nprobe))

    assigned = assign_clusters(df, column, centroids)
    cands = assigned.filter(F.col(CLUSTER_COL).isin(list(probed)))
    out = cands.withColumn(DISTANCE_COL, array_distance(column, list(q)))
    order = [F.col(DISTANCE_COL).asc_nulls_last()]
    if tie_break is not None:
        order.append(F.col(tie_break).asc())
    out = out.orderBy(*order).limit(k).drop(CLUSTER_COL)
    if not keep_distance:
        out = out.drop(DISTANCE_COL)
    return out
