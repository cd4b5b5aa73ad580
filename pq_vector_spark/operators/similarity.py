"""Similarity-search operators over embedding columns (north-star
extension): brute-force cosine top-k, batched similarity join, and the
IVF-bucketed scale path.

Scale design: the similarity join broadcasts the (small) query side and
computes per-corpus-partition top-k via window ranking — corpus never
shuffles. The IVF variant joins on cluster id first so only co-clustered
pairs are scored (distributed analogue of the reference's probe → gather →
re-rank pipeline, reference: src/ivf/search.rs:100-141).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from pq_vector_spark.functions.distance import (
    array_distance,
    cosine_similarity,
    multi_distances,
)
from pq_vector_spark.operators.topk import global_topk, per_query_topk


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int,
    *,
    id_col: Optional[str] = None,
) -> DataFrame:
    """Top-k rows by cosine similarity to a literal query vector —
    TakeOrderedAndProject plan, same shape as L2 brute force."""
    # pass the NAME, not F.col(...): the one-shot SQL render of the
    # unrolled chain (distance.py:_unrolled_expr) only fires for plain
    # string names — a Column input costs ~dim×3 py4j round trips of
    # fallback Column building per plan (r16)
    scored = df.withColumn("cosine", cosine_similarity(vec_col, list(query)))
    return global_topk(scored, "cosine", k, descending=True, tie_break=id_col)


def similarity_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
    *,
    metric: str = "l2",
    dim_hint: int | None = None,
) -> DataFrame:
    """For every query row, the k nearest corpus rows.

    Plan: broadcast(queries) ⨯ corpus → score → window top-k per query.
    The corpus side (the 100 TB side) is scanned once, never shuffled; only
    n_queries × k result rows leave the executors' partial ranks. Requires
    the query side to be broadcast-sized (same driver-fits assumption the
    reference makes for its query vectors).

    ``dim_hint``: known vector width; wide vectors route the per-pair
    distance to the Arrow kernel instead of the interpreted fold (results
    are bit-identical — see functions/distance.py).

    Output: (query_id, corpus_id, score, rank) with deterministic
    (score, corpus_id) ordering.
    """
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cv")
    )
    pairs = c.crossJoin(broadcast(q))
    if metric == "l2":
        score = array_distance(F.col("_cv"), F.col("_qv"), dim_hint=dim_hint)
    elif metric == "cosine":
        score = cosine_similarity(F.col("_cv"), F.col("_qv"), dim_hint=dim_hint)
    else:
        raise ValueError(f"unknown metric {metric!r}")
    ranked = per_query_topk(
        pairs.withColumn("score", score), "_qid", "score", k,
        descending=metric == "cosine", tie_break="_cid",
    )
    return ranked.select(
        F.col("_qid").alias(query_id), F.col("_cid").alias(corpus_id), "score", "rank"
    )


def multi_query_topk(
    corpus: DataFrame,
    vec_col: str,
    queries: Sequence[tuple],
    k: int,
    *,
    id_col: Optional[str] = None,
    metric: str = "l2",
    query_id_name: str = "qid",
) -> DataFrame:
    """Exact batch KNN: for each (qid, vector) literal query, the k nearest
    corpus rows — in ONE corpus pass.

    Scale design vs ``similarity_join``: the cross-join form materializes
    n_queries copies of every corpus row on the scoring side (and, when the
    distances run in Python, ships the corpus across the Arrow boundary
    n_queries times). Here a single scores-array column is computed per
    corpus row (native unrolled codegen when n_q × d fits the janino
    budget, else one Arrow matrix kernel), then ``posexplode`` + window
    top-k. Spark 4's WindowGroupLimit keeps per-partition heaps, so only
    n_partitions × n_q × k rows reach the shuffle — the corpus itself is
    scanned once and never duplicated. Distributed analogue of the
    reference's multi-query bench loop (reference: benches/query.rs:93-193,
    one literal query vector at a time against a shared scan).

    Rows whose vector is NULL or of mismatched dimension are skipped, the
    reference's query-time silent-skip semantics (src/df_vector/exec.rs:
    495-528).

    Output: (query_id_name, id_col?, score, rank); for ``metric='l2'`` /
    ``'sq_l2'`` lower is better, for ``'dot'`` / ``'cosine'`` higher is.
    """
    qids = [q[0] for q in queries]
    qmat = [q[1] for q in queries]
    scores = multi_distances(F.col(vec_col), qmat, metric=metric)

    cols = [F.col(id_col).alias("_cid")] if id_col else []
    exploded = corpus.select(
        *cols, F.posexplode(scores).alias("_qidx", "score")
    ).filter(F.col("score").isNotNull())
    return _topk_per_literal_query(
        exploded, qids, k, metric not in ("l2", "sq_l2"), id_col, query_id_name
    )


def _topk_per_literal_query(scored, qids, k, descending, id_col, query_id_name):
    """``per_query_topk`` of ``scored`` rows (``_qidx``: the query's position
    in ``qids``, ``_cid``: the corpus id, present with ``id_col``, and
    ``score``) as (query_id_name, id_col?, score, rank)."""
    ranked = per_query_topk(
        scored, "_qidx", "score", k, descending=descending,
        tie_break="_cid" if id_col else None,
    )
    qid = F.element_at(F.array(*[F.lit(q) for q in qids]), F.col("_qidx") + 1)
    cid = [F.col("_cid").alias(id_col)] if id_col else []
    return ranked.select(qid.alias(query_id_name), *cid, "score", "rank")


def batch_topk(
    path_or_df,
    vec_col: str,
    queries: Sequence[tuple],
    k: int,
    *,
    spark=None,
    id_col: Optional[str] = None,
    nprobe: int = 5,
    metric: str = "l2",
    query_id_name: str = "qid",
) -> DataFrame:
    """Batch-KNN entry point, mirroring ``operators.topk.topk``'s
    dispatch: given a *path* whose sidecar IVF index exists, run the
    pruned ``ivf_multi_query_topk``; given a plain path or a DataFrame,
    run the exact single-pass ``multi_query_topk``. The indexed route
    requires ``id_col``."""
    from pq_vector_spark.index.build import has_index

    if isinstance(path_or_df, str):
        if spark is None:
            raise ValueError("spark session required when passing a path")
        if has_index(path_or_df, spark=spark):
            if id_col is None:
                raise ValueError("id_col required for the indexed batch path")
            return ivf_multi_query_topk(
                spark,
                path_or_df,
                queries,
                k,
                id_col=id_col,
                nprobe=nprobe,
                metric=metric,
                query_id_name=query_id_name,
            )
        df = spark.read.parquet(path_or_df)
    else:
        df = path_or_df
    return multi_query_topk(
        df,
        vec_col,
        queries,
        k,
        id_col=id_col,
        metric=metric,
        query_id_name=query_id_name,
    )


def ivf_multi_query_topk(
    spark,
    corpus_indexed_path: str,
    queries: Sequence[tuple],
    k: int,
    *,
    id_col: str,
    nprobe: int = 5,
    metric: str = "l2",
    query_id_name: str = "qid",
) -> DataFrame:
    """IVF-accelerated batch KNN over an indexed corpus: each literal
    (qid, vector) query probes its ``nprobe`` nearest centroids; the corpus
    scan is pruned to the probed-cluster union (pushed ``IN`` filter on the
    sorted layout — unprobed clusters are never read); one ``mapInPandas``
    pass scores each corpus batch against ONLY the queries that probed its
    cluster, with the same per-dimension left-to-right float64 accumulation
    as every other kernel (bit-identical to the scalar fold, so
    nprobe = n_clusters reproduces ``multi_query_topk`` exactly).

    Scale shape: candidate work is Σ_q Σ_{c∈probe(q)} |c| pairs — the same
    pruning as ``ivf_similarity_join`` — but the corpus crosses the Arrow
    boundary once (its own vectors only), not once per (row, query) pair;
    the query matrix rides along as a closure, never joined or shuffled.
    Per-partition top-k (WindowGroupLimit) bounds the shuffle at
    n_partitions × n_q × k rows. Distributed analogue of the reference's
    probe → gather → re-rank (src/ivf/search.rs:100-141) batched over many
    query vectors.
    """
    import numpy as np
    import pandas as pd

    from pq_vector_spark.index.build import CLUSTER_COL
    from pq_vector_spark.index.kmeans import nearest_centroids, nearest_centroids_batch
    from pq_vector_spark.index.search import cluster_predicate, load_index

    if metric not in ("l2", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")
    idx = load_index(spark, corpus_indexed_path)
    dim, vec_col = idx.meta["dim"], idx.meta["column"]

    qids = [q[0] for q in queries]
    Q = np.asarray([list(q[1]) for q in queries], dtype=np.float64)
    if Q.ndim != 2 or Q.shape[1] != dim:
        raise ValueError(
            f"query vectors must all have the index dimension {dim}, got {Q.shape}"
        )
    # broadcast probe keeps the exact indexed_topk tie order for small
    # batches; the matmul form bounds memory for large ones (its tie order
    # can differ — exactness users probe all clusters, where it's moot)
    probe_fn = nearest_centroids if len(qids) <= 256 else nearest_centroids_batch
    probes = np.atleast_2d(probe_fn(Q.astype(np.float32), idx.centroids, nprobe))

    cluster_to_q: dict[int, list[int]] = {}
    for qi, row in enumerate(probes):
        for c in row:
            cluster_to_q.setdefault(int(c), []).append(qi)
    probed_union = sorted(cluster_to_q)

    corpus = spark.read.parquet(corpus_indexed_path)
    id_type = corpus.schema[id_col].dataType.simpleString()
    if len(probed_union) < idx.meta["n_clusters"]:
        corpus = corpus.filter(cluster_predicate(spark, probed_union))
    pruned = corpus.select(id_col, vec_col, CLUSTER_COL)

    out_schema = f"_qidx INT, _cid {id_type}, score DOUBLE"

    if metric == "cosine":
        qnorm = np.zeros(Q.shape[0])
        for j in range(dim):  # same sequential fold as the oracle
            qnorm += Q[:, j] * Q[:, j]
        qnorm = np.sqrt(qnorm)

    def _score(batches):
        for pdf in batches:
            arrs = pdf[vec_col].to_numpy()
            lens = np.fromiter(
                (len(a) if a is not None else -1 for a in arrs), dtype=np.int64
            )
            ok = lens == dim
            if not ok.any():
                continue
            sub = pdf.loc[ok]
            clusters = sub[CLUSTER_COL].to_numpy()
            ids = sub[id_col].to_numpy()
            mat_all = np.stack(sub[vec_col].to_numpy()).astype(np.float64)
            parts = []
            for c in np.unique(clusters):
                qidxs = cluster_to_q.get(int(c))
                if not qidxs:
                    continue
                rows = clusters == c
                mat = mat_all[rows]
                Qc = Q[qidxs]
                acc = np.zeros((mat.shape[0], len(qidxs)))
                if metric == "l2":
                    for j in range(dim):
                        d = mat[:, j : j + 1] - Qc[:, j][None, :]
                        acc += d * d
                    acc = np.sqrt(acc)
                else:
                    na = np.zeros(mat.shape[0])
                    for j in range(dim):
                        acc += mat[:, j : j + 1] * Qc[:, j][None, :]
                        na += mat[:, j] * mat[:, j]
                    acc = acc / (np.sqrt(na)[:, None] * qnorm[qidxs][None, :])
                n_r, n_q = acc.shape
                parts.append(
                    pd.DataFrame(
                        {
                            "_qidx": np.tile(np.asarray(qidxs, dtype=np.int32), n_r),
                            "_cid": np.repeat(ids[rows], n_q),
                            "score": acc.ravel(),
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return _topk_per_literal_query(
        pruned.mapInPandas(_score, schema=out_schema), qids, k, metric == "cosine",
        id_col, query_id_name,
    )


def ivf_similarity_join(
    queries: DataFrame,
    corpus_indexed_path: str,
    spark,
    query_id: str,
    query_vec: str,
    k: int,
    *,
    corpus_id: Optional[str] = None,
    nprobe: int = 5,
    broadcast_queries: bool = True,
    prune_scan: bool = True,
) -> DataFrame:
    """Scale path: assign each query to its nprobe nearest centroids
    (broadcast centroids + one map-side pandas-UDF matmul over the query
    DataFrame — no collect, any query-side size), explode the probe list,
    join corpus on cluster_id (co-located by the index layout), then window
    top-k. Only nprobe/n_clusters of the corpus is scored per query — the
    distributed generalization of the reference's candidate-pruned search
    (probe → gather → re-rank, src/ivf/search.rs:100-141).

    ``broadcast_queries=True`` (default) broadcasts the exploded probe table
    — right when the query side fits in memory. Set False for a huge query
    side: the join becomes a shuffle join on cluster_id, which the corpus
    layout already co-locates.

    Trade-off vs ``ivf_multi_query_topk``: this join ships BOTH vectors of
    every candidate pair through the scoring kernel (the price of an
    unbounded DataFrame query side). When the query batch is
    driver-resident (literals), prefer ``ivf_multi_query_topk`` — its
    closure-carried query matrix crosses Arrow once and measures ~3×
    faster at the same workload in bench.py's scale section.

    ``prune_scan=True`` additionally pushes a ``cluster_id IN (∪ probed)``
    filter into the corpus scan so unprobed clusters are never READ (file /
    row-group skipping on the sorted layout), not just never joined. This
    collects the distinct probed cluster ids — bounded by n_clusters, i.e.
    metadata-scale like the centroids themselves, never data — and persists
    the probe table so its one pass is shared with the join.

    Output: (query_id, corpus_id?, score, rank) — same shape as
    ``similarity_join``; the query-id column keeps its original type
    (derived from ``queries.schema``, never hardcoded). Internal names avoid
    collisions with corpus columns.
    """
    from pq_vector_spark.index.build import CLUSTER_COL, PROBE_COL, probe_clusters
    from pq_vector_spark.index.search import cluster_predicate, load_index

    idx = load_index(spark, corpus_indexed_path)

    q = queries.select(F.col(query_id).alias("_pq_qid"), F.col(query_vec).alias("_pq_qv"))
    probe_df = (
        probe_clusters(q, "_pq_qv", idx.centroids, nprobe)
        .select("_pq_qid", "_pq_qv", F.explode(PROBE_COL).alias("_pq_cluster"))
    )

    corpus = spark.read.parquet(corpus_indexed_path)
    if prune_scan:
        from pyspark import StorageLevel

        probe_df = probe_df.persist(StorageLevel.MEMORY_AND_DISK)
        probed_union = [
            r[0] for r in probe_df.select("_pq_cluster").distinct().collect()
        ]
        if len(probed_union) < idx.meta["n_clusters"]:
            corpus = corpus.filter(cluster_predicate(spark, probed_union))
    if broadcast_queries:
        probe_df = broadcast(probe_df)

    joined = corpus.join(probe_df, corpus[CLUSTER_COL] == probe_df["_pq_cluster"])
    scored = joined.withColumn(
        "score",
        array_distance(
            F.col(idx.meta["column"]), F.col("_pq_qv"), dim_hint=idx.meta["dim"]
        ),
    )
    ranked = per_query_topk(scored, "_pq_qid", "score", k, tie_break=corpus_id)
    cols = [F.col("_pq_qid").alias(query_id)]
    if corpus_id is not None:
        cols.append(F.col(corpus_id))
    cols += [F.col("score"), F.col("rank")]
    return ranked.select(*cols)


def maxsim_topk(
    df: DataFrame,
    multi_vec_col: str,
    query_vecs,
    k: int,
    *,
    id_col: str = "vec_id",
    tie_break: bool = True,
) -> DataFrame:
    """Late-interaction (ColBERT-style) multi-vector retrieval: each
    document carries a BAG of vectors (array<array<float>>); the score is
    MaxSim = Σ_i max_j (qᵢ·dⱼ) over query vectors qᵢ — the relevance model
    dense single-vector search cannot express (per-term alignment).

    Spark-first shape: the query bag is a LITERAL (rides the plan, never
    joins), the whole score is nested native higher-order functions —
    ``aggregate`` over query vectors of ``array_max`` of per-doc-vector
    dot products — entirely JVM-side, no UDF, no shuffle; top-k is the
    bounded-heap ``TakeOrderedAndProject``. Doubles fold left-to-right
    (query order, then element order), so an external engine reproduces
    the score bit-for-bit.

    At 100 TB this scans once like every other brute path; the IVF
    accelerant applies unchanged by indexing a pooled (e.g. mean) vector
    per document and re-ranking candidates with full MaxSim.
    """
    if not query_vecs:
        raise ValueError("query_vecs must contain at least one vector")
    qlit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in qv])
            for qv in query_vecs
        ]
    )

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    d = F.col(multi_vec_col)
    score = F.aggregate(
        qlit,
        F.lit(0.0),
        lambda acc, qv: acc
        + F.array_max(F.transform(d, lambda dv: _dot(qv, dv))),
    )
    out = df.filter(d.isNotNull()).withColumn("maxsim", score)
    return global_topk(
        out, "maxsim", k, descending=True, tie_break=id_col if tie_break else None
    )


def ivf_maxsim_topk(
    spark,
    pooled_indexed_path: str,
    bags: DataFrame,
    bag_col: str,
    id_col: str,
    query_vecs,
    k: int,
    *,
    nprobe: int = 5,
    candidates: int = 200,
) -> DataFrame:
    """IVF-accelerated MaxSim — the scale path ``maxsim_topk`` documents:
    index the POOLED (mean) vector per document, prune with the coarse
    quantizer, and re-rank only the survivors with full late interaction.

    Stage one runs the engine's indexed top-k on the pooled table (pushed
    cluster filter, row-group pruning, bounded heap) for the mean of the
    query bag; stage two broadcast-joins the ``candidates`` winning ids
    into the bag table and scores full MaxSim — so the expensive nested
    fold touches ``candidates`` rows, never the corpus.

    Exactness envelope: nprobe = n_clusters AND candidates ≥ table rows
    reproduces brute ``maxsim_topk``; production recall depends on how
    well mean-pooling preserves neighborhood (measured in tests on the
    clustered fixture — the standard two-stage ColBERT serving recipe).
    """
    import numpy as np

    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.session import VectorTopKOptions

    if not query_vecs:
        raise ValueError("query_vecs must contain at least one vector")
    pooled_q = np.asarray(query_vecs, dtype=np.float64).mean(axis=0).tolist()
    cand = (
        indexed_topk(
            spark,
            pooled_indexed_path,
            pooled_q,
            max(int(candidates), k),
            options=VectorTopKOptions(nprobe=nprobe),
            tie_break=id_col,
        )
        .select(id_col)
    )
    pruned = bags.join(F.broadcast(cand), id_col)
    return maxsim_topk(pruned, bag_col, query_vecs, k, id_col=id_col)
