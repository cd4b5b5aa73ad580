"""Product quantization (PQ) with asymmetric-distance (ADC) scans — the
compression scale-path beyond IVF pruning and SQ8 (extension surface; the
reference stores raw f32 vectors only, src/ivf/parquet.rs, and prunes with
the IVF coarse quantizer, src/ivf/search.rs:130-149 — PQ attacks the
*bytes-per-candidate* axis the reference leaves on the table).

Spark-first shape:

- **Training is driver-side numpy on a bounded sample** — the same contract
  as the IVF build (≤100k rows leave the executors, seeded, deterministic;
  ≙ src/ivf/index.rs:172-187). One seeded k-means per subspace, reusing
  :mod:`pq_vector_spark.index.kmeans` verbatim.
- **Encoding is a map-side Arrow pass** — broadcast codebooks + one
  pandas-UDF matmul argmin per subspace. No shuffle; rows encode
  independently at any scale, so a 100 TB corpus encodes as a pure
  projection.
- **ADC scan is a map-side LUT fold + TakeOrderedAndProject** — the query
  is quantized against every codebook centroid ONCE on the driver
  (m × k table, a few KB), the table rides into the Arrow kernel closure,
  and each row's distance is m table lookups. The top-k then uses the same
  bounded-heap `TakeOrderedAndProject` plan as the exact path — only
  n_partitions × k rows ever move.
- **Re-rank** fetches raw vectors for the ADC top-C (C = k·rerank) and
  re-scores exactly — the standard two-stage ANN recipe; recall is
  *measured* in bench (``scale.pq``), not assumed.

At 100 TB the win is IO-shaped: m bytes per row (e.g. 16) instead of
4·dim (e.g. 1024) — a 64× smaller scan for the candidate-generation pass,
with the exact re-rank touching only k·rerank rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, ShortType

from pq_vector_spark.index.kmeans import train_kmeans

CODES_COL = "pq_codes"


@dataclass(frozen=True)
class PQCodebook:
    """m sub-quantizers of k centroids each over dim/m-wide slices.

    ``codebooks`` has shape (m, k, dsub) float32; subspace ``j`` covers
    dims ``[j*dsub, (j+1)*dsub)``. ``k ≤ 256`` so codes fit a single byte
    at rest (stored as ``array<smallint>`` — Spark has no unsigned byte;
    parquet dictionary+RLE encodes the 0..255 range to ~1 byte anyway).

    ``rotation`` (OPQ, Ge et al. 2013) is an optional (dim, dim)
    orthogonal matrix applied to vectors AND queries before the subspace
    split: ``x' = x @ R``. L2 distances are rotation-invariant, so the
    exact re-rank stage is untouched — only the ADC shortlist quality
    changes. ``None`` = plain PQ.
    """

    codebooks: np.ndarray
    dim: int
    rotation: Optional[np.ndarray] = None

    @property
    def m(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def k(self) -> int:
        return int(self.codebooks.shape[1])

    @property
    def dsub(self) -> int:
        return int(self.codebooks.shape[2])

    def save(self, path: str) -> None:
        extras = {}
        if self.rotation is not None:
            extras["rotation"] = self.rotation
        np.savez(path, codebooks=self.codebooks, dim=np.int64(self.dim), **extras)

    @classmethod
    def load(cls, path: str) -> "PQCodebook":
        if not path.endswith(".npz"):
            path = path + ".npz"
        z = np.load(path)
        rot = z["rotation"] if "rotation" in z.files else None
        return cls(codebooks=z["codebooks"], dim=int(z["dim"]), rotation=rot)

    def lookup_table(self, query: Sequence[float]) -> np.ndarray:
        """ADC lookup table for one query: (m, k) float64 of squared-L2
        partial distances ‖q_sub − c‖² — computed once per query on the
        driver, broadcast by closure."""
        q = np.asarray(list(query), dtype=np.float64)
        if q.shape[0] != self.dim:
            raise ValueError(
                f"query dim {q.shape[0]} != codebook dim {self.dim}"
            )
        if self.rotation is not None:
            q = q @ self.rotation.astype(np.float64)
        qs = q.reshape(self.m, self.dsub)
        cb = self.codebooks.astype(np.float64)  # (m, k, dsub)
        return ((cb - qs[:, None, :]) ** 2).sum(axis=2)  # (m, k)


def train_pq(
    df: DataFrame,
    column: str,
    *,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    max_iters: int = 20,
    sample_cap: int = 100_000,
) -> PQCodebook:
    """Train PQ codebooks on a seeded ≤``sample_cap`` driver sample.

    Same bounded-sample contract as the IVF build (≙ src/ivf/index.rs:
    172-187): training cost is constant in corpus size; only assignment
    (encoding) is distributed. ``dim`` must divide evenly by ``m`` (the
    classic PQ constraint; pad upstream if needed). Each subspace trains
    an independent seeded k-means (derived seeds → reproducible builds).
    """
    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in [1, 8] (codes are byte-sized)")
    from pq_vector_spark.index.build import sample_embeddings_to_driver

    n_rows = df.count()
    if n_rows == 0:
        raise ValueError("cannot train PQ on an empty table")
    target = min(max(n_rows // 20, 2**nbits, 256), sample_cap)
    sample = sample_embeddings_to_driver(df, column, target, n_rows, seed)
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    k = min(2**nbits, sample.shape[0])
    books = _train_books(sample, m, k, max_iters, seed)
    return PQCodebook(codebooks=books, dim=dim)


def _train_books(
    sample: np.ndarray, m: int, k: int, max_iters: int, seed: int
) -> np.ndarray:
    dim = sample.shape[1]
    dsub = dim // m
    books = np.empty((m, k, dsub), dtype=np.float32)
    for j in range(m):
        sub = np.ascontiguousarray(sample[:, j * dsub : (j + 1) * dsub])
        books[j] = train_kmeans(sub, k, max_iters=max_iters, seed=seed + 1000 * j)
    return books


def opq_rotation(sample: np.ndarray, m: int) -> np.ndarray:
    """Parametric OPQ rotation (Ge et al. 2013 §4, the non-iterative
    eigenvalue-allocation variant): PCA-decorrelate, then permute the
    principal components into ``m`` buckets of ``dim/m`` so each
    subspace carries a balanced share of the variance (greedy: next
    eigenvalue joins the non-full bucket with the smallest log-variance
    product). Plain PQ slices raw dimension order — correlated,
    unbalanced subspaces waste code entropy; the rotation is what FAISS
    calls ``OPQMatrix`` in its parametric mode. Returns an orthogonal
    (dim, dim) matrix ``R`` with vectors rotated as ``x @ R``."""
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    x = sample.astype(np.float64)
    x = x - x.mean(axis=0, keepdims=True)
    cov = (x.T @ x) / max(x.shape[0] - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = np.zeros(m)
    eps = max(float(evals.max()), 1.0) * 1e-12
    for i in range(dim):
        free = [j for j in range(m) if len(buckets[j]) < dsub]
        j = min(free, key=lambda b: (logs[b], b))
        buckets[j].append(i)
        logs[j] += np.log(max(float(evals[i]), eps))
    perm = [i for b in buckets for i in b]
    return np.ascontiguousarray(evecs[:, perm], dtype=np.float32)


def train_opq(
    df: DataFrame,
    column: str,
    *,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    max_iters: int = 20,
    sample_cap: int = 100_000,
) -> PQCodebook:
    """Train an OPQ codebook: the ``train_pq`` contract (seeded
    ≤``sample_cap`` driver sample, derived per-subspace k-means seeds)
    plus the parametric rotation — the sample is rotated ONCE and the
    codebooks live in rotated space; ``encode_pq`` / ``lookup_table``
    apply the same rotation to vectors and queries, and the exact
    re-rank stage is untouched (L2 is rotation-invariant). At the same
    (m, nbits) budget the rotation only improves the ADC shortlist —
    recall deltas are measured in bench ``scale.opq`` vs ``scale.pq``."""
    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in [1, 8] (codes are byte-sized)")
    from pq_vector_spark.index.build import sample_embeddings_to_driver

    n_rows = df.count()
    if n_rows == 0:
        raise ValueError("cannot train OPQ on an empty table")
    target = min(max(n_rows // 20, 2**nbits, 256), sample_cap)
    sample = sample_embeddings_to_driver(df, column, target, n_rows, seed)
    dim = sample.shape[1]
    rot = opq_rotation(sample, m)
    rotated = np.ascontiguousarray(sample.astype(np.float32) @ rot)
    k = min(2**nbits, rotated.shape[0])
    books = _train_books(rotated, m, k, max_iters, seed)
    return PQCodebook(codebooks=books, dim=dim, rotation=rot)


def encode_pq(
    df: DataFrame,
    column: str,
    codebook: PQCodebook,
    codes_col: str = CODES_COL,
) -> DataFrame:
    """Add a ``codes_col: array<smallint>`` column of per-subspace nearest
    centroid ids. Broadcast codebooks + one Arrow pass; vectorized argmin
    per subspace (the distributed analogue of FAISS's ``compute_codes``).
    Null / wrong-dim vectors encode to NULL."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(codebook.codebooks, dtype=np.float32)
    )
    bc_rot = spark.sparkContext.broadcast(
        None
        if codebook.rotation is None
        else np.ascontiguousarray(codebook.rotation, dtype=np.float32)
    )
    dim, mm, dsub = codebook.dim, codebook.m, codebook.dsub

    @F.pandas_udf("array<smallint>")
    def _encode(v: pd.Series) -> pd.Series:
        cb = bc.value  # (m, k, dsub)
        rot = bc_rot.value  # (dim, dim) or None
        arrs = v.to_numpy()
        lens = np.fromiter(
            (len(a) if a is not None else -1 for a in arrs), dtype=np.int64
        )
        ok = lens == dim
        out = np.empty(len(arrs), dtype=object)
        out[~ok] = None
        if ok.any():
            mat = np.stack(arrs[ok]).astype(np.float32)  # (n, dim)
            if rot is not None:
                mat = mat @ rot  # OPQ: rotate before the subspace split
            codes = np.empty((mat.shape[0], mm), dtype=np.int16)
            for j in range(mm):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                cents = cb[j]  # (k, dsub)
                c2 = (cents.astype(np.float64) ** 2).sum(axis=1).astype(np.float32)
                d2 = -2.0 * (sub @ cents.T)
                d2 += c2[None, :]
                codes[:, j] = d2.argmin(axis=1).astype(np.int16)
            idx = np.nonzero(ok)[0]
            for i, row in zip(idx, codes):
                out[i] = row
        return pd.Series(out)

    return df.withColumn(codes_col, _encode(F.col(column).cast("array<float>")))


def adc_distance(
    codebook: PQCodebook,
    query: Sequence[float],
    codes_col: str = CODES_COL,
) -> Column:
    """Approximate L2 distance from the PQ codes alone: the ADC lookup-table
    fold. The (m, k) table is built once driver-side and rides into the
    Arrow kernel closure; per row the cost is m gathers + a sum —
    independent of ``dim``. NULL codes → NULL distance."""
    lut = codebook.lookup_table(query)  # (m, k) float64
    mm = codebook.m

    @F.pandas_udf(DoubleType())
    def _adc(codes: pd.Series) -> pd.Series:
        arrs = codes.to_numpy()
        lens = np.fromiter(
            (len(a) if a is not None else -1 for a in arrs), dtype=np.int64
        )
        ok = lens == mm
        out = np.full(len(arrs), np.nan)
        if ok.any():
            mat = np.stack(arrs[ok]).astype(np.int64)  # (n, m)
            out[ok] = np.sqrt(lut[np.arange(mm)[None, :], mat].sum(axis=1))
        res = pd.arrays.FloatingArray(out, mask=np.asarray(~ok))
        return pd.Series(res)

    return _adc(F.col(codes_col))


ADC_COL = "_pq_adc_distance"


def pq_topk(
    df: DataFrame,
    column: str,
    codebook: PQCodebook,
    query: Sequence[float],
    k: int,
    *,
    rerank: int = 4,
    codes_col: Optional[str] = None,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
) -> DataFrame:
    """Two-stage PQ search: ADC scan → top ``k·rerank`` candidates
    (TakeOrderedAndProject bounded heap — only n_partitions × C rows move)
    → exact re-rank on the raw vectors → top k.

    If ``codes_col`` is None the codes are derived on the fly (one fused
    Arrow pass); production tables pre-encode once at ingest and scan only
    the m-byte codes for stage one. Both stages stay in the bounded-heap
    plan shape of the exact path (src/ivf/search.rs:112-127's max-heap,
    distributed)."""
    from pq_vector_spark.functions.distance import array_distance
    from pq_vector_spark.operators.topk import shortlist_rerank

    derived_codes = codes_col is None
    if derived_codes:
        df = encode_pq(df, column, codebook, CODES_COL)
        codes_col = CODES_COL
    c = max(k * rerank, k)
    out = shortlist_rerank(
        df, ADC_COL, adc_distance(codebook, query, codes_col),
        array_distance(column, list(query), rows_hint=c), c, k,
        tie_break=tie_break, keep_distance=keep_distance,
    )
    return out.drop(codes_col) if derived_codes else out


def pq_topk_with_fetch(
    codes_df: DataFrame,
    raw_df: DataFrame,
    column: str,
    id_col: str,
    codebook: PQCodebook,
    query: Sequence[float],
    k: int,
    *,
    rerank: int = 4,
    codes_col: str = CODES_COL,
    keep_distance: bool = False,
) -> DataFrame:
    """Production PQ search over a pre-encoded codes-only table.

    Stage one scans ONLY ``codes_df`` (id + m bytes per row — at dim=256 /
    m=16 that is a 64× smaller scan than the raw vectors) and keeps the ADC
    top ``k·rerank`` via the bounded-heap `TakeOrderedAndProject`. Stage two
    broadcast-joins those C ids back into ``raw_df`` — the raw table is
    touched only for C rows' worth of row-group reads (id predicate
    pushdown applies when the raw table is id-sorted) — and re-scores
    exactly. This is the split the reference cannot express (it stores only
    raw f32, src/ivf/parquet.rs); at 100 TB the codes table is the only
    full scan."""
    from pq_vector_spark.functions.distance import array_distance
    from pq_vector_spark.operators.topk import shortlist_rerank

    c = max(k * rerank, k)
    return shortlist_rerank(
        codes_df, ADC_COL, adc_distance(codebook, query, codes_col),
        array_distance(column, list(query), rows_hint=c), c, k,
        tie_break=id_col, raw=raw_df, id_col=id_col, keep_distance=keep_distance,
    )


def encode_indexed(
    spark,
    indexed_path: str,
    out_path: str,
    column: str,
    id_col: str,
    codebook: PQCodebook,
    *,
    n_files: Optional[int] = None,
    mode: str = "overwrite",
) -> None:
    """Write the codes sidecar table for an IVF-indexed layout:
    (id, cluster id, m-byte codes), cluster-sorted parquet — so an
    IVF-PQ probe's ``cluster IN (...)`` filter prunes the codes scan by
    row-group stats exactly like the raw layout's.

    One shuffle (the cluster repartition); encoding itself is the same
    map-side Arrow pass as ``encode_pq``. ``mode``:

    - ``"overwrite"`` — encode the whole layout (initial build, or after a
      retrain: old codes are invalid against new clusters);
    - ``"append_missing"`` — encode ONLY raw rows absent from the existing
      codes table and append them. This is the nightly-append refresh: the
      standing codes (∝ corpus) are never rewritten, the delta pays one
      id anti-join (sort-merge, ids only on the wire) plus its own encode.
      Appended code files carry their own contiguous cluster ranges, so
      file-level pruning still holds per append generation.
    """
    from pq_vector_spark.index.build import CLUSTER_COL

    if mode not in ("overwrite", "append_missing"):
        raise ValueError(f"mode must be overwrite|append_missing, got {mode!r}")
    raw = spark.read.parquet(indexed_path)
    if CLUSTER_COL not in raw.columns:
        raise ValueError(f"{indexed_path} is not an indexed layout ({CLUSTER_COL} missing)")
    todo = raw.select(id_col, CLUSTER_COL, column)
    n_delta = None
    if mode == "append_missing":
        existing = spark.read.parquet(out_path).select(id_col)
        todo = todo.join(existing, id_col, "left_anti")
        # size the delta's file count by its own row count (one ids-only
        # count job on a rare refresh path): the cluster-wide default
        # would spray a tiny nightly delta across 4x-parallelism
        # near-empty files whose overlapping cluster ranges erode the
        # file-level pruning this layout exists for
        n_delta = todo.count()
        if n_delta == 0:
            return
    codes = encode_pq(todo, column, codebook, CODES_COL).drop(column)
    # RANGE partitioning, not hash: the codes table is small enough that
    # each output file holds a single parquet row group, so pruning must
    # happen at FILE granularity — contiguous cluster ranges give every
    # file a tight [min,max] cluster span and the probe's IN filter skips
    # whole files. (The raw layout can rely on within-file row-group
    # stats instead because its files span many row groups.)
    if n_files is None:
        if n_delta is not None:
            n_files = max(1, -(-n_delta // 2_000_000))  # ~100 MB code files
        else:
            n_files = max(4 * spark.sparkContext.defaultParallelism, 1)
    (
        codes.repartitionByRange(n_files, F.col(CLUSTER_COL), F.col(id_col))
        .sortWithinPartitions(CLUSTER_COL, id_col)
        .write.mode("overwrite" if mode == "overwrite" else "append")
        .parquet(out_path)
    )


def ivfpq_topk(
    spark,
    indexed_path: str,
    codes_path: str,
    column: str,
    id_col: str,
    codebook: PQCodebook,
    query: Sequence[float],
    k: int,
    *,
    nprobe: int = 5,
    rerank: int = 4,
    keep_distance: bool = False,
    observation=None,
) -> DataFrame:
    """IVF-PQ search — the classic two-level ANN recipe (coarse quantizer
    prune × product-quantized scan × exact re-rank), composed from this
    engine's IVF index and PQ codes sidecar:

    1. Probe the sidecar centroids on the driver (zero jobs), push
       ``cluster IN (probed)`` into the CODES table scan — I/O ∝
       (nprobe/n_clusters) × (m bytes/row): both pruning axes at once,
       the combination neither alone can reach at 100 TB.
    2. ADC-scan the surviving codes → bounded-heap top ``k·rerank`` ids.
    3. Broadcast those ids into the raw indexed table (same cluster
       filter prunes its row groups) and re-score exactly → top k.

    Exactness envelope: with ``nprobe = n_clusters`` and ``rerank``
    covering the candidate set this equals brute force (the oracle row);
    production recall at nprobe < n_clusters is measured in bench.
    """
    from pq_vector_spark.functions.distance import array_distance
    from pq_vector_spark.index.build import CLUSTER_COL
    from pq_vector_spark.index.kmeans import nearest_centroids
    from pq_vector_spark.index.search import cluster_predicate, load_index
    from pq_vector_spark.operators.topk import shortlist_rerank

    idx = load_index(spark, indexed_path)
    if idx.meta["dim"] != codebook.dim:
        raise ValueError(
            f"index dim {idx.meta['dim']} != codebook dim {codebook.dim}"
        )
    q = np.asarray(list(query), dtype=np.float32)
    if q.shape != (codebook.dim,):
        raise ValueError(f"query dim {q.shape} != {codebook.dim}")
    probed = [int(c) for c in nearest_centroids(q, idx.centroids, nprobe)]

    pred = cluster_predicate(spark, probed)
    codes = spark.read.parquet(codes_path).filter(pred)
    if observation is not None:
        # same metric name as indexed_topk's CollectMetrics (A23 parity):
        # how many code rows survived the coarse prune and were ADC-scanned
        codes = codes.observe(
            observation, F.count(F.lit(1)).alias("candidate_rows")
        )
    c = max(k * rerank, k)
    out = shortlist_rerank(
        codes, ADC_COL, adc_distance(codebook, list(query), CODES_COL),
        array_distance(column, list(query), rows_hint=c), c, k,
        tie_break=id_col, raw=spark.read.parquet(indexed_path).filter(pred),
        id_col=id_col, keep_distance=keep_distance,
    )
    return out.drop(CLUSTER_COL)
