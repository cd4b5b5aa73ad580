"""Scalar int8 quantization for embedding columns — the storage/IO scale
path beyond the reference's float32-only layout (extension; the reference
stores raw f32 vectors, src/ivf/parquet.rs): 4× smaller vectors mean 4×
fewer bytes scanned per candidate at 100 TB, at a small, *measured* recall
cost (bench section ``scale.sq8``).

Per-vector asymmetric min/max quantization (the self-contained variant of
FAISS's SQ8): each row stores (codes: array<tinyint>, mn: double,
scale: double) with ``code = floor((x - mn)/scale + 0.5) - 128``. No
training pass, no global state — every row quantizes independently
map-side, so ingest is a pure projection.

All arithmetic is double-precision with an explicit ``floor(+0.5)``
rounding (identical semantics in Spark and DuckDB — engine ``round()``
half-way modes differ), so the oracle reproduces codes and distances
bit-for-bit.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CODES_COL = "q_codes"
MIN_COL = "q_mn"
SCALE_COL = "q_scale"


def quantize_vectors(
    df: DataFrame,
    col: str,
    codes_col: str = CODES_COL,
    mn_col: str = MIN_COL,
    scale_col: str = SCALE_COL,
) -> DataFrame:
    """Add (codes, mn, scale) columns for an ``array<float/double>``
    embedding column. Pure map-side projection — no shuffle, no training,
    no driver state; rows quantize independently at any scale.

    Constant vectors (mx == mn) use scale 1.0: every code is -128 and
    dequantization returns exactly ``mn``.
    """
    e = F.transform(F.col(col), lambda x: x.cast("double"))
    mn = F.array_min(e)
    mx = F.array_max(e)
    scale = F.when(mx > mn, (mx - mn) / F.lit(255.0)).otherwise(F.lit(1.0))
    # bind (mn, scale) once via the array-let trick — a free subtree inside
    # an HOF lambda re-evaluates per element (array_min per element!)
    codes = F.transform(
        F.array(F.struct(mn.alias("mn"), scale.alias("sc"))),
        lambda m: F.transform(
            e,
            lambda x: (
                F.floor((x - m["mn"]) / m["sc"] + F.lit(0.5)) - F.lit(128)
            ).cast("tinyint"),
        ),
    )[0]
    return df.withColumns({codes_col: codes, mn_col: mn, scale_col: scale})


def dequantize(
    codes_col: str = CODES_COL,
    mn_col: str = MIN_COL,
    scale_col: str = SCALE_COL,
) -> Column:
    """Reconstruct the (lossy) double vector: mn + (code + 128) * scale."""
    return F.transform(
        F.col(codes_col),
        lambda c: F.col(mn_col)
        + (c.cast("double") + F.lit(128.0)) * F.col(scale_col),
    )


def quantized_distance(
    query: Sequence[float],
    codes_col: str = CODES_COL,
    mn_col: str = MIN_COL,
    scale_col: str = SCALE_COL,
) -> Column:
    """L2 distance between a float query and a quantized row.

    Narrow vectors dequantize inline inside one ``zip_with`` fold; wide
    vectors (> UNROLL_LIMIT dims, where Catalyst HOFs run interpreted)
    switch to an Arrow kernel with the SAME per-dimension left-to-right
    float64 accumulation as the fold — bit-identical results (the exact
    technique ``functions/distance.py`` uses for its wide kernels).

    The wide kernel reads the quantized columns as STORED data (the normal
    shape — quantization exists to be written once and scanned many
    times). Applying it in the same plan that derives the codes makes
    Spark collapse the quantize HOF expressions into the Python-UDF
    argument projection, whose interpreted evaluator cannot execute them
    (ExpressionProxy INTERNAL_ERROR) — persist the quantized table first,
    or stay at ≤ UNROLL_LIMIT dims where the pure-HOF fold handles both
    shapes."""
    from pq_vector_spark.functions.distance import UNROLL_LIMIT

    if len(query) > UNROLL_LIMIT:
        return _arrow_quantized_kernel(query)(
            F.col(codes_col), F.col(mn_col), F.col(scale_col)
        )
    qlit = F.array(*[F.lit(float(v)).cast("double") for v in query])
    # diffs first, then square inside the fold via the lambda variable —
    # the dequant subtree evaluates once per element
    diff = F.zip_with(
        F.col(codes_col),
        qlit,
        lambda c, qi: (
            F.col(mn_col) + (c.cast("double") + F.lit(128.0)) * F.col(scale_col)
        )
        - qi,
    )
    return F.sqrt(F.aggregate(diff, F.lit(0.0), lambda a, d: a + d * d))


def _arrow_quantized_kernel(query: Sequence[float]):
    """Pandas-UDF dequantized-distance kernel: per-dimension left-to-right
    float64 accumulation (vectorized across rows) ⇒ the identical addition
    sequence as the zip_with/aggregate fold and the DuckDB oracle."""
    from pyspark.sql.types import DoubleType

    qd = np.asarray([float(x) for x in query], dtype=np.float64)
    dim = qd.shape[0]

    @F.pandas_udf(DoubleType())
    def _k(codes: pd.Series, mn: pd.Series, sc: pd.Series) -> pd.Series:
        arrs = codes.to_numpy()
        lens = np.fromiter(
            (len(a) if a is not None else -1 for a in arrs), dtype=np.int64
        )
        ok = (lens == dim) & ~mn.isna().to_numpy() & ~sc.isna().to_numpy()
        out = np.full(len(arrs), np.nan)
        if ok.any():
            mat = np.stack(arrs[ok]).astype(np.float64)
            mnv = mn.to_numpy(dtype=np.float64, na_value=np.nan)[ok]
            scv = sc.to_numpy(dtype=np.float64, na_value=np.nan)[ok]
            acc = np.zeros(mat.shape[0])
            for j in range(dim):
                d = (mnv + (mat[:, j] + 128.0) * scv) - qd[j]
                acc += d * d
            out[ok] = np.sqrt(acc)
        res = pd.arrays.FloatingArray(out, mask=np.asarray(~ok))
        return pd.Series(res)

    return _k


# ----------------------------------------------------------- binary (1-bit)
# Sign-bit quantization — 32x compression (jacobs-style BQ, the coarse
# filter modern vector stores pair with an exact re-rank): bit j of a
# vector is (x_j > 0); distance is the Hamming distance between bit
# strings, a proxy for angular distance on roughly-centered data. The
# search composes two bounded heaps: Hamming shortlist (oversampled) ->
# exact re-rank. All native expressions: shiftleft/sum to pack, xor +
# bit_count to compare — whole-stage codegen end to end, and every step
# is integer math an external engine replays exactly.

BQ_COL = "bq_words"
_BQ_WORD_BITS = 32  # 32 bits per stored long: shiftleft stays clear of
# the sign bit, so Spark and any ANSI engine agree on every word value


def binary_quantize(col, dim: int) -> Column:
    """Pack an ``array<float/double>`` into ``ceil(dim/32)`` bigint words
    of sign bits (bit i of word w = vec[32w + i] > 0). Strictly positive
    is 1; zero and negative are 0; a NULL element yields 0 (no signal —
    matches the comparison's no-NaN contract). Map-side projection, no
    state, no training pass."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    c = F.col(col) if isinstance(col, str) else col
    n_words = (dim + _BQ_WORD_BITS - 1) // _BQ_WORD_BITS
    words = []
    for w in range(n_words):
        start = w * _BQ_WORD_BITS + 1  # slice is 1-based
        length = min(_BQ_WORD_BITS, dim - w * _BQ_WORD_BITS)
        chunk = F.slice(c, start, length)
        word = F.aggregate(
            F.zip_with(
                chunk,
                F.sequence(F.lit(0), F.lit(length - 1)),
                # shiftleft() takes only a literal bit count — pow(2, i)
                # is the column form, exact in doubles for i < 53 (we
                # stay <= 31 so the long cast is loss-free and sign-safe)
                lambda x, i: F.when(
                    x.cast("double") > 0.0,
                    F.pow(F.lit(2.0), i.cast("double")).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        words.append(word)
    return F.array(*words)


def hamming_distance(a, b) -> Column:
    """Hamming distance between two packed bit-word arrays:
    Σ bit_count(a_w XOR b_w). Integer math, codegen, engine-portable."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("bigint")


def pack_query_bits(query: Sequence[float]) -> "list[int]":
    """Driver-side twin of :func:`binary_quantize` for a literal query."""
    dim = len(query)
    n_words = (dim + _BQ_WORD_BITS - 1) // _BQ_WORD_BITS
    out = []
    for w in range(n_words):
        word = 0
        for i in range(min(_BQ_WORD_BITS, dim - w * _BQ_WORD_BITS)):
            v = query[w * _BQ_WORD_BITS + i]
            if v is not None and float(v) > 0.0:
                word |= 1 << i
        out.append(word)
    return out


def binary_topk(
    df: DataFrame,
    col: str,
    query: Sequence[float],
    k: int,
    *,
    oversample: int = 4,
    bq_col: str | None = None,
    tie_break: str | None = None,
    keep_distance: bool = False,
) -> DataFrame:
    """Top-k via the binary shortlist: rank by Hamming distance to the
    sign-quantized query, keep ``k * oversample`` candidates (bounded
    heap #1), exact-L2 re-rank those (bounded heap #2). With a
    PRE-MATERIALIZED ``bq_col`` (write-time ``binary_quantize`` — the
    intended 100 TB layout) the shortlist scan reads 32× fewer vector
    bytes; without one the bits are computed on the fly (same results,
    no I/O savings). ``oversample`` trades recall for re-rank cost —
    recall is measured per-config in the bench's ``scale.bq`` entries,
    the SQ8/PQ discipline."""
    from pq_vector_spark.functions.distance import array_distance
    from pq_vector_spark.operators.topk import DISTANCE_COL

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    qbits = pack_query_bits([float(x) for x in query])
    qlit = F.array(*[F.lit(int(w)).cast("long") for w in qbits])
    bits = F.col(bq_col) if bq_col else binary_quantize(col, len(query))
    ham = hamming_distance(bits, qlit)
    order = [F.col("_bq_ham").asc()]
    if tie_break is not None:
        order.append(F.col(tie_break).asc())
    shortlist = (
        df.withColumn("_bq_ham", ham)
        .orderBy(*order)
        .limit(int(k) * int(oversample))
    )
    out = shortlist.withColumn(
        # string name, not F.col(...): lets the one-shot SQL render fire (r16)
        DISTANCE_COL, array_distance(col, [float(x) for x in query])
    )
    order2 = [F.col(DISTANCE_COL).asc_nulls_last()]
    if tie_break is not None:
        order2.append(F.col(tie_break).asc())
    out = out.orderBy(*order2).limit(k).drop("_bq_ham")
    return out if keep_distance else out.drop(DISTANCE_COL)


def binary_topk_with_fetch(
    words_df: DataFrame,
    raw_df: DataFrame,
    column: str,
    id_col: str,
    query: Sequence[float],
    k: int,
    *,
    oversample: int = 16,
    words_col: str = BQ_COL,
    tie_break: str | None = None,
    keep_distance: bool = False,
) -> DataFrame:
    """Production binary search over a pre-packed words-only table — the
    ``pq_topk_with_fetch`` split applied to 1-bit codes. Stage one scans
    ONLY ``words_df`` (id + dim/32 longs per row: 32× fewer bytes than
    the raw float32 vectors — at 100 TB the words table is the only full
    scan) and keeps the Hamming top ``k·oversample`` via the bounded
    heap; stage two broadcast-joins those ids back into ``raw_df`` (row-
    group reads for the shortlist only, id-pushdown when id-sorted) and
    re-ranks with the exact distance. :func:`binary_topk` is the
    single-table convenience form; THIS is the at-scale layout. Sign-bit
    Hamming is an angular proxy — recall vs oversample is measured
    per-config in the bench (1M×256 mixture: 1.0 at oversample 16)."""
    from pq_vector_spark.functions.distance import array_distance
    from pq_vector_spark.operators.topk import DISTANCE_COL

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    qbits = pack_query_bits([float(x) for x in query])
    qlit = F.array(*[F.lit(int(w)).cast("long") for w in qbits])
    order = [F.col("_bq_ham").asc()]
    if tie_break is not None:
        order.append(F.col(tie_break).asc())
    elif id_col:
        order.append(F.col(id_col).asc())
    cand = (
        words_df.withColumn("_bq_ham", hamming_distance(F.col(words_col), qlit))
        .orderBy(*order)
        .limit(int(k) * int(oversample))
        .select(id_col)
    )
    fetched = raw_df.join(F.broadcast(cand), id_col)
    order2 = [F.col(DISTANCE_COL).asc_nulls_last()]
    if tie_break is not None:
        order2.append(F.col(tie_break).asc())
    out = (
        fetched.withColumn(
            DISTANCE_COL, array_distance(column, [float(x) for x in query])
        )
        .orderBy(*order2)
        .limit(k)
    )
    return out if keep_distance else out.drop(DISTANCE_COL)
