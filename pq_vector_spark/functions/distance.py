"""Vector distance expressions — native Catalyst columns where they pay.

The reference's ``array_distance(a, b)`` is Euclidean √Σ(aᵢ−bᵢ)² matched by
name in its physical rewrite (reference: src/df_vector/physical.rs:201) and
computed by a 4-way-unrolled scalar kernel (src/ivf/index.rs:459-480).
Spark has no builtin, so we build it from Catalyst expressions. Which kernel
scores a literal query depends on its width and on how many rows it scores:

- dim ≤ ``UNROLL_LIMIT``: a flat unrolled chain inside whole-stage codegen
  (JVM only).
- dim > ``UNROLL_LIMIT`` with a ``rows_hint`` whose rows × dim is at most
  ``FOLD_ELEMENT_BUDGET``: the ``zip_with``/``aggregate`` fold, interpreted
  on the JVM. Its generated code does not depend on the query, so repeated
  queries reuse Spark's codegen cache (no compile per query).
- dim > ``UNROLL_LIMIT`` otherwise: an Arrow-batched numpy pandas UDF. Every
  task that runs it pays a Python worker about 0.14 CPU s however few rows
  it scores (0.29 s for a two-task query over 400 rows at dim 256, against
  0.01-0.02 s for the fold; 4 vCPUs, ``local[2]``); beyond the budget its
  vectorized arithmetic wins that back.

Column-vs-column distances use the fold, or the two-column Arrow kernel when
``dim_hint`` says the vectors are wider than ``UNROLL_LIMIT``.

Precision contract: every element is cast to DOUBLE *before* arithmetic and
summed left-to-right. That makes results bit-identical across all kernels
and to a DuckDB oracle of shape
``list_reduce(list_transform(list_zip(a,b), …), (x,y)->x+y)`` so the
driver's value-hash gate can compare us exactly (SURVEY.md §2.C). One
exception: a vector holding a NULL element scores NULL on the unrolled
chain (and in the oracle) but NaN on the wide kernels, because the Arrow
kernel receives that element from pandas as NaN and the fold matches the
kernel.

Reference parity notes:
- f64 query literals are narrowed to the f32 grid by the reference
  (src/df_vector/expr.rs:48-50); we keep stored vectors float32 and cast up
  to double at compute time, which is lossless for float32 inputs.
- null / dim-mismatched rows at query time yield NULL distance, which the
  top-k operators sort after every scored row (``asc_nulls_last``), so a
  top-k returns them only when fewer than k rows score; the reference
  skips them silently (src/df_vector/exec.rs:495-528).
"""

from __future__ import annotations

import math
from typing import Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

VectorLike = Union[str, Column, Sequence[float]]


def _as_vector_col(v: VectorLike) -> Column:
    """Coerce a column name / Column / python list into an array<double> column."""
    if isinstance(v, Column):
        return v.cast("array<double>")
    if isinstance(v, str):
        return F.col(v).cast("array<double>")
    return F.array(*[F.lit(float(x)) for x in v])


# literal queries up to this many dims compile to a flat unrolled expression
# (whole-stage codegen) instead of an interpreted higher-order-function fold.
# Empirically janino compiles the unrolled chain up to 128 dims and fails at
# ≥160 (64 KB method limit) — a failed compile silently falls back to
# interpreted eval, the worst of both worlds, so the limit must sit where
# compilation actually succeeds.
UNROLL_LIMIT = 128

# literal queries wider than UNROLL_LIMIT use an Arrow-batched numpy kernel:
# one pandas UDF accumulating PER DIMENSION, left-to-right, in float64 —
# the same summation order as the HOF fold and the DuckDB oracle, so results
# stay bit-identical while running vectorized (measured ~3× faster than the
# interpreted HOF fold at dim 256 on 1M rows). This is the sanctioned
# Python-in-the-hot-path case: built-ins genuinely cannot express a
# codegen-able wide-vector kernel.


def _arrow_fold_kernel(q, mode: str):
    from pyspark.sql.types import DoubleType

    qd = np.asarray([float(x) for x in q], dtype=np.float64)
    dim = qd.shape[0]
    if mode == "cosine":
        # ‖q‖ with the same sequential fold the oracle applies to the literal
        nq = 0.0
        for x in qd:
            nq += x * x
        nq = float(np.sqrt(nq))

    @F.pandas_udf(DoubleType())
    def _k(v: pd.Series) -> pd.Series:
        arrs = v.to_numpy()
        lens = np.fromiter((len(a) if a is not None else -1 for a in arrs), dtype=np.int64)
        ok = lens == dim
        out = np.full(len(arrs), np.nan)
        if ok.any():
            mat = np.stack(arrs[ok]).astype(np.float64)
            acc = np.zeros(mat.shape[0])
            if mode == "sq_l2":
                for j in range(dim):
                    d = mat[:, j] - qd[j]
                    acc += d * d
            elif mode == "dot":
                for j in range(dim):
                    acc += mat[:, j] * qd[j]
            elif mode == "cosine":
                na = np.zeros(mat.shape[0])
                for j in range(dim):
                    acc += mat[:, j] * qd[j]
                    na += mat[:, j] * mat[:, j]
                acc = acc / (np.sqrt(na) * nq)
            out[ok] = acc
        # dim mismatch / null input ⇒ NULL; legitimate NaN scores (e.g.
        # cosine of a zero-norm vector) must STAY NaN — the native fold
        # yields NaN there and Spark ranks NaN above every double while
        # NULLs are filtered/sorted last. An explicit mask marks only the
        # bad rows as NA (pd.array would coerce every NaN to NA).
        res = pd.arrays.FloatingArray(out, mask=np.asarray(~ok))
        return pd.Series(res)

    return _k


def _arrow_fold_kernel2(mode: str):
    """Two-COLUMN variant of the wide-vector kernel (no literal side):
    same per-dimension left-to-right float64 accumulation ⇒ bit-identical
    to the zip_with/aggregate fold. Used when a dim hint says the vectors
    are too wide for codegen (col-col dims aren't knowable at plan time)."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _k(va: pd.Series, vb: pd.Series) -> pd.Series:
        aa, bb = va.to_numpy(), vb.to_numpy()
        la = np.fromiter((len(x) if x is not None else -1 for x in aa), dtype=np.int64)
        lb = np.fromiter((len(x) if x is not None else -2 for x in bb), dtype=np.int64)
        ok = (la == lb) & (la >= 0)
        out = np.full(len(aa), np.nan)
        for d in np.unique(la[ok]):
            sel = ok & (la == d)
            ma = np.stack(aa[sel]).astype(np.float64)
            mb = np.stack(bb[sel]).astype(np.float64)
            acc = np.zeros(ma.shape[0])
            if mode == "sq_l2":
                for j in range(d):
                    x = ma[:, j] - mb[:, j]
                    acc += x * x
            elif mode == "dot":
                for j in range(d):
                    acc += ma[:, j] * mb[:, j]
            elif mode == "cosine":
                na = np.zeros(ma.shape[0])
                nb = np.zeros(ma.shape[0])
                for j in range(d):
                    acc += ma[:, j] * mb[:, j]
                    na += ma[:, j] * ma[:, j]
                    nb += mb[:, j] * mb[:, j]
                acc = acc / (np.sqrt(na) * np.sqrt(nb))
            out[sel] = acc
        # mask only dim-mismatch/null rows as NA; NaN scores stay NaN
        # (bit-parity with the zip_with fold — see _arrow_fold_kernel)
        res = pd.arrays.FloatingArray(out, mask=np.asarray(~ok))
        return pd.Series(res)

    return _k


def _arrow_multi_kernel(qmat, mode: str):
    """N-query batch kernel: ONE pass over the vector column computes the
    distance to every row of the (n_q × d) literal query matrix, returning
    an array<double> of n_q scores per row. Per-dimension left-to-right
    float64 accumulation keeps each score bit-identical to the scalar fold.
    This is the scale shape for batch KNN: the corpus crosses the Arrow
    boundary once, not once per query (a cross join transfers it n_q×)."""
    from pyspark.sql.types import ArrayType, DoubleType

    Q = np.asarray(qmat, dtype=np.float64)
    n_q, dim = Q.shape
    if mode == "cosine":
        nrm = np.zeros(n_q)
        for j in range(dim):  # same sequential fold as the oracle
            nrm += Q[:, j] * Q[:, j]
        nrm = np.sqrt(nrm)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _k(v: pd.Series) -> pd.Series:
        arrs = v.to_numpy()
        lens = np.fromiter((len(a) if a is not None else -1 for a in arrs), dtype=np.int64)
        ok = lens == dim
        out = np.empty(len(arrs), dtype=object)
        if ok.any():
            mat = np.stack(arrs[ok]).astype(np.float64)  # (m, d)
            acc = np.zeros((mat.shape[0], n_q))
            if mode == "sq_l2":
                for j in range(dim):
                    d = mat[:, j : j + 1] - Q[:, j][None, :]
                    acc += d * d
            elif mode == "dot":
                for j in range(dim):
                    acc += mat[:, j : j + 1] * Q[:, j][None, :]
            elif mode == "cosine":
                na = np.zeros(mat.shape[0])
                for j in range(dim):
                    acc += mat[:, j : j + 1] * Q[:, j][None, :]
                    na += mat[:, j] * mat[:, j]
                acc = acc / (np.sqrt(na)[:, None] * nrm[None, :])
            rows = np.nonzero(ok)[0]
            for r, i in enumerate(rows):
                out[i] = acc[r].tolist()
        # dim mismatch / null input ⇒ NULL array, same as the scalar kernels
        return pd.Series(out)

    return _k


# total unrolled terms (n_q × dim) allowed before the batch scorer abandons
# native codegen for the Arrow matrix kernel — each per-query expression
# stays under UNROLL_LIMIT, but the scores-array lives inside a Generate
# (posexplode) node whose whole-stage method must swallow ALL of them at
# once. Empirically 5 × 64 = 320 terms already blows the janino method
# limit there (17k-line generated class, ERROR + silent interpreted
# fallback), so the budget is the single-expression limit: beyond it the
# Arrow matrix kernel is both safer and faster.
MULTI_UNROLL_BUDGET = 128


def multi_distances(vec: VectorLike, qmat, metric: str = "l2") -> Column:
    """array<double> of per-query scores for a literal (n_q × d) query
    matrix — native unrolled expressions when the total term count fits the
    codegen budget, the Arrow matrix kernel otherwise. Element i is
    bit-identical to the scalar ``array_distance``/``dot_product``/
    ``cosine_similarity`` against query row i."""
    rows = [list(q) for q in qmat]
    if not rows:
        raise ValueError("qmat must contain at least one query vector")
    dim = len(rows[0])
    if any(len(r) != dim for r in rows):
        raise ValueError("all query vectors must share one dimension")
    scalar = {"l2": array_distance, "sq_l2": squared_l2, "dot": dot_product,
              "cosine": cosine_similarity}
    if metric not in scalar:
        raise ValueError(f"unknown metric {metric!r}")
    if dim <= UNROLL_LIMIT and len(rows) * dim <= MULTI_UNROLL_BUDGET:
        return F.array(*[scalar[metric](vec, r) for r in rows])
    mode = {"l2": "sq_l2", "sq_l2": "sq_l2", "dot": "dot", "cosine": "cosine"}[metric]
    raw = F.col(vec) if isinstance(vec, str) else vec
    scores = _arrow_multi_kernel(rows, mode)(raw)
    # Arrow's list conversion nulls NaN ELEMENTS (pa.Array.from_pandas
    # nan_as_null applies inside lists too). The kernel never emits a null
    # element on purpose — bad rows become a null ARRAY — so any null
    # element is a converted NaN score: coalesce it back to keep parity
    # with the native F.array(...) branch above.
    scores = F.transform(scores, lambda s: F.coalesce(s, F.lit(float("nan"))))
    if metric == "l2":
        scores = F.transform(scores, lambda s: F.sqrt(s))
    return scores


def _is_literal_vec(v: VectorLike) -> bool:
    return not isinstance(v, (str, Column)) and hasattr(v, "__len__")


def _unrolled_sum(terms) -> Column:
    """Left-deep + chain — the SAME addition order as the sequential fold,
    so results are bit-identical to the HOF form and the DuckDB oracle."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _sql_ref(v) -> "str | None":
    """SQL text for the vector column, or None when it can't be rendered.

    r16 (guide §4's boundary lesson at the DRIVER): building the unrolled
    chain out of ~dim × 7 Column operations costs one py4j round trip PER
    operation — ≈1 s of pure driver latency per 128-dim query plan, every
    time the query is planned. Rendering the whole chain as ONE SQL string
    and parsing it JVM-side (``F.expr``) builds the IDENTICAL expression
    tree (same GetArrayItem/Cast/Literal nodes, same left-deep + chain, so
    bit-identical results) in a single round trip. A name is quoted
    directly; a Column renders via its expression's canonical SQL (one
    py4j call — F.col(...) inputs round-trip exactly); anything that
    fails to render falls back to the per-term Column path."""
    if isinstance(v, str):
        return "`" + v.replace("`", "``") + "`"
    if isinstance(v, Column):
        try:
            return v._jc.expr().sql()
        except Exception:
            return None
    return None


def _dlit(x: float) -> str:
    """Exact SQL double literal: repr() round-trips IEEE doubles; the D
    suffix keeps Spark's parser on DOUBLE (bare decimals parse DECIMAL).
    NaN and ±inf have no literal syntax and render as a string cast."""
    x = float(x)
    return repr(x) + "D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _unrolled_expr(kind: str, raw, q) -> "Column | None":
    """One-shot parsed form of the unrolled literal-query chain; None when
    the inputs can't be rendered as SQL (caller falls back to Column ops).
    Term shapes mirror the Column builders below token-for-token."""
    base = _sql_ref(raw)
    if base is None:
        return None
    try:
        vals = [float(x) for x in q]
    except (TypeError, ValueError):
        return None
    if not all(math.isfinite(x) for x in vals):
        return None
    elem = [f"CAST({base}[{i}] AS DOUBLE)" for i in range(len(vals))]
    if kind == "sq_l2":
        terms = [
            f"({e} - {_dlit(x)}) * ({e} - {_dlit(x)})"
            for e, x in zip(elem, vals)
        ]
    elif kind == "dot":
        terms = [f"({e} * {_dlit(x)})" for e, x in zip(elem, vals)]
    elif kind == "norm_sq":
        # q is ignored beyond its length: Σ aᵢ·aᵢ over dim terms
        terms = [f"({e} * {e})" for e in elem]
    else:  # pragma: no cover - internal misuse
        return None
    chain = " + ".join(terms)  # + is left-associative: same fold order
    sql = f"CASE WHEN size({base}) = {len(vals)} THEN {chain} END"
    try:
        return F.expr(sql)
    except Exception:
        return None


# Wide literal queries scoring at most this many vector elements (rows_hint ×
# dim) use the native fold instead of the Arrow kernel. The fold has no
# fixed cost but is slower per row; the Arrow kernel pays for Python-worker
# start-up on every task. Measured with tools/fold_breakeven.py at local[2]
# on 4 vCPUs (the parallelism perfbench's ann_query uses there), 2-file
# tables, median of 9 queries per point; wall / CPU seconds of the driver,
# JVM and Python workers, with the crossing of the two linear fits:
#   dim 256, 4k-32k rows:  fold 0.32 s + 8.1 µs/row wall, 0.58 s + 28.2 µs/row
#     CPU; Arrow 0.45 s + 2.9 µs/row, 0.84 s + 20.1 µs/row; cross at 6.0M
#     elements wall, 8.0M CPU.
#   dim 256, 2k-64k rows:  cross at 14.1M wall, 26.3M CPU.
#   dim 1024, 1k-16k rows: fold 0.37 s + 27.3 µs/row, 0.69 s + 85.6 µs/row;
#     Arrow 0.39 s + 26.4 µs/row, 0.78 s + 77.9 µs/row; cross at 21.5M
#     wall, 12.5M CPU.
# The fits are loose (points a few hundredths of a second off the line), and
# point by point the two kernels are within noise of each other from about
# 4M elements at both dims; at 2M and below the fold led in every sweep but
# one wall-time point (dim 1024, 2M: 0.467 vs 0.455 s). The budget sits
# under all of that, where the fold led or was level in these sweeps.
# Other dims and parallelism are unmeasured. perfbench exercises only the
# fold side: ann_query's indexed ops score about 2.7k rows × 256 (0.7M
# elements), and its brute-force ops pass no hint.
FOLD_ELEMENT_BUDGET = 3_000_000


def _fold_expr(kind: str, raw, q, rows_hint: int | None) -> "Column | None":
    """The ``zip_with``/``aggregate`` fold of ``kind`` ("sq_l2" or "cosine")
    against a literal query, parsed from ONE SQL string (one py4j round
    trip, like ``_unrolled_expr``); None (use the Arrow kernel) when
    ``rows_hint`` is unknown or over the element budget, or when the vector
    column can't be rendered as SQL.

    Higher-order functions run interpreted (Spark's codegen calls back into
    the expression object), so the query literals never reach generated
    code: every query compiles to the same classes and hits the codegen
    cache. Inputs, per-element arithmetic and order match
    ``_arrow_fold_kernel`` term for term, so the doubles are bit-identical
    (a NaN may differ in its sign bit, which Spark ignores): a NULL vector
    or one of another length gives NULL, and a NULL element reads as NaN,
    there as here."""
    base = _sql_ref(raw)
    if rows_hint is None or rows_hint * len(q) > FOLD_ELEMENT_BUDGET or base is None:
        return None
    vals = [float(x) for x in q]
    qarr = "array(" + ", ".join(_dlit(x) for x in vals) + ")"
    pairs = f"zip_with(CAST({base} AS ARRAY<DOUBLE>), {qarr}, (x, y) -> "
    # The kernel gets a NULL element from pandas as NaN; the coalesce feeds
    # the fold the same value. zip_with pads a shorter vector with NULLs,
    # which the coalesce would turn into NaN too, so the size guard keeps
    # every dim-mismatched row NULL as in the kernel.
    x = "coalesce(x, CAST('NaN' AS DOUBLE))"
    if kind == "sq_l2":
        # t = aᵢ − qᵢ, acc + t·t: the kernel's d = mat[:, j] − q[j]; acc += d·d
        fold = f"aggregate({pairs}{x} - y), 0D, (acc, t) -> acc + t * t)"
    else:
        # cosine: Σaᵢqᵢ and Σaᵢ² in one pass, divided by ‖a‖·‖q‖ in the
        # finish lambda (so ‖q‖ stays out of generated code too). A zero
        # norm gives NaN, as in the kernel (and never an ANSI
        # DIVIDE_BY_ZERO).
        nq = 0.0
        for v in vals:  # the kernel's sequential fold of the literal
            nq += v * v
        den = f"(sqrt(acc.n) * {_dlit(np.sqrt(nq))})"
        fold = (
            f"aggregate({pairs}named_struct('d', {x} * y, 'n', {x} * {x})), "
            "named_struct('d', 0D, 'n', 0D), "
            "(acc, t) -> named_struct('d', acc.d + t.d, 'n', acc.n + t.n), "
            f"acc -> CASE WHEN {den} = 0 THEN CAST('NaN' AS DOUBLE) ELSE acc.d / {den} END)"
        )
    return F.expr(f"CASE WHEN size({base}) = {len(vals)} THEN {fold} END")


def squared_l2(
    a: VectorLike,
    b: VectorLike,
    *,
    dim_hint: int | None = None,
    rows_hint: int | None = None,
) -> Column:
    """Σ(aᵢ−bᵢ)² as a native column expression.

    ``dim_hint``: for COLUMN-vs-COLUMN inputs the width isn't knowable at
    plan time; callers that do know it (e.g. the IVF join reads it from the
    index meta) pass it so wide vectors route to the Arrow kernel instead
    of the interpreted fold. Results are bit-identical either way.

    ``rows_hint``: how many rows a wide LITERAL query scores
    (e.g. an IVF probe's candidate count). Within ``FOLD_ELEMENT_BUDGET``
    the native fold runs instead of the Arrow kernel, if ``a`` renders as
    SQL (a column name always does); None (unknown) keeps the Arrow
    kernel. Results are bit-identical either way.

    ≙ reference ``squared_l2_distance`` (src/ivf/index.rs:459-480). The
    fold is sequential left-to-right with a 0.0 initial accumulator, which
    is bit-equivalent to DuckDB's ``list_reduce`` fold (0.0 + x == x).

    Fast path: a literal query vector unrolls into a flat
    ``(a[0]−q₀)² + (a[1]−q₁)² + …`` expression — higher-order functions are
    interpreted row-at-a-time in Spark, but the unrolled chain runs inside
    whole-stage codegen (~10× on wide vectors). Addition order is identical,
    so both paths produce bit-identical doubles. A size guard keeps the
    dim-mismatch ⇒ NULL semantics of ``zip_with``.
    """
    if _is_literal_vec(b) and not _is_literal_vec(a) and 0 < len(b) <= UNROLL_LIMIT:
        # cast each extracted ELEMENT, never the whole array — an array cast
        # inside the unrolled chain would be re-evaluated (and re-allocated)
        # once per term
        fast = _unrolled_expr("sq_l2", a, b)
        if fast is not None:
            return fast
        raw = F.col(a) if isinstance(a, str) else a
        q = [float(x) for x in b]
        terms = [
            (raw.getItem(i).cast("double") - F.lit(qi))
            * (raw.getItem(i).cast("double") - F.lit(qi))
            for i, qi in enumerate(q)
        ]
        return F.when(F.size(raw) == len(q), _unrolled_sum(terms)).otherwise(F.lit(None))
    if _is_literal_vec(b) and not _is_literal_vec(a) and len(b) > UNROLL_LIMIT:
        fold = _fold_expr("sq_l2", a, b, rows_hint)
        if fold is not None:
            return fold
        raw = F.col(a) if isinstance(a, str) else a
        return _arrow_fold_kernel(b, "sq_l2")(raw)
    if (
        dim_hint is not None
        and dim_hint > UNROLL_LIMIT
        and not _is_literal_vec(a)
        and not _is_literal_vec(b)
    ):
        ra = F.col(a) if isinstance(a, str) else a
        rb = F.col(b) if isinstance(b, str) else b
        return _arrow_fold_kernel2("sq_l2")(ra, rb)
    ca, cb = _as_vector_col(a), _as_vector_col(b)
    diffs = F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def array_distance(
    a: VectorLike,
    b: VectorLike,
    *,
    dim_hint: int | None = None,
    rows_hint: int | None = None,
) -> Column:
    """Euclidean distance √Σ(aᵢ−bᵢ)².

    Same name + semantics as the DataFusion builtin the reference matches on
    (src/df_vector/physical.rs:198-229); the reference reports √d² on its
    direct path too (src/ivf/search.rs:133).
    """
    return F.sqrt(squared_l2(a, b, dim_hint=dim_hint, rows_hint=rows_hint))


def dot_product(a: VectorLike, b: VectorLike, *, dim_hint: int | None = None) -> Column:
    """Σ aᵢ·bᵢ as a native expression (basis for cosine). Same literal-query
    unrolled fast path (and bit-parity guarantee) as ``squared_l2``."""
    if _is_literal_vec(b) and not _is_literal_vec(a) and 0 < len(b) <= UNROLL_LIMIT:
        fast = _unrolled_expr("dot", a, b)
        if fast is not None:
            return fast
        raw = F.col(a) if isinstance(a, str) else a
        q = [float(x) for x in b]
        terms = [raw.getItem(i).cast("double") * F.lit(qi) for i, qi in enumerate(q)]
        return F.when(F.size(raw) == len(q), _unrolled_sum(terms)).otherwise(F.lit(None))
    if _is_literal_vec(b) and not _is_literal_vec(a) and len(b) > UNROLL_LIMIT:
        raw = F.col(a) if isinstance(a, str) else a
        return _arrow_fold_kernel(b, "dot")(raw)
    if (
        dim_hint is not None
        and dim_hint > UNROLL_LIMIT
        and not _is_literal_vec(a)
        and not _is_literal_vec(b)
    ):
        ra = F.col(a) if isinstance(a, str) else a
        rb = F.col(b) if isinstance(b, str) else b
        return _arrow_fold_kernel2("dot")(ra, rb)
    ca, cb = _as_vector_col(a), _as_vector_col(b)
    prods = F.zip_with(ca, cb, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: VectorLike, dim: int | None = None) -> Column:
    """‖a‖. With a known ``dim`` (≤ UNROLL_LIMIT) the square-sum unrolls into
    codegen like the other kernels; otherwise an interpreted fold."""
    if _is_literal_vec(a):
        try:
            # r16: fold the literal norm in Python instead of shipping ~dim
            # F.lit calls for Catalyst to constant-fold to the same double —
            # identical left-to-right IEEE-double fold + correctly-rounded
            # sqrt (math.sqrt ≡ Math.sqrt), so the Literal is bit-equal.
            acc = 0.0
            for x in a:
                xf = float(x)
                acc = acc + xf * xf
            return F.lit(float("nan") if math.isnan(acc) else math.sqrt(acc))
        except (TypeError, ValueError):
            pass
        ca = _as_vector_col(a)
        dim = None  # literal folds at plan time anyway
    else:
        raw = F.col(a) if isinstance(a, str) else a
        ca = raw.cast("array<double>")
        if dim is not None and 0 < dim <= UNROLL_LIMIT:
            fast = _unrolled_expr("norm_sq", a, [0.0] * dim)
            if fast is not None:
                return F.sqrt(fast)
            terms = [
                raw.getItem(i).cast("double") * raw.getItem(i).cast("double")
                for i in range(dim)
            ]
            sq = F.when(F.size(raw) == dim, _unrolled_sum(terms)).otherwise(F.lit(None))
            return F.sqrt(sq)
    sq = F.aggregate(F.transform(ca, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    return F.sqrt(sq)


def cosine_similarity(
    a: VectorLike,
    b: VectorLike,
    *,
    dim_hint: int | None = None,
    rows_hint: int | None = None,
) -> Column:
    """cos(a,b) = a·b / (‖a‖‖b‖). Beyond the reference surface (it is
    L2-only, SURVEY.md §2 'explicitly absent'), needed by the near-dup and
    ANN extension operators. A literal query fixes the dimension, letting
    the column-side norm unroll into codegen too. Wide literal queries
    (dim > UNROLL_LIMIT) run one fused pass — the native fold within the
    ``rows_hint`` budget (see ``squared_l2``), the Arrow kernel otherwise —
    not three."""
    if _is_literal_vec(b) and not _is_literal_vec(a) and len(b) > UNROLL_LIMIT:
        fold = _fold_expr("cosine", a, b, rows_hint)
        if fold is not None:
            return fold
        raw = F.col(a) if isinstance(a, str) else a
        return _arrow_fold_kernel(b, "cosine")(raw)
    if (
        dim_hint is not None
        and dim_hint > UNROLL_LIMIT
        and not _is_literal_vec(a)
        and not _is_literal_vec(b)
    ):
        ra = F.col(a) if isinstance(a, str) else a
        rb = F.col(b) if isinstance(b, str) else b
        return _arrow_fold_kernel2("cosine")(ra, rb)
    dim = len(b) if _is_literal_vec(b) and not _is_literal_vec(a) else None
    denom = l2_norm(a, dim=dim) * l2_norm(b)
    # zero-norm input ⇒ 0/0: ANSI mode would raise DIVIDE_BY_ZERO, but a
    # zero norm forces dot == 0 too, so the IEEE (and numpy/DuckDB/Arrow-
    # kernel) answer is NaN — emit it explicitly. NULL vectors still give
    # NULL (denom == 0 is NULL there, so the otherwise branch's division
    # propagates the NULL without evaluating a /0).
    return F.when(denom == 0, F.lit(float("nan"))).otherwise(dot_product(a, b) / denom)


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the distance functions to SQL text queries.

    ≙ the reference registering its rewrite + array functions on the session
    (src/df_vector/session.rs:16-35). Implemented as named lambda-free SQL
    wrappers over the same native expressions so ``spark.sql("... ORDER BY
    array_distance(vec, array(...)) ...")`` works verbatim.
    """
    sq_expr = (
        "aggregate(zip_with(cast(a as array<double>), cast(b as array<double>),"
        " (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    dot_expr = (
        "aggregate(zip_with(cast(a as array<double>), cast(b as array<double>),"
        " (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    norm = (
        "sqrt(aggregate(transform(cast({v} as array<double>), x -> x * x),"
        " cast(0.0 as double), (acc, x) -> acc + x))"
    )
    cos_denom = f"({norm.format(v='a')} * {norm.format(v='b')})"
    defs = {
        "squared_l2": sq_expr,
        "array_distance": f"sqrt({sq_expr})",
        "dot_product": dot_expr,
        # zero-norm ⇒ 0/0 ⇒ NaN (never an ANSI DIVIDE_BY_ZERO; NULL stays
        # NULL: a NULL denom makes the CASE take the ELSE branch whose
        # division propagates it). The O(d) denominator is bound ONCE via a
        # single-element transform lambda — Catalyst's subexpression
        # elimination does not dedupe across CASE branches, so the naive
        # CASE form evaluated both norms twice per row.
        "cosine_similarity": (
            f"transform(array({cos_denom}), _pq_d -> "
            f"CASE WHEN _pq_d = 0 THEN cast('NaN' as double) "
            f"ELSE {dot_expr} / _pq_d END)[0]"
        ),
    }
    for name, expr in defs.items():
        try:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) "
                f"RETURNS DOUBLE RETURN {expr}"
            )
        except Exception:
            # Spark build without SQL scalar UDFs: the DataFrame-API
            # functions above still work, and pq_sql() rewrites
            # array_distance calls into them itself.
            pass
