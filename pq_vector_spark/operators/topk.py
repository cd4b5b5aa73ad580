"""Top-k nearest-neighbor operators.

Brute force ≙ the reference's canonical query
``SELECT … ORDER BY array_distance(vec, [q]) LIMIT k``
(reference: src/df_vector/tests.rs:76-81) — expressed as
``orderBy(distance).limit(k)`` which Spark compiles to
``TakeOrderedAndProject``: a per-partition bounded k-heap + driver merge,
i.e. exactly the distributed generalization of the reference's bounded
max-heap (src/ivf/search.rs:112-127, src/df_vector/exec.rs:457-484). No
shuffle of the data — each scan task keeps k rows, only n_partitions×k rows
travel to the driver. At 100 TB this is the optimal exact plan.

``topk`` dispatches to the IVF-indexed path when a sidecar index exists
(≙ the reference's physical rewrite firing when the file carries an index,
src/df_vector/physical.rs:20-229), else brute force.

Every vector top-k ranks through this module: ``rank_order`` is the one
ordering rule, applied by ``global_topk``, ``per_query_topk`` and the
two-stage ``shortlist_rerank`` (PQ, IVF-PQ and binary search).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import array_distance
from pq_vector_spark.session import VectorTopKOptions

DISTANCE_COL = "_pq_distance"


def rank_order(
    score: str, *, descending: bool = False, tie_break: Optional[str] = None
) -> list:
    """Sort keys of the one ranking rule: ``score`` ascending with NULL
    (unscored) rows last, or descending (``desc()`` is NULLS LAST; Spark
    orders NaN above every double), then ``tie_break`` ascending. A top-k
    returns an unscored row only when fewer than k rows score; the
    reference skips them (src/df_vector/exec.rs:495-528)."""
    order = [F.col(score).desc() if descending else F.col(score).asc_nulls_last()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return order


def global_topk(
    df: DataFrame,
    score: str,
    k: int,
    *,
    descending: bool = False,
    tie_break: Optional[str] = None,
    keep_score: bool = True,
) -> DataFrame:
    """The k best rows by ``rank_order``. ``orderBy().limit(k)`` plans as
    ``TakeOrderedAndProject``: a bounded heap per partition, merged on the
    driver (≙ the reference's k-heap, src/ivf/search.rs:112-127)."""
    order = rank_order(score, descending=descending, tie_break=tie_break)
    out = df.orderBy(*order).limit(k)
    return out if keep_score else out.drop(score)


def per_query_topk(
    df: DataFrame,
    query: str,
    score: str,
    k: int,
    *,
    descending: bool = False,
    tie_break: Optional[str] = None,
) -> DataFrame:
    """The k best rows of each ``query`` group by ``rank_order``, numbered
    in an int ``rank`` column; Spark 4 plans the ``rank <= k`` filter as a
    per-partition WindowGroupLimit."""
    order = rank_order(score, descending=descending, tie_break=tie_break)
    w = Window.partitionBy(query).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def shortlist_rerank(
    df: DataFrame,
    approx_col: str,
    approx: Column,
    distance: Column,
    c: int,
    k: int,
    *,
    tie_break: Optional[str] = None,
    raw: Optional[DataFrame] = None,
    id_col: Optional[str] = None,
    keep_distance: bool = False,
) -> DataFrame:
    """The ``c`` best rows by the approximate score ``approx`` (column
    ``approx_col``, dropped from the output), re-scored by the exact
    ``distance`` into ``DISTANCE_COL``, then the k best. With ``raw``, only
    the shortlist's ``id_col`` values leave stage one: they are broadcast
    into ``raw``, whose rows are re-scored."""
    cand = df.withColumn(approx_col, approx)
    cand = global_topk(cand, approx_col, c, tie_break=tie_break)
    if raw is not None:
        cand = raw.join(F.broadcast(cand.select(id_col)), id_col)
    out = global_topk(
        cand.withColumn(DISTANCE_COL, distance), DISTANCE_COL, k,
        tie_break=tie_break, keep_score=keep_distance,
    )
    return out.drop(approx_col)


def brute_force_topk(
    df: DataFrame,
    column: str,
    query: Sequence[float],
    k: int,
    *,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
    pre_filter: Optional[Column] = None,
) -> DataFrame:
    """Exact k-NN: distance expr → orderBy → limit.

    ``tie_break``: optional secondary sort column for deterministic results
    on equal distances (needed by the hash-matching oracle, SURVEY.md §2.C).
    ``pre_filter``: predicate applied before ranking (reference test
    semantics: WHERE clauses rank only surviving rows,
    src/df_vector/tests.rs:152-241).
    """
    out = df if pre_filter is None else df.filter(pre_filter)
    # string name, not F.col(...): lets the one-shot SQL render fire (r16)
    out = out.withColumn(DISTANCE_COL, array_distance(column, list(query)))
    return global_topk(
        out, DISTANCE_COL, k, tie_break=tie_break, keep_score=keep_distance
    )


def topk(
    df_or_path,
    column: str,
    query: Sequence[float],
    k: int,
    *,
    spark=None,
    options: Optional[VectorTopKOptions] = None,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
) -> DataFrame:
    """Main entry point ≙ reference ``TopkBuilder`` (src/ivf/search.rs:47-81)
    + the SQL rewrite target (src/df_vector/physical.rs).

    Given a *path*, uses the sidecar IVF index when present (candidate-pruned
    scan, reference lifecycle §3.2) and falls back to exact brute force when
    absent. Given a DataFrame, runs brute force (no file identity to carry
    an index).
    """
    from pq_vector_spark.index.build import has_index
    from pq_vector_spark.index.search import indexed_topk

    if isinstance(df_or_path, str):
        assert spark is not None, "pass spark= when giving a path"
        if has_index(df_or_path, spark=spark):
            return indexed_topk(
                spark,
                df_or_path,
                query,
                k,
                column=column,
                options=options,
                tie_break=tie_break,
                keep_distance=keep_distance,
            )
        df_or_path = spark.read.parquet(df_or_path)
    return brute_force_topk(
        df_or_path, column, query, k, tie_break=tie_break, keep_distance=keep_distance
    )
