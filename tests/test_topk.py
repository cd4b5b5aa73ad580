"""Golden end-to-end top-k tests — same data and expected ids as the
reference's SQL tests (src/df_vector/tests.rs:16-104, 152-241)."""

import math

from pyspark.sql import functions as F

from pq_vector_spark.operators.topk import brute_force_topk


def _ids(df):
    return [r["id"] for r in df.select("id").collect()]


def test_canonical_knn(golden_vectors):
    # nearest to origin: id 0 (0.0), id 5 (~0.141), id 1 (1.0), ...
    out = brute_force_topk(golden_vectors, "vec", [0.0, 0.0], 3, tie_break="id")
    assert _ids(out) == [0, 5, 1]


def test_filtered_knn_matches_reference(golden_vectors):
    # ≙ tests.rs:77-99: WHERE id >= 2 ORDER BY dist LIMIT 2 ⇒ [5, 2]
    out = brute_force_topk(
        golden_vectors, "vec", [0.0, 0.0], 2, tie_break="id", pre_filter=F.col("id") >= 2
    )
    assert _ids(out) == [5, 2]


def test_keep_distance_column(golden_vectors):
    out = brute_force_topk(
        golden_vectors, "vec", [0.0, 0.0], 1, keep_distance=True
    ).collect()
    assert out[0]["_pq_distance"] == 0.0


def test_plan_is_take_ordered(golden_vectors):
    """The physical plan must be TakeOrderedAndProject (distributed bounded
    k-heap), not a full sort — ≙ the reference replacing Sort+Limit
    (src/df_vector/physical.rs). Plan-shape assertion stands in for the
    reference's snapshot tests (SURVEY.md §5)."""
    out = brute_force_topk(golden_vectors, "vec", [0.0, 0.0], 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_topk_sorts_null_distances_last(spark):
    """Rows without a distance (NULL vector, dim mismatch) rank after every
    scored row instead of first (Spark's asc() is NULLS FIRST)."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, None), (3, [5.0])], "id INT, v ARRAY<FLOAT>"
    )
    got = brute_force_topk(df, "v", [0.0, 0.0], 2, tie_break="id", keep_distance=True)
    assert [(r["id"], r["_pq_distance"]) for r in got.collect()] == [(0, 0.0), (1, math.sqrt(2))]
