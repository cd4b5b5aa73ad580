"""Kernel checks ≙ reference unit level (src/ivf/index.rs:487-493)."""

import math

import pytest
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import (
    array_distance,
    cosine_similarity,
    dot_product,
    l2_norm,
    squared_l2,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_squared_l2_numeric(spark):
    # ≙ reference squared_l2_distance test (src/ivf/index.rs:487-493)
    a, b = [1.0, 2.0, 3.0], [4.0, 6.0, 8.0]
    assert _one(spark, squared_l2(a, b)) == pytest.approx(9 + 16 + 25)


def test_array_distance_is_sqrt(spark):
    a, b = [0.0, 0.0], [3.0, 4.0]
    assert _one(spark, array_distance(a, b)) == pytest.approx(5.0)


def test_dot_and_norm_and_cosine(spark):
    a, b = [1.0, 0.0], [1.0, 1.0]
    assert _one(spark, dot_product(a, b)) == pytest.approx(1.0)
    assert _one(spark, l2_norm(b)) == pytest.approx(math.sqrt(2))
    assert _one(spark, cosine_similarity(a, b)) == pytest.approx(1 / math.sqrt(2))


def test_null_vector_gives_null_distance(spark):
    # query-time silent-skip semantics (src/df_vector/exec.rs:495-528)
    df = spark.createDataFrame([(1, None)], "id INT, vec ARRAY<FLOAT>")
    row = df.select(array_distance(F.col("vec"), [1.0, 2.0]).alias("d")).collect()[0]
    assert row["d"] is None


def test_dim_mismatch_gives_null(spark):
    # zip_with pads with NULL on length mismatch → NULL distance → row drops
    df = spark.createDataFrame([(1, [1.0])], "id INT, vec ARRAY<FLOAT>")
    row = df.select(array_distance(F.col("vec"), [1.0, 2.0]).alias("d")).collect()[0]
    assert row["d"] is None


def test_sql_registration(spark):
    got = spark.sql(
        "SELECT array_distance(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS d"
    ).collect()[0]["d"]
    assert got == pytest.approx(5.0)


# ---------------- wide-vector Arrow kernel (round-2) ----------------


def test_wide_literal_arrow_kernel_bit_exact(spark):
    """dim > UNROLL_LIMIT routes to the Arrow numpy kernel; per-dimension
    left-to-right accumulation must be BIT-identical to the HOF fold."""
    import numpy as np

    from pq_vector_spark.functions.distance import (
        UNROLL_LIMIT,
        array_distance,
        cosine_similarity,
        dot_product,
    )

    dim = UNROLL_LIMIT + 72
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.random(dim, dtype=np.float32)]) for i in range(50)]
    df = spark.createDataFrame(rows, "id INT, v ARRAY<FLOAT>")
    q = [float(x) for x in rng.random(dim, dtype=np.float32)]

    qcol = F.array(*[F.lit(float(x)) for x in q])
    for fast, slow in (
        (array_distance(F.col("v"), q), array_distance(F.col("v").cast("array<double>"), qcol)),
        (dot_product(F.col("v"), q), dot_product(F.col("v").cast("array<double>"), qcol)),
        (cosine_similarity(F.col("v"), q), cosine_similarity(F.col("v").cast("array<double>"), qcol)),
    ):
        got = df.select(F.col("id"), fast.alias("x"), slow.alias("y")).collect()
        for r in got:
            assert r["x"] == r["y"], f"id={r['id']}: {r['x']!r} != {r['y']!r}"


def test_wide_literal_dim_mismatch_is_null(spark):
    import numpy as np

    from pq_vector_spark.functions.distance import UNROLL_LIMIT, array_distance

    dim = UNROLL_LIMIT + 8
    rng = np.random.default_rng(4)
    rows = [
        (0, [float(x) for x in rng.random(dim)]),
        (1, [1.0, 2.0]),  # wrong dim
        (2, None),
    ]
    df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
    q = [float(x) for x in rng.random(dim)]
    got = {r["id"]: r["d"] for r in df.select("id", array_distance(F.col("v"), q).alias("d")).collect()}
    assert got[0] is not None
    assert got[1] is None
    assert got[2] is None

# ---------------- two-column wide kernel (dim_hint, round-2) ----------------


def test_col_col_dim_hint_bit_exact(spark):
    """dim_hint > UNROLL_LIMIT routes column-vs-column distances to the
    two-column Arrow kernel; accumulation order matches the HOF fold, so
    results must be BIT-identical."""
    import numpy as np

    from pq_vector_spark.functions.distance import (
        UNROLL_LIMIT,
        array_distance,
        cosine_similarity,
        dot_product,
    )

    dim = UNROLL_LIMIT + 40
    rng = np.random.default_rng(7)
    rows = [
        (
            i,
            [float(x) for x in rng.random(dim, dtype=np.float32)],
            [float(x) for x in rng.random(dim, dtype=np.float32)],
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id INT, a ARRAY<FLOAT>, b ARRAY<FLOAT>")

    for fn in (array_distance, dot_product, cosine_similarity):
        got = df.select(
            "id",
            fn(F.col("a"), F.col("b"), dim_hint=dim).alias("x"),
            fn(F.col("a"), F.col("b")).alias("y"),
        ).collect()
        for r in got:
            assert r["x"] == r["y"], f"{fn.__name__} id={r['id']}: {r['x']!r} != {r['y']!r}"


def test_col_col_dim_hint_null_and_mismatch(spark):
    """Nulls and length mismatches give NULL, matching zip_with semantics."""
    import numpy as np

    from pq_vector_spark.functions.distance import UNROLL_LIMIT, array_distance

    dim = UNROLL_LIMIT + 8
    rng = np.random.default_rng(8)
    v = [float(x) for x in rng.random(dim)]
    rows = [(0, v, v), (1, v, [1.0, 2.0]), (2, None, v), (3, v, None)]
    df = spark.createDataFrame(rows, "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", array_distance(F.col("a"), F.col("b"), dim_hint=dim).alias("d")
        ).collect()
    }
    assert got[0] == pytest.approx(0.0)
    assert got[1] is None
    assert got[2] is None
    assert got[3] is None


def test_col_col_dim_hint_routes_to_arrow(spark):
    """A wide dim_hint must produce a pandas-UDF plan (ArrowEvalPython),
    not the interpreted HOF fold."""
    from pq_vector_spark.functions.distance import UNROLL_LIMIT, squared_l2

    dim = UNROLL_LIMIT + 1
    df = spark.createDataFrame([(1, [0.0] * dim, [0.0] * dim)], "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    plan = (
        df.select(squared_l2(F.col("a"), F.col("b"), dim_hint=dim).alias("d"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_multi_distances_validation(spark):
    from pq_vector_spark.functions.distance import multi_distances

    with pytest.raises(ValueError, match="at least one"):
        multi_distances(F.col("v"), [])
    with pytest.raises(ValueError, match="share one dimension"):
        multi_distances(F.col("v"), [[1.0, 2.0], [1.0]])
    with pytest.raises(ValueError, match="unknown metric"):
        multi_distances(F.col("v"), [[1.0, 2.0]], metric="manhattan")


# ---------------- NaN preservation across the codegen boundary (round-3) ----


def test_nan_scores_survive_arrow_kernels(spark):
    """Legitimate NaN scores (cosine with a zero-norm column vector) must
    stay NaN through the Arrow kernels, exactly as the native fold yields
    NaN — only dim-mismatch/null rows become NULL. Spark ranks NaN above
    every double while NULL is filtered/sorted last, so coercing NaN to
    NULL would silently change top-k rankings across the UNROLL_LIMIT
    boundary."""
    import math

    import numpy as np

    from pq_vector_spark.functions.distance import UNROLL_LIMIT, cosine_similarity

    for dim in (4, UNROLL_LIMIT + 8):  # native fold vs Arrow kernel
        rows = [
            (0, [0.0] * dim),            # zero norm -> 0/0 = NaN
            (1, [1.0] + [0.0] * (dim - 1)),
            (2, None),                    # null -> NULL
            (3, [1.0, 2.0, 3.0]) if dim > 4 else (3, [1.0] * dim),
        ]
        df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
        q = [1.0] + [0.0] * (dim - 1)
        got = {
            r["id"]: r["c"]
            for r in df.select("id", cosine_similarity(F.col("v"), q).alias("c")).collect()
        }
        assert got[0] is not None and math.isnan(got[0]), f"dim={dim}: {got[0]!r}"
        assert got[1] == pytest.approx(1.0)
        assert got[2] is None
        if dim > 4:
            assert got[3] is None  # dim mismatch -> NULL, not NaN


def test_nan_scores_survive_multi_kernel(spark):
    """multi_distances cosine: a zero-norm corpus row must score NaN for
    every query in BOTH the native F.array branch and the Arrow matrix
    kernel (Arrow nulls NaN inside lists; the kernel coalesces them back)."""
    import math

    import numpy as np

    from pq_vector_spark.functions.distance import MULTI_UNROLL_BUDGET, UNROLL_LIMIT, multi_distances

    wide = UNROLL_LIMIT + 16
    for dim in (4, wide):
        n_q = 3
        rng = np.random.default_rng(7)
        qmat = [[float(x) for x in rng.random(dim)] for _ in range(n_q)]
        rows = [(0, [0.0] * dim), (1, [float(x) for x in rng.random(dim)])]
        df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
        got = {
            r["id"]: r["s"]
            for r in df.select(
                "id", multi_distances(F.col("v"), qmat, metric="cosine").alias("s")
            ).collect()
        }
        assert all(s is not None and math.isnan(s) for s in got[0]), f"dim={dim}: {got[0]!r}"
        assert all(s is not None and not math.isnan(s) for s in got[1])


# ---------------- native fold for small wide-vector row sets ----------------


def _executed_plan(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _same_double(x, y):
    """Bit-for-bit equality, with NULL == NULL and NaN == NaN (numpy's 0/0
    and the JVM's NaN differ in the sign bit; Spark treats all NaNs alike)."""
    import struct

    if x is None or y is None:
        return x is None and y is None
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return struct.pack("<d", x) == struct.pack("<d", y)


def _wide_rows(dim, n=40, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim).astype(np.float32)]) for i in range(n)]
    rows += [
        (n, None),                                  # NULL vector -> NULL
        (n + 1, [1.0, 2.0]),                        # dim mismatch -> NULL
        (n + 2, [0.0] * dim),                       # zero norm -> NaN cosine
        (n + 3, [1.0, None] + [0.5] * (dim - 2)),   # NULL element -> NaN
    ]
    q = [float(x) for x in rng.normal(size=dim).astype(np.float32)]
    return rows, q


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_rows_hint_fold_bit_exact_without_python(spark, ansi):
    """A wide literal query with a rows_hint inside the element budget runs
    the native fold: no Python evaluation node in the plan, and every
    distance bit-identical to the Arrow kernel, NULL / dim-mismatch /
    zero-norm / NULL-element rows included, and for queries holding NaN or
    ±inf (rendered as string casts), with and without ANSI mode."""
    from pq_vector_spark.functions.distance import UNROLL_LIMIT

    dim = 2 * UNROLL_LIMIT
    rows, q = _wide_rows(dim)
    n = len(rows) - 4
    df = spark.createDataFrame(rows, "id INT, v ARRAY<FLOAT>")
    queries = [q] + [[x] + q[1:] for x in (float("nan"), float("inf"), float("-inf"))]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        for qq in queries:
            for fn in (array_distance, squared_l2, cosine_similarity):
                fold = df.select("id", fn("v", qq, rows_hint=len(rows)).alias("d"))
                plan = _executed_plan(fold)
                assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, fn
                arrow = dict(df.select("id", fn("v", qq).alias("d")).collect())
                got = dict(fold.collect())
                bad = [i for i in got if not _same_double(got[i], arrow[i])]
                assert not bad, f"{fn.__name__} q[0]={qq[0]}: ids {bad} differ from the Arrow kernel"
                assert got[n] is None and got[n + 1] is None
                assert math.isnan(got[n + 3])
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    zero = df.filter(f"id = {n + 2}").select(cosine_similarity("v", q, rows_hint=1)).first()[0]
    assert math.isnan(zero)


def test_rows_hint_over_budget_keeps_arrow_kernel(spark):
    """Beyond FOLD_ELEMENT_BUDGET (or without a hint) the Arrow kernel runs."""
    from pq_vector_spark.functions.distance import FOLD_ELEMENT_BUDGET, UNROLL_LIMIT

    dim = 2 * UNROLL_LIMIT
    rows, q = _wide_rows(dim, n=4)
    df = spark.createDataFrame(rows, "id INT, v ARRAY<FLOAT>")
    over = FOLD_ELEMENT_BUDGET // dim + 1
    for hint in (over, None):
        for fn in (array_distance, cosine_similarity):
            plan = _executed_plan(df.select(fn("v", q, rows_hint=hint).alias("d")))
            assert "ArrowEvalPython" in plan, (fn, hint)
    at_budget = FOLD_ELEMENT_BUDGET // dim
    plan = _executed_plan(df.select(array_distance("v", q, rows_hint=at_budget).alias("d")))
    assert "ArrowEvalPython" not in plan


def test_fold_query_literals_stay_out_of_generated_code(spark):
    """Two different wide queries through the fold compile no new classes
    after the first: the query lives in the interpreted fold, not in
    generated code."""
    import numpy as np

    from pq_vector_spark.functions.distance import UNROLL_LIMIT

    dim = 2 * UNROLL_LIMIT
    rows, _ = _wide_rows(dim, n=8)
    df = spark.createDataFrame(rows, "id INT, v ARRAY<FLOAT>")
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    rng = np.random.default_rng(5)
    counts = []
    for _ in range(3):
        q = [float(x) for x in rng.normal(size=dim)]
        df.select("id", array_distance("v", q, rows_hint=8).alias("d")).orderBy("d").collect()
        counts.append(metrics.METRIC_COMPILATION_TIME().getCount())
    assert counts[0] == counts[-1]
