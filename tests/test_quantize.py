"""Scalar int8 quantization tests (functions/quantize.py): code range,
reconstruction error bound, constant vectors, distance parity, top-k
recall sanity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import array_distance
from pq_vector_spark.functions.quantize import (
    dequantize,
    quantize_vectors,
    quantized_distance,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(21)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=16).astype(np.float32)])
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")


def test_codes_in_tinyint_range_and_bounded_error(spark, vecs):
    qz = quantize_vectors(vecs, "embedding")
    rows = qz.select("embedding", "q_codes", "q_mn", "q_scale",
                     dequantize().alias("deq")).collect()
    for r in rows:
        assert all(-128 <= c <= 127 for c in r["q_codes"])
        # max reconstruction error is half a quantization step
        for orig, deq in zip(r["embedding"], r["deq"]):
            assert abs(float(orig) - deq) <= r["q_scale"] / 2 + 1e-9


def test_constant_vector_roundtrips_exactly(spark):
    df = spark.createDataFrame([(1, [2.5, 2.5, 2.5])], "vec_id INT, embedding ARRAY<FLOAT>")
    row = quantize_vectors(df, "embedding").select(
        "q_codes", dequantize().alias("deq")
    ).collect()[0]
    assert row["q_codes"] == [-128, -128, -128]
    assert row["deq"] == [2.5, 2.5, 2.5]


def test_wide_kernel_bit_identical_to_hof_fold(spark, tmp_path):
    """Above UNROLL_LIMIT the Arrow kernel takes over; its per-dimension
    left-to-right accumulation must reproduce the HOF fold EXACTLY
    (repr-level equality of every double). Runs over a STORED quantized
    table — the kernel's documented contract (quantize → write → scan)."""
    from pq_vector_spark.functions.distance import UNROLL_LIMIT

    dim = UNROLL_LIMIT + 32
    rng = np.random.default_rng(31)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=dim).astype(np.float32)])
        for i in range(50)
    ]
    out = str(tmp_path / "sq8")
    quantize_vectors(
        spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>"),
        "embedding",
    ).write.mode("overwrite").parquet(out)
    df = spark.read.parquet(out)
    q = rows[0][1]
    wide = {
        r["vec_id"]: r["d"]
        for r in df.select("vec_id", quantized_distance(q).alias("d")).collect()
    }
    # force the HOF path for the same data by calling the fold directly
    qlit = F.array(*[F.lit(float(v)).cast("double") for v in q])
    diff = F.zip_with(
        F.col("q_codes"), qlit,
        lambda c, qi: (F.col("q_mn") + (c.cast("double") + F.lit(128.0)) * F.col("q_scale")) - qi,
    )
    hof = {
        r["vec_id"]: r["d"]
        for r in df.select(
            "vec_id",
            F.sqrt(F.aggregate(diff, F.lit(0.0), lambda a, d: a + d * d)).alias("d"),
        ).collect()
    }
    assert {k: repr(v) for k, v in wide.items()} == {k: repr(v) for k, v in hof.items()}


def test_quantized_distance_close_to_exact_and_recall(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    qz = quantize_vectors(vecs, "embedding")
    both = qz.select(
        "vec_id",
        array_distance(F.col("embedding"), [float(x) for x in q]).alias("d"),
        quantized_distance([float(x) for x in q]).alias("qd"),
    ).collect()
    for r in both:
        assert abs(r["d"] - r["qd"]) < 0.05 * 16 ** 0.5 + 0.02
    k = 20
    exact = [r["vec_id"] for r in sorted(both, key=lambda r: (r["d"], r["vec_id"]))][:k]
    approx = [r["vec_id"] for r in sorted(both, key=lambda r: (r["qd"], r["vec_id"]))][:k]
    assert len(set(exact) & set(approx)) / k >= 0.8  # SQ8 keeps neighborhoods


def test_binary_quantize_golden_and_hamming(spark):
    """Sign-bit packing (r13): known vector → known words (32 bits per
    long, sign-safe), hamming = bit_count of xor, driver twin matches."""
    from pq_vector_spark.functions.quantize import (
        binary_quantize,
        hamming_distance,
        pack_query_bits,
    )

    df = spark.createDataFrame(
        [(0, [1.0, -1.0, 0.0, 2.0])], "vid: bigint, emb: array<float>"
    )
    assert df.select(binary_quantize("emb", 4).alias("w")).collect()[0]["w"] == [9]
    assert pack_query_bits([1.0, -1.0, 0.0, 2.0]) == [9]
    # 40 dims → two words; bit 39 lands in word 2 bit 7
    v40 = [-1.0] * 39 + [5.0]
    df40 = spark.createDataFrame([(0, v40)], "vid: bigint, emb: array<float>")
    got = df40.select(binary_quantize("emb", 40).alias("w")).collect()[0]["w"]
    assert got == pack_query_bits(v40) == [0, 1 << 7]
    d2 = spark.createDataFrame([([9], [10])], "a: array<bigint>, b: array<bigint>")
    assert d2.select(hamming_distance("a", "b").alias("h")).collect()[0]["h"] == 2
    import pytest

    with pytest.raises(ValueError, match="dim"):
        binary_quantize("emb", 0)


def test_binary_topk_clustered_recall_and_plan(spark):
    """On clustered data (sign structure shared within a cluster) the
    Hamming shortlist recovers the exact top-k; a pre-materialized bq
    column gives identical results; the plan is two bounded heaps."""
    import numpy as np

    from pq_vector_spark.functions.quantize import binary_quantize, binary_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pyspark.sql import functions as F

    rng = np.random.default_rng(9)
    centers = rng.choice([-3.0, 3.0], size=(8, 32))
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in c + rng.normal(scale=0.3, size=32)]))
    emb = spark.createDataFrame(rows, "vid: bigint, emb: array<float>")
    q = rows[5][1]
    want = [r["vid"] for r in brute_force_topk(emb, "emb", q, 10, tie_break="vid").collect()]
    got = [
        r["vid"]
        for r in binary_topk(emb, "emb", q, 10, oversample=8, tie_break="vid").collect()
    ]
    assert len(set(got) & set(want)) >= 9  # near-exact on sign-structured data
    pre = emb.withColumn("bqw", binary_quantize("emb", 32))
    got2 = [
        r["vid"]
        for r in binary_topk(
            pre, "emb", q, 10, oversample=8, bq_col="bqw", tie_break="vid"
        ).collect()
    ]
    assert got2 == got
    plan = (
        binary_topk(emb, "emb", q, 5, tie_break="vid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("TakeOrderedAndProject") >= 2
    import pytest

    with pytest.raises(ValueError, match="oversample"):
        binary_topk(emb, "emb", q, 5, oversample=0)


def test_binary_topk_with_fetch_matches_single_table(spark):
    """The words-only + broadcast-fetch split (the at-scale layout — the
    shortlist scan never touches float vectors) returns the same top-k
    as the single-table form."""
    import numpy as np

    from pq_vector_spark.functions.quantize import (
        binary_quantize,
        binary_topk,
        binary_topk_with_fetch,
    )

    rng = np.random.default_rng(13)
    centers = rng.choice([-3.0, 3.0], size=(6, 32))
    rows = [
        (i, [float(x) for x in centers[i % 6] + rng.normal(scale=0.3, size=32)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    words = emb.select(
        "vec_id", binary_quantize("embedding", 32).alias("bq_words")
    )
    q = rows[11][1]
    a = [
        r["vec_id"]
        for r in binary_topk_with_fetch(
            words, emb, "embedding", "vec_id", q, 10, oversample=8,
            tie_break="vec_id",
        ).select("vec_id").collect()
    ]
    pre = emb.withColumn("bq_words", binary_quantize("embedding", 32))
    b = [
        r["vec_id"]
        for r in binary_topk(
            pre, "embedding", q, 10, oversample=8, bq_col="bq_words",
            tie_break="vec_id",
        ).select("vec_id").collect()
    ]
    assert a == b and len(a) == 10


def test_binary_topk_shortlist_skips_unscored_rows(spark):
    """Rows without a vector have no Hamming distance. The shortlist ranks
    them after every scored row, so they cannot crowd the scored rows out
    of the ``k * oversample`` candidates; both stages break ties on the id
    (``tie_break``, else ``id_col``)."""
    from pq_vector_spark.functions.quantize import (
        binary_quantize,
        binary_topk,
        binary_topk_with_fetch,
    )

    rows = [(i, None) for i in range(8)] + [
        (100 + i, [float(i), float(i)]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "id INT, v ARRAY<FLOAT>")
    q = [1.0, 1.0]
    # 101 is at distance 0; 100 and 102 tie at sqrt(2) and the id decides
    got = binary_topk(df, "v", q, 2, oversample=4, tie_break="id").collect()
    assert [r["id"] for r in got] == [101, 100]
    words = df.select("id", binary_quantize("v", 2).alias("bq_words"))
    fetched = binary_topk_with_fetch(words, df, "v", "id", q, 2, oversample=4)
    assert [r["id"] for r in fetched.collect()] == [101, 100]


def test_binary_rerank_of_wide_query_stays_in_the_jvm(spark):
    """A wide query's ``k·oversample`` shortlist is re-ranked by the JVM
    fold (``rows_hint`` = the shortlist size), not the Arrow pandas
    kernel, in both binary operators; with a shortlist that covers every
    row, ids and distances equal brute force."""
    from pq_vector_spark.functions.quantize import (
        binary_quantize,
        binary_topk,
        binary_topk_with_fetch,
    )
    from pq_vector_spark.operators.topk import DISTANCE_COL, brute_force_topk

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.normal(size=160)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vid: bigint, emb: array<float>")
    words = emb.select("vid", binary_quantize("emb", 160).alias("bq_words"))
    q = [float(x) for x in rng.normal(size=160)]
    want = [
        (r["vid"], r[DISTANCE_COL])
        for r in brute_force_topk(
            emb, "emb", q, 5, tie_break="vid", keep_distance=True
        ).collect()
    ]
    for out in (
        binary_topk(emb, "emb", q, 5, oversample=4, tie_break="vid", keep_distance=True),
        binary_topk_with_fetch(
            words, emb, "emb", "vid", q, 5, oversample=4, keep_distance=True
        ),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, plan
        assert [(r["vid"], r[DISTANCE_COL]) for r in out.collect()] == want
