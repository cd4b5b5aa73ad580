"""Hybrid BM25+cosine RRF retrieval tests."""

import numpy as np
import pytest

from pq_vector_spark.operators.hybrid import hybrid_topk, rrf_fuse

import text_reference as R


def _ranked(spark, rows):
    return spark.createDataFrame(rows, "id: bigint, rank: int")


def test_rrf_fuse_hand_computed(spark):
    # doc 1 in both lists (ranks 1, 2); doc 2 lexical only (rank 2);
    # doc 3 semantic only (rank 1)
    lex = _ranked(spark, [(1, 1), (2, 2)])
    sem = _ranked(spark, [(3, 1), (1, 2)])
    out = {r["id"]: r for r in rrf_fuse([lex, sem], "id", 10, k_rrf=60).collect()}
    assert out[1]["n_lists"] == 2
    assert abs(out[1]["rrf_score"] - (1 / 61 + 1 / 62)) < 1e-12
    assert abs(out[2]["rrf_score"] - 1 / 62) < 1e-12
    assert abs(out[3]["rrf_score"] - 1 / 61) < 1e-12
    # doc in both lists outranks either single-list doc
    assert out[1]["rrf_score"] > out[3]["rrf_score"] > out[2]["rrf_score"]


def test_rrf_fuse_matches_reference(spark):
    """Three lists, overlapping ids, a non-default k_rrf and a k cut:
    scores, list counts and order against the reference RRF."""
    lists = [[1, 2, 7], [3, 1], [7, 4, 3, 1]]
    ranked = [_ranked(spark, [(i, r) for r, i in enumerate(ids, 1)]) for ids in lists]
    score, count = R.rrf(lists, 10)
    for k in (10, 3):
        got = rrf_fuse(ranked, "id", k, k_rrf=10).collect()
        assert [r["id"] for r in got] == R.top(score, k)
        for r in got:
            assert r["rrf_score"] == pytest.approx(score[r["id"]], rel=1e-15)
            assert r["n_lists"] == count[r["id"]]


def _hybrid_inputs(spark):
    docs = spark.createDataFrame(
        [
            (0, "spark window functions in spark"),
            (1, "window seat spark plug spark spark"),
            (2, "completely unrelated words here"),
            (3, "nothing relevant at all"),
            (4, None),
            (5, "it's a \\ window"),
        ],
        "doc_id: bigint, text: string",
    )
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.1]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.1]),
            (3, [0.0, 0.9, 0.5]),
            (4, [0.5, 0.5, 0.5]),
            (5, [0.2, 0.3, 0.9]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    return docs, vecs


def _cosine_ranks(vecs, q, pool):
    cos = {}
    for r in vecs.collect():
        v = np.asarray(r["embedding"], dtype=np.float32).astype(np.float64)
        cos[r["vec_id"]] = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
    return R.top(cos, pool)


def test_hybrid_topk_matches_reference(spark):
    """BM25 top-pool and cosine top-pool ranked, fused by RRF, cut to k
    and re-ranked — against the references, with non-default k1/b and
    k_rrf and terms carrying a quote and a backslash."""
    docs, vecs = _hybrid_inputs(spark)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    q = np.array([1.0, 0.0, 0.0])
    terms = ["spark", "window", "it's", "\\"]
    pool, k, k_rrf, k1, b = 4, 3, 10, 1.7, 0.3
    lex = {i: round(s, 4) for i, s in R.bm25(texts, terms, k1, b).items()}
    score, count = R.rrf([R.top(lex, pool), _cosine_ranks(vecs, q, pool)], k_rrf)
    got = hybrid_topk(
        docs, "text", "doc_id", terms, list(q), k, vectors=vecs,
        vec_id_col="vec_id", pool=pool, k_rrf=k_rrf, k1=k1, b=b,
    ).collect()
    assert [r["doc_id"] for r in got] == R.top(score, k)
    assert [r["rank"] for r in got] == list(range(1, k + 1))
    for r in got:
        assert r["rrf_score"] == pytest.approx(score[r["doc_id"]], abs=5e-7)
        assert r["n_lists"] == count[r["doc_id"]]


def test_hybrid_topk_without_terms_is_semantic_leg(spark):
    docs, vecs = _hybrid_inputs(spark)
    q = [1.0, 0.0, 0.0]
    got = hybrid_topk(
        docs, "text", "doc_id", [], q, 3, vectors=vecs, vec_id_col="vec_id", pool=4
    ).collect()
    sem = _cosine_ranks(vecs, np.array(q), 4)[:3]
    assert [(r["doc_id"], r["n_lists"], r["rank"]) for r in got] == [
        (i, 1, rank) for rank, i in enumerate(sem, 1)
    ]
    for rank, r in enumerate(got, 1):
        assert r["rrf_score"] == round(1.0 / (60 + rank), 6)


def test_rrf_fuse_empty_input(spark):
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], "id", 5)


def test_rrf_fuse_k_limit_and_tiebreak(spark):
    # identical contributions → tie broken by ascending id
    lex = _ranked(spark, [(5, 1), (3, 1)])  # same rank in separate lists
    sem = _ranked(spark, [(9, 1)])
    rows = rrf_fuse([lex, sem], "id", 2, k_rrf=60).collect()
    assert [r["id"] for r in rows] == [3, 5]  # 9 cut by k=2 tie-break


def test_hybrid_topk_end_to_end(spark):
    # 4 docs: doc 0 matches the query terms AND has the closest vector;
    # doc 1 lexical-only; doc 2 semantic-only; doc 3 neither.
    docs = spark.createDataFrame(
        [
            (0, "spark window functions in spark"),
            (1, "window seat spark plug spark spark"),
            (2, "completely unrelated words here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id: bigint, text: string",
    )
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.1]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.1]),
            (3, [0.0, 0.9, 0.5]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    out = hybrid_topk(
        docs,
        "text",
        "doc_id",
        ["spark", "window"],
        [1.0, 0.0, 0.1],
        3,
        vectors=vecs,
        vec_id_col="vec_id",
        pool=4,
    ).collect()
    assert [r["doc_id"] for r in out][0] == 0  # both-legs doc wins
    assert [r["rank"] for r in out] == [1, 2, 3]
    top = out[0]
    assert top["n_lists"] == 2
    assert set(r["doc_id"] for r in out) <= {0, 1, 2, 3}


def test_hybrid_topk_same_table(spark):
    # vectors default to the docs table itself
    docs = spark.createDataFrame(
        [
            (0, "alpha beta", [1.0, 0.0]),
            (1, "beta gamma", [0.0, 1.0]),
        ],
        "doc_id: bigint, text: string, embedding: array<float>",
    )
    out = hybrid_topk(docs, "text", "doc_id", ["alpha"], [1.0, 0.0], 2).collect()
    assert out[0]["doc_id"] == 0
    assert out[0]["n_lists"] == 2
