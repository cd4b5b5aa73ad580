"""Deterministic sampling / dataset mixing / PII scrubbing tests —
training-pipeline curation primitives (operators/sampling.py,
functions/text.py PII section)."""

import pytest
from pyspark.sql import functions as F

from pq_vector_spark.functions import text as T
from pq_vector_spark.operators.sampling import (
    BUCKETS,
    hash_sample,
    train_split,
    weighted_mix,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )


def test_hash_sample_rate_and_determinism(spark, corpus):
    s1 = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.2).collect()}
    # re-running and re-partitioning must give the IDENTICAL set
    s2 = {
        r["doc_id"]
        for r in hash_sample(corpus.repartition(7), "doc_id", 0.2).collect()
    }
    assert s1 == s2
    assert 0.15 < len(s1) / 2000 < 0.25  # ~rate, hash-uniform


def test_hash_sample_stable_under_growth(spark, corpus):
    """Appending data must never flip an existing row's fate: the sample of
    the grown corpus, restricted to the old ids, equals the old sample."""
    grown = corpus.unionByName(
        spark.range(2000, 3000).select(
            F.col("id").alias("doc_id"),
            F.lit("new").alias("text"),
        )
    )
    old = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.3).collect()}
    new = {
        r["doc_id"]
        for r in hash_sample(grown, "doc_id", 0.3).collect()
        if r["doc_id"] < 2000
    }
    assert old == new


def test_hash_sample_salt_gives_independent_draws(spark, corpus):
    a = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.5, salt="a").collect()}
    b = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.5, salt="b").collect()}
    assert a != b
    jacc = len(a & b) / len(a | b)
    assert 0.2 < jacc < 0.45  # ≈ 1/3 for two independent 50% draws


def test_hash_sample_bounds(spark, corpus):
    with pytest.raises(ValueError, match="rate"):
        hash_sample(corpus, "doc_id", 1.5)
    assert hash_sample(corpus, "doc_id", 0.0).count() == 0
    assert hash_sample(corpus, "doc_id", 1.0).count() == 2000


def test_train_split_disjoint_exhaustive_stable(spark, corpus):
    train, held = train_split(corpus, "doc_id", holdout=0.1)
    t = {r["doc_id"] for r in train.collect()}
    h = {r["doc_id"] for r in held.collect()}
    assert t.isdisjoint(h)
    assert len(t) + len(h) == 2000
    assert 0.05 < len(h) / 2000 < 0.15
    # no leakage as the corpus grows: holdout membership of old ids is fixed
    grown = corpus.unionByName(
        spark.range(2000, 2500).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("text")
        )
    )
    _, h2 = train_split(grown, "doc_id", holdout=0.1)
    assert {r["doc_id"] for r in h2.collect() if r["doc_id"] < 2000} == h


def test_weighted_mix_tags_and_weights(spark, corpus):
    a = corpus.filter(F.col("doc_id") < 1000)
    b = corpus.filter(F.col("doc_id") >= 1000)
    out = weighted_mix({"full": (a, 1.0), "third": (b, 0.3)}, "doc_id")
    counts = {
        r["mix_source"]: r["n"]
        for r in out.groupBy("mix_source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts["full"] == 1000
    assert 200 < counts["third"] < 400
    # no shuffle anywhere: a union of filters over the sources
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="at least one"):
        weighted_mix({}, "doc_id")


def test_pii_scrub_goldens(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example.org today"),
        (2, "see https://a.example/path?q=1#f and http://b.example"),
        (3, "call +1 555 010 4477 or 555-010-4478 now"),
        (4, "clean text, no pii at all"),
    ]
    df = spark.createDataFrame(rows, "id INT, t STRING")
    got = {
        r["id"]: r["s"]
        for r in df.select("id", T.pii_scrub("t").alias("s")).collect()
    }
    assert got[1] == "mail me at [PII] today"
    assert got[2] == "see [PII] and [PII]"
    assert got[3] == "call [PII] or [PII] now"
    assert got[4] == "clean text, no pii at all"


def test_pii_count(spark):
    df = spark.createDataFrame(
        [(1, "a@b.example c@d.example https://e.example")], "id INT, t STRING"
    )
    row = df.select(
        T.pii_count("t", "email").alias("e"), T.pii_count("t", "url").alias("u")
    ).collect()[0]
    assert (row["e"], row["u"]) == (2, 1)


def test_stratified_exact_counts(spark):
    from pq_vector_spark.operators.sampling import stratified_sample

    rows = [(i, "big" if i < 100 else "small") for i in range(110)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_sample(df, "lang", "doc_id", 7)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # exactly k from the big stratum, all of the under-k stratum
    assert counts == {"big": 7, "small": 7}
    tiny = stratified_sample(df.filter(F.col("doc_id") < 3), "lang", "doc_id", 7)
    assert tiny.count() == 3


def test_stratified_deterministic_under_repartition(spark):
    from pq_vector_spark.operators.sampling import stratified_sample

    rows = [(i, f"l{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    a = {r["doc_id"] for r in stratified_sample(df, "lang", "doc_id", 5).collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample(df.repartition(11), "lang", "doc_id", 5).collect()
    }
    assert a == b and len(a) == 20


def test_stratified_salt_changes_draw(spark):
    from pq_vector_spark.operators.sampling import stratified_sample

    rows = [(i, "x") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    a = {r["doc_id"] for r in stratified_sample(df, "lang", "doc_id", 50, salt="a").collect()}
    b = {r["doc_id"] for r in stratified_sample(df, "lang", "doc_id", 50, salt="b").collect()}
    assert a != b  # independent draws


def test_stratified_k_guard(spark):
    from pq_vector_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(1, "x")], ["doc_id", "lang"])
    with pytest.raises(ValueError, match="k must be positive"):
        stratified_sample(df, "lang", "doc_id", 0)


def test_stratified_map_side_group_limit_plan(spark):
    """100 TB contract: a Partial WindowGroupLimit must run BEFORE the
    exchange (each map task pre-prunes to its local per-stratum top-k, so
    the shuffle carries O(partitions × strata × k), not the corpus)."""
    from pq_vector_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(i, f"l{i % 3}") for i in range(300)], ["doc_id", "lang"])
    plan = (
        stratified_sample(df, "lang", "doc_id", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    partial = plan.find("Partial")
    exchange = plan.find("Exchange")
    assert "WindowGroupLimit" in plan
    assert partial != -1 and exchange != -1
    # plans print top-down: the Partial limit appears BELOW (after) the
    # Exchange line ⇒ it executes before it
    assert partial > exchange


def test_importance_sample_extremes_and_determinism(spark):
    from pq_vector_spark.operators.sampling import importance_sample

    rows = [(i, 1.0 if i < 100 else 0.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "p"])
    got = {r["doc_id"] for r in importance_sample(df, "doc_id", "p").collect()}
    # p=1 rows always kept, p=0 rows never
    assert got == set(range(100))
    # deterministic under repartition
    got2 = {
        r["doc_id"]
        for r in importance_sample(df.repartition(7), "doc_id", "p").collect()
    }
    assert got == got2


def test_importance_sample_rate_tracks_probability(spark):
    from pq_vector_spark.operators.sampling import importance_sample

    df = spark.createDataFrame([(i, 0.3) for i in range(5000)], ["doc_id", "p"])
    n = importance_sample(df, "doc_id", "p").count()
    assert 0.25 < n / 5000 < 0.35


def test_importance_sample_clamps_out_of_range(spark):
    from pq_vector_spark.operators.sampling import importance_sample

    df = spark.createDataFrame([(1, 7.5), (2, -3.0)], ["doc_id", "p"])
    got = {r["doc_id"] for r in importance_sample(df, "doc_id", "p").collect()}
    assert got == {1}  # >1 clamps to always-keep, <0 to never


# ------------------------------------------------- temperature mixing ----


def test_temperature_rates_hand_computed():
    from pq_vector_spark.operators.sampling import temperature_rates

    # counts 100/25, alpha=0.5: pw 10/5, q 2/3 / 1/3,
    # c = min(100/(2/3)=150, 25/(1/3)=75) = 75 -> rates 0.5 / 1.0
    r = temperature_rates({"a": 100, "b": 25}, alpha=0.5)
    assert r["b"] == 1.0
    assert abs(r["a"] - 0.5) < 1e-12
    # alpha=1 is a no-op mixture (q_i = n_i/N -> every rate 1.0)
    r1 = temperature_rates({"a": 100, "b": 25}, alpha=1.0)
    assert r1 == {"a": 1.0, "b": 1.0}
    with pytest.raises(ValueError):
        temperature_rates({}, alpha=0.5)
    with pytest.raises(ValueError):
        temperature_rates({"a": 1}, alpha=0.0)


def test_temperature_mix_keeps_rare_group_whole(spark):
    from pq_vector_spark.operators.sampling import temperature_mix

    rows = [(i, "head") for i in range(400)] + [
        (1000 + i, "tail") for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out = temperature_mix(df, "grp", "id", alpha=0.5, salt="t")
    got = out.groupBy("grp").count().collect()
    by = {r["grp"]: r["count"] for r in got}
    # rarest group is never downsampled
    assert by["tail"] == 100
    # head rate = c*q/n with pw 20/10, q 2/3|1/3, c = min(600, 300) = 300
    # -> head keeps ~0.5 of 400 (hash draw is binomial around the rate)
    assert 140 <= by["head"] <= 260
    # deterministic: identical on rerun
    again = temperature_mix(df, "grp", "id", alpha=0.5, salt="t")
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in again.collect()
    )


# ---------------------------------------------- token-budget selection ----


# select_token_budget's two planners: the driver planner (default
# local_threshold) and the distributed walk (local_threshold=0)
_PLANNERS = ({}, {"local_threshold": 0})


def _naive_budget(rows, budget):
    """Global greedy prefix in (score desc, key asc) order."""
    kept, cum = [], 0
    for key, score, tok in sorted(rows, key=lambda r: (-r[1], r[0])):
        if cum + tok > budget:
            break
        cum += tok
        kept.append(key)
    return sorted(kept)


def test_select_token_budget_matches_global_greedy(spark):
    import random

    from pq_vector_spark.operators.sampling import select_token_budget

    rng = random.Random(99)
    rows = [
        (i, round(rng.uniform(0, 1), 3), rng.randrange(50, 500))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["id", "score", "tok"])
    total = sum(r[2] for r in rows)
    for kw in _PLANNERS:
        for budget in (0, total // 10, total // 2, total + 1):
            got = sorted(
                r["id"]
                for r in select_token_budget(
                    df, "id", "score", "tok", budget, buckets=16, **kw
                ).collect()
            )
            assert got == _naive_budget(rows, budget), f"budget={budget} {kw}"


def test_select_token_budget_ties_break_by_key(spark):
    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [(3, 1.0, 10), (1, 1.0, 10), (2, 1.0, 10), (4, 0.5, 10)]
    df = spark.createDataFrame(rows, ["id", "score", "tok"])
    for kw in _PLANNERS:
        got = sorted(
            r["id"]
            for r in select_token_budget(df, "id", "score", "tok", 20, **kw).collect()
        )
        assert got == [1, 2], kw  # equal scores -> smallest keys first


def test_select_token_budget_guards_and_empty(spark):
    from pq_vector_spark.operators.sampling import select_token_budget

    df = spark.createDataFrame([(1, 1.0, 5)], ["id", "score", "tok"])
    with pytest.raises(ValueError):
        select_token_budget(df, "id", "score", "tok", -1)
    empty = df.filter(F.lit(False))
    # constant scores collapse to one bucket but stay exact
    const = spark.createDataFrame(
        [(i, 2.0, 10) for i in range(10)], ["id", "score", "tok"]
    )
    for kw in _PLANNERS:
        assert select_token_budget(empty, "id", "score", "tok", 100, **kw).count() == 0
        got = sorted(
            r["id"]
            for r in select_token_budget(const, "id", "score", "tok", 35, **kw).collect()
        )
        assert got == [0, 1, 2], kw


def test_temperature_mix_null_group_is_a_group(spark):
    """A NULL group value is a count group like any other — the rarest
    group contract applies to it, and the CASE chain must match it with
    isNull (a plain == NULL would silently drop the whole group)."""
    from pq_vector_spark.operators.sampling import temperature_mix, temperature_rates

    rows = [(i, "big") for i in range(400)] + [(1000 + i, None) for i in range(50)]
    df = spark.createDataFrame(rows, "id: bigint, grp: string")
    r = temperature_rates({"big": 400, None: 50}, alpha=0.5)
    assert r[None] == 1.0  # rarest group (NULL) kept whole
    out = temperature_mix(df, "grp", "id", alpha=0.5, salt="n")
    by = {r["grp"]: r["count"] for r in out.groupBy("grp").count().collect()}
    assert by[None] == 50
    assert 0 < by["big"] < 400


def test_select_token_budget_null_and_nan_scores(spark):
    """Engine-ordering parity for edge scores: NaN ranks above every
    finite score (selected first, as Spark/DuckDB DESC order them), NULL
    ranks below everything (selected only with leftover budget)."""
    import math

    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [
        (1, float("nan"), 10),
        (2, 5.0, 10),
        (3, 1.0, 10),
        (4, None, 10),
        (5, 3.0, 10),
    ]
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")

    def got(budget, kw):
        return sorted(
            r["id"]
            for r in select_token_budget(df, "id", "score", "tok", budget, **kw).collect()
        )

    for kw in _PLANNERS:
        assert got(10, kw) == [1]           # NaN first
        assert got(30, kw) == [1, 2, 5]     # then finite desc
        assert got(45, kw) == [1, 2, 3, 5]  # null not yet affordable... budget 45 keeps 4 rows
        assert got(50, kw) == [1, 2, 3, 4, 5]  # null last, once budget allows

    # matches the naive global window on the same data
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    w = Window.orderBy(SF.col("score").desc(), SF.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for budget in (10, 30, 45, 50):
        naive = sorted(
            r["id"]
            for r in df.withColumn("c", SF.sum("tok").over(w))
            .filter(SF.col("c") <= budget)
            .collect()
        )
        for kw in _PLANNERS:
            assert got(budget, kw) == naive, f"budget={budget} {kw}"


# ----------------------------------------------- unseen-group policy ----


def _unseen_fixture(spark):
    """df with groups a,b; rates pinned for a only — b is 'unseen'."""
    df = spark.createDataFrame(
        [(f"a{i}", "a") for i in range(50)] + [(f"b{i}", "b") for i in range(20)],
        ["id", "grp"],
    )
    return df, {"a": 1.0}


def test_temperature_mix_unseen_drop_default(spark):
    from pq_vector_spark.operators.sampling import temperature_mix

    df, rates = _unseen_fixture(spark)
    out = temperature_mix(df, "grp", "id", salt="u", rates=rates)
    groups = {r["grp"] for r in out.select("grp").distinct().collect()}
    assert groups == {"a"}  # unseen group dropped entirely
    assert out.count() == 50


def test_temperature_mix_unseen_keep(spark):
    from pq_vector_spark.operators.sampling import temperature_mix

    df, rates = _unseen_fixture(spark)
    out = temperature_mix(df, "grp", "id", salt="u", rates=rates, unseen="keep")
    assert out.count() == 70  # unseen group kept whole


def test_temperature_mix_unseen_error_fails_loudly(spark):
    from pq_vector_spark.operators.sampling import temperature_mix

    df, rates = _unseen_fixture(spark)
    out = temperature_mix(df, "grp", "id", salt="u", rates=rates, unseen="error")
    with pytest.raises(Exception, match="temperature_mix"):
        out.collect()


def test_temperature_mix_unseen_mode_validated(spark):
    from pq_vector_spark.operators.sampling import temperature_mix

    df, rates = _unseen_fixture(spark)
    with pytest.raises(ValueError, match="unseen"):
        temperature_mix(df, "grp", "id", rates=rates, unseen="explode")
    with pytest.raises(ValueError, match="at least one group"):
        temperature_mix(df, "grp", "id", rates={})


def test_temperature_mix_pinned_rates_match_derived(spark):
    """rates=temperature_rates(counts) must reproduce the derived draw
    exactly (the documented append-stability recipe)."""
    from pq_vector_spark.operators.sampling import temperature_mix, temperature_rates

    df = spark.createDataFrame(
        [(f"x{i}", "big") for i in range(400)] + [(f"y{i}", "small") for i in range(50)],
        ["id", "grp"],
    )
    derived = {r["id"] for r in temperature_mix(df, "grp", "id", salt="p").collect()}
    rates = temperature_rates({"big": 400, "small": 50}, alpha=0.5)
    pinned = {
        r["id"]
        for r in temperature_mix(df, "grp", "id", salt="p", rates=rates).collect()
    }
    assert derived == pinned


# ------------------------------- token budget: recursive refinement ----


def _class_greedy(rows, budget):
    """Global greedy prefix under the full engine class chain
    NaN > +inf > finite > -inf > NULL, ties broken by key asc."""
    import math

    def rank(s):
        if s is None:
            return (-2, 0.0)
        if math.isnan(s):
            return (2, 0.0)
        if s == float("inf"):
            return (1, 0.0)
        if s == float("-inf"):
            return (-1, 0.0)
        return (0, s)

    ordered = sorted(
        rows, key=lambda r: (-rank(r[1])[0], -rank(r[1])[1], r[0])
    )
    kept, cum = [], 0
    for key, _score, tok in ordered:
        if cum + tok > budget:
            break
        cum += tok
        kept.append(key)
    return sorted(kept)


def test_select_token_budget_inf_scores(spark):
    """±Infinity scores get their own ordered classes (the full chain is
    NaN > +inf > finite > -inf > NULL) and can no longer poison the
    histogram's min/max (an inf width would NULL every bucket id)."""
    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [
        (1, float("inf"), 10),
        (2, float("nan"), 10),
        (3, 7.0, 10),
        (4, float("-inf"), 10),
        (5, None, 10),
        (6, 2.0, 10),
        (7, float("inf"), 10),
    ]
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")
    for kw in _PLANNERS:
        for budget in (0, 10, 20, 25, 30, 40, 50, 60, 70, 100):
            got = sorted(
                r["id"]
                for r in select_token_budget(
                    df, "id", "score", "tok", budget, buckets=4, **kw
                ).collect()
            )
            assert got == _class_greedy(rows, budget), f"budget={budget} {kw}"


def test_select_token_budget_recursive_refinement_bounds_window(spark):
    """With a tiny window_cap the walk must recurse (score re-bucketing)
    until the exact window's input is <= window_cap — and still match the
    global greedy prefix bit-for-bit."""
    import random

    from pq_vector_spark.operators.sampling import select_token_budget

    rng = random.Random(7)
    rows = [(i, float(i) + rng.random() * 0.5, rng.randrange(5, 50)) for i in range(2000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")
    total = sum(r[2] for r in rows)
    stats: dict = {}
    got = sorted(
        r["id"]
        for r in select_token_budget(
            df, "id", "score", "tok", total // 2,
            buckets=8, window_cap=64, local_threshold=0, _stats=stats,
        ).collect()
    )
    assert got == _class_greedy(rows, total // 2)
    assert stats["levels"] >= 1  # it actually recursed
    assert stats["window_rows"] <= 64


def test_select_token_budget_key_refinement_deterministic_stats(spark):
    """r12: key-range boundaries come from a SEEDED sample, so two runs on
    the same input report identical _stats (window_rows/levels/mode) — the
    r11 repartitionByRange split wobbled them with the RDD-id seed."""
    from pq_vector_spark.operators.sampling import (
        select_token_budget,
        select_token_budget_grouped,
    )

    rows = [(i, 1.0, 7) for i in range(2000)]
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")
    runs = []
    for _ in range(2):
        stats: dict = {}
        got = sorted(
            r["id"]
            for r in select_token_budget(
                df, "id", "score", "tok", 7 * 1000 + 3,
                buckets=8, window_cap=64, local_threshold=0, _stats=stats,
            ).collect()
        )
        runs.append((got, stats))
    assert runs[0] == runs[1]
    assert runs[0][1]["mode"] == "key"

    grows = [("g", i, 1.0, 7) for i in range(900)] + [
        ("h", 10_000 + i, 1.0, 7) for i in range(300)
    ]
    gdf = spark.createDataFrame(
        grows, "grp: string, id: bigint, score: double, tok: bigint"
    )
    gruns = []
    for _ in range(2):
        gstats: dict = {}
        gout = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                gdf, "grp", "id", "score", "tok",
                {"g": 7 * 500, "h": 7 * 100}, buckets=8, window_cap=32,
                local_threshold=0, _stats=gstats,
            ).collect()
        )
        gruns.append((gout, gstats))
    assert gruns[0] == gruns[1]


def test_select_token_budget_all_ties_key_refinement(spark):
    """The adversarial all-scores-equal corpus collapses every row into
    one bucket — the walk must switch to key-range refinement and keep
    the exact window bounded instead of widening to the full corpus."""
    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [(i, 1.0, 7) for i in range(2000)]
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")
    stats: dict = {}
    budget = 7 * 1000 + 3  # crosses mid-corpus
    got = sorted(
        r["id"]
        for r in select_token_budget(
            df, "id", "score", "tok", budget,
            buckets=8, window_cap=64, local_threshold=0, _stats=stats,
        ).collect()
    )
    assert got == list(range(1000))  # key-asc prefix
    assert stats["mode"] == "key"
    # range partitioning is sample-approximate: allow 4x slack, but the
    # window must be nowhere near the 2000-row corpus
    assert stats["window_rows"] <= 256


def test_select_token_budget_depth0_mixed_class_boundary(spark):
    """max_depth=0 falls straight back to the exact window over the whole
    mixed-class corpus; NaN and NULL boundary rows must still yield a
    class-correct keep predicate."""
    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [
        (1, float("nan"), 10),
        (2, float("nan"), 10),
        (9, 5.0, 10),
        (3, None, 10),
        (4, None, 10),
    ]
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")

    def got(budget, kw):
        return sorted(
            r["id"]
            for r in select_token_budget(
                df, "id", "score", "tok", budget, max_depth=0, **kw
            ).collect()
        )

    for kw in _PLANNERS:
        assert got(10, kw) == [1]            # boundary inside the NaN class
        assert got(20, kw) == [1, 2]
        assert got(40, kw) == [1, 2, 3, 9]   # boundary inside the NULL class
        assert got(50, kw) == [1, 2, 3, 4, 9]


def test_select_token_budget_output_is_map_side_filter(spark):
    """The kept set must emit as a pure (score, key) filter over the wide
    corpus — no join, no broadcast, no extra shuffle in the output plan
    (the pre-r10 plan paid a broadcast edge-key join here)."""
    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [(i, float(i % 97), 10) for i in range(500)]
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")
    for kw in _PLANNERS:
        out = select_token_budget(df, "id", "score", "tok", 2000, buckets=16, **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, kw
        assert "Exchange" not in plan, kw
        # still the exact greedy prefix
        got = sorted(r["id"] for r in out.collect())
        assert got == _class_greedy(rows, 2000), kw


def _grouped_greedy(rows, budget_of):
    """Per-group greedy prefix under the full class chain; rows are
    (group, key, score, tok)."""
    import math

    def rank(s):
        if s is None:
            return (-2, 0.0)
        if math.isnan(s):
            return (2, 0.0)
        if s == float("inf"):
            return (1, 0.0)
        if s == float("-inf"):
            return (-1, 0.0)
        return (0, s)

    by_g = {}
    for g, k, s, t in rows:
        by_g.setdefault(g, []).append((k, s, t))
    kept = []
    for g, members in by_g.items():
        b = budget_of(g)
        ordered = sorted(members, key=lambda r: (-rank(r[1])[0], -rank(r[1])[1], r[0]))
        cum = 0
        for k, _s, t in ordered:
            if b is not None and cum + t > b:
                break
            cum += t
            kept.append(k)
    return sorted(kept)


def test_select_token_budget_grouped_matches_per_group_greedy(spark):
    """Per-group budgets: dict + default, scalar, None (keep whole group),
    NULL group value — every group's keep set is bit-equal to its own
    greedy prefix."""
    import random

    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rng = random.Random(11)
    groups = ["en", "de", None, "code"]
    rows = [
        (groups[i % 4], i, round(rng.uniform(0, 1), 3), rng.randrange(5, 60))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "lang: string, id: bigint, score: double, tok: bigint")
    budgets = {"en": 2000, "de": 500, None: 0, "code": None}

    for kw in _PLANNERS:
        got = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "lang", "id", "score", "tok", budgets, buckets=16, **kw
            ).collect()
        )
        assert got == _grouped_greedy(rows, lambda g: budgets[g]), kw

        # scalar budget applies to every group
        got2 = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "lang", "id", "score", "tok", 1000, buckets=16, **kw
            ).collect()
        )
        assert got2 == _grouped_greedy(rows, lambda g: 1000), kw

        # missing group falls back to default_budget
        got3 = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "lang", "id", "score", "tok", {"en": 2000},
                buckets=16, default_budget=300, **kw,
            ).collect()
        )
        assert got3 == _grouped_greedy(rows, lambda g: 2000 if g == "en" else 300), kw


def test_select_token_budget_grouped_edge_scores_and_guards(spark):
    """NaN/±inf/NULL scores follow the engine class chain inside each
    group; invalid budgets raise."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rows = [
        ("a", 1, float("nan"), 10),
        ("a", 2, float("inf"), 10),
        ("a", 3, 5.0, 10),
        ("a", 4, float("-inf"), 10),
        ("a", 5, None, 10),
        ("b", 6, 1.0, 10),
        ("b", 7, 2.0, 10),
    ]
    df = spark.createDataFrame(rows, "g: string, id: bigint, score: double, tok: bigint")
    for kw in _PLANNERS:
        got = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "g", "id", "score", "tok", {"a": 30, "b": 10}, buckets=4, **kw
            ).collect()
        )
        assert got == [1, 2, 3, 7], kw  # a: NaN > inf > finite; b: best-first

        with pytest.raises(ValueError, match="budget"):
            select_token_budget_grouped(df, "g", "id", "score", "tok", {"a": -1}, **kw)
        with pytest.raises(ValueError, match="buckets"):
            select_token_budget_grouped(
                df, "g", "id", "score", "tok", 10, buckets=0, **kw
            )


def test_select_token_budget_grouped_is_broadcast_filter(spark):
    """The wide-corpus pass must be a broadcast plan-table join + filter:
    no shuffle of the corpus (no Exchange hashpartitioning on the data
    path, no sort-merge join)."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rows = [("g%d" % (i % 3), i, float(i % 50), 10) for i in range(300)]
    df = spark.createDataFrame(rows, "g: string, id: bigint, score: double, tok: bigint")
    for kw in _PLANNERS:
        out = select_token_budget_grouped(
            df, "g", "id", "score", "tok", 500, buckets=8, **kw
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, kw
        assert "SortMergeJoin" not in plan, kw


def test_select_token_budget_subnormal_spread_stays_exact(spark):
    """Width underflow (score spread too small to split into buckets)
    with scores NOT all equal must fall back to the exact window — key
    refinement would select in key order over a score-ordered frontier."""
    from pq_vector_spark.operators.sampling import select_token_budget

    eps = 5e-324  # min subnormal: spread (eps-0) representable, /buckets -> 0.0
    rows = [(1, 0.0, 10), (2, eps, 10), (3, 0.0, 10), (4, eps, 10)]
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")
    stats: dict = {}
    got = sorted(
        r["id"]
        for r in select_token_budget(
            df, "id", "score", "tok", 20, buckets=4, window_cap=1, local_threshold=0,
            _stats=stats,
        ).collect()
    )
    assert got == _class_greedy(rows, 20)
    assert got == [2, 4]  # the two eps-scored rows outrank the zeros
    # the walk must have taken the force_exact path, NOT key refinement
    # (key order would have kept [1, 2])
    assert stats["mode"] == "score"


def test_select_token_budget_grouped_accepts_float_budgets(spark):
    """Float budgets floor to ints (token cums are exact bigints) instead
    of crashing plan construction."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rows = [("a", i, float(i), 10) for i in range(10)]
    df = spark.createDataFrame(rows, "g: string, id: bigint, score: double, tok: bigint")
    for kw in _PLANNERS:
        got = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "g", "id", "score", "tok", {"a": 35.9}, buckets=4, **kw
            ).collect()
        )
        assert got == [7, 8, 9], kw  # floor(35.9)=35 -> 3 rows of 10

        with pytest.raises(ValueError, match="finite"):
            select_token_budget_grouped(
                df, "g", "id", "score", "tok", float("nan"), **kw
            )


def test_select_token_budget_grouped_stats_bound(spark):
    """_stats reports the max per-group exact-window input (the crossing
    bucket's count) — the quantity the scale contract bounds."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rows = [("g%d" % (i % 3), i, float(i), 1) for i in range(300)]
    df = spark.createDataFrame(rows, "g: string, id: bigint, score: double, tok: bigint")
    stats: dict = {}
    select_token_budget_grouped(
        df, "g", "id", "score", "tok", 40, buckets=10, local_threshold=0,
        _stats=stats,
    ).count()
    assert stats["groups"] == 3
    assert stats["crossing_groups"] == 3
    # 100 rows per group / 10 buckets = ~10-row crossing buckets
    assert 0 < stats["max_window_rows"] <= 20


def test_select_token_budget_null_key_kept(spark):
    """A NULL key sorts FIRST in the greedy tie-break (Spark ASC = NULLS
    FIRST), and the boundary predicate is null-safe — the row must be
    KEPT when its tokens fit, not silently dropped after the planner
    already charged them against the budget (r10 review finding)."""
    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [("a", 5.0, 10), (None, 5.0, 10), ("b", 5.0, 10), ("c", 1.0, 10)]
    df = spark.createDataFrame(rows, "id: string, score: double, tok: bigint")
    for kw in _PLANNERS:
        got = {
            r["id"]
            for r in select_token_budget(df, "id", "score", "tok", 20, **kw).collect()
        }
        # greedy order: (NULL, 5.0), ("a", 5.0), ("b", 5.0), ("c", 1.0)
        assert got == {None, "a"}, kw
        # boundary row IS the NULL-key row: only it fits
        got1 = {
            r["id"]
            for r in select_token_budget(df, "id", "score", "tok", 10, **kw).collect()
        }
        assert got1 == {None}, kw


def test_select_token_budget_null_key_key_refinement(spark):
    """The null-safe interval predicates hold through KEY-RANGE refinement
    too: an all-ties corpus with a NULL-key row must keep it in the range
    that covers the front of the key order."""
    from pq_vector_spark.operators.sampling import select_token_budget

    rows = [(None, 1.0, 7)] + [(f"k{i:04d}", 1.0, 7) for i in range(200)]
    df = spark.createDataFrame(rows, "id: string, score: double, tok: bigint")
    stats: dict = {}
    got = {
        r["id"]
        for r in select_token_budget(
            df, "id", "score", "tok", 7 * 100,
            buckets=4, window_cap=16, local_threshold=0, _stats=stats,
        ).collect()
    }
    # first 100 rows of the key order: NULL, k0000..k0098
    assert got == {None} | {f"k{i:04d}" for i in range(99)}
    assert stats["mode"] == "key"  # refinement actually engaged
    assert stats["window_rows"] <= 16


def test_select_token_budget_grouped_null_key_kept(spark):
    """Grouped variant of the null-safe boundary: a NULL-key row inside
    the crossing bucket is kept exactly where the per-group window puts
    it (first among its score ties)."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rows = [
        ("g", "a", 5.0, 10),
        ("g", None, 5.0, 10),
        ("g", "b", 5.0, 10),
        ("h", "x", 9.0, 10),
    ]
    df = spark.createDataFrame(
        rows, "grp: string, id: string, score: double, tok: bigint"
    )
    for kw in _PLANNERS:
        got = {
            r["id"]
            for r in select_token_budget_grouped(
                df, "grp", "id", "score", "tok", {"g": 20, "h": 10}, **kw
            ).collect()
        }
        assert got == {None, "a", "x"}, kw
        # NULL boundary key: only the NULL-key row fits g's budget
        got1 = {
            r["id"]
            for r in select_token_budget_grouped(
                df, "grp", "id", "score", "tok", {"g": 10, "h": 0}, **kw
            ).collect()
        }
        assert got1 == {None}, kw


def test_select_token_budget_grouped_auto_refines_heavy_groups(spark):
    """window_cap: a group whose crossing bucket exceeds the cap (here an
    all-ties dominant group — the shape the warning used to punt on) is
    AUTO-REFINED by the recursive walk on its own slice; the result stays
    bit-equal to the per-group greedy and the reported max window input is
    bounded by the cap."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rows = [("big", i, 1.0, 7) for i in range(2000)] + [
        ("small", i, float(i), 5) for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "g: string, id: bigint, score: double, tok: bigint"
    )
    budgets = {"big": 7 * 1000 + 3, "small": 5 * 10}
    stats: dict = {}
    got = sorted(
        (r["g"], r["id"])
        for r in select_token_budget_grouped(
            df, "g", "id", "score", "tok", budgets,
            buckets=8, window_cap=64, local_threshold=0, _stats=stats,
        ).collect()
    )
    expect = sorted(
        [("big", i) for i in range(1000)] + [("small", i) for i in range(40, 50)]
    )
    assert got == expect
    assert stats["refined_groups"] == 1  # only the tied group left the plan
    assert stats["crossing_groups"] == 1  # small stayed on the shared window
    assert stats["max_window_rows"] <= 64


def test_select_token_budget_grouped_refined_output_stays_map_side(spark):
    """With window_cap forcing a group through auto-refinement, the
    wide-corpus output pass must STILL be a broadcast plan join + filter —
    the refined group's keep predicate is pure (score, key) map-side
    logic, never another join or corpus shuffle."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rows = [("big", i, 1.0, 7) for i in range(400)] + [
        ("small", i, float(i), 5) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "g: string, id: bigint, score: double, tok: bigint"
    )
    for kw in _PLANNERS:
        out = select_token_budget_grouped(
            df, "g", "id", "score", "tok", 700, buckets=8, window_cap=32, **kw
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, kw
        assert "SortMergeJoin" not in plan, kw
        # exactly one join on the output path: the broadcast plan table
        assert plan.count("Join") == plan.count("BroadcastHashJoin") + plan.count(
            "BroadcastNestedLoopJoin"
        ), kw


def test_select_token_budget_grouped_nan_group_respects_budget(spark):
    """A NaN-valued GROUP (float group column) must fill its budget like
    any other group: Spark's groupBy treats NaN = NaN, but the driver
    dicts are keyed by collected float('nan') objects that never compare
    equal across jobs — without key normalization the NaN group silently
    bypassed its budget entirely (r10 review finding)."""
    import math

    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    nan = float("nan")
    rows = [(nan, i, 1.0, 2) for i in range(300)] + [
        (1.0, i, float(i), 2) for i in range(300, 320)
    ]
    df = spark.createDataFrame(
        rows, "g: double, id: bigint, score: double, tok: bigint"
    )
    for kw in _PLANNERS:
        for cap in (None, 16):  # shared-window plan AND the refined path
            got = sorted(
                r["id"]
                for r in select_token_budget_grouped(
                    df, "g", "id", "score", "tok", 50,
                    buckets=8, window_cap=cap, **kw,
                ).collect()
            )
            # NaN group: all-ties, key order -> ids 0..24 (25 rows * 2 = 50);
            # group 1.0: 20 rows * 2 = 40 tokens <= 50 -> kept whole
            assert got == list(range(25)) + list(range(300, 320)), f"cap={cap} {kw}"
        # a NaN KEY in the budgets dict must reach the NaN group
        got2 = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "g", "id", "score", "tok", {nan: 10, 1.0: 4}, buckets=8, **kw
            ).collect()
        )
        assert got2 == [0, 1, 2, 3, 4, 318, 319], kw


def test_select_token_budget_grouped_struct_heavy_group(spark):
    """A struct-typed group collects as a Row, which F.lit cannot express
    (it fails only when a plan is analyzed): a heavy struct group must
    stay on the shared-window plan instead of failing the walk — on both
    planners, bit-equal to the per-group greedy prefix."""
    from pyspark.sql import Row

    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    heavy, light = Row(x=1, y="a"), Row(x=2, y="b")
    rows = [(heavy, i, float(i % 5), 7) for i in range(300)] + [
        (light, 1000 + i, float(i % 3), 7) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "g: struct<x: int, y: string>, id: bigint, score: double, tok: bigint"
    )
    want = _grouped_greedy(rows, lambda g: 700)
    for kw in _PLANNERS:
        got = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "g", "id", "score", "tok", 700,
                buckets=4, window_cap=8, **kw,
            ).collect()
        )
        assert got == want, kw


def test_select_token_budget_grouped_validates_max_depth(spark):
    """A negative max_depth must raise instead of silently emptying every
    refined group (range(max_depth+1) would never iterate)."""
    import pytest as _pytest

    from pq_vector_spark.operators.sampling import (
        select_token_budget,
        select_token_budget_grouped,
    )

    rows = [("a", 1, 1.0, 1)]
    df = spark.createDataFrame(
        rows, "g: string, id: bigint, score: double, tok: bigint"
    )
    with _pytest.raises(ValueError, match="max_depth"):
        select_token_budget_grouped(
            df, "g", "id", "score", "tok", 1, window_cap=4, max_depth=-1
        )
    with _pytest.raises(ValueError, match="max_depth"):
        select_token_budget(df, "id", "score", "tok", 1, max_depth=-1)


# ------------------------------- priority (exact-k weighted) sampling ----


def test_priority_sample_k_exact_count_and_exclusions(spark):
    """Exactly k rows per group; NULL/zero/negative weights are never
    sampled; a group smaller than k keeps all its positive-weight rows;
    k=0 is empty; k<0 raises."""
    import pytest as _pytest

    from pq_vector_spark.operators.sampling import priority_sample_k

    rows = [("g%d" % (i % 2), i, float((i % 5) + 1)) for i in range(100)] + [
        ("g0", 900, 0.0),
        ("g0", 901, None),
        ("g1", 902, -1.0),
        # a NaN weight passes a bare `> 0.0` in Spark (NaN ranks above
        # every numeric) and would unconditionally win every draw
        ("g1", 904, float("nan")),
        (None, None, 9.0),  # NULL key: no hash, excluded like hash_sample
        ("tiny", 903, 3.0),
    ]
    df = spark.createDataFrame(rows, "g: string, id: bigint, w: double")
    out = priority_sample_k(df, "id", "w", 7, group_col="g", salt="t")
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 7, "g1": 7, "tiny": 1}
    ids = {r["id"] for r in out.collect()}
    assert not ({900, 901, 902, 904, None} & ids)
    assert priority_sample_k(df, "id", "w", 0, group_col="g").count() == 0
    with _pytest.raises(ValueError, match="k must be"):
        priority_sample_k(df, "id", "w", -1)


def test_priority_sample_k_deterministic_and_weight_sensitive(spark):
    """The draw depends only on (key, salt, weight): repartitioning never
    changes it, a different salt does, and a 1000x-heavier row wins the
    k=1 draw for most salts (weighted semantics, not uniform)."""
    from pq_vector_spark.operators.sampling import priority_sample_k

    rows = [("a", i, float((i * 13) % 11 + 1)) for i in range(60)]
    df = spark.createDataFrame(rows, "g: string, id: bigint, w: double")
    a = {r["id"] for r in priority_sample_k(df, "id", "w", 9, salt="x").collect()}
    b = {
        r["id"]
        for r in priority_sample_k(df.repartition(7), "id", "w", 9, salt="x").collect()
    }
    assert a == b
    c = {r["id"] for r in priority_sample_k(df, "id", "w", 9, salt="y").collect()}
    assert a != c  # overwhelmingly likely; salt changes the draw

    two = spark.createDataFrame(
        [("a", 1, 1000.0), ("a", 2, 1.0)], "g: string, id: bigint, w: double"
    )
    wins = sum(
        priority_sample_k(two, "id", "w", 1, salt=f"s{i}").collect()[0]["id"] == 1
        for i in range(20)
    )
    assert wins >= 15  # P(heavy wins) = 1000/1001 per draw


def test_priority_sample_k_plans_bounded_topk(spark):
    """Scale shape: grouped draw plans as WindowGroupLimit (each input
    partition pruned to its own top-k BEFORE the shuffle); the global
    draw plans as TakeOrderedAndProject (bounded heap + merge, never a
    single-task full sort)."""
    from pq_vector_spark.operators.sampling import priority_sample_k

    rows = [("g%d" % (i % 3), i, float(i % 9 + 1)) for i in range(300)]
    df = spark.createDataFrame(rows, "g: string, id: bigint, w: double")
    grouped = priority_sample_k(df, "id", "w", 5, group_col="g")
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    global_ = priority_sample_k(df, "id", "w", 5)
    gplan = global_._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in gplan
    assert global_.count() == 5


def test_reserved_helper_column_collision_raises(spark):
    """An input column named like one of the module's helper columns used
    to be silently dropped from the output (withColumn overwrote it, the
    trailing drop deleted it) — it must raise instead (r10 review)."""
    from pq_vector_spark.operators.sampling import (
        priority_sample_k,
        select_token_budget,
        select_token_budget_grouped,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [("a", 1, 1.0, 1, 0.5)],
        "g: string, id: bigint, score: double, tok: bigint, _ps_pri: double",
    )
    with pytest.raises(ValueError, match="_ps_pri"):
        priority_sample_k(df, "id", "score", 1)
    df2 = df.withColumnRenamed("_ps_pri", "_sb_score")
    with pytest.raises(ValueError, match="_sb_score"):
        select_token_budget(df2, "id", "score", "tok", 10)
    with pytest.raises(ValueError, match="_sb_score"):
        select_token_budget_grouped(df2, "g", "id", "score", "tok", 10)
    df3 = df.withColumnRenamed("_ps_pri", "_p_lo")
    with pytest.raises(ValueError, match="_p_lo"):
        select_token_budget_grouped(df3, "g", "id", "score", "tok", 10)
    df4 = df.withColumnRenamed("_ps_pri", "_rk")
    with pytest.raises(ValueError, match="_rk"):
        stratified_sample(df4, "g", "id", 1)
    # non-colliding frames still work
    assert select_token_budget(
        df.drop("_ps_pri"), "id", "score", "tok", 10
    ).count() == 1


def test_select_token_budget_grouped_batches_heavy_refinement(spark):
    """50 heavy (all-ties) groups must refine in LOCK-STEP: the per-level
    range summaries run as shared jobs, so the whole plan costs O(levels)
    Spark jobs, not O(groups × levels) — and every group's keep set stays
    bit-equal to its own greedy prefix."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    n_groups, per_group, tok = 50, 200, 7
    rows = [
        (f"g{g:02d}", i, 1.0, tok)
        for g in range(n_groups)
        for i in range(per_group)
    ]
    df = spark.createDataFrame(rows, "g: string, id: bigint, score: double, tok: bigint")
    budget = tok * 100 + 3  # crosses mid-group, every group
    sc = spark.sparkContext
    group_tag = "budget-batch-test"
    sc.setJobGroup(group_tag, "batched heavy-group refinement")
    try:
        stats: dict = {}
        got = sorted(
            (r["g"], r["id"])
            for r in select_token_budget_grouped(
                df, "g", "id", "score", "tok", budget,
                buckets=8, window_cap=32, local_threshold=0, _stats=stats,
            ).collect()
        )
    finally:
        sc.setJobGroup("", "")
    assert got == sorted(
        (f"g{g:02d}", i) for g in range(n_groups) for i in range(100)
    )
    assert stats["refined_groups"] == n_groups
    assert stats["max_window_rows"] <= 4 * 32  # range sampling slack
    jobs = len(sc.statusTracker().getJobIdsForGroup(group_tag))
    # shared planning: ~2 bounded aggs + <=3 jobs per walk level + boundary
    # + output collect; a per-group walk would need >= 3 * 50 jobs
    assert jobs <= 40, f"expected O(levels) jobs, saw {jobs}"


# ------------------------------------- temperature-derived token budgets


def test_temperature_token_budgets_composition(spark):
    """Water-filling per-group token budgets: proportional to n^alpha,
    never above a group's own supply, redistribute the clipped surplus,
    exhaust the total exactly when supply allows — and the result plugs
    into select_token_budget_grouped."""
    from pq_vector_spark.operators.sampling import (
        select_token_budget_grouped,
        temperature_token_budgets,
    )

    counts = {"en": 1_000_000, "de": 100_000, "code": 10_000}
    b = temperature_token_budgets(counts, total_budget=500_000, alpha=0.5)
    assert sum(b.values()) == 500_000
    assert all(b[g] <= counts[g] for g in counts)
    # alpha < 1 flattens the head: de gets more than its raw share
    assert b["de"] / 500_000 > counts["de"] / sum(counts.values())
    # supply-capped group: total above the whole corpus returns the corpus
    b2 = temperature_token_budgets(counts, total_budget=10**9)
    assert b2 == counts
    # cap + redistribution: code (tiny) caps, surplus flows to en/de
    b3 = temperature_token_budgets(counts, total_budget=900_000, alpha=0.5)
    assert b3["code"] == 10_000
    assert sum(b3.values()) == 900_000
    # alpha=1 is proportional to raw counts (no flattening)
    b4 = temperature_token_budgets({"a": 300, "b": 100}, 100, alpha=1.0)
    assert b4["a"] == 75 and b4["b"] == 25
    # largest-remainder distribution: equal-weight groups split the
    # flooring leftover by fractional share (order only breaks ties) —
    # never dumped wholesale on the lexicographically last group
    eq = temperature_token_budgets({"a": 1000, "b": 1000, "c": 1000}, 100)
    assert eq == {"a": 34, "b": 33, "c": 33} and sum(eq.values()) == 100
    assert temperature_token_budgets({"a": 7, "b": 7, "c": 7}, 10) == {
        "a": 4, "b": 3, "c": 3,
    }
    # zero-supply group gets zero; zero budget gets all-zero
    assert temperature_token_budgets({"a": 0, "b": 10}, 5)["a"] == 0
    assert sum(temperature_token_budgets(counts, 0).values()) == 0
    with pytest.raises(ValueError, match="alpha"):
        temperature_token_budgets(counts, 10, alpha=0.0)
    with pytest.raises(ValueError, match="total_budget"):
        temperature_token_budgets(counts, -1)

    # end-to-end: derived budgets drive the grouped selector
    rows = [
        (g, i, float(i), 10)
        for g, n in (("en", 60), ("de", 25), ("code", 5))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "g: string, id: bigint, score: double, tok: bigint")
    tok_counts = {
        r["g"]: int(r["s"])
        for r in df.groupBy("g").agg(F.sum("tok").alias("s")).collect()
    }
    budgets = temperature_token_budgets(tok_counts, total_budget=400, alpha=0.5)
    out = select_token_budget_grouped(df, "g", "id", "score", "tok", budgets)
    per_g = {
        r["g"]: int(r["s"])
        for r in out.groupBy("g").agg(F.sum("tok").alias("s")).collect()
    }
    # each group filled to its own budget (tokens are uniform 10s, so the
    # greedy prefix lands exactly on floor(budget/10)*10)
    for g in budgets:
        assert per_g.get(g, 0) == (budgets[g] // 10) * 10


def test_score_buckets_ccnet_terciles(spark):
    """CCNet head/middle/tail (r13): per-group exact-percentile
    thresholds, higher score = better bucket, no window in the plan,
    NULL scores bucket NULL, validation trips on bad probs/labels."""
    import pytest

    from pq_vector_spark.operators.sampling import score_buckets

    rows = [(i, "en" if i < 9 else "de", float(i)) for i in range(12)]
    rows.append((99, "en", None))
    df = spark.createDataFrame(rows, "doc_id: bigint, lang: string, s: double")
    out = {
        r["doc_id"]: r["bucket"]
        for r in score_buckets(
            df, "s", group_col="lang", labels=("head", "middle", "tail")
        ).collect()
    }
    # en scores 0..8 (+ NULL, excluded from thresholds by percentile):
    # terciles at 8/3 and 16/3
    assert [out[i] for i in range(9)] == ["tail"] * 3 + ["middle"] * 3 + ["head"] * 3
    assert out[9] == "tail" and out[10] == "middle" and out[11] == "head"
    assert out[99] is None
    # ungrouped integer buckets: global terciles over 0..11
    g = {r["doc_id"]: r["bucket"] for r in score_buckets(df, "s").collect()}
    assert g[0] == 3 and g[11] == 1 and g[99] is None
    # plan: threshold broadcast + map-side CASE, no Window node
    plan = (
        score_buckets(df, "s", group_col="lang")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "BroadcastHashJoin" in plan
    with pytest.raises(ValueError, match="probs"):
        score_buckets(df, "s", probs=(0.9, 0.1))
    with pytest.raises(ValueError, match="labels"):
        score_buckets(df, "s", labels=("a", "b"))
    with pytest.raises(ValueError, match="collide"):
        score_buckets(df.withColumn("bucket", F.lit(1)), "s")


def test_leakage_safe_split_components_stay_together(spark):
    from pq_vector_spark.operators.sampling import (
        BUCKETS,
        hash_bucket,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 21)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11)], "id_a bigint, id_b bigint"
    )
    out = leakage_safe_split(docs, "doc_id", pairs, holdout=0.3, salt="t")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 20
    # every near-dup component lands whole on one side
    for comp in ((1, 2, 3), (5, 6), (10, 11)):
        sides = {rows[i]["split"] for i in comp}
        assert len(sides) == 1, comp
        canon = {rows[i]["canonical_id"] for i in comp}
        assert canon == {min(comp)}
    # singletons: split is exactly the hash of their own id
    thr = int(round(0.3 * BUCKETS))
    single = docs.filter(~F.col("doc_id").isin([1, 2, 3, 5, 6, 10, 11]))
    buckets = {
        r["doc_id"]: r["b"]
        for r in single.select(
            "doc_id", hash_bucket(F.col("doc_id"), "t").alias("b")
        ).collect()
    }
    for i, b in buckets.items():
        want = "holdout" if b < thr else "train"
        assert rows[i]["split"] == want
    # deterministic under repartition
    out2 = leakage_safe_split(
        docs.repartition(7), "doc_id", pairs, holdout=0.3, salt="t"
    )
    assert {(r["doc_id"], r["split"]) for r in out2.collect()} == {
        (r["doc_id"], r["split"]) for r in out.collect()
    }


def test_leakage_safe_split_stats_diagnostics(spark):
    """r15 diagnostics contract: with _stats + _caches the operator times
    pairs/components separately (persisting both so neither re-derives),
    hands the persisted components to the resolution, and produces the
    IDENTICAL split as the plain path."""
    from pq_vector_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 21)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11)], "id_a bigint, id_b bigint"
    )
    plain = {
        (r["doc_id"], r["canonical_id"], r["split"])
        for r in leakage_safe_split(
            docs, "doc_id", pairs, holdout=0.3, salt="t"
        ).collect()
    }
    stats: dict = {}
    caches: list = []
    diag = {
        (r["doc_id"], r["canonical_id"], r["split"])
        for r in leakage_safe_split(
            docs, "doc_id", pairs, holdout=0.3, salt="t",
            _stats=stats, _caches=caches,
        ).collect()
    }
    for c in caches:
        c.unpersist()
    assert diag == plain
    assert stats["n_pairs"] == 4 and stats["n_dup_docs"] == 7
    assert stats["pairs_sec"] >= 0 and stats["components_sec"] >= 0
    assert len(caches) == 2  # pairs + components, caller-released


def test_leakage_safe_split_validates(spark):
    from pq_vector_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    with pytest.raises(ValueError, match="holdout"):
        leakage_safe_split(docs, "doc_id", pairs, holdout=1.5)
    with pytest.raises(ValueError, match="collide"):
        leakage_safe_split(
            docs.withColumn("split", F.lit("x")), "doc_id", pairs
        )


def test_repeat_mix_epoch_upsampling(spark):
    from pq_vector_spark.operators.sampling import BUCKETS, hash_bucket, repeat_mix

    docs = spark.createDataFrame(
        [(i, "src0" if i < 50 else "src1") for i in range(100)],
        "doc_id bigint, source string",
    )
    # integer factor: exactly 3 copies each, epochs 1..3
    out3 = repeat_mix(docs, "doc_id", 3.0, salt="t")
    assert out3.count() == 300
    per = out3.groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in per)
    assert {r["epoch"] for r in out3.select("epoch").distinct().collect()} == {1, 2, 3}

    # fractional factor: floor copies always + hash-gated extra
    out = repeat_mix(docs, "doc_id", 1.5, salt="t")
    rows = out.groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in rows}
    assert set(counts.values()) <= {1, 2}
    n2 = sum(1 for v in counts.values() if v == 2)
    assert 25 <= n2 <= 75  # ~50% of 100, deterministic given salt
    # the extra copy is exactly the hash gate replayed row-side
    thr = 0.5 * BUCKETS
    gate = {
        r["doc_id"]: r["b"] < thr
        for r in docs.select(
            "doc_id",
            hash_bucket(
                F.concat(F.col("doc_id").cast("string"), F.lit("#"), F.lit("2")),
                "t",
            ).alias("b"),
        ).collect()
    }
    for d, c in counts.items():
        assert (c == 2) == gate[d]

    # per-source column factor: src0 x2, src1 x0.0 (dropped entirely)
    f = F.when(F.col("source") == "src0", 2.0).otherwise(0.0)
    outc = repeat_mix(docs, "doc_id", f, salt="t")
    got = outc.groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {"src0": 100}

    # determinism under repartition + validation
    a = {(r["doc_id"], r["epoch"]) for r in out.collect()}
    b = {
        (r["doc_id"], r["epoch"])
        for r in repeat_mix(docs.repartition(7), "doc_id", 1.5, salt="t").collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="factor"):
        repeat_mix(docs, "doc_id", -1.0)
    with pytest.raises(ValueError, match="collide"):
        repeat_mix(docs.withColumn("epoch", F.lit(1)), "doc_id", 2.0)

    # NULL column factor (unmatched CASE, no .otherwise) and negative
    # column factor both RAISE at execution — the scalar ValueError's
    # runtime analogue; rows never silently vanish (r13 ADVICE low)
    from pyspark.errors import SparkRuntimeException

    f_null = F.when(F.col("source") == "src0", 2.0)  # src1 -> NULL
    with pytest.raises(SparkRuntimeException, match="non-NULL"):
        repeat_mix(docs, "doc_id", f_null, salt="t").count()
    f_neg = F.when(F.col("source") == "src0", 2.0).otherwise(-3.0)
    with pytest.raises(SparkRuntimeException, match=">= 0"):
        repeat_mix(docs, "doc_id", f_neg, salt="t").count()


def test_select_token_budget_grouped_driver_fast_path_equivalence(spark):
    """r16 driver fast path: when the slim projection fits local_threshold,
    planning runs on the driver from ONE bounded take — the kept set must
    be bit-equal to the distributed planner's (local_threshold=0) across
    the full class chain (NaN/+inf/finite/-inf/NULL scores), NULL keys,
    NULL groups, heavy ties, and zero budgets."""
    import random

    from pyspark.sql import types as T

    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    rng = random.Random(29)
    INF = float("inf")
    rows = []
    kid = 0
    for g in ["a", "b", None, "c"]:
        for _ in range(60):
            kid += 1
            r = rng.random()
            if r < 0.08:
                s = float("nan")
            elif r < 0.14:
                s = INF
            elif r < 0.20:
                s = -INF
            elif r < 0.28:
                s = None
            else:
                s = rng.choice([0.1, 0.5, 0.9])  # heavy ties
            rows.append(
                (g, kid if rng.random() > 0.05 else None, s,
                 rng.choice([0, 3, 7, 11]))
            )
    schema = T.StructType([
        T.StructField("g", T.StringType()),
        T.StructField("id", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("tok", T.IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)

    def canon(d):
        return sorted(
            [(r["g"], r["id"], repr(r["score"]), r["tok"]) for r in d.collect()],
            key=repr,
        )

    budgets = {"a": 50, "b": 0, None: 77, "c": None}
    fast = select_token_budget_grouped(
        df, "g", "id", "score", "tok", budgets, buckets=8, window_cap=16
    )
    slow = select_token_budget_grouped(
        df, "g", "id", "score", "tok", budgets, buckets=8, window_cap=16,
        local_threshold=0,
    )
    assert canon(fast) == canon(slow)
    # scalar budget too
    assert canon(
        select_token_budget_grouped(df, "g", "id", "score", "tok", 40)
    ) == canon(
        select_token_budget_grouped(
            df, "g", "id", "score", "tok", 40, local_threshold=0
        )
    )


def test_select_token_budget_grouped_driver_fast_path_punts(spark):
    """The fast path must refuse inputs Python ordering cannot replay
    exactly — NaN float keys and negative token counts — and the gate
    must reject non-atomic key types, so those inputs reach the
    distributed planner (outputs stay correct either way)."""
    from pyspark.sql import types as T

    from pq_vector_spark.operators.sampling import (
        _driver_orderable_key,
        _plan_budget_groups_local,
        select_token_budget_grouped,
    )

    # unit punts
    assert _plan_budget_groups_local(
        [("a", float("nan"), 1.0, 3)], lambda g: 10, float("inf")
    ) is None
    assert _plan_budget_groups_local(
        [("a", 1, 1.0, -3)], lambda g: 10, float("inf")
    ) is None
    assert _driver_orderable_key(T.ArrayType(T.IntegerType())) is False
    assert _driver_orderable_key(T.StringType()) is True

    # end-to-end: a NaN float key still yields the distributed result
    df = spark.createDataFrame(
        [("a", 1.0, 0.9, 5), ("a", float("nan"), 0.9, 5), ("a", 2.0, 0.1, 5)],
        T.StructType([
            T.StructField("g", T.StringType()),
            T.StructField("id", T.DoubleType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("tok", T.IntegerType()),
        ]),
    )
    got = select_token_budget_grouped(df, "g", "id", "score", "tok", 10)
    want = select_token_budget_grouped(
        df, "g", "id", "score", "tok", 10, local_threshold=0
    )
    assert sorted(repr(r) for r in got.collect()) == sorted(
        repr(r) for r in want.collect()
    )


def test_select_token_budget_driver_fast_path_equivalence(spark):
    """r16 ungrouped fast path: same bounded-take planner as the grouped
    selector (single synthetic group), emitted as the walk's pure
    map-side (score, key) predicate — kept set must be bit-equal to the
    distributed walk (local_threshold=0) across the full class chain,
    NULL keys, heavy ties, and the whole/none/zero-budget edges."""
    import random

    from pyspark.sql import types as T

    from pq_vector_spark.operators.sampling import select_token_budget

    rng = random.Random(31)
    INF = float("inf")
    rows = []
    for kid in range(1, 181):
        r = rng.random()
        if r < 0.08:
            s = float("nan")
        elif r < 0.14:
            s = INF
        elif r < 0.20:
            s = -INF
        elif r < 0.28:
            s = None
        else:
            s = rng.choice([0.1, 0.5, 0.9])  # heavy ties
        rows.append(
            (kid if rng.random() > 0.05 else None, s,
             rng.choice([0, 3, 7, 11]))
        )
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("tok", T.IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)

    def canon(d):
        return sorted(
            [(r["id"], repr(r["score"]), r["tok"]) for r in d.collect()],
            key=repr,
        )

    for budget in (0, 47, 181, 10_000_000):
        fast = select_token_budget(
            df, "id", "score", "tok", budget, buckets=8, window_cap=16
        )
        slow = select_token_budget(
            df, "id", "score", "tok", budget, buckets=8, window_cap=16,
            local_threshold=0,
        )
        assert canon(fast) == canon(slow), f"budget={budget}"
