"""Property-based checks (hypothesis): Spark expression kernels must agree
with numpy float64 ground truth on arbitrary inputs, and the IVF exactness
envelope must hold for arbitrary cluster counts."""

import math

import numpy as np
import pytest

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

pytestmark = pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)
vec = st.lists(finite, min_size=1, max_size=16)


@pytest.fixture(scope="module")
def collect_expr(spark):
    from pyspark.sql import functions as F

    def _run(col):
        return spark.range(1).select(col.alias("v")).collect()[0]["v"]

    return _run


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_squared_l2_matches_numpy(collect_expr, data):
    from pq_vector_spark.functions.distance import squared_l2

    a = data.draw(vec)
    b = data.draw(st.lists(finite, min_size=len(a), max_size=len(a)))
    got = collect_expr(squared_l2(a, b))
    want = float(((np.array(a, dtype=np.float64) - np.array(b, dtype=np.float64)) ** 2).sum())
    assert got == pytest.approx(want, rel=1e-9, abs=1e-12)


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_dot_matches_numpy(collect_expr, data):
    from pq_vector_spark.functions.distance import dot_product

    a = data.draw(vec)
    b = data.draw(st.lists(finite, min_size=len(a), max_size=len(a)))
    got = collect_expr(dot_product(a, b))
    want = float(np.array(a, dtype=np.float64) @ np.array(b, dtype=np.float64))
    assert got == pytest.approx(want, rel=1e-9, abs=1e-12)


@settings(max_examples=10, deadline=None)
@given(
    n=st.integers(min_value=4, max_value=40),
    k=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_ivf_exactness_envelope_property(spark, n, k, seed):
    """nprobe = n_clusters ⇒ IVF result == brute force, for arbitrary
    table sizes / cluster counts / seeds (reference guarantee,
    src/ivf/index.rs:131)."""
    from pq_vector_spark.index.search import ivf_topk_adhoc
    from pq_vector_spark.operators.topk import brute_force_topk

    rng = np.random.default_rng(seed)
    nc = min(k + 1, n)
    rows = [(int(i), [float(x) for x in rng.random(4, dtype=np.float32)]) for i in range(n)]
    df = spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>")
    q = [0.5, 0.5, 0.5, 0.5]
    exact = [r["id"] for r in brute_force_topk(df, "vec", q, k, tie_break="id").select("id").collect()]
    ivf = [
        r["id"]
        for r in ivf_topk_adhoc(
            df, "vec", q, k, n_clusters=nc, nprobe=nc, seed=int(seed % 1000), tie_break="id"
        )
        .select("id")
        .collect()
    ]
    assert ivf == exact


@settings(max_examples=20, deadline=None)
@given(text=st.text(min_size=0, max_size=200))
def test_fingerprint_normalization_idempotent(spark, text):
    """fingerprint(normalize(t)) == fingerprint(t) for arbitrary text."""
    from pyspark.sql import functions as F

    from pq_vector_spark.functions.text import fingerprint, normalize_text

    df = spark.createDataFrame([(text,)], "t STRING")
    row = df.select(
        fingerprint("t").alias("f1"),
        F.md5(normalize_text(normalize_text("t"))).alias("f2"),
    ).collect()[0]
    assert row["f1"] == row["f2"]


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_pack_sequences_matches_python_reference(spark, data):
    """Packing invariants on arbitrary token-count multisets: start offsets
    are exclusive prefix sums in id order per group; first/last bins match
    the scalar reference."""
    from pq_vector_spark.operators.packing import pack_sequences

    toks = data.draw(
        st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=30)
    )
    max_tokens = data.draw(st.integers(min_value=1, max_value=300))
    rows = [(i, "g", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "tok"])
    got = {
        r["doc_id"]: (r["start_offset"], r["first_seq"], r["last_seq"])
        for r in pack_sequences(
            df, "tok", group_col="grp", order_col="doc_id", max_tokens=max_tokens
        ).collect()
    }
    run = 0
    for i, t in enumerate(toks):
        first = run // max_tokens
        last = (run + max(t, 1) - 1) // max_tokens
        assert got[i] == (run, first, last), (i, t, max_tokens)
        run += t


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_merge_upsert_matches_python_reference(spark, data):
    """CDC merge on arbitrary changesets: result equals a dict-based
    last-writer-wins reference (delete-first on version ties)."""
    from pq_vector_spark.operators.merge import merge_upsert

    base_keys = data.draw(st.sets(st.integers(0, 8), min_size=1, max_size=6))
    changes = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, 10),  # key
                st.integers(0, 3),  # version
                st.sampled_from(["U", "D"]),
            ),
            min_size=0,
            max_size=12,
        )
    )
    base_rows = [(k, f"b{k}") for k in sorted(base_keys)]
    # make (key, version, op) unique — duplicate rows would make the
    # winner genuinely ambiguous in any engine
    chg = {(k, v, op) for k, v, op in changes}
    chg_rows = [(k, f"c{k}v{v}", op, v) for k, v, op in sorted(chg)]

    base = spark.createDataFrame(base_rows, "id INT, name STRING")
    if not chg_rows:
        return
    ch = spark.createDataFrame(chg_rows, "id INT, name STRING, op STRING, version INT")
    got = {r["id"]: r["name"] for r in merge_upsert(base, ch, ["id"], "version").collect()}

    # reference: per key, max version; tie → D wins, else op desc
    expect = {k: f"b{k}" for k in base_keys}
    per_key = {}
    for k, v, op in chg:
        cur = per_key.get(k)
        cand = (v, 1 if op == "D" else 0, op)
        if cur is None or cand > cur:
            per_key[k] = cand
    for k, (v, is_d, op) in per_key.items():
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = f"c{k}v{v}"
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_chunk_reconstruction_property(spark, data):
    """For arbitrary text and window params, zero-overlap chunks
    concatenate to the original; overlapping chunks each match the
    corresponding substring and starts step uniformly."""
    from pq_vector_spark.operators.chunk import chunk_documents

    text = data.draw(st.text(min_size=0, max_size=200))
    chunk = data.draw(st.integers(min_value=1, max_value=50))
    overlap = data.draw(st.integers(min_value=0, max_value=min(chunk - 1, 20)))
    df = spark.createDataFrame([(1, text)], "doc_id: bigint, text: string")
    rows = sorted(
        chunk_documents(df, "text", "doc_id", chunk_chars=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    step = chunk - overlap
    for i, r in enumerate(rows):
        assert r["chunk_start"] == i * step
        assert r["chunk_text"] == text[i * step : i * step + chunk]
    if overlap == 0:
        assert "".join(r["chunk_text"] for r in rows) == text
    # every character is covered by at least one chunk
    assert rows[-1]["chunk_start"] + chunk >= len(text)


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_stratified_sample_counts_property(spark, data):
    """min(k, |stratum|) rows per stratum for arbitrary stratum layouts,
    invariant under repartitioning."""
    from collections import Counter

    from pq_vector_spark.operators.sampling import stratified_sample

    sizes = data.draw(
        st.lists(st.integers(min_value=0, max_value=25), min_size=1, max_size=5)
    )
    k = data.draw(st.integers(min_value=1, max_value=12))
    rows, nid = [], 0
    for s_i, n in enumerate(sizes):
        for _ in range(n):
            rows.append((nid, f"s{s_i}"))
            nid += 1
    if not rows:
        return
    df = spark.createDataFrame(rows, ["doc_id", "stratum"])
    got = stratified_sample(df.repartition(5), "stratum", "doc_id", k).collect()
    counts = Counter(r["stratum"] for r in got)
    for s_i, n in enumerate(sizes):
        assert counts.get(f"s{s_i}", 0) == min(k, n)


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_psi_contributions_nonnegative_property(spark, data):
    """Each PSI bucket term (p−q)·ln(p/q) is ≥ 0 for any pair of
    distributions (both factors share sign), and PSI(d, d) = 0."""
    from pq_vector_spark.operators.drift import distribution_drift

    xs = data.draw(
        st.lists(st.floats(min_value=0, max_value=100, allow_nan=False,
                           allow_infinity=False), min_size=5, max_size=40)
    )
    ys = data.draw(
        st.lists(st.floats(min_value=0, max_value=100, allow_nan=False,
                           allow_infinity=False), min_size=5, max_size=40)
    )
    a = spark.createDataFrame([(float(x),) for x in xs], "x: double")
    b = spark.createDataFrame([(float(y),) for y in ys], "x: double")
    rows = distribution_drift(a, b, "x", lo=0, hi=100, bins=5).collect()
    assert all(r["psi_contrib"] >= 0.0 for r in rows)
    self_rows = distribution_drift(a, a, "x", lo=0, hi=100, bins=5).collect()
    assert all(r["psi_contrib"] == 0.0 for r in self_rows)


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_maxsim_matches_numpy_property(spark, data):
    """MaxSim nested-HOF fold vs numpy ground truth on random bags."""
    from pq_vector_spark.operators.similarity import maxsim_topk

    dim = data.draw(st.integers(min_value=1, max_value=6))
    n_docs = data.draw(st.integers(min_value=1, max_value=8))
    small = st.floats(min_value=-10, max_value=10, allow_nan=False,
                      allow_infinity=False)
    docs, mats = [], []
    for i in range(n_docs):
        nv = data.draw(st.integers(min_value=1, max_value=4))
        bag = [[data.draw(small) for _ in range(dim)] for _ in range(nv)]
        docs.append((i, bag))
        mats.append(np.array(bag, dtype=np.float64))
    nq = data.draw(st.integers(min_value=1, max_value=3))
    qbag = [[data.draw(small) for _ in range(dim)] for _ in range(nq)]
    qm = np.array(qbag, dtype=np.float64)

    df = spark.createDataFrame(docs, "id: bigint, bag: array<array<double>>")
    got = {
        r["id"]: r["maxsim"]
        for r in maxsim_topk(df, "bag", qbag, n_docs, id_col="id").collect()
    }
    for i, m in enumerate(mats):
        want = float((qm @ m.T).max(axis=1).sum())
        assert got[i] == pytest.approx(want, rel=1e-9, abs=1e-9)


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_temperature_rates_properties(data):
    """For arbitrary positive group counts and alpha in (0,1]: every rate
    is in (0,1], the smallest group's rate is exactly 1.0 (rare data never
    dropped), and expected kept counts n_i*r_i are proportional to n_i^α
    (the temperature target), up to the clamp."""
    from pq_vector_spark.operators.sampling import temperature_rates

    counts = data.draw(
        st.dictionaries(
            st.text(alphabet="abcdefg", min_size=1, max_size=3),
            st.integers(min_value=1, max_value=10**6),
            min_size=1,
            max_size=8,
        )
    )
    alpha = data.draw(
        st.floats(min_value=0.05, max_value=1.0, allow_nan=False)
    )
    rates = temperature_rates(counts, alpha)
    assert set(rates) == set(counts)
    assert all(0.0 < r <= 1.0 for r in rates.values())
    smallest = min(counts, key=lambda g: (counts[g], str(g)))
    assert rates[smallest] == 1.0
    # unclamped groups: kept_i / n_j^alpha ratio constant
    kept = {g: counts[g] * rates[g] for g in counts}
    ref = {g: counts[g] ** alpha for g in counts}
    ratios = [
        kept[g] / ref[g] for g in counts if rates[g] < 1.0 - 1e-12
    ]
    for a, b in zip(ratios, ratios[1:]):
        assert abs(a - b) <= 1e-6 * max(abs(a), abs(b), 1.0)


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_select_token_budget_matches_greedy_property(spark, data):
    """Arbitrary (score, tokens) tables and budgets: the bucketed two-phase
    selection equals the naive global greedy prefix exactly — including
    duplicate scores, tiny bucket counts, and budgets at the extremes."""
    from pq_vector_spark.operators.sampling import select_token_budget

    n = data.draw(st.integers(min_value=1, max_value=60))
    rows = [
        (
            i,
            data.draw(
                st.floats(
                    min_value=-100, max_value=100, allow_nan=False, width=32
                )
            ),
            data.draw(st.integers(min_value=0, max_value=50)),
        )
        for i in range(n)
    ]
    total = sum(r[2] for r in rows)
    budget = data.draw(st.integers(min_value=0, max_value=total + 5))
    buckets = data.draw(st.integers(min_value=1, max_value=16))
    df = spark.createDataFrame(rows, "id: bigint, score: double, tok: bigint")
    got = sorted(
        r["id"]
        for r in select_token_budget(
            df, "id", "score", "tok", budget, buckets=buckets
        ).collect()
    )
    kept, cum = [], 0
    for key, score, tok in sorted(rows, key=lambda r: (-r[1], r[0])):
        if cum + tok > budget:
            break
        cum += tok
        kept.append(key)
    assert got == sorted(kept)


# the token-budget selectors' two planners: the driver planner (default
# local_threshold) and the distributed walk (local_threshold=0)
_PLANNERS = ({}, {"local_threshold": 0})


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_select_token_budget_grouped_matches_greedy_property(spark, data):
    """Arbitrary grouped tables, budgets (incl. missing groups, defaults,
    and small bucket counts): the grouped bucketed selection equals the
    per-group naive greedy prefix exactly."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    groups = ["a", "b", None]
    n = data.draw(st.integers(min_value=1, max_value=60))
    # quantize scores to a few distinct values half the time so heavy TIES
    # (the shape that forces key-range refinement) are actually drawn
    quantize = data.draw(st.booleans())
    rows = [
        (
            groups[data.draw(st.integers(min_value=0, max_value=2))],
            i,
            float(data.draw(st.integers(min_value=-2, max_value=2)))
            if quantize
            else data.draw(
                st.floats(
                    min_value=-100, max_value=100, allow_nan=False, width=32
                )
            ),
            data.draw(st.integers(min_value=0, max_value=50)),
        )
        for i in range(n)
    ]
    total = sum(r[3] for r in rows)
    budgets = {
        g: data.draw(
            st.one_of(st.none(), st.integers(min_value=0, max_value=total + 5))
        )
        for g in data.draw(st.sets(st.sampled_from(["a", "b"]), max_size=2))
    }
    default = data.draw(
        st.one_of(st.none(), st.integers(min_value=0, max_value=total + 5))
    )
    buckets = data.draw(st.integers(min_value=1, max_value=16))
    # None = shared-window plan only; a tiny cap forces the recursive
    # auto-refinement path on most crossing groups
    window_cap = data.draw(
        st.one_of(st.none(), st.integers(min_value=1, max_value=8))
    )
    df = spark.createDataFrame(
        rows, "g: string, id: bigint, score: double, tok: bigint"
    )
    kept = []
    by_g = {}
    for g, k, s, t in rows:
        by_g.setdefault(g, []).append((k, s, t))
    for g, members in by_g.items():
        b = budgets.get(g, default)
        cum = 0
        for k, _s, t in sorted(members, key=lambda r: (-r[1], r[0])):
            if b is not None and cum + t > b:
                break
            cum += t
            kept.append(k)
    for kw in _PLANNERS:
        got = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "g", "id", "score", "tok", budgets,
                buckets=buckets, default_budget=default, window_cap=window_cap,
                **kw,
            ).collect()
        )
        assert got == sorted(kept), kw


def test_select_token_budget_grouped_subnormal_width_regression(spark):
    """Pinned Hypothesis falsifying example (found r15): group 'a' spans
    [-18.47, 8.30] but its refinement walk narrows a crossing bucket to
    lo=-1.1754943508222875e-38 (float32 min-normal), hi=-0.0 — width
    ~8.4e-40. The subnormal-width bucketer lands in both a `keep` and an
    `anc` predicate of the final output pass, codegen subexpression
    elimination evaluates it UNCONDITIONALLY on rows far below `lo`
    (score -18.47 -> floor ~-2e39 -> double->long saturates to
    Long.MIN_VALUE), and without the low-side greatest(.., 0) clamp the
    .cast("int") throws CAST_OVERFLOW under Spark 4's default ANSI mode
    (non-ANSI: silent garbage bucket). Deterministic: this exact 39-row
    table crashed every run pre-fix."""
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    SUBN = -1.1754943508222875e-38
    rows = [
        ("a", 0, 8.302260398864746, 28),
        ("b", 1, -0.0, 42),
        ("b", 2, -5.960464477539063e-08, 30),
        (None, 3, 90.4334945678711, 50),
        ("a", 4, -0.0, 18),
        (None, 5, 76.14765167236328, 9),
        ("a", 6, -0.0, 18),
        ("b", 7, 6.103515625e-05, 9),
        ("b", 8, -2.0000100135803223, 31),
        ("a", 9, 0.0, 33),
        (None, 13, 0.0, 49),
        ("a", 16, SUBN, 17),
        (None, 19, 0.0, 33),
        (None, 21, 0.0, 17),
        ("a", 22, -18.476306915283203, 0),
        (None, 23, -0.5, 31),
        ("a", 26, 0.0, 33),
        ("a", 27, 0.0, 37),
    ] + [
        # the zero-token 0.0-score ties that force the walk past the
        # score-mode levels into the subnormal refinement
        ("a", i, 0.0, 0)
        for i in (10, 11, 12, 14, 15, 17, 18, 20, 24, 25)
        + tuple(range(28, 39))
    ]
    df = spark.createDataFrame(
        rows, "g: string, id: bigint, score: double, tok: bigint"
    )
    kept = []
    by_g: dict = {}
    for g, k, s, t in rows:
        by_g.setdefault(g, []).append((k, s, t))
    for g, members in by_g.items():
        cum = 0
        for k, _s, t in sorted(members, key=lambda r: (-r[1], r[0])):
            if cum + t > 181:
                break
            cum += t
            kept.append(k)
    for kw in _PLANNERS:
        got = sorted(
            r["id"]
            for r in select_token_budget_grouped(
                df, "g", "id", "score", "tok", {},
                buckets=14, default_budget=181, window_cap=1, **kw,
            ).collect()
        )
        assert got == sorted(kept), kw


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_remove_repeated_paragraphs_matches_naive(spark, data):
    """Arbitrary corpora (shared paragraph pool so repeats actually occur,
    blank/whitespace paragraphs, empty docs, normalization collisions):
    the operator's output is byte-equal to a naive Python twin of the
    documented rule, on BOTH the flagged-subset and rewrite_all plans."""
    import re

    from pq_vector_spark.operators.dedup import remove_repeated_paragraphs

    pool = data.draw(
        st.lists(
            st.sampled_from(
                ["alpha beta", "ALPHA  beta", "gamma", " ", "", "d e f",
                 "Gamma", "\t", "\r", "a\tb"]
            ),
            min_size=1,
            max_size=6,
        )
    )
    n_docs = data.draw(st.integers(min_value=1, max_value=8))
    docs = []
    for i in range(n_docs):
        k = data.draw(st.integers(min_value=0, max_value=4))
        paras = [data.draw(st.sampled_from(pool)) for _ in range(k)]
        docs.append((i, "\n".join(paras)))
    min_docs = data.draw(st.integers(min_value=2, max_value=3))

    def norm(p):
        return re.sub(r"\s+", " ", p.lower()).strip()

    by_fp = {}
    for i, text in docs:
        for p in text.split("\n"):
            if p.strip() != "":
                by_fp.setdefault(norm(p), set()).add(i)
    hot = {fp for fp, ids in by_fp.items() if len(ids) >= min_docs}
    want = {
        i: "\n".join(
            p for p in text.split("\n")
            if p.strip() == "" or norm(p) not in hot
        )
        for i, text in docs
    }

    df = spark.createDataFrame(docs, "doc_id: bigint, text: string")
    for rewrite_all in (False, True):
        got = {
            r["doc_id"]: r["text"]
            for r in remove_repeated_paragraphs(
                df, "text", "doc_id", min_docs=min_docs, rewrite_all=rewrite_all
            ).collect()
        }
        assert got == want, f"rewrite_all={rewrite_all}"
