"""Deterministic sampling and dataset mixing — training-data pipeline
primitives (north-star extension; the reference's engine has no sampling
surface beyond its internal index-training sample, src/ivf/index.rs:63-88).

``df.sample()`` is unsuitable for corpus curation at 100 TB: its outcome
depends on partitioning and run order, so reruns and engine migrations
silently change the training set. These operators key every row's fate on
an md5-derived hash of a stable id instead:

- reproducible across runs, partitionings, AND engines (the DuckDB oracle
  computes the identical bucket from the same bytes);
- stable under growth — appending data never flips an existing row's fate;
- pure map-side filters (no shuffle, no state), pushed like any predicate;
- salt-parameterized, so independent draws (train/validation splits,
  epoch-level subsampling) use the same machinery with different salts.
"""

from __future__ import annotations

import logging
from functools import reduce
from typing import Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pq_vector_spark.functions.text import token_hash

_LOG = logging.getLogger("pq_vector_spark.sampling")

# bucket space: fine enough that rate granularity is 1e-6, small enough
# that the 60-bit hash is uniform over it
BUCKETS = 1_000_000


def _check_reserved(df: DataFrame, names, prefixes=()):
    """Fail loudly when an input column collides with a helper column this
    module adds and later drops — a silent ``withColumn`` overwrite would
    otherwise delete the user's column from the output."""
    hit = [
        c
        for c in df.columns
        if c in names or any(c.startswith(p) for p in prefixes)
    ]
    if hit:
        raise ValueError(
            f"input columns {hit} collide with reserved helper names "
            f"({sorted(names)}{' + prefixes ' + repr(list(prefixes)) if prefixes else ''}); "
            "rename them before sampling"
        )


def _salted_hash(col, salt: str) -> Column:
    """60-bit deterministic hash of the SALT-THEN-KEY concat — the exact
    expression every DuckDB oracle replays (md5 prefix via
    ``functions.text.token_hash``); keep it in ONE place so the concat
    order can never drift between samplers."""
    c = F.col(col) if isinstance(col, str) else col
    return token_hash(F.concat(F.lit(salt), c.cast("string")))


def hash_bucket(col, salt: str = "") -> Column:
    """Stable bucket in [0, BUCKETS) from the md5 of the salted, stringified
    key (``functions.text.token_hash`` — portable: DuckDB reproduces it
    bit-for-bit, unlike engine-native hashes)."""
    return F.pmod(_salted_hash(col, salt), F.lit(BUCKETS))


def hash_sample(df: DataFrame, key_col: str, rate: float, salt: str = "") -> DataFrame:
    """Deterministic ``rate``-sampling: keep rows whose hash bucket falls
    below ``rate * BUCKETS``. A row's membership depends only on
    (key, salt) — never on partitioning, ordering, or corpus size."""
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(round(rate * BUCKETS))
    return df.filter(hash_bucket(key_col, salt) < F.lit(threshold))


def train_split(
    df: DataFrame, key_col: str, holdout: float = 0.01, salt: str = "split"
) -> Tuple[DataFrame, DataFrame]:
    """(train, holdout) partition by hash bucket — disjoint and exhaustive,
    and a document NEVER migrates between splits as the corpus grows (the
    leakage guarantee a random split cannot give)."""
    if not (0.0 < holdout < 1.0):
        raise ValueError(f"holdout must be in (0, 1), got {holdout}")
    threshold = int(round(holdout * BUCKETS))
    b = hash_bucket(key_col, salt)
    return df.filter(b >= F.lit(threshold)), df.filter(b < F.lit(threshold))


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    *,
    holdout: float = 0.01,
    salt: str = "split",
    left: str = "id_a",
    right: str = "id_b",
    split_col: str = "split",
    max_iters: int = 20,
    _stats: Optional[dict] = None,
    _caches: Optional[list] = None,
) -> DataFrame:
    """Duplicate-aware train/holdout split: a plain ``train_split`` hashes
    DOCUMENT ids, so a near-duplicate of a holdout document lands in train
    with probability 1 - holdout — eval contamination by construction.
    This variant resolves the near-dup pair graph into connected
    components (``resolve_duplicates``) and hashes the COMPONENT canonical
    id instead, so every duplicate cluster lands whole on one side: no
    paraphrase/boilerplate sibling of an eval doc can appear in train.

    ``pairs`` is any near-dup edge list — MinHash-LSH, embedding-bucketed,
    winnow overlap, n-gram Jaccard; the split is agnostic to how the
    edges were found. Returns ``df`` + ``canonical_id`` / ``is_canonical``
    (the resolution contract) + ``split_col`` ∈ {'train', 'holdout'} as
    ONE frame — both sides share the resolution work; filter downstream.

    Determinism: membership depends only on (canonical id, salt) — stable
    across partitioning and reruns, and append-stable EXCEPT when new
    edges merge two components (inherent: the merged cluster must move to
    one side — the side of its new canonical).

    Scale shape: the component resolution's bounded union-find /
    pointer-jumping (``connected_components``) dominates; the split
    itself is one map-side hash — no extra shuffle.

    With BOTH ``_stats`` and ``_caches`` (the repo's diagnostics
    contract — caller unpersists everything appended to ``_caches``
    after its action), the three stages are timed separately so
    optimization is aimed, not guessed: ``pairs_sec``/``n_pairs``
    (materializing the caller's pair pipeline — persisted, so the
    component pass doesn't re-derive it), ``components_sec``/
    ``n_dup_docs`` (label propagation, persisted and handed to the
    resolution so it is not re-run), and the caller's wall minus both =
    the split + canonical join-back itself."""
    if not (0.0 < holdout < 1.0):
        raise ValueError(f"holdout must be in (0, 1), got {holdout}")
    _check_reserved(df, {split_col, "canonical_id", "is_canonical"})
    from pq_vector_spark.operators.dedup import resolve_duplicates

    comp = None
    if _stats is not None and _caches is not None:
        import time as _time

        from pq_vector_spark.operators.dedup import connected_components

        _t0 = _time.time()
        pairs = pairs.persist()
        _caches.append(pairs)
        _stats["n_pairs"] = int(pairs.count())
        _stats["pairs_sec"] = round(_time.time() - _t0, 3)
        _t0 = _time.time()
        comp = connected_components(
            pairs, left, right, max_iters=max_iters
        ).persist()
        _caches.append(comp)
        _stats["n_dup_docs"] = int(comp.count())
        _stats["components_sec"] = round(_time.time() - _t0, 3)
    resolved = resolve_duplicates(
        df, pairs, id_col, left, right, max_iters=max_iters, components=comp
    )
    threshold = int(round(holdout * BUCKETS))
    b = hash_bucket(F.col("canonical_id"), salt)
    return resolved.withColumn(
        split_col,
        F.when(b < F.lit(threshold), F.lit("holdout")).otherwise(F.lit("train")),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen deterministically:
    rank rows within each stratum by their hash bucket (ties broken by key)
    and keep the first k. The balanced-per-class draw ``hash_sample`` can't
    give — rate sampling yields binomial counts; this yields exact counts.

    Determinism contract: which rows win depends only on
    (stratum, key, salt) — never on partitioning or run order. Unlike
    ``hash_sample``, membership IS affected by corpus growth (a new row can
    out-rank an old one) — that is inherent to exact-k semantics; use
    ``hash_sample`` when append-stability matters more than exact counts.

    Scale shape: ONE shuffle keyed on the stratum. The rank-≤-k filter is
    Spark's WindowGroupLimit pattern — each map task pre-prunes to its
    local top-k per stratum before the exchange, so the shuffle carries
    O(n_partitions × strata × k), not the corpus. Strata counts are
    typically ≪ rows (languages, sources, quality buckets); a stratum with
    fewer than k rows yields all of them.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    _check_reserved(df, {"_rk"})
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(key_col, salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.lit(int(k)))
        .drop("_rk")
    )


def weighted_mix(
    parts: Mapping[str, Tuple[DataFrame, float]],
    key_col: str,
    salt: str = "",
    tag_col: str = "mix_source",
) -> DataFrame:
    """Weighted deterministic interleave of corpora — the training-mixture
    primitive ("100% wiki + 30% web + 5% code"): each part is
    hash-sampled at its weight and tagged with ``tag_col``.

    Scale shape: a union of map-side filters — no shuffle, no sampling
    state; each source's scan prunes independently and the union is purely
    logical (Spark unions partitions, it does not materialize them).
    Weights > 1 are rejected — upsampling (epoch repetition) is
    ``repeat_mix``'s job.
    """
    if not parts:
        raise ValueError("parts must name at least one (DataFrame, weight)")
    outs = []
    for name in sorted(parts):
        df, weight = parts[name]
        outs.append(
            hash_sample(df, key_col, weight, salt=salt or name).withColumn(
                tag_col, F.lit(name)
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def repeat_mix(
    df: DataFrame,
    key_col: str,
    factor,
    *,
    salt: str = "epoch",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic repeat-factor upsampling — the other half of the
    training-mixture spec that ``weighted_mix`` deliberately leaves to the
    loader side ("4 epochs of Wikipedia, 0.5 of CommonCrawl", cf. the
    GPT-3 §2.2 / LLaMA sampling-proportion tables): every row emits
    ``floor(f)`` full copies plus one more with probability ``frac(f)``,
    decided by the salted hash of (key, copy index) — exact in
    expectation, per-row deterministic, append-stable (a new corpus row
    never flips an old row's copies). ``factor`` is a float (uniform) or
    a Column (per-row — e.g. a CASE over the source column). A NULL or
    negative column factor RAISES at execution (matching the scalar
    form's ValueError — the repo's never-silently-drop discipline; an
    unmatched CASE without ``.otherwise`` is a spec bug, not a drop
    request — ``coalesce(factor, lit(0.0))`` explicitly if 0 is meant).
    The output
    adds ``epoch_col`` (1-based copy index); feed each epoch copy to
    ``write_epoch_shards(salt=f"{salt}-{{epoch}}")`` so repeats land at
    different positions in training order.

    Scale shape: one generator (``explode(sequence(...))``) + a map-side
    hash gate — no shuffle, no state; a 100 TB corpus upsamples as a pure
    projection whose output volume is exactly Σ ceil(f) rows pre-gate."""
    if not isinstance(factor, Column):
        if float(factor) < 0:
            raise ValueError(f"factor must be >= 0, got {factor}")
        f = F.lit(float(factor)).cast("double")
    else:
        f = factor.cast("double")
        # loud analogue of the scalar ValueError: NULL (unmatched CASE) or
        # negative per-row factors fail the job instead of vanishing rows
        f = F.when(
            f.isNull() | (f < 0),
            F.raise_error(
                F.concat(
                    F.lit("repeat_mix: factor must be non-NULL and >= 0, got "),
                    F.coalesce(f.cast("string"), F.lit("NULL")),
                )
            ).cast("double"),
        ).otherwise(f)
    _check_reserved(df, {epoch_col, "_rm_i"})
    key = F.col(key_col)
    # greatest(., 0): a (column-supplied) negative factor must not reach
    # sequence(1, 0), which Spark generates DESCENDING
    full = F.greatest(F.floor(f).cast("bigint"), F.lit(0).cast("bigint"))
    frac = f - F.floor(f)
    i = F.col("_rm_i")
    gate = (i <= full) | (
        hash_bucket(
            F.concat(key.cast("string"), F.lit("#"), i.cast("string")), salt
        ).cast("double")
        < frac * F.lit(float(BUCKETS))
    )
    out = (
        df.withColumn(
            "_rm_i", F.explode(F.sequence(F.lit(1).cast("bigint"), full + 1))
        )
        .filter(gate)
        .withColumnRenamed("_rm_i", epoch_col)
    )
    return out


def importance_sample(
    df: DataFrame, key_col: str, prob_col, salt: str = ""
) -> DataFrame:
    """Per-row deterministic acceptance sampling: keep a row iff its hash
    bucket falls below ``prob_col`` × BUCKETS — importance/curriculum
    sampling ("keep high-quality docs with probability ∝ quality") with
    the same reproducibility contract as ``hash_sample`` (fate =
    f(key, salt, that row's own probability); partitioning/order/engine
    never change the draw, and the DuckDB oracle replays it exactly).

    ``prob_col`` is a column (or name) of values in [0, 1]; values are
    clamped. Map-side filter, no shuffle — pushes like any predicate.
    """
    p = F.col(prob_col) if isinstance(prob_col, str) else prob_col
    clamped = F.least(F.greatest(p.cast("double"), F.lit(0.0)), F.lit(1.0))
    # explicit floor(+0.5): engine round() half-way modes differ (same
    # portability trade as SQ8's code rounding, functions/quantize.py)
    threshold = F.floor(clamped * F.lit(BUCKETS) + F.lit(0.5)).cast("bigint")
    return df.filter(hash_bucket(key_col, salt) < threshold)


def priority_sample_k(
    df: DataFrame,
    key_col: str,
    weight_col,
    k: int,
    *,
    group_col: Optional[str] = None,
    salt: str = "",
) -> DataFrame:
    """EXACT-k weighted sampling without replacement (per group, or
    globally): keep the k rows with the highest PRIORITY w / u, where u is
    a deterministic hash-uniform in (0, 1] derived from (key, salt) — the
    priority-sampling scheme of Duffield, Lund & Thorup ("Priority
    sampling for estimation of arbitrary subset sums", JACM 2007).
    Complements ``importance_sample`` (Bernoulli: expected-rate, variable
    count) with the fixed-count draw a "take exactly 10k docs per
    language, weighted by quality" curation step needs.

    Determinism/portability contract (same as ``hash_sample``): a row's
    priority depends only on (key, salt, its own weight) — never on
    partitioning, ordering, or corpus size — and every arithmetic step is
    an IEEE correctly-rounded cast/divide, so DuckDB replays the draw
    bit-for-bit. (Efraimidis–Spirakis u^(1/w) ranking would need pow/ln,
    which drift by 1 ulp across engine math libraries and flip selections
    at the k boundary; priority sampling gives the same
    weighted-without-replacement semantics transcendental-free.)

    Rows with NULL, NaN or non-positive weight are EXCLUDED (weight 0 =
    never sampled; NULL/NaN weights are unknowable, not infinite — and
    Spark's ``> 0.0`` alone would rank NaN ABOVE every real weight).
    Rows with a NULL key are excluded too (no key, no hash — the same
    convention as ``hash_sample``, whose NULL bucket fails its
    threshold). Groups smaller than k keep all their eligible rows.
    ``key_col`` must uniquely identify rows (it seeds u and breaks
    priority ties).

    Scale shape: grouped = one window whose rank filter Spark plans as
    WindowGroupLimit, pre-pruning every input partition to its own top k
    BEFORE the shuffle (per-group task sees ≤ partitions × k rows);
    global = sort-limit, planned as TakeOrderedAndProject (a k-row heap
    per partition + a k-row merge — a global row_number window would NOT
    get the group-limit rewrite and would sort the corpus in one task).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    _check_reserved(df, {"_ps_pri", "_ps_rn"})
    from pyspark.sql import Window

    keyc = F.col(key_col) if isinstance(key_col, str) else key_col
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    if k == 0:
        return df.filter(F.lit(False))
    # u in (0, 1]: token_hash is uniform on [0, 2^60); +1 stays exact in
    # int64; the int->double cast and the divide are correctly rounded in
    # every IEEE engine, so u (hence w/u) is bit-identical cross-engine
    u = (_salted_hash(keyc, salt) + F.lit(1)).cast("double") / F.lit(
        float(2**60)
    )
    pri = w / u
    pos = df.filter(
        keyc.isNotNull() & w.isNotNull() & ~F.isnan(w) & (w > 0.0)
    ).withColumn("_ps_pri", pri)
    if group_col is None:
        return (
            pos.orderBy(F.desc("_ps_pri"), keyc.asc()).limit(k).drop("_ps_pri")
        )
    win = Window.partitionBy(group_col).orderBy(F.desc("_ps_pri"), keyc.asc())
    return (
        pos.withColumn("_ps_rn", F.row_number().over(win))
        .filter(F.col("_ps_rn") <= F.lit(k))
        .drop("_ps_pri", "_ps_rn")
    )


def score_buckets(
    df: DataFrame,
    score_col: str,
    *,
    group_col: Optional[str] = None,
    probs: Sequence[float] = (1.0 / 3.0, 2.0 / 3.0),
    labels: Optional[Sequence[str]] = None,
    out_col: str = "bucket",
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020 §4.4: documents
    cut into per-language perplexity terciles — head/middle/tail — and
    selection keeps the better buckets). Rows bucket by comparing their
    score against PER-GROUP quantile thresholds:

    - thresholds come from ONE exact-percentile aggregation per group
      (``percentile`` — ANSI percentile_cont semantics, the
      ``length_quantiles`` portability stance: an external engine
      replays the cut points bit-for-bit; swap ``approx_percentile`` for
      true high-cardinality scores at 100 TB);
    - HIGHER score = BETTER bucket: bucket 1 (head) is scores above the
      top threshold, bucket ``len(probs)+1`` (tail) at or below the
      bottom one. The naive form is ``ntile`` over a per-group window —
      ONE TASK holding an entire language at web scale; the threshold
      table is groups-sized, broadcasts, and keeps bucketing map-side
      with no window anywhere;
    - a NULL score buckets NULL (no signal — filter or default it
      downstream, the repetition_ratios convention).

    ``labels`` (length ``len(probs) + 1``, best-first — e.g. ``("head",
    "middle", "tail")``) emits names instead of 1-based indexes.
    """
    ps = [float(p) for p in probs]
    if not ps or any(not (0.0 < p < 1.0) for p in ps) or sorted(ps) != ps:
        raise ValueError(f"probs must be ascending fractions in (0,1), got {probs}")
    if labels is not None and len(labels) != len(ps) + 1:
        raise ValueError(
            f"labels needs len(probs)+1 = {len(ps) + 1} entries, got {len(labels)}"
        )
    _check_reserved(df, {"_sb_thr", "_sb_grp", out_col})
    sc = F.col(score_col).cast("double")
    thr = F.percentile(sc, F.array(*[F.lit(p) for p in ps])).alias("_sb_thr")
    if group_col is None:
        t = df.agg(thr).withColumn("_sb_grp", F.lit(1))
        joined = df.withColumn("_sb_grp", F.lit(1)).join(
            F.broadcast(t), "_sb_grp"
        )
    else:
        t = df.groupBy(F.col(group_col).alias("_sb_grp")).agg(thr)
        joined = df.join(
            F.broadcast(t), F.col(group_col) == F.col("_sb_grp"), "left"
        )
    # bucket = 1 + #(thresholds at-or-above the score): above every
    # threshold → 1 (head), at/below all → len(probs)+1 (tail). The NULL
    # guard wraps the FINAL expression with a never-NULL index inside —
    # element_at's NULL-index behavior is not trustworthy here (observed
    # returning the last element for a NULL CASE index).
    idx = (
        F.lit(1)
        + F.size(F.filter(F.col("_sb_thr"), lambda x: sc <= x))
    )
    if labels is not None:
        idx = F.element_at(F.array(*[F.lit(str(l)) for l in labels]), idx)
    bucket = F.when(sc.isNotNull(), idx)
    return joined.withColumn(out_col, bucket).drop("_sb_grp", "_sb_thr")


def temperature_rates(
    counts: Mapping[str, int], alpha: float = 0.5
) -> "dict[str, float]":
    """Per-group keep rates for temperature-based mixture rebalancing.

    The standard multilingual/multi-source recipe (mBERT/T5/LLaMA data
    mixing): target composition q_i ∝ n_i^alpha, alpha < 1 flattening the
    head so rare groups are relatively upweighted. Rates are
    downsample-only (no upsampling — epoch repetition belongs in the data
    loader, the ``weighted_mix`` stance): the scale c = min_i(n_i / q_i)
    is the largest budget for which every group's target c·q_i fits inside
    its actual n_i, which lands the SMALLEST group at rate 1.0 (rare data
    is never thrown away) and downsamples the head toward the temperature
    target.
    """
    if not counts:
        raise ValueError("counts must name at least one group")
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    # deterministic fold order that tolerates a NULL group key (a corpus
    # with lang NULL is a count group like any other)
    order = sorted(counts, key=lambda g: (g is not None, str(g)))
    pw = {g: float(counts[g]) ** alpha for g in counts}
    tot = sum(pw[g] for g in order)
    q = {g: pw[g] / tot for g in pw}
    c = min(counts[g] / q[g] for g in order)
    rates = {g: min(c * q[g] / counts[g], 1.0) for g in counts}
    # the group achieving the min is rate 1.0 BY CONSTRUCTION; the float
    # round-trip c*q/n can land one ulp under it — snap so the documented
    # "rarest group kept whole" contract holds exactly (the integer bucket
    # threshold floor(r*1e6 + 0.5) is identical either way, so engine
    # oracle parity is unaffected)
    return {g: 1.0 if r > 1.0 - 1e-12 else r for g, r in rates.items()}


def temperature_token_budgets(
    token_counts: Mapping, total_budget: int, alpha: float = 0.5
) -> "dict[object, int]":
    """Per-group TOKEN budgets for a temperature-rebalanced mixture — the
    bridge between ``temperature_rates`` (per-ROW keep rates) and
    ``select_token_budget_grouped`` (per-group token budgets): given each
    group's available token count and a total training budget, target
    composition q_i ∝ n_i^alpha, clipped group-by-group to what the group
    actually has (downsample-only — a group never receives a budget above
    its own supply; the leftover redistributes over the remaining groups
    by the same temperature weights until it is spent or every group is
    capped). The result plugs straight in::

        budgets = temperature_token_budgets(counts, total_budget=10**12)
        out = select_token_budget_grouped(df, "lang", "doc_id", "quality",
                                          "n_tokens", budgets)

    Driver-side pure math over a groups-sized dict (languages, sources) —
    no Spark jobs; derive ``token_counts`` with one bounded aggregation
    (``df.groupBy(g).agg(F.sum(tokens))``). Budgets are exact ints (floor)
    so the grouped selector's bigint cums compare exactly; the sum of the
    returned budgets is ≤ ``total_budget`` and equals it whenever supply
    allows.
    """
    if total_budget < 0:
        raise ValueError(f"total_budget must be >= 0, got {total_budget}")
    if not token_counts:
        raise ValueError("token_counts must name at least one group")
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    supply = {g: int(token_counts[g]) for g in token_counts}
    if any(v < 0 for v in supply.values()):
        raise ValueError("token counts must be >= 0")
    order = sorted(supply, key=lambda g: (g is not None, str(g)))
    budgets = {g: 0 for g in order}
    remaining = int(total_budget)
    open_groups = [g for g in order if supply[g] > 0]
    # iterative water-filling: ≤ len(groups) rounds — a round either
    # spends everything (no group capped: the floors + largest-remainder
    # bonuses sum EXACTLY to remaining) or caps ≥ 1 group out of the pool.
    # Each round floors every group's ideal share (clamped so float
    # rounding can never push the running sum past `remaining` —
    # int(remaining * frac) rounds UP past 2^53) and distributes the
    # integer leftover by LARGEST FRACTIONAL SHARE (ties broken by the
    # deterministic group order) — the largest-remainder method, so no
    # group is systematically over-allocated by position. Any leftover a
    # pathological float corner leaves unspent rolls into the next round.
    while remaining > 0 and open_groups:
        w = {g: float(supply[g]) ** alpha for g in open_groups}
        tot = sum(w.values())
        share, frac, acc = {}, {}, 0
        for g in open_groups:
            ideal = remaining * (w[g] / tot)
            s = max(0, min(int(ideal), remaining - acc))
            share[g] = s
            frac[g] = ideal - s
            acc += s
        leftover = remaining - acc
        if leftover > 0:
            by_frac = sorted(
                open_groups,
                key=lambda g: (-frac[g], g is not None, str(g)),
            )
            ngrp = len(by_frac)
            for i, g in enumerate(by_frac):
                # leftover < ngrp in every non-degenerate round (the floors
                # drop < 1 each); the divmod form stays exact if a clamped
                # corner ever leaves more
                share[g] += leftover // ngrp + (1 if i < leftover % ngrp else 0)
        for g in open_groups:
            take = min(share[g], supply[g] - budgets[g])
            budgets[g] += take
            remaining -= take
        open_groups = [g for g in open_groups if budgets[g] < supply[g]]
    return budgets


def temperature_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    salt: str = "",
    unseen: str = "drop",
    rates: "Mapping | None" = None,
) -> DataFrame:
    """Temperature-rebalanced corpus: downsample each group (language,
    source, domain) toward the q_i ∝ n_i^alpha composition, keeping the
    rarest group intact (``temperature_rates``). The per-row draw is the
    same deterministic hash-bucket filter as ``hash_sample`` — fate =
    f(key, salt, group's rate); never partitioning or run order, and the
    DuckDB oracle replays it exactly (rates reduce to integer bucket
    thresholds via floor(rate·BUCKETS + 0.5), insulating the comparison
    from last-ulp float divergence between engines).

    Scale shape: ONE bounded aggregation (group counts — groups ≪ rows:
    languages, sources) collected to the driver, then a pure map-side
    filter built as a CASE chain over the bounded group set. No shuffle of
    the corpus, no sampling state; appends change counts (and hence rates)
    only when the caller recomputes — pin rates by calling
    ``temperature_rates`` once and filtering with them if append-stability
    of the draw matters.

    ``unseen`` names the fate of a group that appears between the count
    aggregation and the filter (a late append racing the plan):

    - ``"drop"`` (default) — keep nothing from it (the conservative read:
      an unrated group has no place in the computed mixture); a warning is
      logged at plan time so the silent-data-drop hazard is visible;
    - ``"keep"`` — keep it whole (rate 1.0) until the caller re-derives
      rates;
    - ``"error"`` — fail the JOB loudly on the first unseen row
      (``raise_error`` inside the CASE chain) — the strict mode for
      pipelines where a racing append is a bug, not an expected event.

    ``rates`` pins the per-group keep rates explicitly (the output of an
    earlier ``temperature_rates`` call) instead of re-deriving them from
    ``df``'s current counts — the append-stable form: the draw then never
    moves as the corpus grows, and the ``unseen`` policy governs exactly
    the groups absent from the pinned mapping.
    """
    if unseen not in ("drop", "keep", "error"):
        raise ValueError(f"unseen must be drop|keep|error, got {unseen!r}")
    if rates is None:
        counts = {
            r[group_col]: int(r["count"])
            for r in df.groupBy(group_col).count().collect()
        }
        if not counts:
            return df  # empty corpus: nothing to rebalance
        rates = temperature_rates(counts, alpha)
    elif not rates:
        raise ValueError("pinned rates must name at least one group")
    thresholds = {g: int((rates[g] * BUCKETS) + 0.5) for g in rates}
    thr = None
    for g in sorted(thresholds, key=lambda g: (g is not None, str(g))):
        # NULL is a group like any other — a plain == would yield NULL
        # (filter-false) and silently drop the whole group
        cond = (
            F.col(group_col).isNull()
            if g is None
            else F.col(group_col) == F.lit(g)
        )
        val = F.lit(thresholds[g])
        thr = F.when(cond, val) if thr is None else thr.when(cond, val)
    if unseen == "drop":
        _LOG.warning(
            "temperature_mix: groups of %r not present at plan time will be "
            "dropped entirely (unseen='drop'); pass unseen='keep'|'error' to "
            "change the late-append policy",
            group_col,
        )
        thr = thr.otherwise(F.lit(0))
    elif unseen == "keep":
        thr = thr.otherwise(F.lit(BUCKETS))
    else:  # error: fail the job on the first row of an unrated group
        thr = thr.otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "temperature_mix: group appeared after rates were "
                        f"derived (unseen='error'): {group_col}="
                    ),
                    F.coalesce(F.col(group_col).cast("string"), F.lit("NULL")),
                )
            ).cast("int")
        )
    return df.filter(hash_bucket(key_col, salt) < thr)


def _class_walk(n_b: int):
    """Greedy iteration order over the ordered score classes: NaN (n_b+1),
    +inf (n_b), finite buckets high→low, -inf (-1), NULL (-2). Shared by
    the walk and the grouped selector's one-level histogram so the class
    chain can never drift between them."""
    return [n_b + 1, n_b, *range(n_b - 1, -1, -1), -1, -2]


def _finite_scores(c: Column) -> Column:
    """Finite-score predicate (excludes NULL/NaN/±inf) — min/max for the
    bucket width must never see a special value (Spark max treats NaN as
    greatest; an inf makes every width infinite)."""
    inf = float("inf")
    return (
        c.isNotNull() & ~F.isnan(c) & (c != F.lit(inf)) & (c != F.lit(-inf))
    )


def _key_le(key_expr: Column, k) -> Column:
    """``key <= k`` under Spark's ASC NULLS FIRST key order — the order
    every window/sort in this module uses. A NULL key sorts below every
    value (so it satisfies <= anything); nothing non-NULL is <= a NULL
    bound. A bare ``key <= lit(k)`` is NULL (dropped by filter) for NULL
    keys, silently excluding a row whose tokens the planner already
    charged against the budget."""
    if k is None:
        return key_expr.isNull()
    return key_expr.isNull() | (key_expr <= F.lit(k))


def _key_gt(key_expr: Column, k) -> Column:
    """``key > k`` under the same NULLS-FIRST order (complement of
    ``_key_le`` over the frontier)."""
    if k is None:
        return key_expr.isNotNull()
    return key_expr.isNotNull() & (key_expr > F.lit(k))


# canonical dict key for a NaN-valued GROUP: float('nan') != float('nan'),
# so a NaN group collected in one Spark job would never match the same
# group collected in another job (or a NaN key in the user's budgets dict).
# Spark itself treats NaN groups as equal (groupBy/join/= semantics); only
# the driver-side dicts need the normalization.
_NAN_GROUP = object()


def _gkey(g):
    import math

    return _NAN_GROUP if isinstance(g, float) and math.isnan(g) else g


def _driver_orderable_key(key_type) -> bool:
    """True iff Python comparison of collected values replays Spark's ASC
    ordering for this key type exactly — the gate for both
    selectors' driver planner. Atomic orderable types only:

    - int family / boolean / Decimal: numeric order on both sides;
    - string: Spark compares UTF-8 bytes, Python compares code points —
      identical order (UTF-8 preserves code-point order);
    - binary: unsigned lexicographic on both sides;
    - date/timestamp: chronological on both sides (session tz is fixed);
    - float/double: match EXCEPT NaN (Spark sorts it largest, Python
      comparisons are unordered) — allowed here, with a per-value NaN
      punt in ``_plan_budget_groups_local``.

    Struct/array/map keys punt to the distributed planner.
    """
    from pyspark.sql import types as T

    return isinstance(
        key_type,
        (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
            T.StringType, T.BinaryType, T.DateType,
            T.TimestampType, T.TimestampNTZType,
        ),
    )


def _bounded_take(slim: DataFrame, threshold: int):
    """``take(threshold+1)`` probing a full core-wave first via the
    shared lock-scoped parallel.bounded_take (r17, verdict #7). Returns
    the rows, or None when they exceed ``threshold`` (distributed
    planning required)."""
    from pq_vector_spark.parallel import bounded_take

    rows = bounded_take(slim, threshold + 1)
    return rows if len(rows) <= threshold else None


def _plan_budget_groups_local(rows, budget_of, inf):
    """Exact greedy-prefix planning on the driver: same class chain
    (NaN > +inf > finite > -inf > NULL), same key ASC NULLS FIRST
    tie-break, same bigint token accumulation as the distributed planners
    — returns the per-group plan rows in the grouped selector's
    ``pf_schema`` encoding (n_b=1, so bucket ids are the pure class codes:
    NaN=2, +inf=1, finite=0, -inf=-1, NULL=-2; ``select_token_budget``
    reads its one row's boundary), or None to punt when Python cannot
    replay Spark's semantics exactly (NaN float keys, negative tokens —
    the distributed planners' kept set under negative tokens is not a
    pure prefix, so the driver path refuses rather than guesses)."""
    import math

    by_g: dict = {}
    rep: dict = {}
    for r in rows:
        g, k, s, t = r[0], r[1], r[2], r[3]
        if t is not None and t < 0:
            return None
        if isinstance(k, float) and math.isnan(k):
            return None
        gk = _gkey(g)
        if gk not in by_g:
            by_g[gk] = []
            rep[gk] = g
        by_g[gk].append((k, s, t))

    def cls_of(s):
        # sort rank in score-DESC walk order: lower = kept earlier
        if s is None:
            return 4
        if math.isnan(s):
            return 0
        if s == inf:
            return 1
        if s == -inf:
            return 3
        return 2

    # class rank -> pf_schema bucket code under n_b=1
    _CODE = {0: 2, 1: 1, 2: 0, 3: -1, 4: -2}

    def skey(m):
        k, s, _t = m
        c = cls_of(s)
        # finite scores DESC via negation; ±0.0 compare equal on both
        # engines, so the tie falls to the key exactly as Spark's does
        sv = -s if c == 2 else 0.0
        # key ASC NULLS FIRST; the 4th element only ever compares within
        # one branch of the 3rd (both-NULL or both-value), so the 0
        # placeholder never meets a real key
        return (c, sv, k is not None, k if k is not None else 0)

    planf_rows = []
    for gk, members in by_g.items():
        g = rep[gk]
        b = budget_of(g)
        if b is None:
            planf_rows.append((g, 0.0, 0.0, 1, True, None, None, None, None))
            continue
        members.sort(key=skey)
        cum = 0
        boundary = None
        stopped = False
        for m in members:
            t = 0 if m[2] is None else int(m[2])
            if cum + t <= b:
                cum += t
                boundary = m
            else:
                stopped = True
                break
        if not stopped:
            planf_rows.append((g, 0.0, 0.0, 1, True, None, None, None, None))
        elif boundary is None:
            # first row already exceeds: keep nothing — crossing pinned to
            # the TOP class with an empty boundary, so no bucket clears it
            planf_rows.append((g, 0.0, 0.0, 1, False, 2, "none", None, None))
        else:
            k, s, _t = boundary
            c = cls_of(s)
            if c == 0:
                planf_rows.append((g, 0.0, 0.0, 1, False, 2, "nan", None, k))
            elif c == 4:
                planf_rows.append((g, 0.0, 0.0, 1, False, -2, "null", None, k))
            else:
                planf_rows.append(
                    (g, 0.0, 0.0, 1, False, _CODE[c], "val", float(s), k)
                )
    return planf_rows


def _bucketer(lo, hi, n_b):
    """Closure mapping a score expression to an ordered integer class:
    NULL=-2 < -inf=-1 < finite 0..n_b-1 < +inf=n_b < NaN=n_b+1 —
    integer comparisons on the class reproduce Spark/DuckDB DESC
    ordering bit-for-bit, so "bucket > crossing" IS the greedy order."""
    INF = float("inf")
    width = (hi - lo) / n_b if (lo is not None and hi > lo) else 0.0

    def bucket_of(e):
        if width > 0.0:
            # greatest(..., 0): Catalyst evaluates this CASE branch on rows
            # outside the frontier guard; a subnormal-tiny width (score span
            # ~1e-38 over n_b buckets) makes floor((e-lo)/width) for e < lo a
            # ~-1e77 double, which double->long SATURATES to Long.MIN_VALUE.
            # least() clamps only the high side (+overflow saturates to
            # Long.MAX and least absorbs it), so without the low-side clamp
            # the .cast("int") throws CAST_OVERFLOW under Spark 4 ANSI mode
            # (and silently mis-buckets under non-ANSI). Identity for
            # in-frontier scores; total otherwise.
            fin = F.greatest(
                F.least(
                    F.floor((e - F.lit(lo)) / F.lit(width)), F.lit(n_b - 1)
                ),
                F.lit(0),
            ).cast("int")
        else:
            fin = F.lit(0)
        return (
            F.when(F.isnan(e), F.lit(n_b + 1))
            .when(e == F.lit(INF), F.lit(n_b))
            .when(e == F.lit(-INF), F.lit(-1))
            .when(e.isNull(), F.lit(-2))
            .otherwise(fin)
            .cast("int")
        )

    return bucket_of, width


def _conj(preds):
    out = None
    for p in preds:
        out = p if out is None else (out & p)
    return F.lit(True) if out is None else out


def _disj(preds):
    """OR of ``preds``, or None when there are none (nothing is kept)."""
    out = None
    for p in preds:
        out = p if out is None else (out | p)
    return out


def _boundary_pred(s_star, k_star) -> Column:
    """Keep predicate for a frontier whose greedy BOUNDARY row (the last
    row that fits, in score DESC / key ASC order) is ``(s_star, k_star)``:
    every row at or above it. Spark comparisons use the same total order
    as its sorts (NaN > +inf > finite > -inf), so ``> s`` keeps every
    higher class too — valid even when the frontier is the whole
    mixed-class corpus. A NaN boundary is the top of the chain (nothing
    is above it); a NULL boundary is the bottom (everything scored is)."""
    import math

    SCORE, key_le = F.col("_sb_score"), _key_le(F.col("_sb_key"), k_star)
    if s_star is None:
        return SCORE.isNotNull() | key_le
    if math.isnan(s_star):
        return F.isnan(SCORE) & key_le
    s = F.lit(s_star)
    return (SCORE > s) | ((SCORE == s) & key_le)


def _thin_key_bounds(keys: list, n_p: int) -> list:
    """Evenly-spaced range boundaries from a sampled key list, sorted
    under the walk's NULLS-FIRST key order and deduped. Up to ``n_p - 1``
    boundaries; fewer (or none) when the sample lacks distinct keys — the
    caller treats an empty result as an un-splittable tied frontier."""
    if not keys:
        return []
    ks = sorted(keys, key=lambda k: (k is not None, k))
    bounds: list = []
    m = len(ks)
    for i in range(1, n_p):
        b = ks[(i * m) // n_p]
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    return bounds


def _key_range_id(key_expr: Column, bounds: list) -> Column:
    """Contiguous range id (0..len(bounds)) of a key against ordered
    boundaries — the first ``_key_le`` branch that matches wins, so range
    i covers (bounds[i-1], bounds[i]] with NULL keys in range 0 (the
    NULLS-FIRST front of the key order)."""
    c = None
    for i, b in enumerate(bounds):
        w = _key_le(key_expr, b)
        c = F.when(w, F.lit(i)) if c is None else c.when(w, F.lit(i))
    return c.otherwise(F.lit(len(bounds)))


def _budget_walk(
    slim: DataFrame,
    specs: list,
    buckets: int,
    window_cap: int,
    max_depth: int,
) -> dict:
    """Recursive two-phase greedy-prefix planner over a (cached) slim
    projection carrying ``_sb_grp`` / ``_sb_key`` / ``_sb_score`` /
    ``_sb_tok`` columns, for one or MANY groups walking in LOCK-STEP (the
    walk semantics are documented on ``select_token_budget``). Every job
    it runs is bounded and shared by all groups: per level, score-mode
    groups share ONE aggregation grouped by (group, bucket) (each group's
    bucket id computed against its own lo/width via a driver-built CASE
    chain over the frontiers) and key-mode groups share ONE seeded key
    sample + one (group, range-id) aggregation; groups that reach the cap
    are staged and pay ONE final boundary window partitioned by group
    over ≤ ``window_cap`` rows each. Total jobs: O(levels), not
    O(groups × levels) — a mixture spec with hundreds of heavy groups
    plans in the same handful of jobs as one.

    ``specs`` rows: dicts with keys ``gk`` (``_gkey``-normalized group
    value), ``match`` (group-membership Column — built by the caller so
    NULL/NaN groups stay pruning-safe; ``F.lit(True)`` for one ungrouped
    corpus), ``budget`` (int), ``bounds`` ((lo, hi) finite score min/max
    of the group). Returns {gk: (keep predicate Column or None, stats
    dict with ``levels`` / ``mode`` / ``window_rows``)}; each predicate is
    a pure map-side filter over (_sb_score, _sb_key) relative to the
    group's rows (the caller ANDs its ``match``).

    Determinism: the RESULT is exact and deterministic, and so are the
    DIAGNOSTICS: key-range refinement derives its boundaries from an
    explicitly-seeded key sample (``sample(seed=42)`` + driver thinning),
    not from ``repartitionByRange``'s RDD-id-seeded internal sample, so
    two runs on the same input report identical stats and run the same
    planning jobs."""
    from pyspark.sql import Window

    SCORE, KEY, TOK, GRP = (
        F.col("_sb_score"), F.col("_sb_key"), F.col("_sb_tok"), F.col("_sb_grp")
    )

    st: dict = {}
    for s in specs:
        lo, hi = s["bounds"]
        st[s["gk"]] = dict(
            gk=s["gk"], match=s["match"], remaining=int(s["budget"]),
            mode="score", lo=lo, hi=hi, cnt=None, anc=[], keep=[],
            done=False, force_exact=False, pending=None, stats={},
        )

    def frontier(v):
        return _conj([v["match"]] + v["anc"])

    for depth in range(max_depth + 1):
        active = [v for v in st.values() if not v["done"] and v["pending"] is None]
        if not active:
            break
        for v in active:
            if (
                depth >= max_depth
                or v["force_exact"]
                or (v["cnt"] is not None and v["cnt"] <= window_cap)
            ):
                v["pending"] = frontier(v)
                v["stats"].update(
                    levels=depth,
                    mode=v["mode"],
                    window_rows=int(v["cnt"]) if v["cnt"] is not None else None,
                )
        score_act = [
            v for v in st.values()
            if not v["done"] and v["pending"] is None and v["mode"] == "score"
        ]
        key_act = [
            v for v in st.values()
            if not v["done"] and v["pending"] is None and v["mode"] == "key"
        ]

        if score_act:
            # ONE histogram for every score-mode group: bucket ids against
            # each group's own (lo, width, n_b) via a frontier CASE chain
            bexpr, filt = None, None
            for v in score_act:
                lo, hi = v["lo"], v["hi"]
                n_b = buckets if (lo is not None and hi is not None and hi > lo) else 1
                bucket_of, _w = _bucketer(lo, hi, n_b)
                v["n_b"], v["bucket_of"] = n_b, bucket_of
                fr = frontier(v)
                filt = fr if filt is None else (filt | fr)
                bexpr = (
                    F.when(fr, bucket_of(SCORE))
                    if bexpr is None
                    else bexpr.when(fr, bucket_of(SCORE))
                )
            hist: dict = {}
            for r in (
                slim.filter(filt)
                .groupBy(GRP, bexpr.alias("_sb_b"))
                .agg(
                    F.sum(TOK).alias("t"),
                    F.count("*").alias("c"),
                    F.min(SCORE).alias("mn"),
                    F.max(SCORE).alias("mx"),
                )
                .collect()
            ):
                hist.setdefault(_gkey(r["_sb_grp"]), {})[int(r["_sb_b"])] = (
                    int(r["t"] or 0), int(r["c"]), r["mn"], r["mx"]
                )
            for v in score_act:
                gh = hist.get(v["gk"], {})
                n_b, bucket_of = v["n_b"], v["bucket_of"]
                cum, crossing = 0, None
                for i in _class_walk(n_b):
                    t = gh.get(i, (0, 0, None, None))[0]
                    if cum + t <= v["remaining"]:
                        cum += t
                    else:
                        crossing = i
                        break
                if crossing is None:
                    v["keep"].append(_conj(v["anc"]))  # whole frontier fits
                    v["stats"].update(levels=depth, mode="score", window_rows=0)
                    v["done"] = True
                    continue
                v["remaining"] -= cum
                _, c_cnt, c_mn, c_mx = gh[crossing]
                v["keep"].append(
                    _conj(v["anc"] + [bucket_of(SCORE) > F.lit(crossing)])
                )
                v["anc"].append(bucket_of(SCORE) == F.lit(crossing))
                v["cnt"] = c_cnt
                if 0 <= crossing < n_b and c_mn is not None and c_mx > c_mn:
                    v["lo"], v["hi"] = c_mn, c_mx
                    if (c_mx - c_mn) / buckets <= 0.0:
                        # width underflow with scores NOT all equal
                        # (subnormal spread): key-range refinement would
                        # select in KEY order over a frontier whose true
                        # greedy order is (score DESC, key) — take the
                        # exact window instead
                        v["force_exact"] = True
                else:
                    v["mode"] = "key"  # special class or exact tie

        if key_act:
            # ONE range summary for every key-mode group: a shared SEEDED
            # key sample over the union of tied frontiers (deterministic —
            # see the docstring), per-group boundaries thinned on the
            # driver, then ONE map-side-combined aggregation grouped by
            # (group, range id): only the partials shuffle, not the
            # frontier
            np_of = {
                v["gk"]: max(2, min(512, -(-int(v["cnt"]) // window_cap)))
                for v in key_act
            }
            frac = min(
                1.0,
                max(
                    32.0 * np_of[v["gk"]] / max(int(v["cnt"]), 1)
                    for v in key_act
                ),
            )
            filt = _disj([frontier(v) for v in key_act])
            kb_samp: dict = {}
            for r in (
                slim.filter(filt)
                .select(GRP, KEY)
                .sample(fraction=frac, seed=42)
                .collect()
            ):
                kb_samp.setdefault(_gkey(r["_sb_grp"]), []).append(r["_sb_key"])
            ridc, afilt = None, None
            for v in key_act:
                v["kbounds"] = _thin_key_bounds(
                    kb_samp.get(v["gk"], []), np_of[v["gk"]]
                )
                if not v["kbounds"]:
                    # un-splittable tied frontier: exact window next level
                    v["force_exact"] = True
                    continue
                fr = frontier(v)
                afilt = fr if afilt is None else (afilt | fr)
                rid_v = _key_range_id(KEY, v["kbounds"])
                ridc = (
                    F.when(fr, rid_v) if ridc is None else ridc.when(fr, rid_v)
                )
            byg: dict = {}
            if ridc is not None:
                for r in (
                    slim.filter(afilt)
                    .groupBy(GRP, ridc.alias("p"))
                    .agg(
                        F.sum(TOK).alias("t"),
                        F.count("*").alias("c"),
                        F.max(KEY).alias("mk"),
                    )
                    .collect()
                ):
                    byg.setdefault(_gkey(r["_sb_grp"]), []).append(r)
            for v in key_act:
                if not v["kbounds"]:
                    continue
                parts = sorted(byg.get(v["gk"], []), key=lambda r: r["p"])
                cum, cross_i = 0, None
                for i, r in enumerate(parts):
                    t = int(r["t"] or 0)
                    if cum + t <= v["remaining"]:
                        cum += t
                    else:
                        cross_i = i
                        break
                if cross_i is None:
                    v["keep"].append(_conj(v["anc"]))
                    v["stats"].update(levels=depth, mode="key", window_rows=0)
                    v["done"] = True
                    continue
                v["remaining"] -= cum
                if cross_i > 0:
                    prev_mk = parts[cross_i - 1]["mk"]
                    v["keep"].append(_conj(v["anc"] + [_key_le(KEY, prev_mk)]))
                    v["anc"].append(_key_gt(KEY, prev_mk))
                v["anc"].append(_key_le(KEY, parts[cross_i]["mk"]))
                v["cnt"] = int(parts[cross_i]["c"])

    # batched boundary election: ONE window partitioned by group over the
    # union of the staged frontiers (each ≤ window_cap rows per group task)
    pend = [v for v in st.values() if v["pending"] is not None and not v["done"]]
    if pend:
        unk = [v for v in pend if v["stats"].get("window_rows") is None]
        if unk:
            # only reachable via max_depth exhaustion before any level ran
            # (max_depth=0): one bounded count so diagnostics stay honest
            cm = {
                _gkey(r["_sb_grp"]): int(r["count"])
                for r in slim.filter(_disj([v["pending"] for v in unk]))
                .groupBy(GRP)
                .count()
                .collect()
            }
            for v in unk:
                v["stats"]["window_rows"] = cm.get(v["gk"], 0)
        filt = _disj([v["pending"] for v in pend])
        remc = None
        for v in pend:
            lit = F.lit(int(v["remaining"]))
            remc = (
                F.when(v["pending"], lit)
                if remc is None
                else remc.when(v["pending"], lit)
            )
        wcum = (
            Window.partitionBy(GRP)
            .orderBy(SCORE.desc_nulls_last(), KEY.asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # last kept row in (score DESC, key ASC) = first in the reversed
        # order; Spark ASC places NaN above +inf, so asc_nulls_first
        # reverses the class chain exactly
        wrev = Window.partitionBy(GRP).orderBy(SCORE.asc_nulls_first(), KEY.desc())
        bmap = {
            _gkey(r["_sb_grp"]): (r["_sb_score"], r["_sb_key"])
            for r in slim.filter(filt)
            .withColumn("_sb_cum", F.sum(TOK).over(wcum))
            .filter(F.col("_sb_cum") <= remc)
            .withColumn("_sb_rn", F.row_number().over(wrev))
            .filter(F.col("_sb_rn") == 1)
            .select(GRP, SCORE, KEY)
            .collect()
        }
        for v in pend:
            hit = bmap.get(v["gk"])
            if hit is not None:
                v["keep"].append(_conj(v["anc"] + [_boundary_pred(*hit)]))
            v["done"] = True

    return {gk: (_disj(v["keep"]), v["stats"]) for gk, v in st.items()}


def select_token_budget(
    df: DataFrame,
    key_col: str,
    score_col,
    tokens_col,
    budget: int,
    *,
    buckets: int = 1024,
    window_cap: int = 65536,
    max_depth: int = 8,
    local_threshold: int = 200_000,
    _stats: dict | None = None,
) -> DataFrame:
    """Fill a token budget with the best documents: keep rows in
    (score DESC, key ASC) order while the running total of ``tokens_col``
    stays ≤ ``budget`` — the greedy prefix every "train on the best N
    tokens" curation step needs.

    **Two planners, one output.** When the slim (key, score, tokens)
    projection fits ``local_threshold`` rows, ONE bounded ``take`` feeds
    the exact greedy prefix on the driver (``select_token_budget_grouped``'s
    driver planner, one synthetic group) — 5+ sequential bounded actions
    collapsed to one. Otherwise the distributed walk below plans it. Both
    emit the same boundary predicate, so the kept set is bit-identical.
    The driver path punts to the walk for non-atomic key types, NaN float
    keys, negative token counts or oversized input; ``local_threshold=0``
    forces the walk. ``_stats`` (``levels`` / ``mode`` / ``window_rows``)
    describes the walk and stays empty when the driver planned.

    Scale shape (recursive two-phase exact selection): the naive form is a
    GLOBAL ordered cumulative sum — ONE task must hold and scan the entire
    sorted corpus, which stops being slow and becomes impossible somewhere
    past ~10⁸ rows. Instead, all planning runs over a CACHED slim
    (key, score, tokens) projection — the wide corpus is scanned exactly
    once, at output time:

    1. score-bucket histogram on the slim projection (one bounded
       map-side-combined aggregation: per-bucket token totals, row counts,
       and score min/max), prefix-summed on the DRIVER (≤ ``buckets``
       rows) to locate the budget-CROSSING bucket;
    2. buckets strictly above the crossing bucket are kept wholesale; the
       crossing bucket is RE-BUCKETED against its own min/max and the walk
       recurses, so each level shrinks the frontier ~``buckets``× until it
       holds ≤ ``window_cap`` rows — only those pay the exact ordered
       window for the residual budget. Score TIES (and the NaN/±inf/NULL
       classes) cannot be split by score, so a tied frontier switches to
       KEY-RANGE refinement: a seeded key sample draws deterministic range
       boundaries and one map-side-combined aggregation over the tied rows
       yields per-range token totals and split keys (the per-range
       MAX key), and the walk recurses on key intervals — the adversarial
       all-scores-equal corpus is therefore just as bounded as the
       well-spread one. ``max_depth`` caps both recursions (falling back
       to the exact window on whatever frontier remains);
    3. the kept set is emitted as a PURE MAP-SIDE predicate over
       (score, key) — a per-level "strictly above the crossing bucket"
       chain plus the exact boundary row — so the single output pass over
       ``df`` is a filter: no join, no broadcast, nothing collected but
       per-level histograms.

    The result is IDENTICAL to the global greedy prefix: bucketing is
    monotone in score (and, within ties, in key), equal scores share a
    bucket until key refinement splits them, and token totals are exact
    integer sums (``tokens_col`` is cast to bigint).

    Score edge cases mirror the engines' DESC ordering exactly — the class
    chain NaN > +Infinity > finite > -Infinity > NULL (Spark and DuckDB
    both order NaN above +inf and sort NULLs last under DESC): NaN scores
    are selected first, NULLs last, ±inf in between. Finite bucket
    boundaries are computed over finite scores only, so a single special
    value can never poison the histogram's min/max. ``key_col`` MUST
    uniquely identify rows — it is the greedy order's tie-breaker and the
    boundary-row identity; duplicate keys make the prefix ill-defined. A
    NULL key is legal and ordered the way Spark's ASC sorts it (NULLS
    FIRST — before every non-NULL key); every boundary/interval predicate
    is built null-safe so the row is kept or cut exactly where the naive
    window would put it.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    if window_cap <= 0:
        raise ValueError(f"window_cap must be positive, got {window_cap}")
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    _check_reserved(df, {"_sb_key", "_sb_score", "_sb_tok", "_sb_cum"})

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    toks = (F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col).cast(
        "bigint"
    )
    keyc = F.col(key_col) if isinstance(key_col, str) else key_col
    slim = df.select(
        keyc.alias("_sb_key"),
        score.cast("double").alias("_sb_score"),
        toks.alias("_sb_tok"),
    )

    out = df.withColumn("_sb_score", score.cast("double")).withColumn(
        "_sb_key", keyc
    )

    def emit(keep):
        # the single output pass: a pure map-side (score, key) filter
        keep = F.lit(False) if keep is None else keep
        return out.filter(keep).drop("_sb_score", "_sb_key")

    # ---- driver planner: one bounded take plans the exact prefix ----
    if local_threshold and _driver_orderable_key(slim.schema[0].dataType):
        taken = _bounded_take(slim, local_threshold)
        if taken is not None:
            planned = _plan_budget_groups_local(
                [(None, r[0], r[1], r[2]) for r in taken],
                lambda g: budget,
                float("inf"),
            )
            if planned is not None:
                if not planned:
                    return emit(None)  # empty input
                _g, _lo, _w, _nb, whole, _c, bclass, s, k = planned[0]
                if whole:
                    return df
                if bclass == "none":
                    return emit(None)
                s_star = {"nan": float("nan"), "null": None}.get(bclass, s)
                return emit(_boundary_pred(s_star, k))
            # else: NaN float keys / negative tokens — fall through

    # ---- distributed walk: the grouped walk over one constant group ----
    slim = slim.withColumn("_sb_grp", F.lit(0)).persist()
    try:
        SCORE = F.col("_sb_score")
        lo, hi = (
            slim.filter(_finite_scores(SCORE))
            .agg(F.min(SCORE), F.max(SCORE))
            .collect()[0]
        )
        spec = dict(gk=0, match=F.lit(True), budget=budget, bounds=(lo, hi))
        keep, walk_stats = _budget_walk(
            slim, [spec], buckets, window_cap, max_depth
        )[0]
        if _stats is not None:
            _stats.update(walk_stats)
        return emit(keep)
    finally:
        slim.unpersist()


def select_token_budget_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    score_col,
    tokens_col,
    budgets,
    *,
    buckets: int = 1024,
    default_budget=None,
    window_warn_rows: int = 4_000_000,
    window_cap: int | None = 65536,
    max_depth: int = 8,
    local_threshold: int = 200_000,
    _stats: dict | None = None,
) -> DataFrame:
    """Per-group token-budget curation: within EVERY group (language,
    source, domain ...), keep rows in (score DESC, key ASC) order while
    the group's running token total stays <= its budget — the "2B tokens
    of code, 500M of math" mixture spec every pretraining run writes down.

    ``budgets`` is a dict {group_value: budget} (missing groups get
    ``default_budget``; a None budget keeps the whole group) or a single
    int applied to every group. NULL group values are a group like any
    other (key the dict with None); so is a NaN group value in a float
    group column — Spark's groupBy treats NaN as equal to NaN, and the
    driver normalizes NaN dict keys so ``{float("nan"): b}`` matches it
    (raw ``float("nan") != float("nan")`` would otherwise never hit).

    Scale shape (one-level grouped two-phase selection — all planning over
    a cached slim (group, key, score, tokens) projection):

    1. per-group FINITE score min/max: one bounded agg (<= groups rows);
    2. per-(group, bucket) histogram: one bounded agg (<= groups x
       (buckets+4) rows; bucket ids computed against each group's own
       width via a broadcast plan join), prefix-walked per group on the
       driver to find each group's budget-CROSSING bucket + residual;
    3. only the crossing buckets pay ONE exact ordered window PARTITIONED
       BY group (parallel across groups, per-task input ~ group/buckets
       rows) electing each group's boundary row (<= groups rows back);
    4. the single wide-corpus pass joins a <= groups-row BROADCAST plan
       table and filters map-side on (bucket, score, key) — the corpus
       never shuffles.

    Degenerate guard: heavy score TIES within one group collapse its
    crossing bucket toward the whole group and that group's window task
    widens accordingly. Any group whose crossing bucket exceeds
    ``window_cap`` (default 65536, matching ``select_token_budget``) is
    AUTO-REFINED: the same recursive walk that bounds
    ``select_token_budget`` (score re-bucketing, then key-range splitting
    once tied) runs on that group's slice of the cached slim projection,
    so even an all-ties dominant group pays only ≤ ``window_cap``-row
    windows; the refined groups' keep predicates OR into the same single
    output-pass filter. When SEVERAL groups need refinement they walk in
    LOCK-STEP — one per-level aggregation grouped by (group, bucket) plus
    one batched boundary window, O(levels) jobs instead of
    O(heavy groups × levels). A heavy group whose value ``F.lit`` cannot
    express (a struct group) stays on the shared-window plan and logs a
    WARNING. ``window_cap=None`` disables refinement; a
    crossing bucket above ``window_warn_rows`` then only logs a WARNING
    naming the group. Ordering
    matches ``select_token_budget`` exactly (class chain NaN > +inf >
    finite > -inf > NULL, key ASC tie-break); token sums are exact bigint
    math, so the result is bit-equal to the per-group naive greedy prefix.
    ``key_col`` must uniquely identify rows within its group; a NULL key
    is legal and ordered as Spark's ASC sorts it (NULLS FIRST), with the
    boundary predicate built null-safe to match.

    **Driver planner.** The planning chain above is 5+ sequential
    bounded actions (min/max, histogram, walk levels, boundary, output) —
    correct at any scale, but pure per-action overhead when the slim
    (group, key, score, tokens) projection is small. Like
    ``connected_components``' bounded-take path, ONE
    ``take(local_threshold+1)`` (probing a full core-wave first) decides
    the planner AND feeds it: when the slim rows fit, the identical greedy
    prefix is planned on the driver — same class chain (NaN > +inf >
    finite > -inf > NULL), same key ASC NULLS FIRST tie-break, same exact
    bigint token sums — and only the boundary row per group is shipped
    back as the same broadcast plan table the distributed planner builds,
    so the output pass (and its plan shape) is shared and the result is
    bit-identical. It punts to the distributed planner for anything
    Python ordering cannot replay exactly (non-atomic key types, NaN
    float keys, negative token counts) or when ``local_threshold`` rows
    are exceeded (set ``local_threshold=0`` to force the distributed
    planner). ``_stats`` describes the distributed planner and stays
    empty when the driver planned. Driver memory stays bounded:
    ≤ threshold+1 slim rows, the same order as the histograms the
    distributed planner already collects.
    """
    import math

    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    if window_cap is not None and window_cap <= 0:
        raise ValueError(f"window_cap must be positive, got {window_cap}")
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    _check_reserved(
        df,
        {"_sb_grp", "_sb_key", "_sb_score", "_sb_tok", "_sb_cum", "_sb_rn", "_sb_b"},
        prefixes=("_p_",),
    )

    def _check(b, where):
        if b is None:
            return
        if isinstance(b, float) and not math.isfinite(b):
            raise ValueError(f"budget must be finite, got {b} ({where})")
        if b < 0:
            raise ValueError(f"budget must be >= 0, got {b} ({where})")

    if isinstance(budgets, dict):
        for g, b in budgets.items():
            _check(b, f"group {g!r}")
    else:
        _check(budgets, "scalar")
    _check(default_budget, "default_budget")

    spark = df.sparkSession
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    toks = (
        F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    ).cast("bigint")
    keyc = F.col(key_col)
    grpc = F.col(group_col)
    # (r16: a conditional pre-cache spread was MEASURED here and reverted —
    # the planning aggregations over the cached slim are many and tiny, so
    # widening the cache to cores-many partitions cost more in per-task
    # scheduling across the refinement levels than the one-time cache
    # materialization saved: 4.0 s → 4.7 s at sf0.1.)
    slim = df.select(
        grpc.alias("_sb_grp"),
        keyc.alias("_sb_key"),
        score.cast("double").alias("_sb_score"),
        toks.alias("_sb_tok"),
    )
    GRP, KEY, SCORE, TOK = (
        F.col("_sb_grp"), F.col("_sb_key"), F.col("_sb_score"), F.col("_sb_tok")
    )
    INF = float("inf")
    grp_type = df.schema[group_col].dataType
    key_type = df.schema[key_col].dataType

    def budget_of(g):
        if isinstance(budgets, dict):
            if _gkey(g) is _NAN_GROUP:
                # a NaN dict key would never match the collected NaN group
                b = next(
                    (v for k, v in budgets.items() if _gkey(k) is _NAN_GROUP),
                    default_budget,
                )
            else:
                b = budgets.get(g, default_budget)
        else:
            b = budgets
        # floor float budgets: token cums are exact bigints, so
        # cum <= b  <=>  cum <= floor(b) — and plan2's remaining stays a
        # LongType the driver can hand to createDataFrame
        return None if b is None else int(math.floor(b))

    from pq_vector_spark.parallel import ensure_compute_parallelism, local_plan_df

    # shared by both planners: per-row class/bucket id against the
    # broadcast plan columns (driver plans always carry n_b=1/width=0, so
    # `fin` collapses to 0 and the ids reduce to the pure class codes
    # NaN=2 > +inf=1 > finite=0 > -inf=-1 > NULL=-2)
    NB, LO, W = F.col("_p_nb"), F.col("_p_lo"), F.col("_p_w")
    fin = F.when(
        W > 0.0,
        # same low-side clamp as _bucketer: subnormal widths saturate
        # floor() to Long.MIN_VALUE for scores below lo (ANSI
        # CAST_OVERFLOW); greatest(.., 0) makes the bucketer total.
        F.greatest(
            F.least(F.floor((SCORE - LO) / W), NB - 1), F.lit(0)
        ).cast("int"),
    ).otherwise(F.lit(0))
    bucket = (
        F.when(F.isnan(SCORE), NB + 1)
        .when(SCORE == F.lit(INF), NB)
        .when(SCORE == F.lit(-INF), F.lit(-1))
        .when(SCORE.isNull(), F.lit(-2))
        .otherwise(fin)
        .cast("int")
    )
    pf_schema = T.StructType([
        T.StructField("_p_grp", grp_type),
        T.StructField("_p_lo", T.DoubleType()),
        T.StructField("_p_w", T.DoubleType()),
        T.StructField("_p_nb", T.IntegerType()),
        T.StructField("_p_whole", T.BooleanType()),
        T.StructField("_p_cross", T.IntegerType()),
        T.StructField("_p_bclass", T.StringType()),
        T.StructField("_p_s", T.DoubleType()),
        T.StructField("_p_k", key_type),
    ])

    def _emit(planf_rows, heavy_terms):
        # 4. single output pass: broadcast the full per-group plan and
        # filter map-side (shared by the driver and distributed planners)
        planf = local_plan_df(spark, planf_rows, pf_schema)
        # r16 (guide §2.5): the OUTPUT pass re-evaluates the caller's score
        # expression (often regex-heavy) over the whole corpus — at a
        # single-row-group scan that is ONE task (twice, when a downstream
        # orderBy's range sampler runs the child once more). Spread it;
        # exact no-op at real scan widths. Per-row transforms + a broadcast
        # join + a filter only — no aggregates, so results cannot move.
        # (The PLANNING slim deliberately stays unspread: its many tiny
        # per-level aggs pay cores-wide task overhead per action, measured
        # 4.0 → 4.7 s at sf0.1.)
        out = ensure_compute_parallelism(df).withColumn(
            "_sb_grp", grpc
        ).withColumn(
            "_sb_score", score.cast("double")
        ).withColumn("_sb_key", keyc)
        out = out.join(
            F.broadcast(planf), F.col("_sb_grp").eqNullSafe(F.col("_p_grp")), "left"
        ).drop("_p_grp")
        # null-safe "key <= boundary key" under ASC NULLS FIRST: a NULL key
        # sorts before every value (kept whenever anything in the tie is),
        # and a NULL boundary key admits only the NULL-key row — a bare
        # `KEY <= _p_k` is NULL for either, silently cutting a row whose
        # tokens the planner already charged against the group's budget
        key_le_b = KEY.isNull() | (
            F.col("_p_k").isNotNull() & (KEY <= F.col("_p_k"))
        )
        in_cross_pred = (
            F.when(F.col("_p_bclass") == "none", F.lit(False))
            .when(F.col("_p_bclass").isin("nan", "null"), key_le_b)
            .otherwise(
                (SCORE > F.col("_p_s"))
                | ((SCORE == F.col("_p_s")) & key_le_b)
            )
        )
        keep = F.col("_p_whole") | (bucket > F.col("_p_cross")) | (
            (bucket == F.col("_p_cross")) & in_cross_pred
        )
        # refined heavy groups: their rows miss the broadcast plan (NULL
        # plan columns make the bucket keep NULL → dropped), so their walk
        # predicates OR in — still one map-side filter, no extra pass
        for term in heavy_terms:
            keep = keep | term
        return out.filter(keep).drop(
            "_sb_grp", "_sb_score", "_sb_key",
            "_p_lo", "_p_w", "_p_nb", "_p_whole", "_p_cross",
            "_p_bclass", "_p_s", "_p_k",
        )

    # ---- driver planner: one bounded take plans every group exactly ----
    if local_threshold and _driver_orderable_key(key_type):
        taken = _bounded_take(slim, local_threshold)
        if taken is not None:
            planf_rows = _plan_budget_groups_local(taken, budget_of, INF)
            if planf_rows is not None:
                return _emit(planf_rows, [])
            # else: values Python cannot replay exactly (NaN float keys /
            # negative tokens) — fall through to the distributed planner

    slim = slim.persist()
    try:
        # 1. per-group finite min/max (NaN/±inf would poison the width) —
        # conditional aggregates so ONE pass also yields the full group
        # list (a group with zero finite scores still appears, mn/mx NULL)
        mm = {}
        all_groups = []
        for r in (
            slim.groupBy(GRP)
            .agg(
                F.min(F.when(_finite_scores(SCORE), SCORE)).alias("mn"),
                F.max(F.when(_finite_scores(SCORE), SCORE)).alias("mx"),
            )
            .collect()
        ):
            all_groups.append(r["_sb_grp"])
            mm[_gkey(r["_sb_grp"])] = (r["mn"], r["mx"])

        # broadcast width plan: (group, lo, width, n_b)
        def plan1_row(g):
            lo, hi = mm.get(_gkey(g), (None, None))
            n_b = buckets if (lo is not None and hi > lo) else 1
            width = (hi - lo) / n_b if n_b > 1 else 0.0
            return (g, lo, width, n_b)

        p1_schema = T.StructType([
            T.StructField("_p_grp", grp_type),
            T.StructField("_p_lo", T.DoubleType()),
            T.StructField("_p_w", T.DoubleType()),
            T.StructField("_p_nb", T.IntegerType()),
        ])
        # r16: 1-slice driver tables (parallel.local_plan_df) — the
        # broadcast build of each plan table otherwise runs one near-empty
        # task per core (~0.5-0.8 s each at local[32], and plan1 is built
        # twice: histogram + boundary jobs)
        plan1 = local_plan_df(spark, [plan1_row(g) for g in all_groups], p1_schema)

        def with_plan(d, plan):
            return d.join(
                F.broadcast(plan), GRP.eqNullSafe(F.col("_p_grp")), "left"
            ).drop("_p_grp")

        # 2. per-(group, bucket) histogram — bounded agg
        hist: dict = {}
        for r in (
            with_plan(slim, plan1)
            .groupBy(GRP, bucket.alias("_sb_b"))
            .agg(F.sum(TOK).alias("t"), F.count("*").alias("c"))
            .collect()
        ):
            hist.setdefault(_gkey(r["_sb_grp"]), {})[int(r["_sb_b"])] = (
                int(r["t"] or 0),
                int(r["c"]),
            )

        crossing: dict = {}  # g -> (crossing_bucket, remaining)
        keep_whole: set = set()
        for g in all_groups:
            b = budget_of(g)
            if b is None:
                keep_whole.add(g)
                continue
            n_b = plan1_row(g)[3]
            cum, cross = 0, None
            for i in _class_walk(n_b):
                t = hist.get(_gkey(g), {}).get(i, (0, 0))[0]
                if cum + t <= b:
                    cum += t
                else:
                    cross = i
                    break
            if cross is None:
                keep_whole.add(g)
            else:
                crossing[g] = (cross, b - cum)
                c_rows = hist.get(_gkey(g), {}).get(cross, (0, 0))[1]
                if c_rows > window_warn_rows and (
                    window_cap is None or c_rows <= window_cap
                ):
                    # observability, not a behavior change: a heavily-tied
                    # group collapses its crossing bucket toward the whole
                    # group and that ONE window task pays for it — warn
                    # whenever refinement will NOT take it (no cap, or the
                    # bucket sits between the warn line and the cap)
                    _LOG.warning(
                        "select_token_budget_grouped: group %r's crossing "
                        "bucket holds %d rows (> window_warn_rows=%d) — "
                        "its exact window runs as one task; %s to "
                        "auto-refine it with the recursive walk",
                        g,
                        c_rows,
                        window_warn_rows,
                        "pass window_cap="
                        if window_cap is None
                        else f"lower window_cap (currently {window_cap})",
                    )

        # auto-refinement: groups whose crossing bucket would exceed
        # window_cap leave the shared-window plan entirely — the recursive
        # walk (score re-bucketing, key-range splitting once tied) plans
        # them against their OWN slice of the cached slim projection, and
        # their keep predicates OR into the same single output pass
        heavy: dict = {}  # _gkey(g) -> walk diagnostics
        heavy_terms: list = []
        if window_cap is not None:
            specs: list = []
            for g, (c, _rem) in crossing.items():
                if hist.get(_gkey(g), {}).get(c, (0, 0))[1] <= window_cap:
                    continue
                if g is None:
                    grp_match = GRP.isNull()
                elif isinstance(g, float) and math.isnan(g):
                    # NOT `GRP == lit(NaN)`: Spark's = does treat NaN as
                    # equal to NaN, but the cached slim's batch min/max
                    # stats prune that comparison to ZERO batches (NaN
                    # sorts above every max) — isnan is the pruning-safe
                    # NaN-group predicate
                    grp_match = F.isnan(GRP)
                else:
                    grp_match = GRP == F.lit(g)
                specs.append(
                    dict(
                        g=g,
                        gk=_gkey(g),
                        match=grp_match,
                        budget=budget_of(g),
                        # each walk's level-0 min/max is its group's finite
                        # min/max, already aggregated in step 1 — no job
                        bounds=mm.get(_gkey(g), (None, None)),
                    )
                )
            if specs:
                try:
                    # F.lit cannot express every group type (a struct
                    # group collects as a Row) and fails only when a plan
                    # is analyzed: analyze the membership predicates now,
                    # before the walk depends on them (one type, so one
                    # analysis decides for every group)
                    slim.filter(_disj([s["match"] for s in specs]))
                except SparkRuntimeException as e:
                    _LOG.warning(
                        "select_token_budget_grouped: cannot build literals "
                        "for heavy groups %r (%s) — leaving them on the "
                        "shared-window plan",
                        [s["g"] for s in specs],
                        e,
                    )
                    specs = []
            if specs:
                # all heavy groups refine in LOCK-STEP: O(levels) jobs
                # total, not O(heavy groups × levels)
                walked = _budget_walk(slim, specs, buckets, window_cap, max_depth)
                for s in specs:
                    del crossing[s["g"]]
                    gpred, gs = walked[s["gk"]]
                    heavy[s["gk"]] = gs
                    if gpred is not None:
                        heavy_terms.append(s["match"] & gpred)

        if _stats is not None:
            # per-group exact-window input = that group's crossing-bucket
            # count (already in the histogram — zero extra jobs); refined
            # groups report their walk's actual window size instead
            _stats.update(
                groups=len(all_groups),
                crossing_groups=len(crossing),
                refined_groups=len(heavy),
                max_window_rows=max(
                    [
                        hist.get(_gkey(g), {}).get(c, (0, 0))[1]
                        for g, (c, _r) in crossing.items()
                    ]
                    + [int(gs.get("window_rows", 0)) for gs in heavy.values()],
                    default=0,
                ),
            )
        # 3. boundary election: one window over ONLY the crossing buckets,
        # partitioned by group
        boundary: dict = {}  # g -> (bclass, s_star, k_star)
        if crossing:
            p2_schema = T.StructType([
                T.StructField("_p_grp", grp_type),
                T.StructField("_p_cross", T.IntegerType()),
                T.StructField("_p_rem", T.LongType()),
            ])
            plan2 = local_plan_df(
                spark, [(g, c, r) for g, (c, r) in crossing.items()], p2_schema
            )
            edge = (
                with_plan(with_plan(slim, plan1), plan2)
                .filter(bucket == F.col("_p_cross"))
            )
            wcum = Window.partitionBy(GRP).orderBy(
                SCORE.desc_nulls_last(), KEY.asc()
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
            wrev = Window.partitionBy(GRP).orderBy(
                SCORE.asc_nulls_first(), KEY.desc()
            )
            bd = (
                edge.withColumn("_sb_cum", F.sum(TOK).over(wcum))
                .filter(F.col("_sb_cum") <= F.col("_p_rem"))
                .withColumn("_sb_rn", F.row_number().over(wrev))
                .filter(F.col("_sb_rn") == 1)
                .select(GRP, SCORE, KEY)
                .collect()
            )
            for r in bd:
                s = r["_sb_score"]
                if s is None:
                    boundary[_gkey(r["_sb_grp"])] = ("null", None, r["_sb_key"])
                elif math.isnan(s):
                    boundary[_gkey(r["_sb_grp"])] = ("nan", None, r["_sb_key"])
                else:
                    boundary[_gkey(r["_sb_grp"])] = ("val", float(s), r["_sb_key"])

        rows = []
        for g in all_groups:
            if _gkey(g) in heavy:
                continue  # refined groups keep via their own walk predicate
            _, lo, w, n_b = plan1_row(g)
            if g in keep_whole:
                rows.append((g, lo, w, n_b, True, None, None, None, None))
            else:
                c, _rem = crossing[g]
                bc, s_star, k_star = boundary.get(_gkey(g), ("none", None, None))
                rows.append((g, lo, w, n_b, False, c, bc, s_star, k_star))
        return _emit(rows, heavy_terms)
    finally:
        slim.unpersist()
