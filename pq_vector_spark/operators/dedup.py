"""Deduplication operators for training-data pipelines (north-star
extension, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Scale design (100 TB):
- exact dedup = hash-groupBy on a content fingerprint → one shuffle with
  map-side partial aggregation; never collects.
- n-gram Jaccard all-pairs is quadratic — it is the *verification* kernel.
  The scale path is MinHash+LSH: shingle → 60-bit portable hashes →
  k minhashes → b bands → bucket-join (shuffle keyed on (band, bucket)) →
  exact Jaccard only on bucket collisions. Candidate volume is tuned by
  (k, b), not data size.
- SimHash gives a 16/64-bit signature per doc in one map-side pass; pairs
  within Hamming radius come from banded equality joins on signature chunks.
- embedding near-dup: exact top-pairs for verification; IVF same-cluster
  pairing (see index/) is the scale path.

All hashing is md5-derived (functions.text.token_hash) so an external SQL
engine (the DuckDB oracle) reproduces results bit-for-bit.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import cosine_similarity
from pq_vector_spark.functions.text import (
    _sql_ident,
    _token_hash_sql,
    _tokens_sql,
    fingerprint,
    normalize_text,
    tokens,
)

# MinHash parameters: h_i(x) = (a_i·x + b_i) mod P over x = token_hash mod M.
# P, M chosen so a_i·x never overflows int64 (DuckDB raises on overflow, so
# portability demands staying in range): a < 1e6, x < 1e6+3 ⇒ product < 1e12.
MINHASH_P = 999_983
MINHASH_M = 1_000_003


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a tiny LCG — reproducible anywhere."""
    coeffs, state = [], seed
    for _ in range(num_hashes):
        state = (state * 1_103_515_245 + 12_345) % (2**31)
        a = state % (MINHASH_P - 1) + 1
        state = (state * 1_103_515_245 + 12_345) % (2**31)
        b = state % MINHASH_P
        coeffs.append((a, b))
    return coeffs


# ---------------------------------------------------------------------------
# The featurization expressions below are rendered as ONE SQL string each
# and parsed JVM-side (`F.expr`), with the shared SQL pieces of
# functions/text.py (r16). Built one Column operation at a time, a 32-hash
# minhash_signature alone cost ~500 py4j round trips (~0.3 s of pure driver
# latency), paid EVERY time a plan is constructed (dedup_minhash,
# incremental near-dedup, index build/append, streaming micro-batches) —
# the same treatment functions/distance.py gives the unrolled distance
# chains. They take column NAMES only (a Column raises TypeError);
# lambda-variable names carry a `__pqlv_` prefix no real column can
# collide with.
# ---------------------------------------------------------------------------


def _shingles_sql(ref: str, n: int) -> str:
    return (
        f"transform(array({_tokens_sql(ref)}), __pqlv_t -> array_distinct("
        f"transform(sequence(1, greatest(size(__pqlv_t) - {n - 1}, 1)), "
        f"__pqlv_i -> concat_ws(' ', slice(__pqlv_t, __pqlv_i, {n})))))[0]"
    )


def shingles(col: str, n: int = 3) -> Column:
    """Distinct n-gram (token-level) shingles of lowercased text.

    Native expression: split → slide an index over the token array →
    re-join each window. Shingle count ≈ token count; no shuffle.

    The token array is BOUND to a lambda variable (via a 1-element
    ``transform``) before the window loop: a free subtree referenced inside
    an HOF lambda is re-evaluated once per element, so the naive form
    re-tokenizes the whole text once per shingle (~50× slower on real docs).
    """
    return F.expr(_shingles_sql(_sql_ident(col), n))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by normalized-content hash.

    Returns (fingerprint, n_dups, keep_id): one row per distinct content,
    keeping the smallest id — a deterministic survivor policy. One
    hash-partitioned aggregation; at 100 TB this is a single shuffle of
    (16-byte key, id) pairs, with map-side combine.
    """
    return (
        df.select(fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _shingle_hashes_sql(ref: str, n: int, mod: bool = True) -> str:
    h = _token_hash_sql("__pqlv_s") + (f" % {MINHASH_M}" if mod else "")
    return f"transform({_shingles_sql(ref, n)}, __pqlv_s -> {h})"


def shingle_hashes(col: str, n: int = 3) -> Column:
    """Portable 60-bit hashes of each shingle, reduced mod MINHASH_M."""
    return F.expr(_shingle_hashes_sql(_sql_ident(col), n))


def shingle_token_hashes(col: str, n: int = 3) -> Column:
    """Portable 60-bit ``token_hash`` of each shingle (NOT reduced mod
    MINHASH_M) — the exact-Jaccard verification feature shared by
    ``minhash_lsh_pairs`` and ``incremental_dedup_near``."""
    return F.expr(_shingle_hashes_sql(_sql_ident(col), n, mod=False))


def minhash_signature(col: str, n: int = 3, num_hashes: int = 32, seed: int = 42) -> Column:
    """Array of ``num_hashes`` minhash values for a text column — one
    map-side expression, no shuffle, no Python.

    Shape matters for speed: a naive ``array(min₀, min₁, …)`` duplicates the
    whole shingle→md5 subtree ``num_hashes`` times (HOFs are interpreted, so
    each copy re-hashes every shingle). Instead we fold ONCE over the hash
    array, carrying all ``num_hashes`` running minima as an array accumulator
    — md5 runs once per shingle regardless of signature width.
    """
    coeff_sql = "array(" + ", ".join(
        f"named_struct('a', CAST({a} AS BIGINT), 'b', CAST({b} AS BIGINT))"
        for a, b in _minhash_coeffs(num_hashes, seed)
    ) + ")"
    return F.expr(
        f"aggregate({_shingle_hashes_sql(_sql_ident(col), n)}, "
        f"array_repeat(CAST({MINHASH_P} AS BIGINT), {num_hashes}), "
        f"(__pqlv_a, __pqlv_h) -> zip_with(__pqlv_a, {coeff_sql}, "
        f"(__pqlv_m, __pqlv_c) -> least(__pqlv_m, "
        f"(__pqlv_c.a * __pqlv_h + __pqlv_c.b) % {MINHASH_P}))"
        f")"
    )


def _band_structs(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """array<struct<band int, key string>> of LSH band keys from a minhash
    signature array — ONE definition shared by ``minhash_lsh_pairs``,
    ``build_dedup_index`` and ``incremental_dedup_near`` so the banding
    (hence index compatibility) can never drift between them."""
    ref = _sql_ident(sig_col)
    parts = []
    for i in range(bands):
        items = ", ".join(
            f"{ref}[{i * rows_per_band + r}]" for r in range(rows_per_band)
        )
        parts.append(f"named_struct('band', {i}, 'key', concat_ws(',', {items}))")
    return F.expr("array(" + ", ".join(parts) + ")")


def _expand_sorted_id_pairs(
    grouped: DataFrame, ids_col: str = "_ids", out: Sequence[str] = ("id_a", "id_b")
) -> DataFrame:
    """Buckets of SORTED members (ids, or structs that sort by id) →
    within-bucket ordered pair rows ``out = (a, b)``, a before b in the
    sorted order — the one pair expansion of ``minhash_lsh_pairs``,
    ``ngram_jaccard_pairs``, ``_cluster_pair_expansion`` and
    ``winnow_overlap_pairs``.

    r16 shape: TWO chained generators in ONE plan — posexplode every
    non-final member as an anchor, then explode the suffix slice after
    it. The Generate nodes fuse into one whole-stage-codegen nested loop,
    so no pair array is ever BUILT: the previous flatten-of-transforms
    comprehension allocated each bucket's C(n, 2) struct array before
    exploding it (~2.3 µs/pair — it was the dominant cost of the sf0.1
    jaccard/minhash/winnow pair stages; 1.17 s vs 0.72 s for the sf0.1
    jaccard expansion), and needed a small/big hybrid to stay under the
    2^31 single-row array limit. The widest row here is one bucket's
    member array, so hot buckets stream by construction. Callers must
    have filtered size >= 2 already (a size-0/1 bucket emits nothing
    either way — the anchor slice is empty); pairs are emitted once per
    bucket (dedupe across buckets stays the caller's job)."""
    m = F.col(ids_col)
    xp = f"_xp{ids_col}"
    anchors = grouped.select(
        m.alias(xp),
        F.posexplode(
            F.slice(m, 1, F.greatest(F.size(m) - 1, F.lit(0)))
        ).alias("_xp_i", "_xp_a"),
    )
    mm = F.col(xp)
    return anchors.select(
        F.col("_xp_a").alias(out[0]),
        F.explode(
            F.slice(mm, F.col("_xp_i") + 2, F.size(mm) - F.col("_xp_i") - 1)
        ).alias(out[1]),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard ≥ threshold).

    Plan (r15 reshape): explode shingle hashes → ONE shuffle grouping by
    shingle → sorted (id, n_shingles) member list per shingle → map-side
    within-shingle ordered pair expansion → per-pair intersection counts →
    Jaccard from the carried per-doc shingle counts. The r5–r14 form
    SELF-JOINED the exploded frame on the shingle hash, which planned as
    TWO full text→shingle→md5 scans (broadcast build + streamed probe at
    bench scale; two scans AND two exchanges as sort-merge at corpus
    scale) — grouping once produces the identical pair multiset from ONE
    scan and one shingle-keyed exchange, the same shape the LSH bucket
    path uses. Singleton shingles (the overwhelming majority) die before
    any pair exists. Exact but worst-case quadratic on hot shingles — use
    ``minhash_lsh_pairs`` as the candidate generator at scale; this
    operator is the verifier. Jaccard is int/int → bit-identical across
    engines.

    Hot-shingle safety (r16, ordered by the r15 verdict): pair expansion
    routes through ``_expand_sorted_id_pairs`` — a two-generator
    anchor + suffix-slice explode in one fused codegen loop, so no row
    ever holds a bucket's C(n, 2) pair set: a boilerplate shingle shared
    by 100k docs degrades to quadratic-but-streaming output (like the
    old self-join did) instead of failing on the 2^31 single-row array
    limit past ~65,536 members.

    Group keys are 60-bit md5-derived shingle hashes, not strings — an
    8-byte shuffle key instead of a ~20-byte string (the oracle hashes
    identically, so any astronomically-unlikely collision affects both
    engines equally).
    """
    from pq_vector_spark.functions.text import token_hash
    from pq_vector_spark.parallel import ensure_compute_parallelism

    # spread the slim (id, text) projection BEFORE the shingle+md5 stage:
    # a single-row-group source otherwise runs the whole featurization in
    # one task (guide §2.5); no-op whenever the scan is already cores-wide
    base = ensure_compute_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    )
    sh = base.select(
        F.col("_id"), shingles("_txt", n).alias("_sh")
    ).select(
        "_id",
        F.size("_sh").alias("_n"),
        F.explode(F.transform(F.col("_sh"), lambda s: token_hash(s))).alias("_s"),
    )
    # members sorted by (_id, _n) ⇒ ordered expansion yields id_a < id_b
    # directly (shingles are distinct within a doc, so ids are unique
    # within a bucket); _n rides the struct so no per-doc count table —
    # and no second pipeline pass — is ever joined back
    grouped = (
        sh.groupBy("_s")
        .agg(F.sort_array(F.collect_list(F.struct("_id", "_n"))).alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    inter = (
        _expand_sorted_id_pairs(grouped, "_m", ("_a", "_b"))
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_a._n").alias("_na"),
            F.col("_b._n").alias("_nb"),
        )
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
    persist: bool = True,
    max_bucket: Optional[int] = 10_000,
    observation=None,
    _caches: Optional[list] = None,
    _sig: Optional[DataFrame] = None,
    _shingle_hashes: Optional[DataFrame] = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs — the scale path.

    signature (map-side) → explode into ``bands`` band-keys → ONE shuffle
    grouping (band, key) → sorted member list per bucket, SINGLETON buckets
    (the overwhelming majority) filtered before any pair exists → map-side
    within-bucket pair expansion → distinct candidate pairs → [verify]
    exact Jaccard ≥ threshold. Shuffle volume is #docs × bands rows of
    small keys; candidate pairs are only same-bucket collisions
    (P[collide] ≈ 1-(1-j^r)^b with r = num_hashes/bands), never the full
    cross product. (r12 rewrite: the previous (band, key) SELF-JOIN
    shuffled every banded row twice and the hot-bucket guard paid a
    per-bucket row_number sort; grouping once and slicing the sorted
    member array gives the same pairs with one exchange and no window.)

    ``max_bucket`` is the hot-bucket guard: a degenerate bucket (boilerplate
    docs, empty strings) would otherwise go quadratic WITHIN the bucket.
    Buckets are truncated to their first ``max_bucket`` members (ordered by
    id — deterministic), bounding per-bucket candidates at C(max_bucket, 2).
    Mass-identical documents belong to ``exact_dedup`` anyway; pass
    ``observation=Observation(...)`` to record ``dropped_bucket_rows``
    (rows truncated away) without an extra pass, or ``max_bucket=None`` to
    disable the guard.

    ``persist`` caches the signature table (id + num_hashes longs — orders
    of magnitude smaller than the text) so the self-join's two sides and the
    verification join don't each recompute the text→md5→minhash pass; the
    expensive scan then runs once instead of 4×, at bench scale and at
    100 TB alike (MEMORY_AND_DISK — spills, never OOMs).

    ``_sig`` / ``_shingle_hashes`` (private, r16): precomputed
    ``(_id, _sig)`` signature / ``(_hid, _h)`` shingle-hash frames a
    caller that already featurized the SAME ``df`` with the same
    (n, num_hashes, seed) passes in — ``incremental_dedup_near`` shares
    its probe-side passes here so the delta text is md5-featurized once
    per family, not twice. The caller owns their persistence.
    """
    from pq_vector_spark.parallel import ensure_compute_parallelism

    rows_per_band = num_hashes // bands
    if _sig is not None:
        sig = _sig
    else:
        # r16 (guide §2.5): spread the slim (id, text) projection before
        # the shingle+md5 signature stage — the operator's dominant CPU —
        # so a single-row-group source doesn't compute every signature in
        # ONE task; no-op at real scan widths.
        sig = ensure_compute_parallelism(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_mtxt"))
        ).select(
            "_id",
            minhash_signature("_mtxt", n, num_hashes, seed).alias("_sig"),
        )
        if persist:
            from pyspark import StorageLevel

            sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
            if _caches is not None:
                _caches.append(sig)
    banded = sig.select(
        "_id",
        F.explode(_band_structs("_sig", bands, rows_per_band)).alias("bk"),
    ).select("_id", "bk.band", "bk.key")
    # ONE exchange: (band, key) → sorted member ids (collect_list
    # partial-aggregates map-side; sort_array pins determinism). The
    # hot-bucket guard is an array slice — first max_bucket members by id,
    # identical semantics to the old per-bucket row_number, without the
    # window sort.
    grouped = banded.groupBy("band", "key").agg(
        F.sort_array(F.collect_list("_id")).alias("_ids")
    )
    if max_bucket is not None:
        if observation is not None:
            grouped = grouped.observe(
                observation,
                F.sum(
                    F.greatest(F.size("_ids") - max_bucket, F.lit(0))
                ).alias("dropped_bucket_rows"),
            )
        grouped = grouped.withColumn(
            "_ids", F.slice(F.col("_ids"), 1, max_bucket)
        )
    grouped = grouped.filter(F.size("_ids") >= 2)
    cands = _expand_sorted_id_pairs(grouped).distinct()
    if not verify:
        return cands
    # Verify ONLY the candidate pairs: join each side to its (distinct)
    # shingle-hash array and compute exact Jaccard via array_intersect.
    # Unlike running the full explode self-join (ngram_jaccard_pairs) and
    # intersecting, this scales with |candidates|, not |all similar pairs| —
    # the whole point of LSH at 100 TB.
    from pq_vector_spark.functions.text import token_hash

    if _shingle_hashes is not None:
        hs = _shingle_hashes
    else:
        hs = df.select(
            F.col(id_col).alias("_hid"),
            shingle_token_hashes(text_col, n).alias("_h"),
        )
        if persist:
            from pyspark import StorageLevel

            hs = hs.persist(StorageLevel.MEMORY_AND_DISK)
            if _caches is not None:
                _caches.append(hs)
    a = hs.select(F.col("_hid").alias("id_a"), F.col("_h").alias("_ha"))
    b = hs.select(F.col("_hid").alias("id_b"), F.col("_h").alias("_hb"))
    inter = F.size(F.array_intersect(F.col("_ha"), F.col("_hb")))
    jac = inter.cast("double") / (
        F.size("_ha") + F.size("_hb") - inter
    ).cast("double")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(col, bits: int = 16, n: int = 1) -> Column:
    """SimHash signature over token (n=1) or shingle hashes: for each bit j,
    sum ±1 weighted by the j-th bit of each element hash; bit j of the
    signature is set when the sum is positive. Single map-side expression.
    ``n > 1`` needs a column name (the shingle hashes are rendered SQL).
    """
    hashes = shingle_hashes(col, n) if n > 1 else None
    if hashes is None:
        from pq_vector_spark.functions.text import token_hash

        hashes = F.array_distinct(
            F.transform(tokens(col), lambda t: token_hash(t) % MINHASH_M)
        )

    # Single fold carrying all per-bit ±1 sums (same one-pass shape as
    # minhash_signature — the hash subtree is evaluated once per row, not
    # once per bit). Bit j of h tested as h mod 2^(j+1) >= 2^j: exact bigint
    # math, no shifts-by-column needed.
    pow_arr = F.array(*[F.lit(2**j).cast("bigint") for j in range(bits)])
    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc,
            pow_arr,
            lambda s, p: s + F.when((h % (p * 2)) >= p, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    weights = F.zip_with(
        sums, pow_arr, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint"))
    )
    return F.aggregate(weights, F.lit(0).cast("bigint"), lambda a, x: a + x)


def embedding_top_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    top: int = 20,
    tie_break: bool = True,
) -> DataFrame:
    """Most-similar embedding pairs by cosine — exact all-pairs kernel.

    Used directly at verification scale; at 100 TB pair generation must be
    blocked first (same IVF cluster / LSH bucket) — see
    operators/similarity.py. Output: (id_a, id_b, cosine) top-N descending.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn("cosine", cosine_similarity(F.col("_va"), F.col("_vb")))
    return (
        scored.orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(top)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, O(n²)) — the VERIFICATION
    kernel. At scale use :func:`embedding_near_dup_bucketed`."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn("cosine", cosine_similarity(F.col("_va"), F.col("_vb")))
    return scored.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def embedding_near_dup_bucketed(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
    n_clusters: Optional[int] = None,
    nprobe: int = 2,
    seed: int = 42,
    max_iters: int = 20,
    sample_cap: int = 100_000,
    max_cluster: Optional[int] = 100_000,
    method: str = "expand",
    _stats: Optional[dict] = None,
    _caches: Optional[list] = None,
) -> DataFrame:
    """Embedding near-dup at scale: IVF same-cluster pair blocking — the
    recommended path (replaces the O(n²) cross join of
    :func:`embedding_near_dup` as the runnable surface).

    Plan: train centroids on a ≤``sample_cap`` driver sample (the only
    collect, same contract as the index build) → multi-probe every row to
    its ``nprobe`` nearest clusters map-side (broadcast centroids + pandas
    UDF, see index/build.probe_clusters) → the embedding pair stage
    (``_embedding_pairs``, shared with :func:`semantic_dedup`): only
    co-clustered pairs are generated, exact cosine on candidates only.
    Pair generation is Σ_c |c|², not n² — candidate volume tracks cluster
    sizes (distributed analogue of the reference's inverted-list gather,
    src/ivf/search.rs:100-120).

    ``nprobe > 1`` is multi-probe blocking: near-boundary pairs co-occur in
    a shared neighboring cluster. With ``nprobe = n_clusters`` every pair
    shares every cluster and the result is EXACTLY ``embedding_near_dup``
    (the correctness envelope the oracle checks).

    ``method`` names the within-cluster compute (``"expand"``, the default
    and the engine-replayable oracle path, or ``"gram"``, THE scale path
    at 1M+ rows); ``_embedding_pairs`` documents the trade.

    ``max_cluster`` is the hot-cluster guard the LSH buckets already had
    (r12): a degenerate cluster (mass near-identical embeddings) is
    truncated to its first ``max_cluster`` members by id, bounding its
    work at C(max_cluster, 2) — byte-identical rows belong to
    ``exact_dedup`` first, exactly the hot-bucket stance. Pass ``_stats``
    to receive ``capped_clusters`` (one extra bounded count; pair it with
    ``_caches`` — the module's unpersist-after-action contract — to avoid
    recomputing the grouped frame on the expand path).
    """
    rows, n_clusters, nprobe, complete = _embedding_blocking(
        df, vec_col, method, n_clusters, nprobe
    )
    probed = None
    if not complete:
        _, probed = _fit_probe(
            df, df.select(id_col, vec_col), vec_col, rows, n_clusters, nprobe,
            seed=seed, max_iters=max_iters, sample_cap=sample_cap,
        )
        # Persist ONLY when probed actually has a second consumer: the
        # capped-cluster count is _stats-gated, so without _stats the
        # frame is read once and a persist would serialize ~corpus rows
        # of vectors for zero reuse (same fix family as semantic_dedup's
        # four-consumer case).
        if _caches is not None and _stats is not None:
            from pyspark import StorageLevel

            probed = probed.persist(StorageLevel.MEMORY_AND_DISK)
            _caches.append(probed)
    return _embedding_pairs(
        df, vec_col, id_col, probed, rows, threshold, method, max_cluster,
        _stats, _caches,
    )


def _embedding_blocking(
    df: DataFrame, vec_col: str, method: str, n_clusters: Optional[int], nprobe: int
) -> tuple:
    """Shared set-up of the IVF-blocked embedding operators: checks
    ``method``, defaults ``n_clusters`` to ⌈√rows⌉, clamps ``nprobe``.
    Returns ``(rows, n_clusters, nprobe, complete)``.

    ``complete`` is the exactness-envelope shortcut (r13): nprobe =
    n_clusters puts EVERY point in EVERY cluster, so the pair set is
    complete with ONE block, and probing all clusters would generate
    each pair n_clusters times (the r13 bench measured that redundancy at
    45× on the oracle row). No centroids are needed to block a single
    complete block."""
    import math

    from pq_vector_spark.schema import validate_vector_column

    if method not in ("expand", "gram"):
        raise ValueError(f"method must be expand|gram, got {method!r}")
    rows = validate_vector_column(df, vec_col).rows
    if n_clusters is None:
        n_clusters = max(1, math.ceil(math.sqrt(rows)))
    n_clusters = min(n_clusters, rows)
    nprobe = max(1, min(int(nprobe), n_clusters))
    return rows, n_clusters, nprobe, nprobe >= n_clusters


def _fit_probe(
    df: DataFrame,
    frame: DataFrame,
    vec_col: str,
    rows: int,
    n_clusters: int,
    nprobe: int,
    *,
    seed: int,
    max_iters: int,
    sample_cap: int,
):
    """k-means on a ≤``sample_cap`` driver sample of ``df`` (the only
    collect, the index-build contract), then ``frame`` with every row's
    ``nprobe`` nearest centroid ids in ``PROBE_COL`` (lazy, map-side).
    Returns ``(centroids, probed)``."""
    from pq_vector_spark.index.build import (
        _sample_size,
        probe_clusters,
        sample_embeddings_to_driver,
    )
    from pq_vector_spark.index.kmeans import train_kmeans

    sample = sample_embeddings_to_driver(
        df, vec_col, _sample_size(rows, n_clusters, sample_cap), rows, seed
    )
    centroids = train_kmeans(sample, n_clusters, max_iters=max_iters, seed=seed)
    return centroids, probe_clusters(frame, vec_col, centroids, nprobe)


def _embedding_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probed: Optional[DataFrame],
    rows: int,
    threshold: float,
    method: str,
    max_cluster: Optional[int],
    _stats: Optional[dict],
    _caches: Optional[list],
) -> DataFrame:
    """The embedding pair stage of :func:`embedding_near_dup_bucketed` and
    :func:`semantic_dedup`: ``(id_a, id_b, cosine)``, id_a < id_b, every
    pair that shares a cluster of ``probed`` (``PROBE_COL`` memberships;
    None for the one complete block) at cosine ≥ ``threshold``, once.
    Clusters past ``max_cluster`` members keep their first ``max_cluster``
    by id; ``_stats`` receives ``capped_clusters``.

    ``method`` names the within-cluster compute (both produce the same
    pair SET):

    - ``"expand"``: one-shuffle grouped candidate expansion
      (``_cluster_pair_expansion``) → exact ``cosine_similarity`` via a
      join back to the vectors. Cosines are the SQL left-to-right fold,
      so an external engine replays them bit-for-bit — the oracle-row
      path. The join-back ships ~Σ|c|² candidate pairs × two vectors, so
      it is for MODEST candidate volumes. The complete block does not
      expand: a one-block grouped expansion would emit all C(n, 2) pairs
      from ONE task and pay the interpreted-HOF cosine on every one, so
      it discovers CANDIDATES with the BLAS gram kernel at (threshold −
      1e-9) — the margin absorbs the last-ulp BLAS-vs-SQL-fold
      difference, so no qualifying pair can be missed — and the same
      join-back applies the EXACT SQL cosine at the real threshold.
      Bit-identical result, gram speed;
    - ``"gram"``: per-cluster tiled Gram matrix (``_cluster_gram_pairs``,
      SemDeDup's compute shape) — candidates never leave the executor;
      the only exchange is the (id, vector) cluster grouping. THE scale
      path at 1M+ rows, where expand's pair join-back would shuffle
      hundreds of GB. Cosines come from float64 BLAS (last-ulp may differ
      from the SQL fold; multi-probe duplicates resolve by max).
    """
    from pq_vector_spark.index.build import PROBE_COL

    if probed is None:
        pe = df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), F.lit(0).alias("_c")
        )
        if _stats is not None:
            _stats["capped_clusters"] = int(max_cluster is not None and rows > max_cluster)
    else:
        pe = probed.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.explode(PROBE_COL).alias("_c"),
        )
    if method == "gram":
        if _stats is not None and probed is not None:
            _stats["capped_clusters"] = _count_capped_clusters(
                probed, PROBE_COL, max_cluster
            )
        pairs = _cluster_gram_pairs(pe, threshold, max_cluster)
        return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))
    if probed is not None:
        cands = _cluster_pair_expansion(pe.select("_id", "_c"), max_cluster, _stats, _caches)
    else:
        nb = _gram_block_count(df.sparkSession)
        if nb > 1 and rows > 2048 and (max_cluster is None or rows <= max_cluster):
            # parallel blocked candidate discovery (r16): the margin +
            # exact-cosine re-verify below make last-ulp GEMM-shape
            # differences harmless; truncation (which is global
            # first-N-by-id) never binds on this branch. Gated on the
            # kernel's own tile boundary (a sub-tile block is one small
            # GEMM — measured 1.14 → 1.47 s at 2k rows when blocked, the
            # per-group Arrow/pandas overheads dwarfing the compute)
            cands = _blocked_gram_candidates(pe, threshold - 1e-9, nb)
        else:
            cands = _cluster_gram_pairs(pe, threshold - 1e-9, max_cluster).select(
                "id_a", "id_b"
            )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_similarity(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _unit_rows(pdf, cap: Optional[int] = None):
    """One gram block's ``(_id, _v)`` rows as ``(ids, unit vectors)``:
    sorted by id, the first ``cap`` kept (the hot-cluster truncation),
    each vector L2-normalized. A zero norm clamps to 1, so a zero vector
    scores cosine 0 against everything — ``cosine_similarity``'s no-NaN
    contract downstream."""
    import numpy as np

    order = np.argsort(pdf["_id"].to_numpy(), kind="stable")[:cap]
    ids = pdf["_id"].to_numpy()[order]
    if len(ids) == 0:
        return ids, np.zeros((0, 0))
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"].to_numpy()[order]])
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0.0] = 1.0
    return ids, X / norms[:, None]


def _gram_tile_pairs(a, b, threshold: float, tile: int):
    """The one tiled Gram loop of both gram kernels: pairs at cosine ≥
    ``threshold`` between ``_unit_rows`` blocks, evaluated ``tile`` ×
    ``tile`` (2048² × 8 B = 32 MB) at a time, never |block|². ``b`` None:
    the strict upper triangle of a·aᵀ (i < j in id order); else the full
    cross product a·bᵀ. Returns ``(ids_a, ids_b, cosines)`` arrays."""
    import numpy as np

    ia, Xa = a
    ib, Xb = a if b is None else b
    out_a, out_b, out_c = [ia[:0]], [ib[:0]], [np.zeros(0)]
    for i0 in range(0, len(ia), tile):
        ai = Xa[i0 : i0 + tile]
        for j0 in range(i0 if b is None else 0, len(ib), tile):
            g = ai @ Xb[j0 : j0 + tile].T
            if b is None and j0 == i0:
                # upper triangle only: strict i < j within the block
                g = np.triu(g, k=1)
                hit = np.argwhere(g >= threshold)
                # triu zeroed the rest, but threshold <= 0 would let
                # zeros through — mask explicitly
                if threshold <= 0.0:
                    hit = hit[hit[:, 1] > hit[:, 0]]
            else:
                hit = np.argwhere(g >= threshold)
            out_a.append(ia[i0 + hit[:, 0]])
            out_b.append(ib[j0 + hit[:, 1]])
            out_c.append(g[hit[:, 0], hit[:, 1]])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def _blocked_gram_candidates(
    pe: DataFrame, threshold: float, n_blocks: int, *, tile: int = 2048
) -> DataFrame:
    """Candidate discovery for the COMPLETE exactness-envelope block,
    parallelized (r16, this optimization round): the single complete
    block otherwise evaluates its whole Gram matrix in ONE task. Rows
    split into ``n_blocks`` deterministic id-hash blocks; every
    unordered block pair (i <= j) is its own ``applyInPandas`` group, so
    the Gram work spreads over B(B+1)/2 tasks at the cost of shipping
    each (id, vector) row B times. Emits each qualifying (id_a < id_b)
    pair EXACTLY once — the diagonal group (i, i) computes its
    upper triangle, an off-diagonal group (i, j) the full cross product
    between its two blocks (a pair's blocks determine its one group).

    Only for the margined-candidate path (caller re-verifies with the
    exact SQL cosine): different GEMM shapes may round last-ulp
    differently than the one-block kernel, which the caller's 1e-9
    margin absorbs — the ``method="gram"`` path, whose BLAS cosines are
    the OUTPUT, keeps the one-block kernel. Callers must not need
    ``max_cluster`` truncation (its first-N-by-id semantics are global,
    not per-block)."""
    import pandas as pd  # noqa: F401 — worker-side dependency, import-checked here

    from pyspark.sql.types import StructField, StructType

    id_field = pe.schema["_id"]
    out_schema = StructType(
        [
            StructField("id_a", id_field.dataType),
            StructField("id_b", id_field.dataType),
        ]
    )
    blk = F.pmod(F.xxhash64(F.col("_id")), F.lit(n_blocks)).cast("int")
    rep = (
        pe.withColumn("_blk", blk)
        .withColumn(
            "_k", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .select(
            F.least("_blk", "_k").alias("_gi"),
            F.greatest("_blk", "_k").alias("_gj"),
            "_blk",
            "_id",
            "_v",
        )
    )

    def gram(key, pdf):
        import numpy as np
        import pandas as pd

        gi, gj = int(key[0]), int(key[1])
        if gi == gj:
            a, b, _ = _gram_tile_pairs(_unit_rows(pdf), None, threshold, tile)
        else:
            a, b, _ = _gram_tile_pairs(
                _unit_rows(pdf[pdf["_blk"] == gi]),
                _unit_rows(pdf[pdf["_blk"] == gj]),
                threshold,
                tile,
            )
            # cross-block pairs arrive in arbitrary id order — normalize
            a, b = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": a, "id_b": b})

    return rep.groupBy("_gi", "_gj").applyInPandas(gram, out_schema)


def _gram_block_count(spark) -> int:
    """Smallest B with B(B+1)/2 >= defaultParallelism — enough unordered
    block pairs to fill a core wave, scale-adaptive (never tuned to a
    fixed core count)."""
    import math

    p = max(1, spark.sparkContext.defaultParallelism)
    return max(1, math.ceil((math.sqrt(8.0 * p + 1.0) - 1.0) / 2.0))


def _count_capped_clusters(
    probed: DataFrame, probe_col: str, max_cluster: Optional[int]
) -> int:
    """Diagnostic twin of the expand path's ``capped_clusters`` stat for
    the gram path (which truncates inside the pandas worker): one bounded
    membership-count aggregation, no vectors shuffled."""
    if max_cluster is None:
        return 0
    return int(
        probed.select(F.explode(probe_col).alias("_c"))
        .groupBy("_c")
        .count()
        .filter(F.col("count") > max_cluster)
        .count()
    )


def _cluster_gram_pairs(
    probed_exploded: DataFrame,
    threshold: float,
    max_cluster: Optional[int],
    *,
    tile: int = 2048,
) -> DataFrame:
    """(_id, _v, _c) memberships → within-cluster (id_a < id_b, cosine)
    pairs at cosine ≥ ``threshold``, via a PER-CLUSTER TILED GRAM MATRIX
    (``applyInPandas`` + BLAS, ``_gram_tile_pairs``) instead of pair
    expansion + vector join-back. This is the 100 TB path for the
    embedding-dedup family (SemDeDup's own compute shape, Abbas et al.
    2023 §3: normalize the cluster's vectors, X·Xᵀ, threshold the upper
    triangle):

    - the ONLY exchange is the cluster grouping itself — n·nprobe rows of
      (id, vector), ~2 KB each at 256 dims. Candidate PAIRS never travel:
      the Σ min(|c|, max_cluster)² candidate dot products are computed
      inside the executor by vectorized BLAS and only the QUALIFYING
      pairs (rare at real thresholds) are emitted. The expand path's
      join-back of both vectors to every candidate pair — ~n²/k pairs ×
      2 vectors ≈ hundreds of GB shuffled at 1M×256 — does not exist here;
    - per-group memory is bounded: hot clusters truncate to their first
      ``max_cluster`` members by id (the expand path's exact semantics)
      and the Gram matrix is evaluated in ``tile``×``tile`` blocks.

    Multi-probe (nprobe > 1) emits a shared pair once PER shared cluster;
    the caller dedupes with ``groupBy(id_a, id_b).agg(max(cosine))`` —
    max, not first, so the result is deterministic. Cosines come from
    float64 BLAS, which may differ from the SQL ``cosine_similarity``
    fold in the last ulp — use ``method="expand"`` when an external
    engine must replay values bit-for-bit (the oracle rows do)."""
    import pandas as pd  # noqa: F401 — worker-side dependency, import-checked here

    from pyspark.sql.types import DoubleType, StructField, StructType

    id_field = probed_exploded.schema["_id"]
    out_schema = StructType(
        [
            StructField("id_a", id_field.dataType),
            StructField("id_b", id_field.dataType),
            StructField("cosine", DoubleType()),
        ]
    )

    def gram(pdf):
        import pandas as pd

        a, b, c = _gram_tile_pairs(_unit_rows(pdf, max_cluster), None, threshold, tile)
        return pd.DataFrame({"id_a": a, "id_b": b, "cosine": c})

    return probed_exploded.groupBy("_c").applyInPandas(gram, out_schema)


def _cluster_pair_expansion(
    exploded: DataFrame,
    max_cluster: Optional[int],
    _stats: Optional[dict],
    _caches: Optional[list] = None,
) -> DataFrame:
    """(_id, _c) memberships → distinct within-cluster (id_a < id_b)
    candidate pairs via ONE exchange: group each cluster's sorted member
    ids (collect_list partial-aggregates map-side), truncate hot clusters
    to ``max_cluster`` members (first by id — deterministic; records
    ``capped_clusters`` in ``_stats``), drop singleton clusters BEFORE
    any pair is materialized, expand map-side via the streaming two-step
    generator (``_expand_sorted_id_pairs`` — never a single C(n, 2)
    allocation). The ``capped_clusters`` count reuses the grouped frame:
    pass ``_caches`` (the module's unpersist-after-action contract) to
    persist it across the count + expansion; without ``_caches`` the count
    runs unpersisted (one extra aggregation pass) so a diagnostics run
    never leaks a cached relation for the session (ADVICE r12)."""
    grouped = exploded.groupBy("_c").agg(
        F.sort_array(F.collect_list("_id")).alias("_ids")
    )
    if max_cluster is not None:
        if _stats is not None:
            if _caches is not None:
                from pyspark import StorageLevel

                grouped = grouped.persist(StorageLevel.MEMORY_AND_DISK)
                _caches.append(grouped)
            _stats["capped_clusters"] = int(
                grouped.filter(F.size("_ids") > max_cluster).count()
            )
        grouped = grouped.withColumn(
            "_ids", F.slice(F.col("_ids"), 1, max_cluster)
        )
    grouped = grouped.filter(F.size("_ids") >= 2)
    return _expand_sorted_id_pairs(grouped).distinct()


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    eps: float = 0.05,
    n_clusters: Optional[int] = None,
    nprobe: int = 2,
    keep: str = "outlier",
    seed: int = 42,
    max_iters: int = 20,
    sample_cap: int = 100_000,
    max_cluster: Optional[int] = 100_000,
    method: str = "expand",
    _stats: Optional[dict] = None,
    _caches: Optional[list] = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — k-means clusters the
    embeddings, pairs within a cluster at cosine ≥ 1 - ``eps`` are
    semantic duplicates, and each duplicate group keeps exactly one
    member. ``keep`` names the survivor policy:

    - ``"outlier"`` (the paper's choice): the member with the LOWEST
      cosine to its nearest centroid — keeping the least prototypical
      copy preserves diversity, which is what made SemDeDup's pruned
      corpora train better;
    - ``"prototype"``: the highest-centroid-cosine member (most
      representative);
    - ``"min_id"``: smallest id (the engine's default elsewhere, and the
      variant an external SQL engine can replay exactly — centroid scores
      depend on the seeded k-means sample, which is engine-native).

    Returns ``df`` + ``canonical_id`` / ``is_canonical``
    (``resolve_duplicates`` contract): filter ``is_canonical`` for the
    pruned corpus.

    Scale shape — one k-means (driver-bounded ≤ ``sample_cap`` sample,
    the index-build contract), one map-side multi-probe assignment, pair
    generation Σ_c min(|c|, max_cluster)² (never n²; ``max_cluster``
    truncates a degenerate cluster of mass-near-identical embeddings —
    run ``exact_dedup`` on the payloads first, the hot-bucket stance;
    ``_stats["capped_clusters"]`` reports when it fired), and a
    component-keyed survivor window. Its pairs come from the same
    blocking stage as :func:`embedding_near_dup_bucketed`
    (``_embedding_pairs``) at threshold 1 - ``eps``; ``method`` picks the
    within-cluster compute there: ``"expand"`` (default — grouped
    candidate expansion + SQL cosine, the engine-replayable oracle path)
    or ``"gram"`` (per-cluster tiled Gram matrix, the paper's own compute
    shape and THE path at 1M+ rows — candidate pairs never leave the
    executor). ``nprobe`` > 1 catches near-boundary pairs; ``nprobe =
    n_clusters`` with an uncapped ``max_cluster`` is the exactness
    envelope (identical to all-pairs cosine at 1 - eps). The centroid
    set is trained ONCE and shared by blocking and scoring, so the
    survivor score is consistent with the blocking geometry.

    **Pass ``_caches`` for any corpus-scale run**: the probed frame
    (corpus + centroid assignment) has up to FOUR consumers — pair
    blocking, the capped-cluster stat, and the two survivor-resolution
    joins — and each re-runs the multi-probe assignment (n_clusters
    distance folds per row, the operator's dominant map cost) unless the
    frame is persisted. Measured at 1M×256: 199 s uncached vs the cached
    run bounded by ONE assignment (see bench ``scale_dedup.semantic_*``).
    With BOTH ``_stats`` and ``_caches`` the operator additionally
    records a stage breakdown — ``fit_sec`` (driver k-means),
    ``assign_sec`` (materializing the cached assignment),
    ``pairs_sec``/``n_pairs`` (pair generation + cosine gate) — the
    remaining caller-action time being survivor resolution; the extra
    ``count()`` actions only materialize caches that are reused, never
    recompute.
    """
    import time as _time

    from pq_vector_spark.index.build import PROBE_COL

    if keep not in ("outlier", "prototype", "min_id"):
        raise ValueError(f"keep must be outlier|prototype|min_id, got {keep!r}")
    if not (0.0 < eps < 1.0):
        raise ValueError(f"eps must be in (0, 1), got {eps}")
    reserved = {"_sd_cos", "_sd_c", "_sd_cv", "canonical_id", "is_canonical", PROBE_COL}
    hit = [c for c in df.columns if c in reserved]
    if hit:
        raise ValueError(f"input columns {hit} collide with reserved names")
    rows, n_clusters, nprobe, complete = _embedding_blocking(
        df, vec_col, method, n_clusters, nprobe
    )
    # Centroids are still trained on the complete block when the SURVIVOR
    # SCORE needs them (keep != min_id); the pure min_id envelope skips
    # k-means entirely.
    diag = _stats is not None and _caches is not None
    probed = None
    if not complete or keep != "min_id":
        _t0 = _time.time()
        # probe the FULL frame: probe_clusters only appends a column, so
        # the survivor score below rides the same rows — no corpus-keyed
        # join to reattach it (the blocking explode still projects just
        # (id, cluster))
        centroids, probed = _fit_probe(
            df, df, vec_col, rows, n_clusters, nprobe,
            seed=seed, max_iters=max_iters, sample_cap=sample_cap,
        )
        if _stats is not None:
            _stats["fit_sec"] = round(_time.time() - _t0, 3)
        # Persist ONLY under the _caches contract AND only when probed has
        # a second consumer: keep != min_id adds resolve's two scored-frame
        # joins (the 199 s → 80 s case), _stats adds the capped-cluster
        # count; plain min_id without _stats reads probed once and a
        # persist would be pure write overhead.
        if _caches is not None and (keep != "min_id" or _stats is not None):
            from pyspark import StorageLevel

            probed = probed.persist(StorageLevel.MEMORY_AND_DISK)
            _caches.append(probed)
            if diag:
                _t0 = _time.time()
                probed.count()
                _stats["assign_sec"] = round(_time.time() - _t0, 3)
    pairs = _embedding_pairs(
        df, vec_col, id_col, None if complete else probed, rows, 1.0 - eps,
        method, max_cluster, _stats, _caches,
    ).select("id_a", "id_b")
    if diag:
        # diagnostics breakdown: pairs are edge-list-sized (sparse), so
        # the persist is bounded and connected_components' localCheckpoint
        # reads the cache instead of re-running the gram/cosine stage
        from pyspark import StorageLevel

        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        _caches.append(pairs)
        _t0 = _time.time()
        _stats["n_pairs"] = int(pairs.count())
        _stats["pairs_sec"] = round(_time.time() - _t0, 3)
    if keep == "min_id":
        return resolve_duplicates(df, pairs, id_col)
    # survivor score: cosine to the NEAREST centroid (probe_clusters
    # orders probes by distance) via a tiny broadcast centroid table —
    # map-side, one number per row, riding the probed frame itself (no
    # corpus-keyed join to reattach the score)
    from pq_vector_spark.parallel import local_plan_df

    cent = local_plan_df(
        df.sparkSession,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "_sd_c: int, _sd_cv: array<double>",
    )
    scored = (
        probed.withColumn("_sd_c", F.element_at(F.col(PROBE_COL), 1))
        .join(F.broadcast(cent), "_sd_c")
        .withColumn(
            "_sd_cos", cosine_similarity(F.col(vec_col), F.col("_sd_cv"))
        )
        .drop(PROBE_COL, "_sd_c", "_sd_cv")
    )
    out = resolve_duplicates(
        scored,
        pairs,
        id_col,
        prefer_col="_sd_cos",
        prefer="min" if keep == "outlier" else "max",
    )
    return out.drop("_sd_cos")


def _local_components(spark, rows, src_type) -> DataFrame:
    """Driver union-find over a bounded, ALREADY-COLLECTED edge row list;
    always attaches the larger root under the smaller, so by induction the
    root of every tree is the minimum node of its component — identical
    labels to the distributed min-label propagation. (r16: takes the
    collected rows instead of a DataFrame — the caller's ``take`` already
    pulled them, so a second collect action would be a wasted job.)"""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r["_src"], r["_dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    schema = StructType(
        [StructField("node", src_type), StructField("component", src_type)]
    )
    # r16: BROADCAST hint — a driver-created frame has no size statistics,
    # so the corpus join downstream planned as a SortMergeJoin (BOTH sides
    # exchanged, the corpus one pointlessly). The table is driver-bounded
    # by construction (it was just union-found in driver memory), so
    # broadcasting it is the same trade already made; the corpus side then
    # never shuffles (guide §3.1).
    from pq_vector_spark.parallel import local_plan_df

    return F.broadcast(
        # 1-slice driver table (r16): the broadcast build otherwise runs a
        # near-empty task per core for a driver-bounded component map
        local_plan_df(spark, [(n, find(n)) for n in parent], schema)
    )


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    *,
    max_iters: int = 20,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Duplicate-cluster resolution: (node, component) for every node that
    appears in ``pairs``, where component = the minimum node id reachable
    through the pair graph.

    Small-graph fast path: when the (distinct) edge count is ≤
    ``local_threshold``, the edge list is collected and resolved with
    driver-side union-find — the same bounded-driver-state trade as a
    broadcast join (1M edges ≈ 16 MB; near-dup pair graphs are SPARSE —
    even the 1M-doc bench yields ~160k pairs). The result is identical
    (min-label CC is unique), but the driver-paced iteration loop — the
    dominant cost at small scale, ~1 s of job scheduling per round —
    disappears. Pass ``local_threshold=0`` to force the distributed path.

    Distributed min-label propagation with pointer jumping (the MapReduce
    CC recipe of Kiveris et al., "Connected Components in MapReduce and
    Beyond"): each round joins in (a) neighbors' labels and (b) the label
    of the label (path shortcutting), then takes the min — a couple of
    node-keyed shuffles, no driver graph, no collect. Shortcutting makes
    convergence O(log diameter), so even degenerate chain-shaped components
    finish in a handful of rounds (near-dup clusters are near-cliques and
    typically converge in 2-3). Lineage is
    truncated every round via eager localCheckpoint so plans stay O(1) deep
    at any iteration count; the per-round convergence check is a count()
    action, same driver-loop pattern as Lloyd iterations in index/kmeans.
    (localCheckpoint stores blocks on executors — on clusters with dynamic
    allocation or preemption, set a checkpoint dir and swap in reliable
    ``.checkpoint()`` so a lost executor can't kill the lineage.)

    Raises after ``max_iters`` without convergence rather than returning a
    partial labeling.
    """
    base = pairs.select(F.col(left).alias("_src"), F.col(right).alias("_dst"))
    if local_threshold:
        # ONE bounded action decides AND feeds the fast path (r16): take
        # pulls up to threshold+1 RAW pair rows — when they fit, that IS
        # the edge list (union-find is insensitive to duplicate or
        # reversed edges), so the previous shape's reverse-union +
        # distinct exchange, eager-checkpoint job, count job, and collect
        # job (3 actions + 1 extra shuffle over the whole upstream pair
        # pipeline) collapse into this single shuffle-free-on-top action.
        # The threshold now bounds raw pair rows rather than distinct
        # directed edges — strictly more conservative (a duplicate-heavy
        # graph falls back to the distributed path earlier, never later),
        # and the driver footprint stays ≤ threshold+1 rows either way.
        # Probe a full core-wave first, scoped to this one action
        # (parallel.bounded_take): the expected outcome is "all partitions
        # fit", and each default 1→4→16 wave re-runs the reduce side of the
        # pair pipeline.
        from pq_vector_spark.parallel import bounded_take

        rows = bounded_take(base, local_threshold + 1)
        if len(rows) <= local_threshold:
            return _local_components(
                pairs.sparkSession, rows, base.schema["_src"].dataType
            )
    edges = (
        base.union(
            base.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("_src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr = edges.join(
            labels, edges["_dst"] == labels["node"]
        ).select(F.col("_src").alias("node"), F.col("component"))
        shortcut = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.component") == F.col("l2.node"))
            .select(F.col("l1.node").alias("node"), F.col("l2.component").alias("component"))
        )
        new_labels = (
            labels.unionByName(nbr)
            .unionByName(shortcut)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            # LAZY checkpoint: the convergence count below is the action
            # that materializes it, so each round runs ONE job instead of
            # two (eager checkpoint + count) — lineage is still truncated
            # before the next round reads `labels`.
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    left: str = "id_a",
    right: str = "id_b",
    *,
    max_iters: int = 20,
    prefer_col=None,
    prefer: str = "max",
    components: Optional[DataFrame] = None,
) -> DataFrame:
    """End-to-end dedup resolution: annotate every doc with the canonical
    id of its duplicate cluster (docs in no pair are their own canonical).

    ``components`` (optional): a precomputed ``connected_components``
    result — (node, component) for every node in ``pairs``. Callers that
    already materialized (and usually persisted) the component table —
    diagnostics modes that time the CC stage separately, or pipelines
    resolving several policies over one pair graph — pass it here so the
    resolution does not re-run label propagation; when omitted it is
    derived from ``pairs`` as before.

    Survivor policy: by default the min id in the connected component of
    the near-dup pair graph (matches ``exact_dedup``'s keep-smallest-id).
    With ``prefer_col`` the canonical is instead the cluster member with
    the ``prefer`` ("max" or "min") value of that column — "keep the
    longest/highest-quality copy, drop the rest", the policy real curation
    runs want (NULL preference values rank last either way; exact ties
    break to the smallest id, so the draw stays deterministic).

    ``docs.filter(F.col(id_col) == F.col("canonical_id"))`` is the
    deduplicated corpus. Scale shape: the component table holds only docs
    that matched some pair, so the survivor election is one window over
    that (component-keyed, bounded) table and both corpus-side joins
    broadcast under AQE when the cluster set fits.
    """
    if prefer not in ("max", "min"):
        raise ValueError(f"prefer must be 'max' or 'min', got {prefer!r}")
    comp = (
        components
        if components is not None
        else connected_components(pairs, left, right, max_iters=max_iters)
    )
    joined = docs.join(comp, docs[id_col] == comp["node"], "left")
    if prefer_col is None:
        return (
            joined.withColumn(
                "canonical_id", F.coalesce(F.col("component"), F.col(id_col))
            )
            .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
            .drop("node", "component")
        )
    from pyspark.sql import Window

    score = F.col(prefer_col) if isinstance(prefer_col, str) else prefer_col
    members = docs.select(
        F.col(id_col).alias("_rd_id"), score.alias("_rd_score")
    ).join(comp, F.col("_rd_id") == comp["node"], "inner")
    order = (
        F.col("_rd_score").desc_nulls_last()
        if prefer == "max"
        else F.col("_rd_score").asc_nulls_last(),
        F.col("_rd_id").asc(),
    )
    surv = (
        members.withColumn(
            "_rd_rn",
            F.row_number().over(Window.partitionBy("component").orderBy(*order)),
        )
        .filter(F.col("_rd_rn") == 1)
        .select(F.col("component").alias("_rd_comp"), F.col("_rd_id").alias("_rd_canon"))
    )
    return (
        joined.join(surv, F.col("component") == F.col("_rd_comp"), "left")
        .withColumn("canonical_id", F.coalesce(F.col("_rd_canon"), F.col(id_col)))
        .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
        .drop("node", "component", "_rd_comp", "_rd_canon")
    )


def incremental_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Dedup an incoming DELTA batch against an existing corpus without
    re-processing the corpus — the incremental-ingest primitive (nightly
    crawls append to a 100 TB corpus; re-running ``exact_dedup`` over the
    union every night would re-shuffle the world).

    Returns the delta rows that survive: within-delta duplicates collapse
    to the smallest id, and any delta row whose normalized-content
    fingerprint already exists in the corpus is dropped.

    Scale design: the delta's distinct fingerprint set is BROADCAST twice —
    once as a semi-join probe over the corpus scan (map-side; the corpus
    NEVER shuffles, and only fingerprints the delta also has survive the
    probe — a delta-bounded set), once more as the anti-join filter on the
    delta. The only exchange is the within-delta survivor window, which is
    delta-sized. Pairs with ``index/build.append_to_index`` (the vector
    side of the same incremental contract).
    """
    dfp = delta.withColumn("_fp", fingerprint(text_col))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    surv = dfp.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    probe = surv.select("_fp").distinct()
    hits = (
        corpus.select(fingerprint(text_col).alias("_fp"))
        .join(F.broadcast(probe), "_fp", "left_semi")
        .distinct()
    )
    return surv.join(F.broadcast(hits), "_fp", "left_anti").drop("_fp")


def build_exact_dedup_index(
    df: DataFrame, text_col: str, index_path: str
) -> dict:
    """Persist the corpus's EXACT-dedup state as a fingerprint table —
    the exact twin of :func:`build_dedup_index` (near-dup LSH). ONE pass
    hashes the corpus text into distinct 16-byte fingerprints
    (md5-of-normalized, ``exact_dedup``'s function, stored unhexed) and
    writes them as parquet plus a ``_dedup_index/meta.json`` sidecar with
    ``kind: "exact"``.

    Why: :func:`incremental_dedup` re-reads and RE-HASHES the standing
    corpus's text column on every delta batch — correct, but at 100 TB
    the nightly crawl pays a full-corpus text scan + md5 per night. The
    index collapses that to a 16-byte-per-document table scanned
    column-pruned per probe (~0.2 % of the text bytes), with no
    per-batch hashing of the corpus at all. Returns the meta dict;
    extend with :func:`append_exact_dedup_index` as batches land.
    """
    spark = df.sparkSession
    (
        df.select(F.unhex(fingerprint(text_col)).alias("fp"))
        .distinct()
        .write.mode("overwrite")
        .parquet(index_path)
    )
    meta = {"kind": "exact", "norm": "md5(lower/trim/collapse-ws)"}
    _write_dedup_index_meta(spark, index_path, meta)
    return meta


def append_exact_dedup_index(
    admitted: DataFrame, text_col: str, index_path: str
) -> None:
    """Append ADMITTED rows' fingerprints to an exact index so the next
    delta also dedups against them. Admitted rows' fps are absent from
    the index by construction (they survived the probe), so a plain
    delta-sized append keeps the table duplicate-free. The same staging
    rule as every index append applies (SKILL r11 lesson): if the frame
    you are appending was DERIVED from a probe that read ``index_path``,
    materialize it first — Spark re-evaluates path-cached plans against
    the mutated path."""
    meta = load_dedup_index_meta(admitted.sparkSession, index_path)
    if meta.get("kind") != "exact":
        raise ValueError(
            f"{index_path} is not an exact dedup index (kind="
            f"{meta.get('kind')!r}) — use append_dedup_index for LSH"
        )
    (
        admitted.select(F.unhex(fingerprint(text_col)).alias("fp"))
        .distinct()
        .write.mode("append")
        .parquet(index_path)
    )


def incremental_dedup_exact_indexed(
    spark,
    index_path: str,
    delta: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """:func:`incremental_dedup` semantics against a PERSISTED exact
    index instead of the raw corpus: within-delta duplicates collapse to
    the smallest id, and any delta row whose fingerprint exists in the
    index is dropped. Identical survivors to ``incremental_dedup(corpus,
    delta, …)`` when the index was built from ``corpus`` — the oracle
    row pins that equivalence.

    Scale shape: the delta's distinct fingerprints BROADCAST as a
    map-side semi-join probe over the index scan (16-byte column, never
    the corpus text; hits are delta-bounded), then anti-join the delta —
    the only exchange is the delta-sized survivor window. Per-batch cost
    is O(|delta| hash + |index| pruned-column scan), with zero corpus
    text I/O and zero corpus hashing."""
    meta = load_dedup_index_meta(spark, index_path)
    if meta.get("kind") != "exact":
        raise ValueError(
            f"{index_path} is not an exact dedup index (kind="
            f"{meta.get('kind')!r}) — use incremental_dedup_near for LSH"
        )
    dfp = delta.withColumn("_fp", F.unhex(fingerprint(text_col)))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    surv = (
        dfp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    probe = surv.select(F.col("_fp").alias("fp")).distinct()
    hits = (
        spark.read.parquet(index_path)
        .join(F.broadcast(probe), "fp", "left_semi")
        .distinct()
        .withColumnRenamed("fp", "_fp")
    )
    return surv.join(F.broadcast(hits), "_fp", "left_anti").drop("_fp")


# ---------------------------------------------------------------- near-dup
# persisted LSH index: the NEAR-dup analogue of incremental_dedup's exact
# contract. Build once over the standing corpus, probe every delta against
# it, append survivors — the corpus's text is never re-hashed.

DEDUP_INDEX_DIR = "_dedup_index"
DEDUP_INDEX_META = "meta.json"


def _dedup_index_meta_path(index_path: str) -> str:
    return f"{index_path.rstrip('/')}/{DEDUP_INDEX_DIR}/{DEDUP_INDEX_META}"


def load_dedup_index_meta(spark, index_path: str) -> dict:
    """Read the index's pinned hash parameters (n, num_hashes, bands, seed)
    — probes and appends MUST use these, never caller-supplied ones, or the
    band keys silently stop matching."""
    import json as _json

    from py4j.protocol import Py4JJavaError

    from pq_vector_spark.index.build import _read_text

    p = _dedup_index_meta_path(index_path)
    try:
        return _json.loads(_read_text(spark, p))
    except (Py4JJavaError, ValueError) as e:  # missing/unreadable; torn JSON
        raise IOError(
            f"no readable dedup index meta at {p} (build_dedup_index writes "
            f"it): {type(e).__name__}: {e}"
        )


def _write_dedup_index_meta(spark, index_path: str, meta: dict) -> None:
    import json as _json

    from pq_vector_spark.index.build import _write_text

    _write_text(spark, _dedup_index_meta_path(index_path), _json.dumps(meta) + "\n")


def build_dedup_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> dict:
    """Persist the corpus's banded MinHash signatures as a standing
    NEAR-DUP INDEX: one parquet table ``(id, band, key)`` plus a
    ``_dedup_index/meta.json`` sidecar pinning the hash parameters.
    ``incremental_dedup_near`` then near-dedups every nightly delta against
    a 100 TB corpus WITHOUT re-hashing the corpus text — the near-dup
    analogue of ``incremental_dedup``'s exact-fingerprint contract (and of
    the reference's reuse-the-trained-structure append stance,
    src/ivf/parquet.rs:88-103).

    Scale shape: ONE map-side pass over the corpus (text → shingle md5 →
    minhash fold → band keys) and one write of #docs × ``bands`` short
    rows; no shuffle anywhere. The index is ~tens of bytes/doc — orders of
    magnitude smaller than the text it replaces in every later probe.
    All hashing is md5-derived, so the DuckDB oracle replays the index
    content bit-for-bit.

    Returns the meta dict. Extend the index as the corpus grows with
    ``append_dedup_index`` (parameter compatibility is enforced).
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    meta = {
        "n": int(n),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "seed": int(seed),
        "id_col": id_col,
    }
    _write_band_rows(df, text_col, id_col, index_path, meta, "overwrite")
    _write_dedup_index_meta(df.sparkSession, index_path, meta)
    return meta


def append_dedup_index(df: DataFrame, text_col: str, id_col: str, index_path: str) -> dict:
    """Extend a standing near-dup index with new documents (the rows a
    probe just admitted): one map-side signature pass over the DELTA only,
    appended as new part-files — existing index files are never touched,
    concurrent probes keep working. Hash parameters come from the index's
    own meta (caller-supplied ones could silently split the key space)."""
    meta = load_dedup_index_meta(df.sparkSession, index_path)
    _write_band_rows(df, text_col, id_col, index_path, meta, "append")
    return meta


def _write_band_rows(
    df: DataFrame, text_col: str, id_col: str, index_path: str, meta: dict, mode: str
) -> None:
    """The near-dup index's ``(id, band, key)`` rows of ``df`` under the
    hash parameters in ``meta``, written to ``index_path`` in ``mode``."""
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(
            text_col, meta["n"], meta["num_hashes"], meta["seed"]
        ).alias("_sig"),
    )
    rows_per_band = meta["num_hashes"] // meta["bands"]
    sig.select(
        "id",
        F.explode(_band_structs("_sig", meta["bands"], rows_per_band)).alias("bk"),
    ).select("id", "bk.band", "bk.key").write.mode(mode).parquet(index_path)


def incremental_dedup_near(
    spark,
    index_path: str,
    delta: DataFrame,
    text_col: str,
    id_col: str,
    *,
    corpus: Optional[DataFrame] = None,
    corpus_text_col: Optional[str] = None,
    corpus_id_col: Optional[str] = None,
    threshold: float = 0.5,
    max_bucket: Optional[int] = 10_000,
    _stats: Optional[dict] = None,
    _caches: Optional[list] = None,
) -> DataFrame:
    """NEAR-dedup an incoming delta against the standing corpus via its
    persisted LSH index (``build_dedup_index``) — without re-hashing one
    byte of corpus text.

    Survivor rule (deterministic, engine-replayable): a delta row is
    DROPPED iff (a) it near-matches any SMALLER-id delta row, or (b) it
    near-matches any corpus document. "Near-matches" = shares at least one
    LSH band key AND — when ``corpus`` is given — exact n-gram Jaccard ≥
    ``threshold`` on the verified pair (without ``corpus``, the band
    collision alone decides: cheaper, with LSH's false-positive rate —
    P[collide | j] ≈ 1-(1-j^r)^b). Rule (a) deliberately lets a dropped
    row still suppress its own near-matches — fate depends only on pair
    relations, never on resolution order, which is what lets the DuckDB
    oracle replay the outcome bit-for-bit.

    Scale shape — the corpus never shuffles and its TEXT is read only for
    verified candidates:

    1. delta banded keys: map-side over the delta (delta-sized);
    2. the delta's distinct keys BROADCAST as an inner-join probe over the
       index scan (map-side; index rows that match ≤ collisions);
       ``max_bucket`` caps degenerate (band, key) buckets the same way
       ``minhash_lsh_pairs`` does (boilerplate belongs to ``exact_dedup``
       first);
    3. verification (when ``corpus`` given): candidate corpus ids BROADCAST
       as a semi-join probe over the corpus scan — only matched documents
       are shingled; the exact-Jaccard join is candidates-sized;
    4. within-delta pairs via ``minhash_lsh_pairs`` on the delta alone.

    Pairs with ``incremental_dedup`` (exact fingerprints) — run that first:
    byte-identical copies are cheaper to kill exactly, and they are the
    degenerate buckets this operator caps away.

    ``max_bucket`` caps BOTH sides of every (band, key) bucket: the index
    (corpus) side and the delta side each keep their first ``max_bucket``
    members by id, bounding a degenerate bucket's pair expansion at
    ``max_bucket²`` instead of ``max_bucket × |delta bucket|`` — the same
    bound ``minhash_lsh_pairs`` gives the single-frame operator.

    ``_stats`` (optional dict) is the truncation-visibility hook a 100 TB
    operator needs — when set it receives ``capped_index_buckets`` /
    ``capped_delta_buckets`` (how many (band, key) buckets each cap
    actually truncated), ``candidate_pairs`` (distinct delta↔corpus
    collision pairs entering verification), ``verified_pairs`` (pairs at
    exact Jaccard ≥ threshold; only when ``corpus`` is given) and
    ``corpus_dropped`` / ``within_dropped`` (delta rows each rule
    removed). Costs a handful of extra bounded jobs (the verified-pairs
    probe re-runs the candidate verification) — diagnostic mode, skip it
    in latency-critical batches. Nonzero ``capped_*`` counts mean the
    answer is silently missing pairs from degenerate buckets: run
    ``exact_dedup`` first or raise ``max_bucket``.
    """
    meta = load_dedup_index_meta(spark, index_path)
    n, num_hashes, bands, seed = (
        meta["n"], meta["num_hashes"], meta["bands"], meta["seed"]
    )
    rows_per_band = num_hashes // bands
    from pq_vector_spark.functions.text import token_hash

    if corpus is not None:
        corpus_text_col = corpus_text_col or text_col
        corpus_id_col = corpus_id_col or id_col

    from pyspark import StorageLevel

    # persisted WITHOUT a matching unpersist, like minhash_lsh_pairs'
    # signature cache: the return value is LAZY — an unpersist inside this
    # function would fire before the caller's first action, making the
    # cache a no-op and re-running the delta's text→md5→minhash pass once
    # per downstream reference. Both frames are delta/collision-bounded
    # (never corpus-scaled); MEMORY_AND_DISK spills, never OOMs. A caller
    # that MATERIALIZES the result (streaming_ingest's per-batch staging
    # write) passes ``_caches`` to collect every persisted frame and
    # unpersist after its action — otherwise a long-running stream leaks
    # one cached-relation set per micro-batch.
    #
    # r16: the SIGNATURE table is what gets persisted (1 row/doc of
    # num_hashes longs — smaller than the exploded band rows) and it is
    # SHARED with the within-delta ``minhash_lsh_pairs`` call below via
    # ``_sig`` — the delta text's minhash pass runs once, not twice; the
    # banded explode re-derives map-side from the cache per consumer.
    # Same sharing for the shingle-hash verification table (``_hd`` here
    # is bit-identical to minhash_lsh_pairs' ``_h``). The spread
    # (guide §2.5) is a no-op at real scan widths.
    from pq_vector_spark.parallel import ensure_compute_parallelism

    # split_bytes=1 MB (r17, verdict #1/#2): these spread frames feed a
    # ~13-stage persisted-join cascade, so the exchange+extra-AQE-stage
    # overhead only amortizes when each task carries ≥ ~1 s of
    # featurization. A/B at sf0.1 (delta = 20% of the docs table): no
    # spread 1.28 s, 19-way 1.59 s, old cores-wide 1.73 s — the narrow
    # gate keeps bench-scale deltas unspread while a multi-MB delta file
    # still fans out (saturating at defaultParallelism past cores × 1 MB).
    sig = (
        ensure_compute_parallelism(
            delta.select(
                F.col(id_col).alias("_id"), F.col(text_col).alias("_mtxt")
            ),
            split_bytes=1 << 20,
        )
        .select(
            "_id",
            minhash_signature("_mtxt", n, num_hashes, seed).alias("_sig"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if _caches is not None:
        _caches.append(sig)
    dband = (
        sig.select(
            F.col("_id").alias("_did"),
            F.explode(
                _band_structs("_sig", bands, rows_per_band)
            ).alias("bk"),
        )
        .select("_did", "bk.band", "bk.key")
    )
    dhs = None
    if corpus is not None:
        dhs = (
            # same 1 MB split as the signature spread above
            ensure_compute_parallelism(
                delta.select(
                    F.col(id_col).alias("_hid"),
                    F.col(text_col).alias("_htxt"),
                ),
                split_bytes=1 << 20,
            )
            .select(
                "_hid",
                shingle_token_hashes("_htxt", n).alias("_h"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if _caches is not None:
            _caches.append(dhs)
    probe = dband.select("band", "key").distinct()
    index = spark.read.parquet(index_path)
    hits = index.join(F.broadcast(probe), ["band", "key"], "inner")
    dpair = dband
    if max_bucket is not None:
        if _stats is not None:
            _stats["capped_index_buckets"] = int(
                hits.groupBy("band", "key")
                .count()
                .filter(F.col("count") > max_bucket)
                .count()
            )
            _stats["capped_delta_buckets"] = int(
                dband.groupBy("band", "key")
                .count()
                .filter(F.col("count") > max_bucket)
                .count()
            )
        wb = Window.partitionBy("band", "key").orderBy("id")
        hits = (
            hits.withColumn("_pq_bpos", F.row_number().over(wb))
            .filter(F.col("_pq_bpos") <= max_bucket)
            .drop("_pq_bpos")
        )
        # delta-side cap too: without it a degenerate bucket still expands
        # to max_bucket × |delta bucket| pairs — cap both sides so the
        # bound is max_bucket², mirroring minhash_lsh_pairs
        wd = Window.partitionBy("band", "key").orderBy("_did")
        dpair = (
            dband.withColumn("_pq_dpos", F.row_number().over(wd))
            .filter(F.col("_pq_dpos") <= max_bucket)
            .drop("_pq_dpos")
        )
    # delta side broadcast: the pair-expansion join stays map-side over
    # the (collision-bounded) hits instead of shuffling both sides
    cands = (
        hits.join(F.broadcast(dpair), ["band", "key"])
        .select("_did", F.col("id").alias("_cid"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if _caches is not None:
        _caches.append(cands)
    if _stats is not None:
        _stats["candidate_pairs"] = int(cands.count())
    if corpus is None:
        corpus_dropped = cands.select("_did").distinct()
    else:
        cand_ids = cands.select(
            F.col("_cid").alias(corpus_id_col)
        ).distinct()
        ctext = (
            corpus.join(F.broadcast(cand_ids), corpus_id_col, "left_semi")
            .select(
                F.col(corpus_id_col).alias("_cid"),
                shingle_token_hashes(corpus_text_col, n).alias("_hc"),
            )
        )
        dtext = dhs.select(
            F.col("_hid").alias("_did"), F.col("_h").alias("_hd")
        )
        inter = F.size(F.array_intersect(F.col("_hd"), F.col("_hc")))
        jac = inter.cast("double") / (
            F.size("_hd") + F.size("_hc") - inter
        ).cast("double")
        verified = (
            cands.join(dtext, "_did")
            .join(ctext, "_cid")
            .filter(jac >= F.lit(threshold))
        )
        if _stats is not None:
            _stats["verified_pairs"] = int(verified.count())
        corpus_dropped = verified.select("_did").distinct()
    within = minhash_lsh_pairs(
        delta,
        text_col,
        id_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        threshold=threshold,
        verify=corpus is not None,
        max_bucket=max_bucket,
        _caches=_caches,
        _sig=sig,
        _shingle_hashes=dhs,
    )
    within_dropped = within.select(F.col("id_b").alias("_did")).distinct()
    if _stats is not None:
        _stats["corpus_dropped"] = int(corpus_dropped.count())
        _stats["within_dropped"] = int(within_dropped.count())
    dropped = corpus_dropped.unionByName(within_dropped).distinct()
    return delta.join(
        F.broadcast(dropped.withColumnRenamed("_did", id_col)),
        id_col,
        "left_anti",
    )


def remove_repeated_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_docs: int = 2,
    sep: str = "\n",
    rewrite_all: bool = False,
    broadcast_threshold: int = 1_000_000,
    _stats: Optional[dict] = None,
    _caches: Optional[list] = None,
) -> DataFrame:
    """Strip BOILERPLATE PARAGRAPHS from every document: a paragraph whose
    normalized fingerprint appears in ≥ ``min_docs`` DISTINCT documents is
    removed from all of them (every occurrence), preserving the order and
    the raw bytes of the surviving paragraphs.

    **Calling convention** — pass ``_caches=[]`` (and unpersist its
    contents after YOUR action) to persist the hot fingerprint set across
    the internal count and the joins. A fire-and-forget call without
    ``_caches`` (and without ``_stats``) instead CAPTURES the hot set in
    one bounded ``take(broadcast_threshold+1)`` and re-injects it as a
    driver-local literal plan table (r16): the hot aggregation runs once,
    nothing is cached, nothing leaks; past the threshold the joins plan
    as shuffles exactly as before. Diagnostics runs additionally pass
    ``_stats={}`` for the hot-set size / broadcast decision / persistence
    flag. See the README's "caching contract" example.

    This is the CCNet/Gopher-style paragraph-granular dedup that
    document-level dedup cannot do (nav
    bars, cookie banners, boilerplate headers ride inside otherwise-unique
    pages). Whitespace-only paragraphs are never counted and never removed
    (they are separator structure, not content); matching normalizes
    (lower/trim/collapse-whitespace) but removal keeps survivors verbatim,
    and ``sep`` is treated literally on both engines.

    Scale shape:

    1. ONE fingerprint-count aggregation over the exploded paragraphs
       (16-byte keys, map-side combined) yields the hot set, persisted and
       COUNTED before any join is planned. Boilerplate is USUALLY a small
       distinct set — but not axiomatically: at the default ``min_docs=2``
       on a web-scale corpus, "paragraphs appearing in ≥2 documents" can
       be billions of fingerprints, and an unconditional broadcast would
       OOM the driver before any warning. So the hot/flagged joins carry a
       ``broadcast()`` hint only while the hot set stays ≤
       ``broadcast_threshold`` fingerprints; above it the hints are
       dropped (a warning is logged) and the joins plan as ordinary
       shuffles — AQE still broadcasts at runtime if the actual bytes fit;
    2. default (``rewrite_all=False``): only documents CONTAINING a hot
       paragraph pay the explode→filter→reassemble rewrite (their ids
       probe map-side when small; one doc-keyed shuffle bounded by the
       flagged subset) — untouched documents pass through byte-identical
       with zero text movement. Premise: flagged docs are a bounded
       subset; a corpus where nearly EVERY doc carries boilerplate should
       pass ``rewrite_all=True`` instead — no id probe, one corpus-wide
       reassembly shuffle (the operator rewrites everything anyway there);
    3. a document whose every paragraph is hot yields empty text — it is
       kept (make the drop decision with a length filter downstream, not
       silently here).

    ``_stats`` (optional dict) receives ``hot_fingerprints`` (the counted
    hot-set size) and ``broadcast`` (whether the hint path ran). Pass
    ``_caches`` (same contract as ``incremental_dedup_near``) to persist
    the hot set across the count + its joins and unpersist after the
    caller's action; without it nothing is persisted (the count pays one
    extra aggregation pass) so no cached relation outlives the call.

    Deterministic and engine-replayable: fate is a pure function of the
    corpus's paragraph fingerprints (md5-normalized, the ``exact_dedup``
    fingerprint), so the DuckDB oracle reproduces the cleaned text
    byte-for-byte.
    """
    import re as _re

    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    reserved = {"_rp_id", "_rp_pos", "_rp_para", "_rp_fp", "_rp_hot", "_rp_txt"}
    hit = [c for c in df.columns if c in reserved]
    if hit:
        raise ValueError(f"input columns {hit} collide with reserved names")

    # Pre-explode spread, size-gated at a 128 KB/task split (r17).
    # History: the r16 cores-wide spread was measured and reverted
    # (2.8 → 4.1 s at sf0.1 — every consumer of ``ex`` re-derives this
    # pipeline, so the exchange is paid per pass). The r17 sweep with the
    # size-adaptive gate flips it: 5-way 1.64 s, no spread 1.88 s,
    # 19-way 2.22 s, 32-way 2.61 s (medians of 5). One md5 per paragraph
    # is ~10× less compute per input byte than the shingle featurizers,
    # hence the 4× larger split than the 32 KB default.
    from pq_vector_spark.parallel import ensure_compute_parallelism

    paras = F.split(F.col(text_col), _re.escape(sep), -1)
    ex = ensure_compute_parallelism(
        df.select(F.col(id_col).alias("_rp_id"), F.col(text_col)),
        split_bytes=128 << 10,
    ).select(
        F.col("_rp_id"),
        F.posexplode(paras).alias("_rp_pos", "_rp_para"),
    )
    # blankness on the NORMALIZED form — the same whitespace class the
    # fingerprint collapses, so a tab/CR-only paragraph is structure too
    # (F.trim alone strips only spaces; every whitespace-only paragraph
    # would otherwise share fingerprint md5("") and turn hot together)
    nonblank = normalize_text(F.col("_rp_para")) != ""
    ex = ex.withColumn(
        "_rp_fp", F.when(nonblank, fingerprint(F.col("_rp_para")))
    )
    hot = (
        ex.filter(F.col("_rp_fp").isNotNull())
        .groupBy("_rp_fp")
        .agg(F.countDistinct("_rp_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_rp_fp")
    )
    # Persist ONLY under the _caches contract (r13, r12 verdict #4): an
    # unconditional persist leaked one MEMORY_AND_DISK frame per call for
    # callers that never unpersist. With _caches the count below
    # materializes the cache and every hot-set join reuses it; without,
    # the count pays one standalone aggregation pass and the final query
    # dedupes its own hot references via ReusedExchange — slower by one
    # pass, but nothing survives the action.
    if _caches is not None:
        from pyspark import StorageLevel

        hot = hot.persist(StorageLevel.MEMORY_AND_DISK)
        _caches.append(hot)
    # bounded probe BEFORE committing to a broadcast plan.
    #
    # r16 history: a take()-and-reinject-as-literal variant was first
    # measured and REVERTED (2.7 s → 4.1 s at sf0.1) — the CollectLimit
    # probe defaulted to spark.sql.limit.initialNumPartitions=1 and re-ran
    # the countDistinct reduce side wave by wave (1→4→16…). The
    # connected_components fast path later showed the fix: probe a FULL
    # core-wave first, scoped to this one action. With that scoping the
    # capture landed: the fire-and-forget path (no _caches, no _stats)
    # runs the hot aggregation ONCE (the take), ships the captured
    # fingerprints back as a driver-local literal plan table, and both
    # hot joins become broadcasts of that table — the extra aggregation
    # pass the uncached contract used to pay is gone. md5-hex strings
    # round-trip collect→createDataFrame exactly, so the joins see the
    # identical fingerprint set. The _caches/_stats paths keep the count
    # (the count is what materializes the cache / feeds hot_fingerprints).
    if _caches is None and _stats is None:
        from pq_vector_spark.parallel import bounded_take

        spark = df.sparkSession
        rows = bounded_take(hot, broadcast_threshold + 1)
        small = len(rows) <= broadcast_threshold
        if small:
            from pq_vector_spark.parallel import local_plan_df

            hot = local_plan_df(
                spark, [(r[0],) for r in rows], hot.schema
            )
            # (r16, this optimization round: a SECOND bounded capture of
            # the flagged id set — ex ⋈ literal-hot semi → distinct →
            # take, re-injected like the fingerprints — was measured and
            # REVERTED: 2.16 → 2.56 s at sf0.1. The capture's own pass
            # costs more than the final plan sheds: collect-time dropped
            # 1.30 → 0.88 s but construction paid 0.86 → 1.68 s — the
            # distinct exchange + AQE stages just moved from the query
            # plan into an extra eager action.)
        else:
            import logging

            logging.getLogger("pq_vector_spark.operators.dedup").warning(
                "remove_repeated_paragraphs: hot set exceeds "
                "broadcast_threshold=%d fingerprints — dropping broadcast "
                "hints; the hot/flagged joins plan as shuffles (AQE may "
                "still broadcast if the actual bytes fit)",
                broadcast_threshold,
            )
    else:
        n_hot = hot.count()
        small = n_hot <= broadcast_threshold
        if not small:
            import logging

            logging.getLogger("pq_vector_spark.operators.dedup").warning(
                "remove_repeated_paragraphs: hot set has %d fingerprints "
                "(> broadcast_threshold=%d) — dropping broadcast hints; the "
                "hot/flagged joins plan as shuffles (AQE may still broadcast "
                "if the actual bytes fit)",
                n_hot,
                broadcast_threshold,
            )
        if _stats is not None:
            _stats.update(
                hot_fingerprints=int(n_hot),
                broadcast=bool(small),
                hot_persisted=_caches is not None,
            )

    def bc(d):
        return F.broadcast(d) if small else d

    if rewrite_all:
        scoped = ex
    else:
        flagged = (
            ex.join(bc(hot), "_rp_fp", "left_semi")
            .select("_rp_id")
            .distinct()
        )
        scoped = ex.join(bc(flagged), "_rp_id", "left_semi")
    rewritten = (
        scoped.join(
            bc(hot.withColumn("_rp_hot", F.lit(True))), "_rp_fp", "left"
        )
        .groupBy("_rp_id")
        .agg(
            F.array_join(
                F.transform(
                    # collect_list skips NULLs: hot paragraphs vanish, an
                    # all-hot doc yields [] -> "" (kept, never dropped)
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rp_hot").isNull(),
                                F.struct("_rp_pos", "_rp_para"),
                            )
                        )
                    ),
                    lambda x: x["_rp_para"],
                ),
                sep,
            ).alias("_rp_txt")
        )
    )
    if rewrite_all:
        joined = df.join(rewritten, df[id_col] == rewritten["_rp_id"], "left")
        cleaned = F.coalesce(F.col("_rp_txt"), F.col(text_col))
        return joined.withColumn(text_col, cleaned).drop("_rp_id", "_rp_txt")
    # untouched docs avoid the text shuffle: the flagged-id set probes as a
    # map-side anti/semi filter when small (broadcast), and only the
    # flagged subset joins its rewritten text (a flagged-subset-bounded
    # join, never corpus-keyed)
    fl = flagged.withColumnRenamed("_rp_id", id_col)
    untouched = df.join(bc(fl), id_col, "left_anti")
    if set(df.columns) == {id_col, text_col}:
        # (id, text)-only frames (r16): ``rewritten`` already carries
        # exactly the flagged rows' id + cleaned text — every flagged id
        # reaches the groupBy via ``scoped``, and ``_rp_txt`` is never
        # NULL there (an all-hot doc aggregates to "") — so the
        # df-semi-join + left-join re-derivation of the input exists only
        # to carry EXTRA columns. Skipping it removes one full derivation
        # of ``df``'s lineage (a scan + any upstream joins) from the
        # plan. Like the rest of this family, ids are assumed unique
        # (the wide-frame path replicates a duplicate id's rewritten
        # text per row; this shortcut, like ``rewrite_all``'s groupBy,
        # collapses it).
        touched = rewritten.select(
            F.col("_rp_id").alias(id_col), F.col("_rp_txt").alias(text_col)
        )
    else:
        touched = (
            df.join(bc(fl), id_col, "left_semi")
            .join(rewritten, F.col(id_col) == rewritten["_rp_id"], "left")
            .withColumn(text_col, F.coalesce(F.col("_rp_txt"), F.col(text_col)))
            .drop("_rp_id", "_rp_txt")
        )
    return untouched.unionByName(touched)


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: Optional[int] = 10_000,
    _stats: Optional[dict] = None,
    _caches: Optional[list] = None,
) -> DataFrame:
    """Exact-SUBSTRING overlap pairs via MOSS winnowing
    (``functions/text.winnow_fingerprints``): document pairs sharing
    ≥ ``min_shared`` winnow fingerprints — and, by the winnowing
    guarantee, each shared fingerprint witnesses a common token run of at
    least k + w - 1 tokens. This LOCALIZES overlap: a single copied
    paragraph inside two otherwise-unrelated documents is invisible to
    whole-document Jaccard/MinHash (diluted below any usable threshold)
    but lights up here — the Spark-shaped stand-in for suffix-array
    exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"), with the sketch bounding work instead of a
    suffix array. Returns (id_a, id_b, shared_fps), id_a < id_b.

    Scale shape: fingerprint extraction is doc-keyed (no cross-doc work);
    the only cross-document exchange is ONE shuffle grouping (fp → sorted
    id list), after which SINGLETON fingerprints — the overwhelming
    majority in a real corpus — are filtered out before any pair is
    materialized, and the within-bucket pair expansion runs map-side as a
    native array comprehension feeding a map-side-combined pair count
    (r12 rewrite: the previous fp self-join shuffled every fingerprint row
    twice and paid the join on singletons too — 1M-doc wall time dropped
    ~2×). ``max_bucket`` DROPS degenerate fingerprints entirely — a fp
    appearing in more than ``max_bucket`` documents is mass boilerplate
    (a nav bar every page shares), and any subset of its ~max_bucket²/2
    pair expansions would be an arbitrary sample anyway — the
    suffix-array literature's standard stance on overly-common substrings
    (Lee et al. 2022). A pair's ``shared_fps`` counts only surviving
    fingerprints; genuinely-overlapping pairs still surface through their
    NON-boilerplate shared runs. Pass ``_stats`` (a dict) to receive
    ``dropped_fingerprints`` — how many distinct fps the cap removed (one
    extra bounded count job; skip it in hot paths). Raise ``min_shared``
    to demand longer / more repeated overlap; pair with
    ``ngram_jaccard_pairs`` on the flagged pairs when an exact similarity
    score is needed.

    .. versionchanged:: r12
       ``max_bucket`` semantics: hot fingerprints are now DROPPED
       entirely (the Lee et al. 2022 stance above), where pre-r12 they
       were truncated to their first ``max_bucket`` docs. Callers see
       fewer boilerplate-only pairs and smaller ``shared_fps`` for pairs
       that shared a dropped fp; opt into ``_stats`` to observe how many
       fps the cap removed. The signature is unchanged on purpose — the
       truncated-subset pairs were an arbitrary sample, not a contract.
    """
    from pq_vector_spark.functions.text import winnow_fingerprints

    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w).select(
        F.col(id_col).alias("_id"), "fp"
    )
    # ONE exchange: fp → sorted id array (collect_list partial-aggregates
    # map-side via ObjectHashAggregate; sort_array pins determinism)
    grouped = fps.groupBy("fp").agg(
        F.sort_array(F.collect_list("_id")).alias("_ids")
    )
    if max_bucket is not None:
        if _stats is not None:
            # the stats count re-runs the fingerprint extraction unless
            # the grouped frame is persisted — but persisting without a
            # release hook leaks the cache for the session, so the persist
            # happens ONLY under the ``_caches`` contract (r13, matching
            # _cluster_pair_expansion / remove_repeated_paragraphs)
            if _caches is not None:
                from pyspark import StorageLevel

                grouped = grouped.persist(StorageLevel.MEMORY_AND_DISK)
                _caches.append(grouped)
            _stats["dropped_fingerprints"] = grouped.filter(
                F.size("_ids") > max_bucket
            ).count()
        grouped = grouped.filter(F.size("_ids") <= max_bucket)
    # singleton fps (most of the corpus) produce no pairs — drop them
    # BEFORE expansion; the comprehension below then emits each bucket's
    # C(n,2) ordered pairs with ids ascending, so id_a < id_b by sort
    grouped = grouped.filter(F.size("_ids") >= 2)
    return (
        _expand_sorted_id_pairs(grouped)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
