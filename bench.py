#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Mirrors the quantities the reference's bench harness measures
(reference: benches/query.rs:93-193, benches/index_build.rs:43-57):
index build time, brute-force query latency, indexed query latency,
recall@k of the indexed path vs brute force — plus the relational /
dedup / text headline queries from __spark_entry__.

Output contract (driver parses the LAST line of stdout): sections
(`bench_detail`, `scale`, `scale_dedup`, `scale_asof`, `scale_maxsim`,
`scale_streaming`) are each printed as their OWN `{"section": "...", ...}`
JSON line first (and all persisted to BENCH_sections.json), and the FINAL
line is the compact bounded-size headline the driver records:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The driver's tail buffer is ~2000 chars: r6 folded the scale sections into
the final line and r13/r14 let the calib narrative ride it — all three
recorded parsed=null. The final line is now size-guarded at 1900 chars and
everything non-contractual lives in the `bench_detail` section.

Noise robustness (r15, r14 verdict #1): every headline query is timed
median-of-N (default N=3, PQ_BENCH_HEADLINE_REPS) over INTERLEAVED full
passes; per-query spreads and per-pass totals are in bench_detail, and the
final line carries `hl_spread` (spread of pass totals) + `contended` so a
scheduler-weather run flags itself. Medians sit slightly below the
r5-r14 single-shot records by construction (first-pass residue is
discarded) — compare medians to medians from here on.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# queries() entries timed as-is (a representative slice of SURVEY.md §2
# coverage: knn, similarity join, relational agg/join/window, streaming-table
# analytics, text, dedup).
HEADLINE = [
    "knn_exact",
    "knn_binary",
    "knn_distance",
    "ann_cosine",
    "knn_batch",
    "similarity_join",
    "rel_topk",
    "rel_agg",
    "rel_join_agg",
    "rel_join_region",
    "rel_window",
    "events_windowed",
    "events_sessions",
    "events_asof",
    "events_range_join",
    "events_funnel",
    "events_scd_enriched",
    "text_quality",
    "text_quantiles",
    "text_tfidf",
    "text_winnow",
    "text_pii",
    "sample_mix",
    "dedup_exact",
    "dedup_minhash",
    "dedup_resolve",
    "hybrid_rrf",
    "pipeline_curate",
    "text_decontaminate",
    "pack_sequences",
    "sample_stratified",
    "merge_upsert",
    "embedding_centroids",
    "dedup_incremental",
    "dedup_incremental_indexed",
    "dedup_incremental_near",
    "dedup_paragraphs",
    "dedup_winnow_overlap",
    "sample_budget_temperature",
    "epoch_shuffle",
    "dedup_semantic",
    "text_gopher",
    "text_dup_spans",
    "sample_dsir",
    "sample_ccnet",
    "text_c4",
    "quality_classifier",
    "split_leakage",
    "text_chunks",
    "quality_checks",
    "embedding_outliers",
    "corpus_drift",
    "maxsim",
    "events_retention",
]

K = 100
NPROBE = 16

def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _spread_of(runs, med: float) -> float:
    """(max-min)/med, guarded for a zero-rounding median (r16, ADVICE):
    a sub-0.5 ms median rounds to 0.0 and an unguarded division would
    kill the whole bench record with ZeroDivisionError. ONE definition
    for every spread on the record."""
    return round((max(runs) - min(runs)) / med, 3) if med > 0 else 0.0


def _best_of(action, reps: int):
    """Best-of-``reps`` timing for a heavy scale entry (r16, r15 verdict
    #3): run ``action(i)`` ``reps`` times, return (best_sec, spread,
    result-of-best-rep). Contention only ever ADDS time, so the MIN is
    the robust per-entry estimator at half the cost of median-of-3; the
    spread ((worst-best)/best) rides the record so a contaminated entry
    is visible instead of silently mis-adjudicating a round (r15's
    committed record showed 10-17% phantom moves on untouched code from
    single-shot scale timings)."""
    runs = []
    for i in range(max(1, reps)):
        t0 = time.time()
        ret = action(i)
        runs.append((time.time() - t0, ret))
    runs.sort(key=lambda r: r[0])
    best, worst = runs[0][0], runs[-1][0]
    spread = round((worst - best) / best, 3) if best > 0 else 0.0
    return round(best, 3), spread, runs[0][1]


def main() -> None:
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from pq_vector_spark import get_spark
    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions
    from pq_vector_spark.sources.parquet import load_table

    # The bench JVM runs ~an hour of work (3 headline passes + the 1M×256
    # scale sections) in ONE process; r15's first full run OOM'd an 8 GB
    # heap in the embedding-dedup stage (untouched code — cumulative heap
    # pressure from the longer pass schedule, GCLocker retry warnings
    # preceding it). 16 GB on the 128 GB bench box removes both the OOM
    # and a GC-weather noise source the median discipline exists to fight.
    # Library sessions keep their own default (session.py, 8 GB);
    # operator memory claims are still argued at the 8 GB executor budget
    # (see _bloom_huge_bench — measured AT 8 GB deliberately).
    os.environ.setdefault("PQ_DRIVER_MEM", "16g")
    # JVM unified-logging warnings (e.g. "[gc,alloc] ... GCLocker") print
    # to STDOUT by default and interleave with — or trail — the JSON
    # lines the driver tail-parses; route them to stderr so no JVM
    # warning can ever corrupt the record (observed in the r15 OOM run).
    # APPEND to any pre-existing JAVA_TOOL_OPTIONS (r16, ADVICE): a
    # setdefault would silently drop this protection whenever the bench
    # host exports its own JVM options — the exact corruption scenario
    # the flag guards against.
    _xlog = "-Xlog:all=warning:stderr:uptime,level,tags"
    _jto = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "-Xlog" not in _jto:
        os.environ["JAVA_TOOL_OPTIONS"] = (_jto + " " + _xlog).strip()
    spark = get_spark("pq_vector_bench")
    timings: dict[str, float] = {}

    qs = entry_mod.queries()
    # Untimed warmup pass: one execution of every headline query so the
    # timed passes measure steady state, not JVM/janino compilation of each
    # plan (~2-3.5 s per novel expression tree, independent of data size —
    # amortized to nothing at real scale). The reference's criterion bench
    # harness warms up the same way (3 s warmup per benchmark by default).
    for name in HEADLINE:
        qs[name](spark, SF_DIR).collect()

    # Noise-robust headline (r15, r14 verdict #1): each query is timed
    # MEDIAN-of-N over N full INTERLEAVED passes — pass 1 runs every query
    # once, then pass 2, then pass 3 — so a transient host stall (the
    # cause of r12's and r14's 1.3-1.4× phantom regressions on untouched
    # code) lands on different queries in different passes and the median
    # discards it, instead of all reps of one query absorbing it.
    # Per-query spreads ((max-min)/median) and the per-pass totals go to
    # the bench_detail section; headline_spread (spread of the N pass
    # totals) is the one-number contention self-check on the record
    # itself: a contended-host re-run should move the medians < 10%.
    import statistics

    reps = max(1, int(os.environ.get("PQ_BENCH_HEADLINE_REPS", "3")))
    samples: dict[str, list] = {name: [] for name in HEADLINE}
    for _ in range(reps):
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            samples[name].append(time.perf_counter() - t0)
    spreads: dict[str, float] = {}
    for name, runs in samples.items():
        med = statistics.median(runs)
        timings[name] = round(med, 3)
        spreads[name] = _spread_of(runs, med)
    pass_totals = [
        round(sum(samples[name][i] for name in HEADLINE), 3)
        for i in range(reps)
    ]
    med_pass = statistics.median(pass_totals)
    headline_spread = _spread_of(pass_totals, med_pass)

    # --- IVF lifecycle at bench scale (reference benches/query.rs) ---------
    # Same median-of-N discipline: brute force re-runs as-is; each build
    # rep targets a FRESH path, and each timed probe follows its own
    # build, so every probe rep pays the sidecar load (the per-query cost
    # a new session would pay) while the one-time plan-compile constant —
    # the r14 contended run's 7.1 s knn_indexed outlier — is absorbed by
    # the median instead of being the whole record.
    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]

    brute_runs = []
    truth: list = []
    for _ in range(reps):
        t0 = time.perf_counter()
        truth = [
            r["vec_id"]
            for r in brute_force_topk(
                emb, "embedding", qvec, K, tie_break="vec_id"
            )
            .select("vec_id")
            .collect()
        ]
        brute_runs.append(time.perf_counter() - t0)
    timings["knn_brute_force_k100"] = round(statistics.median(brute_runs), 3)
    spreads["knn_brute_force_k100"] = _spread_of(
        brute_runs, timings["knn_brute_force_k100"]
    )

    idx_dir = tempfile.mkdtemp(prefix="pq_bench_idx_")
    try:
        build_runs, probe_runs = [], []
        meta: dict = {}
        got: list = []
        out_path = ""
        for i in range(reps):
            out_path = os.path.join(idx_dir, f"embeddings_indexed_{i}")
            t0 = time.perf_counter()
            meta = build_index(
                spark,
                os.path.join(SF_DIR, "embeddings.parquet"),
                out_path,
                column="embedding",
            )
            build_runs.append(time.perf_counter() - t0)

            t0 = time.perf_counter()
            got = [
                r["vec_id"]
                for r in indexed_topk(
                    spark,
                    out_path,
                    qvec,
                    K,
                    options=VectorTopKOptions(nprobe=NPROBE),
                    tie_break="vec_id",
                )
                .select("vec_id")
                .collect()
            ]
            probe_runs.append(time.perf_counter() - t0)
        timings["index_build"] = round(statistics.median(build_runs), 3)
        spreads["index_build"] = _spread_of(build_runs, timings["index_build"])
        timings["knn_indexed_k100_nprobe16"] = round(
            statistics.median(probe_runs), 3
        )
        spreads["knn_indexed_k100_nprobe16"] = _spread_of(
            probe_runs, timings["knn_indexed_k100_nprobe16"]
        )
        # warm rerun: the first probe pays sidecar load + plan compile for
        # this novel plan shape; the split separates that constant from
        # actual probe cost, so sf0.1 jitter can't masquerade as a
        # regression (r9 saw 1.16 -> 1.40 s on untouched code)
        t0 = time.time()
        indexed_topk(
            spark,
            out_path,
            qvec,
            K,
            options=VectorTopKOptions(nprobe=NPROBE),
            tie_break="vec_id",
        ).select("vec_id").collect()
        indexed_warm_sec = round(time.time() - t0, 3)
        recall = len(set(got) & set(truth)) / K
        counts_sec = meta.get("counts_sec")
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # --- split_leakage stage breakdown (r15, r14 verdict #6) ----------------
    # The heaviest headline row decomposed with the operator's _stats
    # diagnostics: pairs (the ngram-jaccard pair pipeline), components
    # (label propagation / union-find), split (canonical join-back + hash
    # gate = total minus the first two). Same inputs as the headline row.
    from pq_vector_spark.operators import dedup as DD
    from pq_vector_spark.operators.sampling import leakage_safe_split

    docs_sf = load_table(spark, SF_DIR, "documents")
    lpairs = DD.ngram_jaccard_pairs(docs_sf, "text", "doc_id", n=3, threshold=0.6)
    lstats: dict = {}
    lcaches: list = []
    t0 = time.perf_counter()
    leakage_safe_split(
        docs_sf, "doc_id", lpairs, holdout=0.1, salt="split",
        _stats=lstats, _caches=lcaches,
    ).count()
    leakage_total_sec = round(time.perf_counter() - t0, 3)
    for c in lcaches:
        c.unpersist()
    leakage_breakdown = {
        "total_sec": leakage_total_sec,
        "pairs_sec": lstats.get("pairs_sec"),
        "components_sec": lstats.get("components_sec"),
        "split_sec": round(
            leakage_total_sec
            - lstats.get("pairs_sec", 0)
            - lstats.get("components_sec", 0),
            3,
        ),
        "n_pairs": lstats.get("n_pairs"),
        "n_dup_docs": lstats.get("n_dup_docs"),
    }

    # --- approx recall at the driver's correctness scale (sf0.01) ----------
    # The knn_ivf_approx CORRECTNESS row is recall-gated by design
    # (err: no_oracle); surface the recall@10 it actually achieves, next to
    # that row, the way the reference reports recall as the primary approx
    # metric (benches/query.rs:562-569).
    approx_recall = None
    sf001 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if os.path.isdir(sf001):
        exact_ids = {
            r["vec_id"] for r in qs["knn_exact"](spark, sf001).collect()
        }
        approx_ids = {
            r["vec_id"] for r in qs["knn_ivf_approx"](spark, sf001).collect()
        }
        approx_recall = round(len(exact_ids & approx_ids) / len(exact_ids), 4)

    # --- scaled synthetic benchmark: prove the index where pruning matters -
    # (≙ reference benches/query.rs:93-193 + bench_util.rs:12-58 — 1M-row
    # seeded fixture, brute vs indexed latency, recall, size overhead).
    # sf0.1's embeddings table is 2k rows — fixed costs dominate and an
    # index CANNOT win there; this section measures at 1M × 256.
    scale = _scale_bench(spark) if os.environ.get("PQ_BENCH_SCALE", "1") != "0" else None
    scale_dedup = (
        _dedup_scale_bench(spark)
        if os.environ.get("PQ_BENCH_SCALE", "1") != "0"
        else None
    )
    scale_asof = (
        _asof_scale_bench(spark)
        if os.environ.get("PQ_BENCH_SCALE", "1") != "0"
        else None
    )
    scale_maxsim = (
        _maxsim_scale_bench(spark)
        if os.environ.get("PQ_BENCH_SCALE", "1") != "0"
        else None
    )
    scale_streaming = (
        _streaming_scale_bench(spark)
        if os.environ.get("PQ_BENCH_SCALE", "1") != "0"
        and os.environ.get("PQ_BENCH_SCALE_STREAMING", "1") != "0"
        else None
    )
    scale_bloom_huge = (
        _bloom_huge_bench(spark)
        if os.environ.get("PQ_BENCH_BLOOM_HUGE", "0") == "1"
        else None
    )

    total = round(sum(timings.values()), 3)
    # FINAL-LINE SIZE CONTRACT (r15): the driver records the LAST ≤2000
    # characters of stdout and parses the final line as the round's record
    # — BENCH_r13/r14 both overflowed it (parsed=null) because the calib
    # narrative rode the same line as 57 query timings. The final line now
    # carries ONLY the driver contract (metric/value/unit/queries/sf) plus
    # the adjudication scalars (reps, hl_spread, contended, recall);
    # everything else (per-query spreads, pass totals, recall notes) moves
    # to the bench_detail SECTION line, which also lands in
    # BENCH_sections.json.
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        # median-of-N discipline (r15, r14 verdict #1): how many
        # interleaved passes each per-query median summarizes, and the
        # spread of the N pass TOTALS — the record's own contention
        # statistic (≥0.10 ⇒ treat this run as weather, not engineering)
        "reps": reps,
        "hl_spread": headline_spread,
        "contended": headline_spread >= 0.10,
        "recall_at_100": recall,
    }
    detail = {
        "per_query_spread": spreads,
        "pass_totals": pass_totals,
        "split_leakage_breakdown": leakage_breakdown,
        # sf0.1's embeddings table is 2k rows: k=100 is 5% of the table and
        # nprobe 16/45 probes 36% of it — cluster granularity dominates
        # recall here. The regime the index exists for is the `scale`
        # section (1M × 256), where the same defaults give recall 1.0.
        "recall_note": "sf-scale artifact; see scale.recall_at_100",
        "n_clusters": meta["n_clusters"],
        "nprobe": NPROBE,
        "index_build_counts_sec": counts_sec,
        # outside `queries` so headline_total stays round-comparable
        "knn_indexed_k100_nprobe16_warm": indexed_warm_sec,
        "approx_recall_at_10": approx_recall,
    }
    # Scale sections as their own lines (see module docstring: the driver
    # tail-parses the LAST line, which must stay bounded-size forever).
    # The driver's tail buffer keeps only the END of stdout, so sections
    # print in INCREASING importance: `scale` (the reference-mirroring
    # indexed-vs-brute table BASELINE.md asks for) is the last section line
    # before the headline. All sections are also dumped to
    # BENCH_sections.json so none is ever lost to the buffer.
    sections = {
        name: section
        for name, section in (
            ("bench_detail", detail),
            ("scale_bloom_huge", scale_bloom_huge),
            ("scale_dedup", scale_dedup),
            ("scale_asof", scale_asof),
            ("scale_maxsim", scale_maxsim),
            ("scale_streaming", scale_streaming),
            ("scale", scale),
        )
        if section is not None
    }
    sections_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_sections.json"
    )
    try:
        # MERGE with the persisted file: a PQ_BENCH_SCALE=0 (headline-only)
        # run must not wipe the scale sections a full run recorded
        merged = dict(sections)
        try:
            with open(sections_path) as f:
                prior = json.load(f).get("sections", {})
            for name, section in prior.items():
                merged.setdefault(name, section)
        except (OSError, ValueError):
            pass
        with open(sections_path, "w") as f:
            json.dump({"headline": out, "sections": merged}, f, indent=1)
    except OSError:
        pass  # a read-only checkout still gets the stdout lines
    for name, section in sections.items():
        print(json.dumps({"section": name, **section}), flush=True)
    # Hard size guard on the final line (the driver's tail buffer is ~2000
    # chars): shed optional scalars first, never the contract fields. This
    # should never fire at the current 57-query roster (~1700 chars) — it
    # exists so adding a 70th query can't silently break the record again.
    line = json.dumps(out)
    for droppable in (
        "recall_at_100",
        "hl_spread",
        "reps",
    ):
        if len(line) <= 1900:
            break
        out.pop(droppable, None)
        line = json.dumps(out)
    print(line, flush=True)


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _scale_bench(spark) -> dict:
    """1M × 256 mixture-of-Gaussians fixture (seeded, cached in .cache/):
    brute-force top-100 vs IVF-indexed top-100 at nprobe=16, recall@100,
    build time, index size overhead, and the observed pruning ratio."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pq_vector_spark.session import VectorTopKOptions
    from tools.gen_scale_embeddings import generate

    n_rows = int(os.environ.get("PQ_BENCH_SCALE_ROWS", "1000000"))
    dim = int(os.environ.get("PQ_BENCH_SCALE_DIM", "256"))
    reps = int(os.environ.get("PQ_BENCH_SCALE_REPS", "3"))
    k, nprobe = 100, 16

    def best_of(fn, n=None):
        """min-of-N timing (one untimed warmup already ran) — the scale
        numbers are single queries, so GC/worker-pool jitter dominates a
        single shot; min over reps is what criterion-style harnesses
        report. r17 (verdict #4): also returns the (max-min)/min spread
        so a contended entry flags itself on the record — the r15/r16
        records showed 1.3-2.5× phantom moves on untouched code in the
        single-shot/unspread vector entries."""
        times, result = [], None
        for _ in range(n or reps):
            t = time.time()
            result = fn()
            times.append(time.time() - t)
        best = min(times)
        spread = round((max(times) - best) / best, 3) if best > 0 else 0.0
        return round(best, 3), spread, result
    t0 = time.time()
    src = generate(n_rows, dim)
    gen_sec = round(time.time() - t0, 3)  # ~0 when cached

    emb = spark.read.parquet(src)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    emb.select(F.count(F.lit(1))).collect()  # warm page cache

    def _brute():
        return [
            r["vec_id"]
            for r in brute_force_topk(emb, "embedding", qvec, k, tie_break="vec_id")
            .select("vec_id")
            .collect()
        ]

    _brute()  # warm (codegen + python workers), as for the headline queries
    brute_sec, brute_spread, truth = best_of(_brute)

    out_path = os.path.join(os.path.dirname(src), f"scale_idx_{n_rows}x{dim}")
    # r17 (verdict #4): index build is best-of-N with a recorded spread —
    # the r15/r16 records showed 1.3-2.5× phantom moves on this untouched
    # entry from single-shot timing on a drifting host. Each rep rebuilds
    # into the SAME fresh path (rmtree first) so every rep pays the full
    # write; the build is seed-deterministic, so the layout any rep leaves
    # behind is the one downstream sections probe. Its own reps knob
    # (default 2): a build is ~60 s, the best-of-3 used for the cheap scan
    # entries would add a minute of pure repetition for no extra signal.
    build_reps = max(1, int(os.environ.get("PQ_BENCH_BUILD_REPS", "2")))
    build_times = []
    for _ in range(build_reps):
        shutil.rmtree(out_path, ignore_errors=True)
        t0 = time.time()
        meta = build_index(spark, src, out_path, column="embedding")
        build_times.append(time.time() - t0)
    build_sec = round(min(build_times), 3)
    build_spread = (
        round((max(build_times) - min(build_times)) / min(build_times), 3)
        if min(build_times) > 0
        else 0.0
    )

    def _indexed(obs=None):
        return [
            r["vec_id"]
            for r in indexed_topk(
                spark,
                out_path,
                qvec,
                k,
                options=VectorTopKOptions(nprobe=nprobe),
                tie_break="vec_id",
                observation=obs,
            )
            .select("vec_id")
            .collect()
        ]

    # warm with an Observation too — the metrics node changes the plan, and
    # an unwarmed plan would pay its codegen inside the timed pass
    _indexed(Observation("scale_warm"))
    reps_obs = [Observation(f"scale_pruning_{i}") for i in range(reps)]
    it = iter(reps_obs)
    indexed_sec, indexed_spread, got = best_of(lambda: _indexed(next(it)))
    obs = reps_obs[-1]

    # --- batch similarity join: exact single-pass vs IVF-bucketed ---------
    # brute = multi_query_topk (ONE corpus pass for all queries, Arrow
    # matrix kernel at this width); ivf = ivf_similarity_join at nprobe=16
    # with corpus-scan pruning. Recall is the mean top-k overlap per query.
    from pq_vector_spark.operators.similarity import (
        ivf_multi_query_topk,
        ivf_similarity_join,
        multi_query_topk,
    )

    n_q = int(os.environ.get("PQ_BENCH_SCALE_QUERIES", "16"))
    jk = 10
    qrows = emb.filter(F.col("vec_id") < n_q).select("vec_id", "embedding").collect()
    qlit = [(int(r["vec_id"]), r["embedding"]) for r in qrows]
    qdf = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )

    def _join_brute():
        return multi_query_topk(emb, "embedding", qlit, jk, id_col="vec_id").collect()

    def _join_ivf():
        return ivf_similarity_join(
            qdf, out_path, spark, "qid", "qv", jk, corpus_id="vec_id", nprobe=nprobe
        ).collect()

    _join_brute()
    join_brute_sec, join_brute_spread, jb = best_of(_join_brute)

    _join_ivf()
    join_ivf_sec, join_ivf_spread, ji = best_of(_join_ivf)

    def _batch_ivf():
        return ivf_multi_query_topk(
            spark, out_path, qlit, jk, id_col="vec_id", nprobe=nprobe
        ).collect()

    _batch_ivf()
    batch_ivf_sec, batch_ivf_spread, bi = best_of(_batch_ivf)

    # --- cosine over the SAME indexed (L2-clustered) layout ----------------
    # The reference benches its one query shape end-to-end; cosine is our
    # extension metric and needs its own scale evidence: brute cosine top-k
    # (Arrow fold kernel + TakeOrdered) vs the IVF batch kernel at
    # metric='cosine' probing the L2-built clusters, with recall@100.
    from pq_vector_spark.functions.distance import cosine_similarity

    def _cos_brute():
        scored = emb.withColumn("_c", cosine_similarity("embedding", list(qvec)))
        return [
            r["vec_id"]
            for r in scored.orderBy(F.col("_c").desc(), F.col("vec_id").asc())
            .limit(k)
            .select("vec_id")
            .collect()
        ]

    _cos_brute()
    cos_brute_sec, cos_brute_spread, cos_truth = best_of(_cos_brute)

    def _cos_ivf():
        return [
            r["vec_id"]
            for r in ivf_multi_query_topk(
                spark, out_path, [(0, qvec)], k, id_col="vec_id",
                nprobe=nprobe, metric="cosine",
            ).collect()
        ]

    _cos_ivf()
    cos_ivf_sec, cos_ivf_spread, cos_got = best_of(_cos_ivf)
    cosine_recall = len(set(cos_truth) & set(cos_got)) / k

    # --- SQ8 scalar quantization: the storage/IO scale path -----------------
    # 4x smaller vectors (float32 -> int8 codes + 2 doubles/row); measure
    # the written size ratio, a full quantized-scan top-k latency, and
    # recall@100 vs the float truth. At 100 TB the win is bytes scanned;
    # locally (page-cache-resident) the dequant math costs CPU instead —
    # report both honestly.
    from pq_vector_spark.functions.quantize import quantize_vectors, quantized_distance

    sq8_path = os.path.join(os.path.dirname(src), f"sq8_{n_rows}x{dim}.parquet")
    if not os.path.exists(sq8_path):
        quantize_vectors(emb, "embedding").select(
            "vec_id", "q_codes", "q_mn", "q_scale"
        ).write.mode("overwrite").parquet(sq8_path)
    sq8 = spark.read.parquet(sq8_path)
    sq8.count()  # warm

    def _sq8_topk():
        return [
            r["vec_id"]
            for r in sq8.select(
                "vec_id", quantized_distance(qvec).alias("_qd")
            )
            .orderBy(F.col("_qd").asc(), F.col("vec_id").asc())
            .limit(k)
            .select("vec_id")
            .collect()
        ]

    _sq8_topk()
    sq8_sec, sq8_spread, sq8_got = best_of(_sq8_topk)
    sq8_recall = len(set(sq8_got) & set(truth)) / k
    sq8_bytes = _dir_bytes(sq8_path)

    # --- Binary (1-bit) quantization: 32x compression, Hamming shortlist
    # (integer xor+bit_count in codegen) + exact re-rank of the shortlist.
    # The codes table stores dim/32 longs + the float vector stays in the
    # base table for the re-rank fetch (here: shortlist carries it).
    from pq_vector_spark.functions.quantize import (
        binary_quantize,
        binary_topk_with_fetch,
    )

    bq_path = os.path.join(os.path.dirname(src), f"bqw_{n_rows}x{dim}.parquet")
    if not os.path.exists(bq_path):
        emb.select(
            "vec_id", binary_quantize("embedding", dim).alias("bq_words")
        ).write.mode("overwrite").parquet(bq_path)
    bq = spark.read.parquet(bq_path)
    bq.count()  # warm

    def _bq_topk():
        return [
            r["vec_id"]
            for r in binary_topk_with_fetch(
                bq, emb, "embedding", "vec_id", qvec, k, oversample=16,
                tie_break="vec_id",
            ).select("vec_id").collect()
        ]

    _bq_topk()
    bq_sec, bq_spread, bq_got = best_of(_bq_topk)
    bq_recall = len(set(bq_got) & set(truth)) / k
    bq_bytes = _dir_bytes(bq_path)

    # --- PQ/ADC: train m sub-quantizers (k=256) on the bounded sample,
    # pre-encode the corpus to a codes-only table (id + m bytes/row — the
    # at-rest shape), then two-stage search: ADC scan of the codes table +
    # broadcast-fetch exact rerank. The scan-bytes axis: dim×4 bytes → m.
    from pq_vector_spark.index.pq import (
        PQCodebook,
        encode_pq,
        pq_topk_with_fetch,
        train_pq,
    )

    pq_m = 16
    cache_dir = os.path.dirname(src)
    pq_path = os.path.join(cache_dir, f"pq_codes_{n_rows}x{dim}_m{pq_m}.parquet")
    cb_path = os.path.join(cache_dir, f"pq_cb_{n_rows}x{dim}_m{pq_m}.npz")
    # r17 (verdict #4): train timings are best-of-N with a recorded
    # spread when the fixture is cold (same phantom-move rationale as
    # index_build above; seed-fixed, so every rep trains the identical
    # codebook). Cached fixture runs keep reporting 0.0 with spread 0.0.
    train_reps = max(1, int(os.environ.get("PQ_BENCH_BUILD_REPS", "2")))
    pq_train_spread = 0.0
    if os.path.exists(cb_path) and os.path.exists(pq_path):
        pq_cb = PQCodebook.load(cb_path)
        pq_train_sec = pq_encode_sec = 0.0  # cached fixture (like gen_sec)
    else:
        # max_iters=10: PQ sub-quantizer quality saturates early; the full-20
        # default would double the one-time train cost at 1M×256
        pq_train_sec, pq_train_spread, pq_cb = best_of(
            lambda: train_pq(
                emb, "embedding", m=pq_m, nbits=8, seed=42, max_iters=10
            ),
            n=train_reps,
        )
        t0 = time.time()
        encode_pq(emb, "embedding", pq_cb).select(
            "vec_id", "pq_codes"
        ).write.mode("overwrite").parquet(pq_path)
        pq_encode_sec = round(time.time() - t0, 3)
        pq_cb.save(cb_path)
    pq_codes = spark.read.parquet(pq_path)
    pq_codes.count()  # warm

    # rerank=16 ⇒ C = 1600 exact re-scores of 1M rows (0.16%): on this
    # tightly-clustered fixture ADC cannot rank *within* a Gaussian blob
    # (within-cluster geometry is below the 16-dim subspace code
    # resolution), so rerank=4 recalls only ~0.4 while 16 reaches the PQ
    # resolution plateau (~0.95) at indistinguishable scan cost.
    pq_rerank = 16

    def _pq_topk():
        return [
            r["vec_id"]
            for r in pq_topk_with_fetch(
                pq_codes, emb, "embedding", "vec_id", pq_cb, qvec, k, rerank=pq_rerank
            )
            .select("vec_id")
            .collect()
        ]

    _pq_topk()
    pq_sec, pq_scan_spread, pq_got = best_of(_pq_topk)
    pq_recall = len(set(pq_got) & set(truth)) / k
    pq_bytes = _dir_bytes(pq_path)

    # --- IVF-PQ: both pruning axes at once — cluster IN (probed) pushed
    # into a cluster-sorted CODES table (nprobe/n_clusters of the rows ×
    # m/dim·4 of the bytes), ADC top-C, broadcast exact rerank against the
    # (equally pruned) raw layout.
    from pq_vector_spark.index.pq import encode_indexed, ivfpq_topk

    ivfpq_path = os.path.join(
        cache_dir, f"ivfpq_codes_{n_rows}x{dim}_m{pq_m}.parquet"
    )
    if os.path.exists(ivfpq_path):
        ivfpq_encode_sec = 0.0  # cached fixture
    else:
        t0 = time.time()
        encode_indexed(spark, out_path, ivfpq_path, "embedding", "vec_id", pq_cb)
        ivfpq_encode_sec = round(time.time() - t0, 3)
    spark.read.parquet(ivfpq_path).count()  # warm

    def _ivfpq_topk():
        return [
            r["vec_id"]
            for r in ivfpq_topk(
                spark,
                out_path,
                ivfpq_path,
                "embedding",
                "vec_id",
                pq_cb,
                qvec,
                k,
                nprobe=nprobe,
                rerank=pq_rerank,
            )
            .select("vec_id")
            .collect()
        ]

    _ivfpq_topk()
    ivfpq_sec, ivfpq_scan_spread, ivfpq_got = best_of(_ivfpq_topk)
    ivfpq_recall = len(set(ivfpq_got) & set(truth)) / k

    # --- OPQ (r13): parametric rotation (eigenvalue allocation) before the
    # subspace split, same (m, nbits, rerank) budget as the PQ block.
    # NOTE: this fixture is an ISOTROPIC Gaussian mixture (standard-normal
    # centers), so near-parity with plain PQ is the expected honest result
    # here; the rotation's win is on anisotropic/correlated real embedding
    # spaces (test_pq.py pins the quantization-MSE ordering on correlated
    # data). Recorded to prove the rotated path costs nothing at scale.
    from pq_vector_spark.index.pq import train_opq

    opq_path = os.path.join(cache_dir, f"opq_codes_{n_rows}x{dim}_m{pq_m}.parquet")
    opq_cb_path = os.path.join(cache_dir, f"opq_cb_{n_rows}x{dim}_m{pq_m}.npz")
    opq_train_spread = 0.0
    if os.path.exists(opq_path) and os.path.exists(opq_cb_path):
        opq_cb = PQCodebook.load(opq_cb_path)
        opq_train_sec = 0.0
        opq_encode_sec = 0.0
    else:
        # best-of-N like pq_train above (r17, verdict #4)
        opq_train_sec, opq_train_spread, opq_cb = best_of(
            lambda: train_opq(
                emb, "embedding", m=pq_m, nbits=8, seed=42, max_iters=10
            ),
            n=train_reps,
        )
        t0 = time.time()
        encode_pq(emb, "embedding", opq_cb).select(
            "vec_id", "pq_codes"
        ).write.mode("overwrite").parquet(opq_path)
        opq_encode_sec = round(time.time() - t0, 3)
        opq_cb.save(opq_cb_path)
    opq_codes = spark.read.parquet(opq_path)
    opq_codes.count()  # warm

    def _opq_topk():
        return [
            r["vec_id"]
            for r in pq_topk_with_fetch(
                opq_codes, emb, "embedding", "vec_id", opq_cb, qvec, k,
                rerank=pq_rerank,
            )
            .select("vec_id")
            .collect()
        ]

    _opq_topk()
    opq_sec, opq_scan_spread, opq_got = best_of(_opq_topk)
    opq_recall = len(set(opq_got) & set(truth)) / k

    # --- wide projection at scale (r9 order #7): the Arrow-batched BLAS
    # path that auto-selects above 128 output dims. One shuffle-free pass
    # of 1M × 256 -> 256; parity vs the expression path is checked on a
    # 1k-row sample (the expression plan at 256 outputs is a 256-fold
    # expression tree — building it over the full corpus is exactly what
    # the pandas path exists to avoid).
    from pq_vector_spark.functions.vector import (
        project_vectors,
        random_projection_matrix,
    )

    # clamp to the (possibly PQ_BENCH_SCALE_DIM-downscaled) source dim —
    # random_projection_matrix requires target <= source
    proj_target = min(256, dim)
    proj_m = random_projection_matrix(dim, proj_target, seed=7)

    def _project_wide():
        return (
            project_vectors(emb, "embedding", proj_m, out_col="p")
            .select(F.sum(F.element_at("p", 1)))
            .collect()[0][0]
        )

    _project_wide()
    project_wide_sec, project_wide_spread, _ = best_of(_project_wide)

    sample = emb.filter(F.col("vec_id") < 1000)
    pw = {
        r["vec_id"]: r["p"]
        for r in project_vectors(
            sample, "embedding", proj_m, out_col="p", method="pandas"
        ).select("vec_id", "p").collect()
    }
    pe = {
        r["vec_id"]: r["p"]
        for r in project_vectors(
            sample, "embedding", proj_m, out_col="p", method="expression"
        ).select("vec_id", "p").collect()
    }
    import numpy as _np

    project_wide_allclose = bool(
        _np.allclose(
            _np.array([pw[i] for i in sorted(pw)]),
            _np.array([pe[i] for i in sorted(pe)]),
            rtol=1e-9,
            atol=1e-9,
        )
    )

    # --- appended-index recall at nprobe < n_clusters ----------------------
    # knn_appended (correctness gate) proves exactness only at
    # nprobe = n_clusters; the drift the reference accepts on append
    # (src/ivf/index.rs:189-206 — quantizer reused, never retrained) shows
    # up when probing: appended rows sit in clusters whose centroids never
    # saw them. Append 5% fresh rows from the SAME distribution (new point
    # stream, same latent centers), query a vector from the appended batch,
    # and measure recall@100 vs brute force over the grown table.
    # Runs LAST among the indexed sections because it mutates the layout.
    from pq_vector_spark.index.build import append_to_index

    n_app = max(n_rows // 20, 1_000)
    app_src = generate(n_app, dim, point_seed=777, start_id=n_rows)
    app_df = spark.read.parquet(app_src)
    t0 = time.time()
    append_to_index(spark, app_src, out_path)
    append_sec = round(time.time() - t0, 3)
    grown = emb.unionByName(app_df)
    qvec_app = app_df.filter(F.col("vec_id") == n_rows).select(
        "embedding"
    ).collect()[0][0]
    app_truth = [
        r["vec_id"]
        for r in brute_force_topk(grown, "embedding", qvec_app, k, tie_break="vec_id")
        .select("vec_id")
        .collect()
    ]
    app_got = [
        r["vec_id"]
        for r in indexed_topk(
            spark,
            out_path,
            qvec_app,
            k,
            options=VectorTopKOptions(nprobe=nprobe),
            tie_break="vec_id",
        )
        .select("vec_id")
        .collect()
    ]
    append_recall = len(set(app_got) & set(app_truth)) / k

    # Close the staleness loop (auto_rebuild_if_stale): the 5% append is
    # below the default 0.2 threshold, so drop the threshold to force the
    # lifecycle — retrain over the grown table, swap the layout, and the
    # appended-data query's recall at the same nprobe must return to the
    # fresh-index level. This is the operator loop the reference leaves to
    # its users (it accepts append drift silently, src/ivf/index.rs:189-206).
    from pq_vector_spark.index.build import auto_rebuild_if_stale

    t0 = time.time()
    reb = auto_rebuild_if_stale(spark, out_path, stale_threshold=0.01)
    rebuild_sec = round(time.time() - t0, 3)
    reb_got = [
        r["vec_id"]
        for r in indexed_topk(
            spark,
            out_path,
            qvec_app,
            k,
            options=VectorTopKOptions(nprobe=nprobe),
            tie_break="vec_id",
        )
        .select("vec_id")
        .collect()
    ]
    rebuild_recall = len(set(reb_got) & set(app_truth)) / k
    assert reb["rebuilt"], "scale bench: staleness rebuild did not fire"

    def _by_q(rows):
        d = {}
        for r in rows:
            d.setdefault(r["qid"], set()).add(r["vec_id"])
        return d

    truth_j = _by_q(jb)
    got_j, got_b = _by_q(ji), _by_q(bi)
    mean_recall = lambda got: sum(
        len(truth_j[q] & got.get(q, set())) / jk for q in truth_j
    ) / len(truth_j)
    join_recall, batch_recall = mean_recall(got_j), mean_recall(got_b)

    return {
        "rows": n_rows,
        "dim": dim,
        "k": k,
        "nprobe": nprobe,
        "n_clusters": meta["n_clusters"],
        "gen_sec": gen_sec,
        "brute_force_sec": brute_sec,
        "brute_force_sec_spread": brute_spread,
        "index_build_sec": build_sec,
        "index_build_sec_spread": build_spread,
        "index_build_reps": build_reps,
        "indexed_sec": indexed_sec,
        "indexed_sec_spread": indexed_spread,
        "speedup": round(brute_sec / indexed_sec, 2) if indexed_sec else None,
        "recall_at_100": len(set(got) & set(truth)) / k,
        "join_queries": n_q,
        "join_k": jk,
        "join_brute_sec": join_brute_sec,
        "join_brute_sec_spread": join_brute_spread,
        "join_ivf_sec": join_ivf_sec,
        "join_ivf_sec_spread": join_ivf_spread,
        "join_speedup": round(join_brute_sec / join_ivf_sec, 2) if join_ivf_sec else None,
        "join_recall_at_10": round(join_recall, 4),
        "batch_ivf_sec": batch_ivf_sec,
        "batch_ivf_sec_spread": batch_ivf_spread,
        "batch_ivf_speedup": round(join_brute_sec / batch_ivf_sec, 2) if batch_ivf_sec else None,
        "batch_ivf_recall_at_10": round(batch_recall, 4),
        "counts_sec": meta.get("counts_sec"),
        "cosine_brute_sec": cos_brute_sec,
        "cosine_brute_sec_spread": cos_brute_spread,
        "cosine_ivf_sec": cos_ivf_sec,
        "cosine_ivf_sec_spread": cos_ivf_spread,
        "cosine_speedup": round(cos_brute_sec / cos_ivf_sec, 2) if cos_ivf_sec else None,
        "cosine_recall_at_100": round(cosine_recall, 4),
        "bq_scan_sec": bq_sec,
        "bq_scan_sec_spread": bq_spread,
        "bq_recall_at_100": round(bq_recall, 4),
        "bq_oversample": 16,
        "bq_bytes": bq_bytes,
        "sq8_scan_sec": sq8_sec,
        "sq8_scan_sec_spread": sq8_spread,
        "sq8_recall_at_100": round(sq8_recall, 4),
        "sq8_bytes": sq8_bytes,
        "sq8_compression": round(_dir_bytes(src) / sq8_bytes, 2) if sq8_bytes else None,
        "pq_m": pq_m,
        "pq_train_sec": pq_train_sec,
        "pq_train_sec_spread": pq_train_spread,
        "pq_encode_sec": pq_encode_sec,
        "pq_rerank": pq_rerank,
        "pq_scan_sec": pq_sec,
        "pq_scan_sec_spread": pq_scan_spread,
        "pq_speedup": round(brute_sec / pq_sec, 2) if pq_sec else None,
        "pq_recall_at_100": round(pq_recall, 4),
        "pq_bytes": pq_bytes,
        "pq_compression": round(_dir_bytes(src) / pq_bytes, 2) if pq_bytes else None,
        "ivfpq_encode_sec": ivfpq_encode_sec,
        "ivfpq_scan_sec": ivfpq_sec,
        "ivfpq_scan_sec_spread": ivfpq_scan_spread,
        "ivfpq_speedup": round(brute_sec / ivfpq_sec, 2) if ivfpq_sec else None,
        "ivfpq_recall_at_100": round(ivfpq_recall, 4),
        "opq_train_sec": opq_train_sec,
        "opq_train_sec_spread": opq_train_spread,
        "opq_encode_sec": opq_encode_sec,
        "opq_scan_sec": opq_sec,
        "opq_scan_sec_spread": opq_scan_spread,
        "opq_recall_at_100": round(opq_recall, 4),
        "project_wide_target": proj_target,
        "project_wide_sec": project_wide_sec,
        "project_wide_sec_spread": project_wide_spread,
        "project_wide_allclose": project_wide_allclose,
        "append_rows": n_app,
        "append_sec": append_sec,
        "append_recall_at_100": round(append_recall, 4),
        "rebuild_sec": rebuild_sec,
        "rebuild_recall_at_100": round(rebuild_recall, 4),
        "rebuild_n_clusters": int(reb["meta"]["n_clusters"]),
        "candidate_rows": int(obs.get["candidate_rows"]),
        "candidate_fraction": round(obs.get["candidate_rows"] / n_rows, 4),
        "files_scanned": int(obs.get["files_scanned"]),
        "source_bytes": _dir_bytes(src),
        "indexed_bytes": _dir_bytes(out_path),
    }


def _dedup_scale_bench(spark) -> dict:
    """Dedup pipeline at bench scale: 1M synthetic docs with planted
    exact + near duplicates (seeded, cached in .cache/). Times the exact
    fingerprint pass, MinHash-LSH near-dup pairs (hot-bucket drops
    observed), and connected-components resolution — the full text-dedup
    pipeline a training-data run executes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pq_vector_spark.operators import dedup as D
    from tools.gen_scale_docs import generate

    n_docs = int(os.environ.get("PQ_BENCH_DEDUP_ROWS", "1000000"))
    t0 = time.time()
    src = generate(n_docs)
    gen_sec = round(time.time() - t0, 3)

    docs = spark.read.parquet(src)
    docs.count()  # warm

    t0 = time.time()
    n_exact_groups = D.exact_dedup(docs, "text", "doc_id").count()
    exact_sec = round(time.time() - t0, 3)

    # best-of-N discipline for the heavy entries (r16, r15 verdict #3):
    # the committed r15 record showed 10-17% phantom moves on untouched
    # scale code because each heavy entry was timed ONCE on a host the
    # run itself flagged contended; every entry the r15 verdict named
    # (minhash, qc fit/score, dsir, winnow, semantic) now records
    # best-of-PQ_BENCH_DEDUP_REPS (default 2) plus its spread.
    # (deliberately NOT PQ_BENCH_SCALE_REPS — that knob already belongs
    # to _scale_bench's knn medians, default 3)
    scale_reps = max(1, int(os.environ.get("PQ_BENCH_DEDUP_REPS", "2")))
    mh_state: dict = {}

    def _run_minhash(i):
        # persist BEFORE the count so resolve_sec below times connected
        # components alone — without it, CC's edge materialization
        # re-derives the whole minhash pipeline and resolve_sec swings
        # with shuffle-file reuse luck (r7 12.6s vs r8 26s on identical
        # code). Each rep drops the previous rep's cache first (same
        # memory footprint as single-shot); an Observation is single-use,
        # so each rep gets its own.
        if "pairs" in mh_state:
            mh_state["pairs"].unpersist()
        obs = Observation(f"bench_dedup_drops_{i}")
        mcaches: list = []
        p = D.minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=32, bands=8, threshold=0.6,
            observation=obs, _caches=mcaches,
        ).persist()
        n = p.count()
        # the count fully materializes the persisted pair table, so the
        # operator's internal signature/shingle caches can release NOW —
        # repeating reps without this would stack 2 ~quarter-GB cached
        # frames per rep (and the pre-r16 single-shot silently leaked its
        # 2 for the rest of the bench JVM's life)
        for c in mcaches:
            c.unpersist()
        mh_state["pairs"] = p
        return n, int(obs.get["dropped_bucket_rows"] or 0)

    minhash_sec, minhash_spread, (n_pairs, dropped) = _best_of(
        _run_minhash, scale_reps
    )
    # the LAST rep's persisted frame (reps are deterministic — identical
    # pair sets) feeds the resolution step
    pairs = mh_state["pairs"]

    t0 = time.time()
    comp = D.connected_components(pairs)
    n_dup_docs = comp.count()
    n_components = comp.select("component").distinct().count()
    resolve_sec = round(time.time() - t0, 3)
    pairs.unpersist()

    t0 = time.time()
    n_sim = (
        docs.select(D.simhash(F.col("text")).alias("sig"))
        .agg(F.countDistinct("sig"))
        .collect()[0][0]
    )
    simhash_sec = round(time.time() - t0, 3)

    # Trained quality classifier at scale (r13): fit = ONE map-side-combined
    # aggregation over 1M docs (13 agg columns, 2 rows to the driver);
    # scoring = pure whole-stage codegen over literal weights. The weak
    # label here is an arbitrary id parity — the number proves the COST
    # shape (one pass to fit, projection-priced scoring), not model quality
    # (that's the sf0.01 oracle row + the separation unit test).
    from pq_vector_spark.operators.classifier import (
        classify_quality,
        fit_lda_quality,
    )

    qc_fit_sec, qc_fit_spread, qc_model = _best_of(
        lambda _i: fit_lda_quality(docs, "text", F.col("doc_id") % 2 == 0),
        scale_reps,
    )
    qc_score_sec, qc_score_spread, n_qc_pos = _best_of(
        lambda _i: (
            classify_quality(docs, "text", qc_model)
            .filter(F.col("quality_lr_pred"))
            .count()
        ),
        scale_reps,
    )

    # Decontamination at scale: ~1k-doc eval slice broadcast against the
    # remaining ~999k corpus (map-side shingles + broadcast gram join —
    # the corpus-never-shuffles contract under load).
    from pq_vector_spark.operators.decontaminate import decontaminate

    ev = docs.filter(F.col("doc_id") % 1000 == 7)
    corpus_side = docs.filter(F.col("doc_id") % 1000 != 7)
    # best-of-N + spread for the md5-heavy single-shot entries too (r16:
    # the round's full-run record read decon_bloom_probe_sec at 144 s
    # where an immediate standalone re-measure read 47-62 s — exactly the
    # phantom-move class the r15 verdict's order #3 named; these probes
    # adjudicate the bloom-vs-exact story, so they get the discipline)
    decon_sec, decon_sec_spread, n_clean = _best_of(
        lambda _i: decontaminate(
            corpus_side, ev, "text", n=5, min_grams=8, threshold=0.5
        ).count(),
        scale_reps,
    )
    # r14: the xxhash64 gram family on the exact path (md5 is a large
    # share of the corpus side's per-gram cost; flag parity asserted)
    decon_fast_sec, decon_fast_sec_spread, n_clean_fast = _best_of(
        lambda _i: decontaminate(
            corpus_side, ev, "text", n=5, min_grams=8, threshold=0.5,
            gram_hash="fast",
        ).count(),
        scale_reps,
    )
    assert n_clean_fast == n_clean

    # Bloom-filter decontamination (r13): same eval slice compressed to a
    # bit array (~14.4 bits/gram at fpp=1e-3) probed map-side — the shape
    # for eval-gram lists too big to broadcast-JOIN. min_grams only
    # (threshold=None: no coverage-threshold rule), so survivor counts
    # differ from decon_sec's by design; the conservative
    # no-false-negative property is pinned in test_bloom.py.
    from pq_vector_spark.operators.bloom import (
        build_gram_bloom,
        decontaminate_bloom,
    )

    t0 = time.time()
    bloom = build_gram_bloom(ev, "text", n=5, fpp=1e-3)
    bloom_build_sec = round(time.time() - t0, 3)
    bloom_probe_sec, bloom_probe_sec_spread, n_bloom_clean = _best_of(
        lambda _i: decontaminate_bloom(
            corpus_side, bloom, "text", min_grams=8, threshold=None
        ).count(),
        scale_reps,
    )
    # gram_hash="fast" (r14): xxhash64 instead of md5 on both sides — the
    # md5 is most of the probe's per-gram cost; survivor parity with the
    # portable family is asserted (both FP-free at this filter size)
    t0 = time.time()
    bloom_fast = build_gram_bloom(ev, "text", n=5, fpp=1e-3, gram_hash="fast")
    bloom_fast_build_sec = round(time.time() - t0, 3)
    bloom_fast_probe_sec, bloom_fast_probe_sec_spread, n_bloom_fast = _best_of(
        lambda _i: decontaminate_bloom(
            corpus_side, bloom_fast, "text", min_grams=8, threshold=None
        ).count(),
        scale_reps,
    )
    assert n_bloom_fast == n_bloom_clean

    # The 10^7-gram regime the Bloom operator EXISTS for (r13 verdict #7):
    # the 1M-doc eval slice above is 76k grams — broadcast-join territory,
    # where bloom can only lose. A real decontamination list (eval-suite
    # unions + canaries) is 10^7-10^8 grams: synthesize a 100k-doc random-
    # token eval side (~10^7 distinct 5-grams), then race the SAME corpus
    # probe through (a) the exact broadcast gram JOIN and (b) the bloom
    # closure. MEASURED FINDING (r14, this host): at 10^7 grams the bloom
    # probe is ~1.15× the exact join's time (99 vs 86 s — the Arrow
    # transfer of gram arrays costs more than the JVM hash lookup saves),
    # so bloom's 10^7+ value on a single node is MEMORY, not CPU: a 24 MB
    # task closure vs an 80 MB raw-key / several-hundred-MB materialized
    # hash table PER EXECUTOR, and it stays viable at 10^8+ where the
    # broadcast build OOMs outright. Survivor sets matched exactly.
    # fpp=1e-4 keeps FP-driven survivor flips at ~0 while the filter
    # stays ~24 MB.
    big_rows = int(os.environ.get("PQ_BENCH_BLOOM_EVAL_DOCS", "100000"))
    big_ev = spark.range(big_rows).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(104)),
                lambda i: F.substring(
                    F.md5(F.concat(F.col("id").cast("string"), F.lit("-"), i.cast("string"))),
                    1,
                    8,
                ),
            ),
            " ",
        ).alias("text"),
    )
    # _caches (r15): the build's three jobs otherwise each re-shingle +
    # re-md5 the 10^7-gram eval side — the DISK_ONLY-persisted hashed
    # arrays halve the build (40.4 -> 20.0 s measured, bits identical)
    bigcaches: list = []
    t0 = time.time()
    big_bloom = build_gram_bloom(
        big_ev, "text", n=5, fpp=1e-4, _caches=bigcaches
    )
    big_bloom_build_sec = round(time.time() - t0, 3)
    for c in bigcaches:
        c.unpersist()
    t0 = time.time()
    n_big_bloom = decontaminate_bloom(
        corpus_side, big_bloom, "text", min_grams=8, threshold=None
    ).count()
    big_bloom_probe_sec = round(time.time() - t0, 3)
    # r16 (r15 verdict #4): sizing="approx" drops the exact distinct-count
    # pass. The like-for-like delta is measured UNCACHED — the regime the
    # approx path exists for, since at 10^8 grams the _caches build is
    # documented-unstable on a single box and the saved pass is real wall
    # time. Same eval side, back-to-back (same weather), exact 3-pass vs
    # approx 2-pass; the overshoot ratio shows the 5%-inflated HLL sizing
    # landing just above the true count.
    t0 = time.time()
    ub = build_gram_bloom(big_ev, "text", n=5, fpp=1e-4)
    big_bloom_build_uncached_sec = round(time.time() - t0, 3)
    t0 = time.time()
    ab = build_gram_bloom(big_ev, "text", n=5, fpp=1e-4, sizing="approx")
    big_bloom_build_approx_sec = round(time.time() - t0, 3)
    big_approx_overshoot = round(ab["n_grams"] / max(ub["n_grams"], 1), 4)
    t0 = time.time()
    n_big_exact = decontaminate(
        corpus_side, big_ev, "text", n=5, min_grams=8, threshold=1.1
    ).count()
    big_exact_probe_sec = round(time.time() - t0, 3)

    # Incremental ingest dedup: 10% delta against the standing 90% corpus
    # (broadcast fingerprint probe; corpus map-side only).
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    t0 = time.time()
    n_new = D.incremental_dedup(standing, delta, "text", "doc_id").count()
    incr_sec = round(time.time() - t0, 3)

    # DSIR importance weights at 1M docs (r13): hashed uni+bigram
    # featurization is the one corpus-sized exchange ((doc, int-bucket)
    # pairs, map-side combined); the target slice only ever contributes a
    # 10k-bucket model. Weights for every doc — the rank-then-cut mode a
    # 100 TB selection would run (global top-k heap is for modest k).
    from pq_vector_spark.operators.dsir import dsir_importance_weights

    dsir_target = docs.filter(F.col("doc_id") % 1000 == 3)
    dsir_raw = docs.filter(F.col("doc_id") % 1000 != 3)
    # r14 reformulation: scoring sums llr per gram OCCURRENCE
    # (Σ_b c_b·llr_b = Σ_g llr[b(g)]), so the (doc, bucket) count table
    # — whose ~10^9-row exchange was paid TWICE in the r13 shape — no
    # longer exists; every aggregation map-side combines to ≤buckets or
    # ≤docs rows. Recorded for BOTH hash families: fast (xxhash64, the
    # at-scale recommendation) and portable (md5, the oracle family) —
    # r13 baselines were 99 s / 120 s; a persist-the-explode _caches
    # variant measured SLOWER than re-exploding and was dropped.
    dsir_sec, dsir_spread, n_dsir = _best_of(
        lambda _i: dsir_importance_weights(
            dsir_raw, "text", "doc_id", dsir_target, n_max=2,
            buckets=10_000, bucket_hash="fast",
        ).count(),
        scale_reps,
    )
    dsir_portable_sec, dsir_portable_spread, n_dsir_p = _best_of(
        lambda _i: dsir_importance_weights(
            dsir_raw, "text", "doc_id", dsir_target, n_max=2,
            buckets=10_000, bucket_hash="portable",
        ).count(),
        scale_reps,
    )
    assert n_dsir_p == n_dsir

    # Persisted exact-fp index (r13): build once over the standing 90%,
    # probe the same 10% delta — compare exidx_probe_sec with incr_sec
    # (the raw-corpus probe re-hashes 900k texts every batch; the index
    # probe scans 16-byte fps, zero corpus text I/O).
    exidx_root = tempfile.mkdtemp(prefix="pq_bench_exidx_")
    exidx = os.path.join(exidx_root, "fp_idx")
    try:
        t0 = time.time()
        D.build_exact_dedup_index(standing, "text", exidx)
        exidx_build_sec = round(time.time() - t0, 3)
        t0 = time.time()
        n_new_idx = D.incremental_dedup_exact_indexed(
            spark, exidx, delta, "text", "doc_id"
        ).count()
        exidx_probe_sec = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(exidx_root, ignore_errors=True)

    # Paragraph-granular boilerplate removal (r11): frame every doc with a
    # footer drawn from 101 shared texts (the oracle-row shape at corpus
    # scale), then strip paragraphs repeated across >= 3 docs. Measures the
    # 16-byte fingerprint-count pass + the flagged-subset rewrite; here
    # EVERY doc is flagged (worst case for the default path), so the time
    # bounds the corpus-wide reassembly too.
    footers = docs.filter(F.col("doc_id") < 101).select(
        F.col("doc_id").alias("_fid"), F.col("text").alias("_ftext")
    )
    framed = docs.join(
        F.broadcast(footers),
        F.pmod(F.col("doc_id"), F.lit(101)) == F.col("_fid"),
    ).select(
        "doc_id", F.concat_ws("\n", F.col("text"), F.col("_ftext")).alias("text")
    )
    t0 = time.time()
    # sum(length(text)) forces the rewritten text to MATERIALIZE — a bare
    # count() lets column pruning skip the reassembly aggregation entirely
    # and would under-measure the pass this section exists to bound
    pstats: dict = {}
    pcaches: list = []  # r13: persist rides the release contract — no leak
    cleaned = D.remove_repeated_paragraphs(
        framed, "text", "doc_id", min_docs=3, _stats=pstats, _caches=pcaches
    )
    row = cleaned.agg(
        F.count(F.lit(1)).alias("c"), F.sum(F.length("text")).alias("b")
    ).collect()[0]
    n_cleaned = int(row["c"])
    paras_sec = round(time.time() - t0, 3)
    for c in pcaches:
        c.unpersist()

    # Exact-substring overlap pairs at scale (r12, r11 verdict #3): winnow
    # fingerprints over the full 1M corpus, ONE 8-byte-fp equi-join with
    # map-side-combined pair counting; fingerprints in > max_bucket docs
    # are DROPPED pre-join (mass boilerplate — any subset of their ~n²/2
    # expansions is arbitrary), and the dropped-fp count is recorded so
    # silent truncation is visible at scale.
    # _caches: without it the _stats dropped-fp count re-runs the whole
    # fingerprint extraction (one extra full pass — measured ~2× wall at
    # 1M docs); the release contract persists the grouped frame across
    # count + expansion and unpersists after the action.
    def _run_winnow(_i):
        ws: dict = {}
        wc: list = []
        n = D.winnow_overlap_pairs(
            docs, "text", "doc_id", k=3, w=4, min_shared=2,
            max_bucket=10_000, _stats=ws, _caches=wc,
        ).count()
        for c in wc:
            c.unpersist()
        return n, ws

    winnow_sec, winnow_spread, (n_overlap, wstats) = _best_of(
        _run_winnow, scale_reps
    )

    # Persisted near-dup index (r11): ONE map-side signature pass persists
    # the standing 90%'s banded signatures; the 10% delta then NEAR-dedups
    # against it — corpus text read only for verified candidates, never
    # re-hashed. Probe cost is delta-bounded: compare near_probe_sec with
    # minhash_sec (the full-corpus LSH run the index amortizes away).
    idx_root = tempfile.mkdtemp(prefix="pq_bench_nearidx_")
    idx_dir = os.path.join(idx_root, "near_idx")
    try:
        t0 = time.time()
        D.build_dedup_index(
            standing, "text", "doc_id", idx_dir, num_hashes=32, bands=8
        )
        near_build_sec = round(time.time() - t0, 3)
        t0 = time.time()
        n_near_new = D.incremental_dedup_near(
            spark, idx_dir, delta, "text", "doc_id",
            corpus=standing, threshold=0.6,
        ).count()
        near_probe_sec = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)

    # Token-budget curation at scale: greedy best-docs prefix over 1M rows,
    # two-phase bucketed plan (operators/sampling.select_token_budget) vs
    # the naive global cumulative window. Wall time is parity-ish at local
    # scale (both are corpus-scan-bound); the structural metric is the
    # SINGLE-TASK window size — the naive plan's one window task holds the
    # entire sorted corpus (impossible past ~1e8 rows), the two-phase plan's
    # holds only the budget-crossing bucket. Both selections must match.
    from pyspark.sql import Window

    from pq_vector_spark.operators.sampling import select_token_budget

    scored = docs.withColumn("_len", F.length("text").cast("bigint")).withColumn(
        "_score", (F.col("doc_id") % 997).cast("double")
    )
    total_len = scored.agg(F.sum("_len")).collect()[0][0]
    budget = int(total_len) // 2
    bstats: dict = {}
    t0 = time.time()
    n_budget = select_token_budget(
        scored, "doc_id", "_score", "_len", budget, buckets=997,
        local_threshold=0, _stats=bstats,
    ).count()
    budget_sec = round(time.time() - t0, 3)
    w = Window.orderBy(F.col("_score").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t0 = time.time()
    n_naive = (
        scored.withColumn("_cum", F.sum("_len").over(w))
        .filter(F.col("_cum") <= F.lit(budget))
        .count()
    )
    naive_sec = round(time.time() - t0, 3)

    # Adversarial all-ties corpus: every score equal, so score bucketing
    # cannot split anything — the recursive walk must switch to KEY-RANGE
    # refinement and keep the exact window bounded (the pre-r10 plan
    # degraded to a full-corpus single-task window here).
    tied = scored.withColumn("_score", F.lit(1.0))
    tstats: dict = {}
    t0 = time.time()
    n_tied = select_token_budget(
        tied, "doc_id", "_score", "_len", budget, buckets=997,
        local_threshold=0, _stats=tstats,
    ).count()
    ties_sec = round(time.time() - t0, 3)
    wk = Window.orderBy(F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_tied_naive = (
        tied.withColumn("_cum", F.sum("_len").over(wk))
        .filter(F.col("_cum") <= F.lit(budget))
        .count()
    )

    # Per-group budgets at scale (r10): 7 synthetic groups over the same
    # 1M docs, each filling its own budget — one bounded per-(group,
    # bucket) histogram + one group-partitioned crossing-bucket window +
    # a broadcast plan-table filter, vs the naive per-group cumulative
    # window (whose single-task-per-group shape is the thing avoided).
    from pq_vector_spark.operators.sampling import select_token_budget_grouped

    grouped = scored.withColumn("_grp", (F.col("doc_id") % 7).cast("int"))
    gbudget = int(total_len) // 14  # each group keeps ~half its tokens
    gstats: dict = {}
    t0 = time.time()
    n_grp = select_token_budget_grouped(
        grouped, "_grp", "doc_id", "_score", "_len", gbudget, buckets=997,
        local_threshold=0, _stats=gstats,
    ).count()
    grouped_sec = round(time.time() - t0, 3)
    wg = Window.partitionBy("_grp").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t0 = time.time()
    n_grp_naive = (
        grouped.withColumn("_cum", F.sum("_len").over(wg))
        .filter(F.col("_cum") <= F.lit(gbudget))
        .count()
    )
    grouped_naive_sec = round(time.time() - t0, 3)

    # Heavy-group auto-refinement (r10): ONE dominant all-ties group —
    # score bucketing cannot split it, so without refinement its crossing
    # bucket IS the whole group and the grouped window runs as one
    # n_docs-row task. window_cap hands such groups to the recursive walk
    # (key-range splitting); its greedy prefix equals the single-budget
    # all-ties case above, so n_tied_naive is the oracle.
    gtied = scored.withColumn("_score", F.lit(1.0)).withColumn("_grp", F.lit(0))
    rstats: dict = {}
    t0 = time.time()
    n_ref = select_token_budget_grouped(
        gtied, "_grp", "doc_id", "_score", "_len", budget, buckets=997,
        window_cap=65536, local_threshold=0, _stats=rstats,
    ).count()
    grouped_refined_sec = round(time.time() - t0, 3)

    # Embedding-dedup family at 1M × 256 (r13, r12 verdict #3): the r12
    # one-shuffle expansion was never benchable here — at sqrt(n) clusters
    # the candidate join-back ships ~n²/k pairs × two 256-dim vectors
    # (hundreds of GB). method="gram" is the scale path this section
    # proves: per-cluster tiled Gram matrices (applyInPandas + BLAS), the
    # only exchange being the (id, vector) cluster grouping, pair volume
    # Σ min(|c|, cap)² computed IN-executor with only qualifying pairs
    # emitted. Corpus: the 1M mixture fixture + 50k planted near-dups
    # (0.1% relative jitter → cosine ≈ 0.9999 vs ~0.978 for natural
    # same-cluster pairs, so threshold 0.99 isolates the planted rate).
    from tools.gen_scale_embeddings import generate as gen_emb

    emb_rows = int(os.environ.get("PQ_BENCH_EMB_DEDUP_ROWS", "1000000"))
    n_planted = emb_rows // 20
    emb = spark.read.parquet(gen_emb(emb_rows, 256))
    planted = (
        emb.filter(F.col("vec_id") < n_planted)
        .select(
            (F.col("vec_id") + emb_rows).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x * (1.0 + 0.001 * F.sin(F.col("vec_id") + i)),
            ).alias("embedding"),
        )
    )
    corpus_emb = emb.unionByName(planted)
    estats: dict = {}
    emb_caches: list = []
    t0 = time.time()
    n_emb_pairs = D.embedding_near_dup_bucketed(
        corpus_emb, "embedding", "vec_id", threshold=0.99, nprobe=1,
        method="gram", max_cluster=20_000, _stats=estats, _caches=emb_caches,
    ).count()
    emb_near_sec = round(time.time() - t0, 3)
    for c in emb_caches:
        c.unpersist()
    # r14 (r13 verdict #4): _caches persists the probed frame — its four
    # consumers (blocking, capped stat, resolve's two joins) otherwise
    # each re-run the ~1k-centroid assignment, which is what made the
    # uncached r13 run 199 s. Diagnostics mode records the stage split:
    # fit (driver k-means) / assign (cached assignment materialization) /
    # pairs (gram + cosine gate) / resolution (the remainder).
    def _run_semantic(_i):
        ss: dict = {}
        sc: list = []
        n = (
            D.semantic_dedup(
                corpus_emb, "embedding", "vec_id", eps=0.01, nprobe=1,
                keep="outlier", method="gram", max_cluster=20_000,
                _stats=ss, _caches=sc,
            )
            .filter("is_canonical")
            .count()
        )
        for c in sc:
            c.unpersist()
        return n, ss

    sem_sec, sem_spread, (n_sem_kept, sstats) = _best_of(
        _run_semantic, scale_reps
    )

    return {
        "n_docs": n_docs,
        # best-of-N reps behind every heavy entry below (r16): each
        # *_spread is (worst-best)/best across the reps — >=0.10 on an
        # entry means that number is weather, not engineering
        "scale_reps": scale_reps,
        "budget_select_sec": budget_sec,
        "budget_naive_window_sec": naive_sec,
        "budget_results_match": bool(n_budget == n_naive),
        "budget_docs_kept": int(n_budget),
        "budget_naive_window_task_rows": int(n_docs),
        "budget_two_phase_window_task_rows": int(bstats.get("window_rows", -1)),
        "budget_refine_levels": int(bstats.get("levels", -1)),
        "budget_ties_select_sec": ties_sec,
        "budget_ties_results_match": bool(n_tied == n_tied_naive),
        "budget_ties_window_task_rows": int(tstats.get("window_rows", -1)),
        "budget_ties_refine_mode": str(tstats.get("mode", "")),
        "budget_grouped_select_sec": grouped_sec,
        "budget_grouped_naive_sec": grouped_naive_sec,
        "budget_grouped_results_match": bool(n_grp == n_grp_naive),
        "budget_grouped_docs_kept": int(n_grp),
        "budget_grouped_max_window_rows": int(gstats.get("max_window_rows", -1)),
        "budget_grouped_naive_window_rows_per_group": int(n_docs // 7),
        "budget_grouped_refined_sec": grouped_refined_sec,
        "budget_grouped_refined_match": bool(n_ref == n_tied_naive),
        "budget_grouped_refined_groups": int(rstats.get("refined_groups", -1)),
        "budget_grouped_refined_window_rows": int(
            rstats.get("max_window_rows", -1)
        ),
        "gen_sec": gen_sec,
        "exact_sec": exact_sec,
        "exact_groups": int(n_exact_groups),
        "minhash_sec": minhash_sec,
        "minhash_sec_spread": minhash_spread,
        "near_dup_pairs": int(n_pairs),
        "dropped_bucket_rows": dropped,
        "resolve_sec": resolve_sec,
        "dup_docs": int(n_dup_docs),
        "dup_components": int(n_components),
        "simhash_sec": simhash_sec,
        "simhash_distinct": int(n_sim),
        "qc_fit_sec": qc_fit_sec,
        "qc_fit_sec_spread": qc_fit_spread,
        "qc_score_sec": qc_score_sec,
        "qc_score_sec_spread": qc_score_spread,
        "qc_pred_true": int(n_qc_pos),
        "decon_sec": decon_sec,
        "decon_sec_spread": decon_sec_spread,
        "decon_fast_sec": decon_fast_sec,
        "decon_fast_sec_spread": decon_fast_sec_spread,
        "decon_bloom_build_sec": bloom_build_sec,
        "decon_bloom_probe_sec": bloom_probe_sec,
        "decon_bloom_probe_sec_spread": bloom_probe_sec_spread,
        "decon_bloom_survivors": int(n_bloom_clean),
        "decon_bloom_fast_build_sec": bloom_fast_build_sec,
        "decon_bloom_fast_probe_sec": bloom_fast_probe_sec,
        "decon_bloom_fast_probe_sec_spread": bloom_fast_probe_sec_spread,
        "decon_bloom_grams": int(bloom["n_grams"]),
        "decon_bloom_bytes": int(bloom["bits"].nbytes),
        "decon_survivors": int(n_clean),
        # 10^7-gram regime: filter closure vs broadcast-join build, same
        # corpus probe both ways (exact path's raw key bytes = grams * 8)
        "decon_big_grams": int(big_bloom["n_grams"]),
        "decon_big_bloom_bytes": int(big_bloom["bits"].nbytes),
        "decon_big_exact_key_bytes": int(big_bloom["n_grams"]) * 8,
        "decon_big_bloom_build_sec": big_bloom_build_sec,
        "decon_big_bloom_probe_sec": big_bloom_probe_sec,
        # uncached exact-vs-approx sizing delta (r16, r15 verdict #4)
        "decon_big_bloom_build_uncached_sec": big_bloom_build_uncached_sec,
        "decon_big_bloom_build_approx_sec": big_bloom_build_approx_sec,
        "decon_big_approx_n_grams": int(ab["n_grams"]),
        "decon_big_approx_overshoot": big_approx_overshoot,
        "decon_big_exact_probe_sec": big_exact_probe_sec,
        "decon_big_survivors_match": bool(n_big_bloom == n_big_exact),
        "incremental_sec": incr_sec,
        "incremental_new": int(n_new),
        "exact_index_build_sec": exidx_build_sec,
        "exact_index_probe_sec": exidx_probe_sec,
        "exact_index_probe_matches": bool(n_new_idx == n_new),
        "dsir_weights_sec": dsir_sec,
        "dsir_weights_sec_spread": dsir_spread,
        "dsir_weights_portable_sec": dsir_portable_sec,
        "dsir_weights_portable_sec_spread": dsir_portable_spread,
        "dsir_docs_scored": int(n_dsir),
        "near_index_build_sec": near_build_sec,
        "near_probe_sec": near_probe_sec,
        "near_probe_survivors": int(n_near_new),
        "paragraphs_sec": paras_sec,
        "paragraphs_docs": int(n_cleaned),
        "paragraphs_hot_fps": int(pstats.get("hot_fingerprints", -1)),
        "paragraphs_broadcast_path": bool(pstats.get("broadcast", False)),
        "winnow_overlap_sec": winnow_sec,
        "winnow_overlap_sec_spread": winnow_spread,
        "winnow_overlap_pairs": int(n_overlap),
        "winnow_dropped_fps": int(wstats.get("dropped_fingerprints", -1)),
        "emb_near_dup_rows": int(emb_rows + n_planted),
        "emb_near_dup_sec": emb_near_sec,
        "emb_near_dup_pairs": int(n_emb_pairs),
        "emb_near_dup_planted": int(n_planted),
        "emb_near_dup_capped_clusters": int(estats.get("capped_clusters", -1)),
        "semantic_dedup_sec": sem_sec,
        "semantic_dedup_sec_spread": sem_spread,
        "semantic_dedup_kept": int(n_sem_kept),
        "semantic_dedup_capped_clusters": int(sstats.get("capped_clusters", -1)),
        "semantic_dedup_fit_sec": float(sstats.get("fit_sec", -1)),
        "semantic_dedup_assign_sec": float(sstats.get("assign_sec", -1)),
        "semantic_dedup_pairs_sec": float(sstats.get("pairs_sec", -1)),
        "semantic_dedup_resolve_sec": round(
            sem_sec
            - sstats.get("fit_sec", 0)
            - sstats.get("assign_sec", 0)
            - sstats.get("pairs_sec", 0),
            3,
        ),
        "semantic_dedup_n_pairs": int(sstats.get("n_pairs", -1)),
    }


def _bloom_huge_bench(spark) -> dict:
    """The 10^8-gram decontamination regime (r15, r14 verdict #3) — the
    EXISTENCE case for the Bloom path. The measured 10^7 point (r14,
    decon_big_*) showed probe-time parity with the exact broadcast join
    and a 3.3× memory win; the unmeasured claim was that at 10^8 grams
    the exact side's hashed join relation stops fitting a realistic
    executor heap while the filter stays a viable broadcast. This
    section measures it: ~10^8 distinct 5-grams of synthetic eval text
    (1M docs × ~100 grams), raced through (a) the Bloom closure and
    (b) the exact broadcast gram join, with the exact side wrapped so
    an executor/driver OOM is RECORDED as the result rather than
    killing the run. Gated behind PQ_BENCH_BLOOM_HUGE=1 (build alone is
    minutes); the driver's per-round run keeps the 10^7 point.

    MEASURED (r15, this host, 8g driver heap, defaults otherwise):
    n_grams exactly 10^8 → bloom filter 239.6 MB (fpp 1e-4, vs 800 MB
    raw 8-byte keys), build 1134 s (one-time per eval list; dominated by
    np.bitwise_or.at over the 6e7-word array), corpus probe 118.6 s with
    ZERO wrongful drops (999,000/999,000 survivors); the EXACT broadcast
    path failed 68 s in, at the build-side COLLECT — "Total size of
    serialized results of 30 tasks (1038.7 MiB) is bigger than
    spark.driver.maxResultSize (1024.0 MiB)" — i.e. at default limits
    the join build never even reaches the multi-GB hashed-relation
    stage the r14 extrapolation worried about. Raising maxResultSize
    only moves the wall: the serialized build side alone is ≥4× the
    whole bloom closure, and the LongHashedRelation multiplies it
    further per executor. Full record in BENCH_sections.json
    (scale_bloom_huge) and the COVERAGE.md bloom row."""
    from pyspark.sql import functions as F

    from pq_vector_spark.operators.bloom import (
        build_gram_bloom,
        decontaminate_bloom,
    )
    from pq_vector_spark.operators.decontaminate import decontaminate
    from tools.gen_scale_docs import generate

    n_docs = int(os.environ.get("PQ_BENCH_DEDUP_ROWS", "1000000"))
    docs = spark.read.parquet(generate(n_docs))
    corpus_side = docs.filter(F.col("doc_id") % 1000 != 7)
    corpus_side.count()  # warm

    big_rows = int(os.environ.get("PQ_BENCH_BLOOM_HUGE_DOCS", "1000000"))
    big_ev = spark.range(big_rows).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(104)),
                lambda i: F.substring(
                    F.md5(
                        F.concat(
                            F.col("id").cast("string"), F.lit("-"), i.cast("string")
                        )
                    ),
                    1,
                    8,
                ),
            ),
            " ",
        ).alias("text"),
    )
    out: dict = {"eval_docs": big_rows}
    # deliberately UNCACHED: at 10^8 grams on one 8 GB-heap JVM the
    # _caches build crashed twice (MEMORY_AND_DISK OOM'd the heap;
    # DISK_ONLY crashed a Python worker late in the word build) — the
    # 3-pass recompute is the memory-safe shape at this size on a single
    # box, and the honest 1134 s stands. At 10^7 (the per-round entry in
    # _dedup_scale_bench) the cache is safe and halves the build.
    t0 = time.time()
    bloom = build_gram_bloom(big_ev, "text", n=5, fpp=1e-4)
    out["bloom_build_sec"] = round(time.time() - t0, 3)
    out["n_grams"] = int(bloom["n_grams"])
    out["bloom_bytes"] = int(bloom["bits"].nbytes)
    out["exact_raw_key_bytes"] = int(bloom["n_grams"]) * 8
    # r16 (r15 verdict #4): the named lever on the 1134 s 3-pass build —
    # sizing="approx" removes the exact distinct-count pass (the cache
    # alternative is documented-unstable at this size on one box).
    t0 = time.time()
    bloom_approx = build_gram_bloom(
        big_ev, "text", n=5, fpp=1e-4, sizing="approx"
    )
    out["bloom_build_approx_sec"] = round(time.time() - t0, 3)
    out["approx_n_grams"] = int(bloom_approx["n_grams"])
    out["approx_overshoot"] = round(
        bloom_approx["n_grams"] / max(bloom["n_grams"], 1), 4
    )
    del bloom_approx
    t0 = time.time()
    out["bloom_survivors"] = decontaminate_bloom(
        corpus_side, bloom, "text", min_grams=8, threshold=None
    ).count()
    out["bloom_probe_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    try:
        out["exact_survivors"] = decontaminate(
            corpus_side, big_ev, "text", n=5, min_grams=8, threshold=1.1
        ).count()
        out["exact_probe_sec"] = round(time.time() - t0, 3)
        out["exact_outcome"] = "completed"
        out["survivors_match"] = bool(
            out["exact_survivors"] == out["bloom_survivors"]
        )
    except Exception as e:  # noqa: BLE001 — the OOM IS the measurement
        out["exact_probe_sec"] = round(time.time() - t0, 3)
        out["exact_outcome"] = f"failed: {type(e).__name__}: {str(e)[:300]}"
    return out


def _asof_scale_bench(spark) -> dict:
    """As-of join under single-hot-key skew: one entity holds 90% of the
    stream (the shape where the plain union-window serializes that key in
    ONE task). Times plain vs bucketed (``bucket="1 day"`` over a ~30-day
    span → the hot key spreads across ~30 tasks) and cross-checks that
    both produce identical aggregates. Fully deterministic (id-arithmetic
    timestamps, no rand()).

    Default 4M rows: on local[32] the bucketing overhead (two extra
    compact shuffles) crosses over between 1M (parity) and 4M (~2.8×
    faster) — and the gap widens linearly with the hot key's row count,
    which is exactly the property that matters at 100 TB."""
    from pyspark.sql import functions as F

    from pq_vector_spark.operators.asof import asof_join

    n_left = int(os.environ.get("PQ_BENCH_ASOF_ROWS", "4000000"))
    n_right = max(n_left // 100, 100)
    span_sec = 30 * 24 * 3600

    def keyed(df):
        # 90% of rows on key 0, remainder spread over 999 other keys
        return df.withColumn(
            "user_id",
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(
                (F.pmod(F.col("id") * 31 + 7, 999) + 1)
            ).cast("bigint"),
        ).withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(1704067200) + F.pmod(F.col("id") * 7919, F.lit(span_sec))
            ),
        )

    left = keyed(spark.range(n_left)).select(
        F.col("id").alias("event_id"), "user_id", "ts"
    )
    # deterministic unique-per-(key, ts): max(snap), NOT dropDuplicates —
    # dropDuplicates keeps an arbitrary row and is recomputed per action,
    # so the plain/bucketed cross-check could diverge spuriously
    right = (
        keyed(spark.range(n_right))
        .select("user_id", "ts", (F.col("id") % 1000).cast("double").alias("snap"))
        .groupBy("user_id", "ts")
        .agg(F.max("snap").alias("snap"))
    )
    left.count(), right.count()  # warm

    def agg(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("snap").isNull(), 1).otherwise(0)).alias("nulls"),
            F.round(F.sum("snap"), 2).alias("s"),
        ).collect()[0]

    plain_df = asof_join(left, right, on="ts", by="user_id", value_cols=["snap"])
    agg(plain_df)  # warm codegen
    t0 = time.time()
    plain = agg(plain_df)
    plain_sec = round(time.time() - t0, 3)

    bucketed_df = asof_join(
        left, right, on="ts", by="user_id", value_cols=["snap"], bucket="1 day"
    )
    agg(bucketed_df)
    t0 = time.time()
    bucketed = agg(bucketed_df)
    bucketed_sec = round(time.time() - t0, 3)

    return {
        "left_rows": n_left,
        "right_rows": n_right,
        "hot_key_fraction": 0.9,
        "plain_sec": plain_sec,
        "bucketed_sec": bucketed_sec,
        "bucketed_speedup": round(plain_sec / bucketed_sec, 2) if bucketed_sec else None,
        "results_match": tuple(plain) == tuple(bucketed),
    }




def _maxsim_scale_bench(spark) -> dict:
    """Late-interaction MaxSim at bench scale: 100k docs × 8 token-vectors
    (the cached 100k×256 fixture sliced into 8×32-dim sub-vectors), brute
    full-corpus MaxSim vs the two-stage IVF path (pooled-vector prune →
    candidates-only MaxSim), with recall@100 of the pruned path."""
    from pyspark.sql import functions as F

    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.operators.similarity import ivf_maxsim_topk, maxsim_topk
    from pq_vector_spark.session import IndexBuildOptions
    from tools.gen_scale_embeddings import generate

    n_rows, dim, m = 100_000, 256, 8
    sub = dim // m
    k, nprobe, candidates = 100, 16, 1000
    src = generate(n_rows, dim)
    cache_dir = os.path.dirname(src)

    emb = spark.read.parquet(src)
    bags = emb.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda i: F.slice(F.col("embedding"), i * sub + 1, sub),
        ).alias("bag"),
    ).cache()
    bags.count()  # warm

    pooled_idx = os.path.join(cache_dir, f"maxsim_pooled_idx_{n_rows}x{dim}_m{m}")
    if not os.path.exists(os.path.join(pooled_idx, "_pq_index")):
        pooled_src = os.path.join(cache_dir, f"maxsim_pooled_{n_rows}x{dim}_m{m}.parquet")
        if not os.path.exists(pooled_src):
            emb.select(
                "vec_id",
                F.transform(
                    F.sequence(F.lit(0), F.lit(sub - 1)),
                    lambda j: F.aggregate(
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        F.lit(0.0),
                        lambda acc, i: acc
                        + F.col("embedding")[i * sub + j].cast("double"),
                    )
                    / F.lit(float(m)),
                ).alias("pooled"),
            ).write.mode("overwrite").parquet(pooled_src)
        build_index(
            spark, pooled_src, pooled_idx, column="pooled",
            options=IndexBuildOptions(n_clusters=100),
        )

    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qbag = [list(qrow[i * sub : (i + 1) * sub]) for i in range(m)]

    def _brute():
        return [
            r["vec_id"]
            for r in maxsim_topk(bags, "bag", qbag, k, id_col="vec_id")
            .select("vec_id")
            .collect()
        ]

    def _ivf():
        return [
            r["vec_id"]
            for r in ivf_maxsim_topk(
                spark, pooled_idx, bags, "bag", "vec_id", qbag, k,
                nprobe=nprobe, candidates=candidates,
            )
            .select("vec_id")
            .collect()
        ]

    _brute()
    t0 = time.time(); truth = _brute(); brute_sec = round(time.time() - t0, 3)
    _ivf()
    t0 = time.time(); got = _ivf(); ivf_sec = round(time.time() - t0, 3)
    bags.unpersist()
    out = {
        "rows": n_rows,
        "vectors_per_doc": m,
        "sub_dim": sub,
        "brute_sec": brute_sec,
        "ivf_sec": ivf_sec,
        "speedup": round(brute_sec / ivf_sec, 2) if ivf_sec else None,
        "recall_at_100": round(len(set(got) & set(truth)) / k, 4),
    }
    out.update(_maxsim_deep_block(spark))
    return out


def _maxsim_deep_block(spark) -> dict:
    """MaxSim at PRODUCTION bag shape — ColBERT reality is 32-128 token
    vectors at dim 128, not the 8×32 shallow slice above. Pooled-vector
    pruning risk grows with bag depth (a multi-topic document pools to a
    centroid unlike any single token vector), so the recall claim must be
    measured here, not extrapolated. 100k docs × 32 vectors × dim 128
    (seeded 100k×4096 fixture sliced per token)."""
    from tools.gen_scale_embeddings import generate

    n_rows, m, sub = 100_000, 32, 128
    dim = m * sub
    k, nprobe, candidates = 100, 16, 1000
    # chunk = row-group size: 4000 rows × 4096 f32 ≈ 65 MB per row group —
    # the default 100k chunk would write ONE 1.6 GB row group, which Spark
    # cannot split, serializing every pass onto a single task
    src = generate(n_rows, dim, chunk=4000)
    cache_dir = os.path.dirname(src)

    # 4096-float arrays at the default 4096-row columnar batch are ~67 MB
    # per in-flight task batch — 32 concurrent tasks exhaust the local 8g
    # heap. 512-row batches keep the same scan shape at 1/8 the footprint.
    prev_batch = spark.conf.get("spark.sql.parquet.columnarReaderBatchSize", None)
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")
    try:
        return _maxsim_deep_inner(spark, src, cache_dir, n_rows, dim, m, sub, k, nprobe, candidates)
    finally:
        # restore even on failure — a leaked 512-row batch size silently
        # skews every later scan-bound timing in the same bench process
        if prev_batch is not None:
            spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", prev_batch)
        else:
            spark.conf.unset("spark.sql.parquet.columnarReaderBatchSize")


def _maxsim_deep_inner(spark, src, cache_dir, n_rows, dim, m, sub, k, nprobe, candidates):
    from pyspark.sql import functions as F

    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.operators.similarity import ivf_maxsim_topk, maxsim_topk
    from pq_vector_spark.session import IndexBuildOptions

    emb = spark.read.parquet(src)
    # no .cache(): 100k x 4096 doubles (~3+ GB serialized) would pressure
    # the 8g local heap; the parquet file sits in the OS page cache instead
    bags = emb.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda i: F.slice(F.col("embedding"), i * sub + 1, sub),
        ).alias("bag"),
    )

    pooled_idx = os.path.join(cache_dir, f"maxsim_pooled_idx_{n_rows}x{dim}_m{m}")
    if not os.path.exists(os.path.join(pooled_idx, "_pq_index")):
        pooled_src = os.path.join(cache_dir, f"maxsim_pooled_{n_rows}x{dim}_m{m}.parquet")
        if not os.path.exists(pooled_src):
            emb.select(
                "vec_id",
                F.transform(
                    F.sequence(F.lit(0), F.lit(sub - 1)),
                    lambda j: F.aggregate(
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        F.lit(0.0),
                        lambda acc, i: acc
                        + F.col("embedding")[i * sub + j].cast("double"),
                    )
                    / F.lit(float(m)),
                ).alias("pooled"),
            ).write.mode("overwrite").parquet(pooled_src)
        build_index(
            spark, pooled_src, pooled_idx, column="pooled",
            options=IndexBuildOptions(n_clusters=100),
        )

    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qbag = [list(qrow[i * sub : (i + 1) * sub]) for i in range(m)]

    # ONE timed brute pass (it IS the truth set; at this shape a warmup
    # would double a ~100 s full-corpus late-interaction scan). The fixture
    # and query are seeded, so the truth set is deterministic — cache it
    # (with its measured latency) so subsequent bench runs pay only the
    # pruned path; delete the cache file to re-measure brute.
    truth_cache = os.path.join(
        cache_dir, f"maxsim_deep_truth_{n_rows}x{dim}_m{m}_k{k}.json"
    )
    if os.path.exists(truth_cache):
        with open(truth_cache) as f:
            cached = json.load(f)
        truth, brute_sec = cached["ids"], cached["brute_sec"]
    else:
        t0 = time.time()
        truth = [
            r["vec_id"]
            for r in maxsim_topk(bags, "bag", qbag, k, id_col="vec_id")
            .select("vec_id")
            .collect()
        ]
        brute_sec = round(time.time() - t0, 3)
        with open(truth_cache, "w") as f:
            json.dump({"ids": truth, "brute_sec": brute_sec}, f)

    def _ivf():
        return [
            r["vec_id"]
            for r in ivf_maxsim_topk(
                spark, pooled_idx, bags, "bag", "vec_id", qbag, k,
                nprobe=nprobe, candidates=candidates,
            )
            .select("vec_id")
            .collect()
        ]

    _ivf()
    t0 = time.time(); got = _ivf(); ivf_sec = round(time.time() - t0, 3)
    return {
        "deep_rows": n_rows,
        "deep_vectors_per_doc": m,
        "deep_sub_dim": sub,
        "deep_nprobe": nprobe,
        "deep_candidates": candidates,
        "deep_brute_sec": brute_sec,
        "deep_ivf_sec": ivf_sec,
        "deep_speedup": round(brute_sec / ivf_sec, 2) if ivf_sec else None,
        "deep_recall_at_100": round(len(set(got) & set(truth)) / k, 4),
    }


def _streaming_scale_bench(spark) -> dict:
    """Streaming index maintenance at production shape (r10 verdict #7;
    r12 verdict #2 moves the rebuild OFF the batch path): take the 1M-row
    indexed layout, stream PQ_BENCH_STREAM_BATCHES micro-batches of
    PQ_BENCH_STREAM_BATCH_ROWS fresh vectors through
    ``streaming_index_ingest`` with ``maintain_every=5`` and
    ``maintenance_mode="async"``, and record per-batch wall seconds, where
    the rebuild started/completed, how many rows rode the pending buffer,
    and post-stream recall@100 vs brute force. The r11 inline run stalled
    batch 9 for 59 s on the retrain; async keeps every batch bounded by
    append (or pending-write) cost while the rebuild overlaps."""
    import time as _time

    from pq_vector_spark.index.build import (
        CLUSTER_COL,
        build_index,
        index_health,
    )
    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pq_vector_spark.session import VectorTopKOptions
    from pq_vector_spark.streaming.ingest import (
        drain_pending_appends,
        streaming_index_ingest,
        wait_for_async_rebuild,
    )
    from tools.gen_scale_embeddings import generate

    n_rows = int(os.environ.get("PQ_BENCH_SCALE_ROWS", "1000000"))
    dim = int(os.environ.get("PQ_BENCH_SCALE_DIM", "256"))
    n_batches = int(os.environ.get("PQ_BENCH_STREAM_BATCHES", "10"))
    batch_rows = int(os.environ.get("PQ_BENCH_STREAM_BATCH_ROWS", "50000"))
    # staleness 0.15: the due batch 4 (250k appended / 1.3M rows = 0.19)
    # fires the rebuild MID-stream, so the async deferral path actually
    # exercises under measurement — batches 5+ park rows while the
    # retrain overlaps (0.2 only fired at the final batch)
    maintain_every, k, nprobe = 5, 100, 16
    stale_threshold = 0.15

    src = generate(n_rows=n_rows, dim=dim)
    cached_idx = os.path.join(os.path.dirname(src), f"scale_idx_{n_rows}x{dim}")
    work = tempfile.mkdtemp(prefix="pq_bench_stream_")
    out = os.path.join(work, "indexed")
    in_dir = os.path.join(work, "incoming")
    chk = os.path.join(work, "chk")
    os.makedirs(in_dir)
    try:
        t0 = _time.time()
        if os.path.isdir(cached_idx):
            # the scale section just (re)built this layout — stream into a
            # private copy so appends/rebuilds never dirty the shared cache
            shutil.copytree(cached_idx, out)
        else:
            build_index(spark, src, out, column="embedding")
        setup_sec = round(_time.time() - t0, 3)
        base = index_health(spark, out)
        # fresh rows from the same mixture, ids far past every existing one
        for i in range(n_batches):
            p = generate(
                n_rows=batch_rows,
                dim=dim,
                point_seed=7000 + i,
                start_id=10_000_000 + i * batch_rows,
            )
            dst = os.path.join(in_dir, f"batch-{i:02d}.parquet")
            if not os.path.exists(dst):
                shutil.copy2(p, dst)

        schema = spark.read.parquet(in_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        events: list = []
        t_start = _time.time()
        last = [t_start]

        def hook(batch_id, res):
            now = _time.time()
            events.append({"batch": int(batch_id), "sec": round(now - last[0], 3), **res})
            last[0] = now

        q = (
            streaming_index_ingest(
                stream,
                out,
                checkpoint=chk,
                maintain_index=True,
                maintain_codes=False,
                maintain_every=maintain_every,
                stale_threshold=stale_threshold,
                maintenance_mode="async",
                on_maintenance=hook,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream_sec = round(_time.time() - t_start, 3)

        qvec = [
            float(x)
            for x in spark.read.parquet(src)
            .filter("vec_id = 0")
            .collect()[0]["embedding"]
        ]

        # Mid-rebuild freshness (r13, r12 verdict #6): the stream just
        # ended with the rebuild (usually) still in flight and batches
        # 5+ parked — the exact window where a plain indexed_topk sees a
        # stale layout and NONE of the parked rows. Measure recall of
        # indexed_topk_with_pending (layout top-k ∪ brute-forced pending
        # slice) against brute force over ALL ingested rows, plus the
        # plain query's recall against the same truth for contrast.
        from pq_vector_spark.streaming.ingest import (
            _list_pending,
            indexed_topk_with_pending,
        )

        mid_recall = mid_plain_recall = mid_query_sec = None
        mid_pending_rows = 0
        pend_dirs = _list_pending(spark, out)
        if pend_dirs:
            pend_df = spark.read.parquet(*pend_dirs)
            mid_pending_rows = pend_df.count()
            mid_all = (
                spark.read.parquet(out).drop(CLUSTER_COL).unionByName(pend_df)
            )
            mid_truth = {
                r["vec_id"]
                for r in brute_force_topk(
                    mid_all, "embedding", qvec, k, tie_break="vec_id"
                ).collect()
            }
            t0 = _time.time()
            mid_got = {
                r["vec_id"]
                for r in indexed_topk_with_pending(
                    spark, out, qvec, k,
                    options=VectorTopKOptions(nprobe=nprobe),
                    tie_break="vec_id",
                ).collect()
            }
            mid_query_sec = round(_time.time() - t0, 3)
            mid_plain = {
                r["vec_id"]
                for r in indexed_topk(
                    spark, out, qvec, k,
                    options=VectorTopKOptions(nprobe=nprobe),
                    tie_break="vec_id",
                ).collect()
            }
            mid_recall = round(len(mid_got & mid_truth) / k, 4)
            mid_plain_recall = round(len(mid_plain & mid_truth) / k, 4)

        # the stream may end with the rebuild still running: finish it and
        # fold any still-parked batches in (exactly what a restarted
        # stream's first batch would do)
        t0 = _time.time()
        wait_for_async_rebuild(out, timeout=3600)
        rebuild_wait_sec = round(_time.time() - t0, 3)
        t0 = _time.time()
        tail_drained = drain_pending_appends(spark, out)
        tail_drain_sec = round(_time.time() - t0, 3)

        post = index_health(spark, out)
        full = spark.read.parquet(out).drop(CLUSTER_COL)
        truth = {
            r["vec_id"]
            for r in brute_force_topk(
                full, "embedding", qvec, k, tie_break="vec_id"
            ).collect()
        }
        got = {
            r["vec_id"]
            for r in indexed_topk(
                spark, out, qvec, k,
                options=VectorTopKOptions(nprobe=nprobe), tie_break="vec_id",
            ).collect()
        }
        append_secs = [
            e["sec"] for e in events if not e.get("drained")
        ]
        return {
            "base_rows": int(base["row_count"]),
            "dim": dim,
            "n_batches": n_batches,
            "batch_rows": batch_rows,
            "maintain_every": maintain_every,
            "stale_threshold": stale_threshold,
            "maintenance_mode": "async",
            "setup_sec": setup_sec,
            "stream_total_sec": stream_sec,
            "appended_rows": int(sum(e["appended"] for e in events)),
            "per_batch_sec": [e["sec"] for e in events],
            # max batch latency with the rebuild OFF the batch path — the
            # r11 inline run's equivalent figure was the 59.2 s batch 9
            "append_sec_max": max(append_secs) if append_secs else None,
            "deferred_batches": [e["batch"] for e in events if e.get("deferred")],
            "rebuild_started_batches": [
                e["batch"] for e in events if e.get("rebuild_started")
            ],
            "rebuild_completed_batches": [
                e["batch"] for e in events if e.get("rebuilt")
            ],
            "drain_batch_rows": [
                int(e["drained"]) for e in events if e.get("drained")
            ],
            "drain_batch_sec": [e["sec"] for e in events if e.get("drained")],
            "post_stream_rebuild_wait_sec": rebuild_wait_sec,
            # mid-rebuild freshness (r13): recall against ALL ingested
            # rows while the rebuild is still in flight — the pending
            # union closes what the plain query misses
            "mid_rebuild_pending_rows": int(mid_pending_rows),
            "mid_rebuild_recall_with_pending": mid_recall,
            "mid_rebuild_recall_plain": mid_plain_recall,
            "mid_rebuild_query_sec": mid_query_sec,
            "tail_drained_rows": int(tail_drained),
            "tail_drain_sec": tail_drain_sec,
            "post_rows": int(post["row_count"]),
            "post_n_clusters": int(post["n_clusters"]),
            "post_stale": bool(post["stale"]),
            "recall_at_100": round(len(got & truth) / k, 4),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
