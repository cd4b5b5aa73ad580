"""corpus_dedup: exact dedup, MinHash LSH pairs and duplicate resolution.

Each op runs the curation chain over a fresh seeded corpus from
``tools/gen_scale_docs`` (85% unique base docs, then half exact copies and
half 3-word-substitution near copies of random base docs):
``exact_dedup`` → ``minhash_lsh_pairs`` → ``resolve_duplicates``. The op is
timed from reading the corpus to the last action; input generation and the
pandas ground truth are not.

Set-up (``setup_s``): ``get_spark``, then ``warm_ops`` untimed warm-up ops
on fresh corpora of the timed size; ``setup_s`` is the CPU seconds of all
of them. The JVM keeps getting cheaper over its first dedup ops as the JIT
compiles them: on 4 vCPUs the six warm-ups cost about 46, 16, 12, 10, 8
and 7.5 CPU seconds and the ops after them 6-7; the warm-ups take the
steepest part of that curve out of the timed window.

Checks per op: the exact groups match pandas (distinct texts, total docs,
groups with copies); every LSH pair has ``id_a < id_b`` and Jaccard at or
above the threshold; every canonical id is at most the doc's own id; no
base doc resolves to another doc (base docs are random word strings, so a
link between two of them is a false positive). The run's ``recall`` — the
share of planted duplicates resolved to a canonical other than themselves —
must reach ``RECALL_FLOOR``.
"""

from __future__ import annotations

import os
import time

from common import (
    Stopwatch, generic_layers, layer_stats, load_tool, median, metric, start_session,
    trace_overhead,
)

SIZES = {
    "full": dict(n_docs=3_000, warm_ops=6),
    "tiny": dict(n_docs=300, warm_ops=2),
}
BASE_SHARE = 0.85  # the generator's unique-base cut: ids at or above it are duplicates
THRESHOLD = 0.5  # minhash_lsh_pairs default Jaccard threshold
RECALL_FLOOR = 0.7


class Corpus:
    def __init__(self, run, n_docs: int, seed: int):
        import pyarrow.parquet as pq

        gen = load_tool("gen_scale_docs")
        out_dir = os.path.join(run.run_dir, "inputs", f"docs_n{n_docs}_s{seed}_v5000")
        self.path = gen.generate(n_docs, seed=seed, vocab_size=5_000, out_dir=out_dir)
        texts = pq.read_table(self.path).column("text").to_pandas()
        counts = texts.value_counts()
        self.n_docs = n_docs
        self.n_base = int(n_docs * BASE_SHARE)
        self.distinct = int(len(counts))
        self.copied = int((counts > 1).sum())


def run(run):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pq_vector_spark.operators import dedup
    from pq_vector_spark.plans.explain import observed_metrics
    from tracing import SpanTree, attribute

    cfg = SIZES["tiny" if run.tiny else "full"]
    get_spark = start_session(run)
    spark = run.spark
    tr = run.tracer
    stats = []  # per completed op

    def dedup_op(corpus, observation=None, parts=False):
        spark.catalog.clearCache()
        with Stopwatch(parts) as sw, tr.span("op.dedup") as sp:
            t0 = time.perf_counter()
            docs = spark.read.parquet(corpus.path)
            with tr.span("operators.dedup.exact"):
                ex = dedup.exact_dedup(docs, "text", "doc_id").agg(
                    F.count(F.lit(1)).alias("groups"),
                    F.sum("n_dups").alias("docs"),
                    F.sum((F.col("n_dups") > 1).cast("int")).alias("copied"),
                ).collect()[0]
            t_exact = time.perf_counter() - t0
            with tr.span("operators.dedup.minhash"):
                pairs = dedup.minhash_lsh_pairs(
                    docs, "text", "doc_id", threshold=THRESHOLD, observation=observation
                ).persist()
                n_pairs = pairs.count()
            with tr.span("operators.dedup.resolve"):
                # the links come back to the driver instead of being counted
                # against a size-dependent literal: every op then runs the
                # same generated code whatever the corpus size
                links = dedup.resolve_duplicates(docs, pairs, "doc_id").filter(
                    F.col("canonical_id") != F.col("doc_id")
                ).select("doc_id", "canonical_id").collect()
        bad = sum(r["canonical_id"] > r["doc_id"] for r in links)
        false_pos = sum(r["doc_id"] < corpus.n_base for r in links)
        pair_check = pairs.agg(
            F.min("jaccard").alias("min_j"),
            F.sum((F.col("id_a") >= F.col("id_b")).cast("int")).alias("unordered"),
        ).collect()[0]
        pairs.unpersist()
        ok = (
            ex["groups"] == corpus.distinct
            and ex["docs"] == corpus.n_docs
            and ex["copied"] == corpus.copied
            and n_pairs > 0
            and pair_check["min_j"] >= THRESHOLD
            and not pair_check["unordered"]
            and not bad
            and not false_pos
        )
        return ok, {
            "wall": sw.wall,
            "cpu": sw.cpu,
            "parts": sw.parts,
            "exact_s": t_exact,
            "pairs": n_pairs,
            "found": len(links) - false_pos,
            "planted": corpus.n_docs - corpus.n_base,
            "docs": corpus.n_docs,
            "span": sp,
            "dropped_bucket_rows": (
                observed_metrics(observation, execute=False).get("dropped_bucket_rows", 0)
                if observation is not None else None
            ),
        }

    # ---- set-up: untimed warm-up ops, one fresh corpus each ---------------
    # (warm-ups that all ran on one corpus left the first timed op, the
    # first on new data, 0.5-1 CPU second dearer than the next ones)
    reps = []
    for rep in range(cfg["warm_ops"]):
        corpus = Corpus(run, cfg["n_docs"], seed=10_000 + 100 * run.seed + rep)
        with Stopwatch() as sw, tr.span("setup.rep"):
            ok, _ = dedup_op(corpus)
        reps.append(sw)
        if not ok:
            run.fail(f"set-up op {rep}")

    # ---- timed window: one fresh corpus per op ----------------------------
    seconds = run.args.seconds
    op_time = 0.0
    traced_cpus, untraced_cpus, op_roots = [], [], []
    n_ops = 0
    while op_time < seconds or n_ops < 2:  # a traced run needs a traced and an untraced op
        corpus = Corpus(run, cfg["n_docs"], seed=20_000 + 1_000 * run.seed + n_ops)
        traced = bool(run.args.trace) and n_ops % 2 == 0
        tr.enabled = traced
        observation = Observation(f"lsh{n_ops}") if traced else None
        outcome = {}

        def one():
            ok, out = dedup_op(corpus, observation, parts=traced)
            outcome.update(out)
            return ok

        run.op("dedup", one)
        n_ops += 1
        if outcome:
            stats.append(outcome)
            op_time += outcome["wall"]
            (traced_cpus if traced else untraced_cpus).append(outcome["cpu"])
            if traced:
                op_roots.append(outcome["span"].id)
        else:
            op_time = seconds  # a raising op ends the window
    tr.enabled = False

    found = sum(s["found"] for s in stats)
    planted = sum(s["planted"] for s in stats)
    recall = found / planted if planted else 0.0
    if recall < RECALL_FLOOR:
        run.fail(f"dedup recall {recall:.3f} below floor {RECALL_FLOOR}")
    walls = [s["wall"] for s in stats]
    cpus = [s["cpu"] for s in stats]
    docs = sum(s["docs"] for s in stats)
    e2e = {
        "setup_s": metric(get_spark.cpu + sum(r.cpu for r in reps), "s"),
        "op_cpu_s": metric(sum(cpus) / len(cpus) if cpus else 0.0, "s"),
        "items_per_cpu_s": metric(docs / sum(cpus) if cpus else 0.0, "1/s"),
        "recall": metric(recall, "ratio"),
    }
    detail = {
        "workload": "corpus_dedup",
        "config": cfg,
        "ops": len(stats),
        "op_wall_p50_s": median(walls) if walls else None,
        "items_per_wall_s": docs / sum(walls) if walls else None,
        "setup_wall_s": get_spark.wall + sum(r.wall for r in reps),
        "setup_rep_s": [r.wall for r in reps],
        "setup_rep_cpu_s": [r.cpu for r in reps],
        "get_spark_s": get_spark.wall,
        "get_spark_cpu_s": get_spark.cpu,
        "pairs": [s["pairs"] for s in stats],
        "op_walls": [round(w, 3) for w in walls],
        "op_cpus": [round(c, 3) for c in cpus],
        "op_cpu_parts": [
            {k: round(v, 2) for k, v in s["parts"].items()} for s in stats if s["parts"]
        ],
        "exact_stage_p50_s": median([s["exact_s"] for s in stats]) if stats else None,
    }
    layers = {}
    if run.args.trace:
        # candidate pairs before verification, for the verify yield
        last = Corpus(run, cfg["n_docs"], seed=20_000 + 1_000 * run.seed + n_ops)
        cands = dedup.minhash_lsh_pairs(
            spark.read.parquet(last.path), "text", "doc_id", threshold=THRESHOLD, verify=False
        ).count()
        verified = dedup.minhash_lsh_pairs(
            spark.read.parquet(last.path), "text", "doc_id", threshold=THRESHOLD
        ).count()
        spark.catalog.clearCache()
        tree = SpanTree(tr, attribute(tr, spark.sparkContext))
        overhead = trace_overhead({"dedup": (traced_cpus, untraced_cpus)})
        op_parts = [s["parts"] for s in stats if s["parts"] is not None]
        layers = generic_layers(run, tree, op_roots, op_parts, get_spark, overhead, reps[0])
        spans = {}
        for name in (
            "operators.dedup.exact", "operators.dedup.minhash", "operators.dedup.resolve",
            "operators.dedup.exact_dedup", "operators.dedup.minhash_lsh_pairs",
            "operators.dedup.resolve_duplicates", "operators.dedup.connected_components",
        ):
            spans[name] = layer_stats(tree, op_roots, name)
        spans = {k: v for k, v in spans.items() if v}

        def wall(name):
            return spans.get(name, {}).get("wall_s", 0.0)

        traced_stats = [s for s in stats if s["dropped_bucket_rows"] is not None]
        out = {
            "operators.dedup.exact_s": wall("operators.dedup.exact"),
            "operators.dedup.minhash_s": wall("operators.dedup.minhash"),
            "operators.dedup.components_s": wall("operators.dedup.connected_components"),
            "operators.dedup.resolve_s": (
                wall("operators.dedup.resolve") - wall("operators.dedup.connected_components")
            ),
            "operators.dedup.pairs": median([s["pairs"] for s in stats]),
            "operators.dedup.dropped_bucket_rows": (
                median([s["dropped_bucket_rows"] for s in traced_stats]) if traced_stats else 0
            ),
            "operators.dedup.verify_yield": verified / cands if cands else 0.0,
            "spans": spans,
        }
        detail["layers"] = out
    return e2e, layers, detail
