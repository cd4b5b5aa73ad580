"""Index lifecycle tests: build → sidecar → indexed search → exactness
envelope + recall (reference levels 1, 2, 5 of SURVEY.md §5)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_vector_spark.index.build import CLUSTER_COL, build_index, has_index
from pq_vector_spark.index.search import IndexError_, indexed_topk, ivf_topk_adhoc, load_index
from pq_vector_spark.operators.topk import brute_force_topk
from pq_vector_spark.schema import VectorSchemaError
from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions


@pytest.fixture(scope="module")
def indexed_table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("idx")
    src = str(base / "src.parquet")
    out = str(base / "indexed")
    rng = np.random.default_rng(1234)
    rows = [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(2000)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    meta = build_index(
        spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=16)
    )
    return {"src": src, "out": out, "meta": meta}


def test_build_writes_sidecar_and_meta(spark, indexed_table):
    assert has_index(indexed_table["out"])
    idx = load_index(spark, indexed_table["out"])
    assert idx.meta["n_clusters"] == 16
    assert idx.meta["dim"] == 8
    assert idx.centroids.shape == (16, 8)


def test_indexed_table_is_plain_parquet(spark, indexed_table):
    """Capability contract: an indexed table stays readable by any reader
    (≙ reference README.md:9-10 'standard readers ignore the index')."""
    df = spark.read.parquet(indexed_table["out"])
    assert df.count() == 2000
    assert CLUSTER_COL in df.columns  # the only addition


def test_exactness_envelope(spark, indexed_table):
    """nprobe ≥ n_clusters ⇒ identical to brute force
    (≙ nprobe.min(n_clusters) guarantee, src/ivf/index.rs:131)."""
    q = [0.5] * 8
    exact = [
        r["id"]
        for r in brute_force_topk(
            spark.read.parquet(indexed_table["src"]), "vec", q, 20, tie_break="id"
        )
        .select("id")
        .collect()
    ]
    got = [
        r["id"]
        for r in indexed_topk(
            spark,
            indexed_table["out"],
            q,
            20,
            options=VectorTopKOptions(nprobe=16),
            tie_break="id",
        )
        .select("id")
        .collect()
    ]
    assert got == exact


def test_recall_at_small_nprobe(spark, indexed_table):
    """recall@k vs brute force (≙ reference recall harness,
    benches/query.rs:562-569) — nprobe=4/16 must recover most neighbors."""
    q = [0.5] * 8
    exact = {
        r["id"]
        for r in brute_force_topk(
            spark.read.parquet(indexed_table["src"]), "vec", q, 20, tie_break="id"
        )
        .select("id")
        .collect()
    }
    got = {
        r["id"]
        for r in indexed_topk(
            spark,
            indexed_table["out"],
            q,
            20,
            options=VectorTopKOptions(nprobe=4),
            tie_break="id",
        )
        .select("id")
        .collect()
    }
    assert len(got & exact) / 20 >= 0.5


def test_filter_after_pruning(spark, indexed_table):
    """User predicates rank only surviving candidates
    (≙ src/df_vector/tests.rs:152-241 FilterExec-above-scan semantics)."""
    q = [0.5] * 8
    out = indexed_topk(
        spark,
        indexed_table["out"],
        q,
        5,
        options=VectorTopKOptions(nprobe=16),
        pre_filter=F.col("id") >= 1000,
        tie_break="id",
    ).collect()
    assert all(r["id"] >= 1000 for r in out)
    assert len(out) == 5


def test_max_candidates_cap(spark, indexed_table):
    out = indexed_topk(
        spark,
        indexed_table["out"],
        [0.5] * 8,
        5,
        options=VectorTopKOptions(nprobe=16, max_candidates=50),
        tie_break="id",
    ).collect()
    assert len(out) == 5


def test_query_dim_mismatch_errors(spark, indexed_table):
    # ≙ src/ivf/search.rs:91-98
    with pytest.raises(IndexError_):
        indexed_topk(spark, indexed_table["out"], [0.5] * 3, 5)


def test_wrong_column_errors(spark, indexed_table):
    # ≙ src/df_vector/index_exec.rs:123-129
    with pytest.raises(IndexError_):
        indexed_topk(spark, indexed_table["out"], [0.5] * 8, 5, column="nope")


def test_build_rejects_nulls(spark, tmp_path):
    # ≙ build-time strictness, src/ivf/parquet.rs:241-264
    df = spark.createDataFrame([(0, [1.0, 2.0]), (1, None)], "id INT, vec ARRAY<FLOAT>")
    src = str(tmp_path / "null.parquet")
    df.write.parquet(src)
    with pytest.raises(VectorSchemaError):
        build_index(spark, src, str(tmp_path / "out"))


def test_build_rejects_ragged(spark, tmp_path):
    # ≙ src/ivf/parquet.rs:266-279
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0])], "id INT, vec ARRAY<FLOAT>"
    )
    src = str(tmp_path / "ragged.parquet")
    df.write.parquet(src)
    with pytest.raises(VectorSchemaError):
        build_index(spark, src, str(tmp_path / "out"))


def test_n_clusters_exceeding_rows_errors(spark, tmp_path):
    # ≙ src/ivf/index.rs:168-170
    df = spark.createDataFrame([(0, [1.0, 2.0])], "id INT, vec ARRAY<FLOAT>")
    src = str(tmp_path / "one.parquet")
    df.write.parquet(src)
    with pytest.raises(VectorSchemaError):
        build_index(
            spark, src, str(tmp_path / "out"), options=IndexBuildOptions(n_clusters=5)
        )


def test_adhoc_ivf_exact_envelope(spark, golden_vectors):
    got = [
        r["id"]
        for r in ivf_topk_adhoc(
            golden_vectors, "vec", [0.0, 0.0], 3, n_clusters=3, nprobe=3, tie_break="id"
        )
        .select("id")
        .collect()
    ]
    assert got == [0, 5, 1]


def test_has_index_file_url_and_hadoop_fs(spark, indexed_table):
    """The probe works on URL-form paths, and the sidecar reader gives the
    same sidecar for a file:// URL as for the plain path."""
    from pq_vector_spark.index.build import _hadoop_glob
    from pq_vector_spark.index.search import _load_sidecar

    url = "file://" + indexed_table["out"]
    assert has_index(url, spark=spark)
    assert _hadoop_glob(spark, f"{url}/_pq_index/meta/part-*")
    meta, cents, _, _ = _load_sidecar(spark, url)
    idx = load_index(spark, indexed_table["out"])
    assert meta == idx.meta
    assert np.array_equal(cents, idx.centroids)


def test_has_index_unreachable_fs_raises(spark):
    """An unreachable filesystem must RAISE, never silently report 'no
    index' (silent degradation to brute force was the round-1 gap)."""
    with pytest.raises(Exception):
        has_index("hdfs://nonexistent-host-zz:9000/some/table", spark=spark)


def test_load_index_missing_sidecar_raises(spark, tmp_path):
    df = spark.createDataFrame([(0, [1.0, 2.0])], "id INT, vec ARRAY<FLOAT>")
    plain = str(tmp_path / "plain")
    df.write.parquet(plain)
    with pytest.raises(IndexError_):
        load_index(spark, "file://" + plain)


def test_capped_query_has_no_eager_count_and_respects_cap(spark, indexed_table):
    """max_candidates uses build-time file metadata (no distinct().count()
    job) and the observed candidate count never exceeds the cap."""
    from pyspark.sql import Observation

    assert "file_stats" in indexed_table["meta"]
    obs = Observation("cap_check")
    out = indexed_topk(
        spark,
        indexed_table["out"],
        [0.5] * 8,
        5,
        options=VectorTopKOptions(nprobe=16, max_candidates=64),
        tie_break="id",
        observation=obs,
    )
    assert len(out.collect()) == 5
    assert obs.get["candidate_rows"] <= 64


def test_capped_combined_exact_when_cap_covers_rows(spark, indexed_table):
    """Reference 'combined' shape: filter + cap. nprobe=all and cap >= rows
    leaves the result exactly the filtered brute force."""
    q = [0.25] * 8
    exact = [
        r["id"]
        for r in brute_force_topk(
            spark.read.parquet(indexed_table["src"]).filter(F.col("id") >= 500),
            "vec", q, 10, tie_break="id",
        ).select("id").collect()
    ]
    got = [
        r["id"]
        for r in indexed_topk(
            spark,
            indexed_table["out"],
            q,
            10,
            options=VectorTopKOptions(nprobe=16, max_candidates=1_000_000),
            pre_filter=F.col("id") >= 500,
            tie_break="id",
        ).select("id").collect()
    ]
    assert got == exact


def test_build_narrows_double_vectors_to_float(spark, tmp_path):
    """f64 input narrows to f32 at build (reference parity,
    src/ivf/parquet.rs:287-291): values off the f32 grid land ON the grid in
    the layout, and a float-input build produces identical stored vectors."""
    vals = [0.1, 0.2, 1.0 / 3.0, 0.7, 1e-9, 123456.789, 0.30000000000000004, 2.5]
    rows_d = [(i, [float(v) + i for v in vals]) for i in range(8)]
    src_d = str(tmp_path / "dbl.parquet")
    src_f = str(tmp_path / "flt.parquet")
    spark.createDataFrame(rows_d, "id INT, vec ARRAY<DOUBLE>").write.parquet(src_d)
    spark.createDataFrame(rows_d, "id INT, vec ARRAY<DOUBLE>").select(
        "id", F.col("vec").cast("array<float>").alias("vec")
    ).write.parquet(src_f)
    out_d = str(tmp_path / "out_d")
    out_f = str(tmp_path / "out_f")
    build_index(spark, src_d, out_d, column="vec", options=IndexBuildOptions(n_clusters=2))
    build_index(spark, src_f, out_f, column="vec", options=IndexBuildOptions(n_clusters=2))
    got_d = dict(spark.read.parquet(out_d).select("id", "vec").collect())
    got_f = dict(spark.read.parquet(out_f).select("id", "vec").collect())
    assert dict(spark.read.parquet(out_d).dtypes)["vec"] == "array<float>"
    for i in got_f:
        assert got_d[i] == got_f[i]
    expected0 = np.asarray([v for v in vals], dtype=np.float32)
    assert np.array_equal(np.asarray(got_d[0], dtype=np.float32), expected0)


# ---------------- exact interleaved cap (round-3) ----------------


def test_round_robin_quotas_fill_cap_under_skew():
    """One file holding 90% of candidates must still fill the cap exactly
    (≙ the reference's cursor totals, src/df_vector/access.rs:193-243) —
    the old floor(cap/n_files) quota under-filled here."""
    from pq_vector_spark.index.search import _round_robin_quotas

    counts = {"a": 900, "b": 50, "c": 50}
    q = _round_robin_quotas(counts, 200)
    assert sum(q.values()) == 200
    assert q["b"] == 50 and q["c"] == 50 and q["a"] == 100  # water level fills
    # cap below file count: still exactly cap rows, one each from the first
    q2 = _round_robin_quotas(counts, 2)
    assert sum(q2.values()) == 2
    # no capping needed
    q3 = _round_robin_quotas(counts, 5000)
    assert q3 == counts
    # extreme skew: everything in one file
    q4 = _round_robin_quotas({"only": 10_000}, 64)
    assert q4 == {"only": 64}


def test_cap_candidates_exact_under_file_skew(spark, tmp_path):
    """End-to-end: a directory whose files hold 90/10 of the rows, capped —
    exactly `cap` rows survive, interleaved by the computed quotas."""
    from pq_vector_spark.index.search import _cap_candidates, _round_robin_quotas

    d = str(tmp_path / "skew")
    spark.createDataFrame(
        [(i,) for i in range(900)], "id INT"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(
        [(i,) for i in range(900, 1000)], "id INT"
    ).coalesce(1).write.mode("append").parquet(d)
    df = spark.read.parquet(d)
    rows = df.groupBy(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f")).count().collect()
    counts = {r["f"]: int(r["count"]) for r in rows}
    assert sorted(counts.values()) == [100, 900]
    cap = 250
    quotas = _round_robin_quotas(counts, cap)
    capped = _cap_candidates(df, quotas)
    ids = [r["id"] for r in capped.collect()]
    assert len(ids) == cap
    # per-file survivor counts match the quotas (file1 wrote ids 0-899,
    # file2 ids 900-999; input_file_name is gone after the window shuffle,
    # so verify provenance through the id ranges)
    n_big = sum(1 for i in ids if i < 900)
    n_small = sum(1 for i in ids if i >= 900)
    by_file = {f: q for f, q in quotas.items()}
    assert sorted(by_file.values()) == sorted([n_big, n_small])
    assert n_small == 100  # the small file contributes everything it has


def test_capped_query_fills_cap_exactly(spark, indexed_table):
    """Binding cap on the real indexed path: candidate_rows == cap exactly
    (counts come from build-time meta, zero extra jobs)."""
    from pyspark.sql import Observation

    fs = indexed_table["meta"]["file_stats"]
    assert all("counts" in f for f in fs)
    obs = Observation("cap_exact")
    out = indexed_topk(
        spark,
        indexed_table["out"],
        [0.5] * 8,
        5,
        options=VectorTopKOptions(nprobe=16, max_candidates=64),
        tie_break="id",
        observation=obs,
    )
    assert len(out.collect()) == 5
    # nprobe=16 == n_clusters -> all 2000 rows are candidates; cap binds
    assert obs.get["candidate_rows"] == 64


# ---------------- Hadoop-complete build path (round-3) ----------------


def test_hadoop_build_path_keeps_file_stats(spark, tmp_path):
    """A build given file:// URLs keeps the full file_stats (+ per-cluster
    counts), and its sidecar reads back identically through the plain path
    and the URL."""
    rng = np.random.default_rng(77)
    src = str(tmp_path / "hsrc.parquet")
    out = str(tmp_path / "hout")
    rows = [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(500)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").repartition(2).write.parquet(src)

    meta = build_index(
        spark, "file://" + src, "file://" + out,
        column="vec", options=IndexBuildOptions(n_clusters=8),
    )
    assert "file_stats" in meta and all("counts" in f for f in meta["file_stats"])
    # sidecar readable through both path forms
    idx = load_index(spark, out)
    assert idx.meta["file_stats"] == meta["file_stats"]
    from pq_vector_spark.index.search import _load_sidecar

    hmeta, hcents, _, _ = _load_sidecar(spark, "file://" + out)
    assert hmeta == idx.meta and hcents.shape == (8, 8)

    # capped round-trip on the hadoop-built layout
    from pyspark.sql import Observation

    obs = Observation("hadoop_cap")
    got = indexed_topk(
        spark, out, [0.5] * 8, 5,
        options=VectorTopKOptions(nprobe=8, max_candidates=32),
        tie_break="id", observation=obs,
    )
    assert len(got.collect()) == 5
    assert obs.get["candidate_rows"] == 32


def test_hadoop_sidecar_and_footer_io_run_zero_jobs(spark, tmp_path):
    """The driver-side Hadoop FS sidecar write + footer stats read must not
    launch Spark jobs (the reference's object-store footer I/O is likewise
    job-free, src/ivf/parquet.rs:176-208)."""
    import numpy as _np

    import pq_vector_spark.index.build as B

    d = str(tmp_path / "zj")
    spark.createDataFrame(
        [(i, i % 4) for i in range(100)], f"id INT, {CLUSTER_COL} INT"
    ).coalesce(1).write.parquet(d)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    stats = B._collect_file_stats(spark, "file://" + d)
    B._write_sidecar(
        spark, "file://" + d, _np.zeros((4, 8), dtype=_np.float32), {"probe": 1}
    )
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert stats and stats[0]["groups"]
    assert after == before, f"unexpected Spark jobs: {sorted(after - before)}"


def test_cluster_pushdown_exact_without_conf_mutation(spark, indexed_table):
    """Probe sets larger than the parquet IN threshold must still push an
    EXACT cluster predicate (OR-of-equals chain, translated by parquet-mr
    with no threshold) — with zero session-conf mutation, and surviving
    re-planning of DataFrames DERIVED from the returned one (the old
    save/restore only protected the plan frozen inside the call)."""
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "10")  # low enough that nprobe=16 exceeds it
    try:
        out = indexed_topk(
            spark,
            indexed_table["out"],
            [0.5] * 8,
            5,
            options=VectorTopKOptions(nprobe=16),
            tie_break="id",
        )
        assert spark.conf.get(key) == "10", "conf mutated by indexed_topk"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert f"EqualTo({CLUSTER_COL}" in plan, "exact cluster pushdown lost"
        # a DERIVED DataFrame re-plans from scratch — pushdown must survive
        derived = out.select(out.columns[0])
        dplan = derived._jdf.queryExecution().executedPlan().toString()
        assert f"EqualTo({CLUSTER_COL}" in dplan, "pushdown lost on derivation"
        assert len(out.collect()) == 5
        assert spark.conf.get(key) == "10"
    finally:
        spark.conf.set(key, prev)


def test_append_to_index_exactness_and_metadata(spark, tmp_path):
    """Append new rows to an existing layout (≙ reference in-place append):
    nprobe=all over the appended table must equal brute force over the
    UNION, counts metadata must cover every row, and the layout must stay
    plain parquet."""
    from pq_vector_spark.index.build import append_to_index

    rng = np.random.default_rng(77)
    mk = lambda lo, hi: [
        (int(i), [float(x) for x in rng.random(6, dtype=np.float32)])
        for i in range(lo, hi)
    ]
    src_a = str(tmp_path / "a.parquet")
    src_b = str(tmp_path / "b.parquet")
    out = str(tmp_path / "indexed")
    spark.createDataFrame(mk(0, 600), "id INT, vec ARRAY<FLOAT>").write.parquet(src_a)
    spark.createDataFrame(mk(600, 1000), "id INT, vec ARRAY<FLOAT>").write.parquet(src_b)
    meta0 = build_index(spark, src_a, out, column="vec", options=IndexBuildOptions(n_clusters=8))
    meta1 = append_to_index(spark, src_b, out)

    assert meta1["row_count"] == 1000
    assert meta1["n_clusters"] == meta0["n_clusters"]  # no retrain
    # counts metadata covers every row of the grown table
    total = sum(
        n for fs in meta1["file_stats"] for _, n in fs.get("counts", [])
    )
    assert total == 1000
    assert spark.read.parquet(out).count() == 1000  # plain parquet, all rows

    q = [0.5] * 6
    want = [
        r["id"]
        for r in brute_force_topk(
            spark.read.parquet(src_a).union(spark.read.parquet(src_b)),
            "vec", q, 15, tie_break="id",
        ).select("id").collect()
    ]
    got = [
        r["id"]
        for r in indexed_topk(
            spark, out, q, 15, options=VectorTopKOptions(nprobe=8), tie_break="id"
        ).select("id").collect()
    ]
    assert got == want
    # appended rows are reachable (ids ≥ 600 can appear in results)
    far = indexed_topk(
        spark, out, q, 1000, options=VectorTopKOptions(nprobe=8)
    ).count()
    assert far == 1000


def test_append_to_index_rejects_bad_input(spark, tmp_path, indexed_table):
    from pq_vector_spark.index.build import append_to_index
    from pq_vector_spark.index.search import IndexError_

    wrong_dim = spark.createDataFrame(
        [(1, [0.0, 1.0])], "id INT, vec ARRAY<FLOAT>"
    )
    with pytest.raises(IndexError_, match="dim"):
        append_to_index(spark, wrong_dim, indexed_table["out"])
    wrong_schema = spark.createDataFrame(
        [(1, [0.0] * 8, "x")], "id INT, vec ARRAY<FLOAT>, extra STRING"
    )
    with pytest.raises(VectorSchemaError, match="schema"):
        append_to_index(spark, wrong_schema, indexed_table["out"])
    with_cluster = spark.createDataFrame(
        [(1, [0.0] * 8, 0)], f"id INT, vec ARRAY<FLOAT>, {CLUSTER_COL} INT"
    )
    with pytest.raises(VectorSchemaError, match="raw table"):
        append_to_index(spark, with_cluster, indexed_table["out"])


def test_index_health_probe(spark, tmp_path):
    """Staleness gauge: fresh build reports zero appended mass; appends
    accumulate; threshold flips the stale flag. Zero Spark jobs (sidecar
    only)."""
    from pq_vector_spark.index.build import append_to_index, build_index, index_health
    from pq_vector_spark.session import IndexBuildOptions

    src = str(tmp_path / "src.parquet")
    idx = str(tmp_path / "indexed")
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(100)], "vec_id: bigint, embedding: array<float>"
    )
    df.write.parquet(src)
    build_index(spark, src, idx, column="embedding", options=IndexBuildOptions(n_clusters=4))

    h0 = index_health(spark, idx)
    assert h0["row_count"] == 100 and h0["appended_rows"] == 0
    assert h0["appended_fraction"] == 0.0 and not h0["stale"]

    extra = spark.createDataFrame(
        [(100 + i, [float(i), 1.0]) for i in range(30)],
        "vec_id: bigint, embedding: array<float>",
    )
    append_to_index(spark, extra, idx)
    h1 = index_health(spark, idx)
    assert h1["row_count"] == 130 and h1["appended_rows"] == 30
    assert h1["stale"]  # 30/130 ≈ 0.23 ≥ 0.2
    assert not index_health(spark, idx, stale_threshold=0.5)["stale"]


def test_auto_rebuild_if_stale(spark, tmp_path):
    """The staleness loop closes (r6 ask #7): heavy appends push
    index_health past the threshold, auto_rebuild_if_stale retrains over
    the FULL table + swaps the layout, the sidecar reads fresh
    (appended_rows back to 0), and recall at nprobe = n_clusters is 1.0
    over old AND appended rows."""
    from pq_vector_spark.index.build import auto_rebuild_if_stale, index_health
    from pq_vector_spark.index.build import append_to_index

    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "indexed")
    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(300)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").write.parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=8))

    # healthy table: zero-job no-op
    res = auto_rebuild_if_stale(spark, out)
    assert res["rebuilt"] is False and res["health"]["stale"] is False

    appended = [
        (int(300 + i), [float(x) for x in rng.random(8, dtype=np.float32)])
        for i in range(200)
    ]
    append_to_index(
        spark, spark.createDataFrame(appended, "id INT, vec ARRAY<FLOAT>"), out
    )
    assert index_health(spark, out)["stale"] is True  # 200/500 = 0.4 >= 0.2

    res = auto_rebuild_if_stale(spark, out)
    assert res["rebuilt"] is True
    h = index_health(spark, out)
    assert h["stale"] is False and h["appended_rows"] == 0
    assert h["row_count"] == 500
    # n_clusters re-derived for the grown table: ceil(sqrt(500)) = 23
    assert h["n_clusters"] == 23

    # recall over the merged table returns to exactly brute force
    q = [float(x) for x in rng.random(8)]
    nc = h["n_clusters"]
    got = [
        r["id"]
        for r in indexed_topk(
            spark, out, q, 20, options=VectorTopKOptions(nprobe=nc), tie_break="id"
        ).collect()
    ]
    full = spark.read.parquet(out).drop(CLUSTER_COL)
    want = [
        r["id"]
        for r in brute_force_topk(full, "vec", q, 20, tie_break="id").collect()
    ]
    assert got == want


def test_auto_rebuild_refreshes_codes_sidecar(spark, tmp_path):
    """A registered PQ codes sidecar is re-encoded against the fresh
    cluster assignment — otherwise its cluster ids silently mismatch the
    rebuilt layout and the interception route would prune wrongly."""
    from pq_vector_spark.index.build import append_to_index, auto_rebuild_if_stale
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )

    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "indexed")
    codes = str(tmp_path / "codes")
    rng = np.random.default_rng(8)
    rows = [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(300)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").write.parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=8))
    cb = train_pq(spark.read.parquet(src), "vec", m=4, nbits=8, seed=42)
    encode_indexed(spark, out, codes, "vec", "id", cb)
    register_codes_sidecar(out, codes, cb, id_col="id")
    try:
        appended = [
            (int(300 + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(200)
        ]
        append_to_index(
            spark, spark.createDataFrame(appended, "id INT, vec ARRAY<FLOAT>"), out
        )
        res = auto_rebuild_if_stale(spark, out)
        assert res["rebuilt"] is True
        codes_df = spark.read.parquet(codes)
        assert codes_df.count() == 500  # appended rows now encoded too
        # codes table cluster ids agree with the REBUILT layout row-by-row
        fresh = spark.read.parquet(out).select("id", F.col(CLUSTER_COL).alias("c2"))
        mism = (
            codes_df.select("id", CLUSTER_COL)
            .join(fresh, "id")
            .filter(F.col(CLUSTER_COL) != F.col("c2"))
            .count()
        )
        assert mism == 0
    finally:
        unregister_codes_sidecar(out)


def _small_stale_index(spark, tmp_path):
    """A 100+30-row indexed layout already past the staleness threshold."""
    from pq_vector_spark.index.build import append_to_index, build_index
    from pq_vector_spark.session import IndexBuildOptions

    src = str(tmp_path / "race_src.parquet")
    out = str(tmp_path / "race_indexed")
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(100)],
        "vec_id: bigint, embedding: array<float>",
    )
    df.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )
    extra = spark.createDataFrame(
        [(100 + i, [float(i), 1.0]) for i in range(30)],
        "vec_id: bigint, embedding: array<float>",
    )
    append_to_index(spark, extra, out)
    return out


def test_append_refused_while_rebuild_sentinel_held(spark, tmp_path):
    """The rebuild/append race is LOUD: while _pq_index/REBUILDING exists,
    append_to_index raises instead of writing rows the imminent directory
    swap would delete; clearing the sentinel lets appends resume."""
    import pq_vector_spark.index.build as B

    out = _small_stale_index(spark, tmp_path)
    B._acquire_rebuild_sentinel(spark, out)
    extra = spark.createDataFrame(
        [(500, [9.0, 9.0])], "vec_id: bigint, embedding: array<float>"
    )
    with pytest.raises(IOError, match="rebuild is in progress"):
        B.append_to_index(spark, extra, out)
    # two rebuilds can't race each other either
    with pytest.raises(IOError, match="already in progress"):
        B._acquire_rebuild_sentinel(spark, out)
    B._release_rebuild_sentinel(spark, out)
    meta = B.append_to_index(spark, extra, out)
    assert meta["row_count"] == 131


def test_rebuild_aborts_swap_on_concurrent_append(spark, tmp_path):
    """An append that slipped past the sentinel (started before it landed)
    moves the live sidecar's row count mid-build — the pre-swap
    verification must abort LOUDLY, leave the live layout untouched, drop
    the partial .rebuild directory, and clear the sentinel."""
    import os

    import pq_vector_spark.index.build as B
    from pq_vector_spark.index.build import INDEX_DIR, REBUILD_SENTINEL

    out = _small_stale_index(spark, tmp_path)
    real_build = B.build_index

    def racing_build(spark_, src, dst, **kw):
        meta = real_build(spark_, src, dst, **kw)
        # simulate the slipped-through append completing mid-rebuild:
        # its sidecar refresh bumps the LIVE layout's row count
        from pq_vector_spark.index.search import load_index

        idx = load_index(spark_, out)
        live = dict(idx.meta)
        live["row_count"] = int(live["row_count"]) + 1
        B._write_sidecar(spark_, out, idx.centroids, live)
        return meta

    orig = B.build_index
    B.build_index = racing_build
    try:
        with pytest.raises(IOError, match="concurrent append detected"):
            B.auto_rebuild_if_stale(spark, out)
    finally:
        B.build_index = orig
    # live layout intact (131 = the bumped count), no .rebuild debris,
    # sentinel cleared so appends resume
    assert not os.path.exists(out + ".rebuild")
    assert not os.path.isfile(os.path.join(out, INDEX_DIR, REBUILD_SENTINEL))
    assert spark.read.parquet(out).count() == 130
    extra = spark.createDataFrame(
        [(600, [8.0, 8.0])], "vec_id: bigint, embedding: array<float>"
    )
    B.append_to_index(spark, extra, out)


def test_rebuild_clears_sentinel_and_appends_resume(spark, tmp_path):
    """A successful rebuild leaves no sentinel behind (it vanishes with
    the retired directory) and appends work immediately after."""
    import os

    import pq_vector_spark.index.build as B
    from pq_vector_spark.index.build import INDEX_DIR, REBUILD_SENTINEL

    out = _small_stale_index(spark, tmp_path)
    res = B.auto_rebuild_if_stale(spark, out)
    assert res["rebuilt"] is True
    assert not os.path.isfile(os.path.join(out, INDEX_DIR, REBUILD_SENTINEL))
    extra = spark.createDataFrame(
        [(700, [7.0, 7.0])], "vec_id: bigint, embedding: array<float>"
    )
    meta = B.append_to_index(spark, extra, out)
    assert meta["row_count"] == 131


def test_rebuild_aborts_swap_on_sidecar_lagging_append(spark, tmp_path):
    """The r10 residual loss window: an append whose DATA files landed
    mid-build but whose sidecar write hadn't yet was invisible to the
    sidecar row-count verify — the pre-swap DATA count must catch it and
    abort, leaving the live layout (including the appended part-files)
    untouched."""
    import os

    import pq_vector_spark.index.build as B
    from pq_vector_spark.index.build import INDEX_DIR, REBUILD_SENTINEL

    out = _small_stale_index(spark, tmp_path)
    real_build = B.build_index
    real_write_sidecar = B._write_sidecar
    real_sentinel_exists = B._rebuild_sentinel_exists

    def racing_build(spark_, src, dst, **kw):
        meta = real_build(spark_, src, dst, **kw)
        # simulate the slipped-through append mid-rebuild, frozen BETWEEN
        # its data write and its sidecar write: part-files land, sidecar
        # row count stays at the pre-append value
        extra = spark_.createDataFrame(
            [(900, [5.0, 5.0])], "vec_id: bigint, embedding: array<float>"
        )
        B._rebuild_sentinel_exists = lambda *a, **k: False  # it started first
        B._write_sidecar = lambda *a, **k: None  # ...and hasn't synced yet
        try:
            B.append_to_index(spark_, extra, out)
        finally:
            B._rebuild_sentinel_exists = real_sentinel_exists
            B._write_sidecar = real_write_sidecar
        return meta

    B.build_index = racing_build
    try:
        with pytest.raises(IOError, match="concurrent append detected"):
            B.auto_rebuild_if_stale(spark, out)
    finally:
        B.build_index = real_build
    # swap aborted: appended data still present (131 = 130 + 1), no
    # .rebuild debris, sentinel cleared so appends resume
    assert spark.read.parquet(out).count() == 131
    assert not os.path.exists(out + ".rebuild")
    assert not os.path.isfile(os.path.join(out, INDEX_DIR, REBUILD_SENTINEL))


def test_load_index_sidecar_cache_hits_and_invalidates(spark, tmp_path):
    """Warm loads of the same layout must not re-parse the sidecar bytes
    (r10 measured ~0.4 s/query of fixed cold-path cost); any sidecar
    rewrite (append refresh, rebuild swap) invalidates via the meta
    file's (mtime, size) signature; returned meta dicts are per-call
    copies so a caller's mutation can't poison the cache."""
    import pq_vector_spark.index.search as S
    from pq_vector_spark.index.build import append_to_index, build_index
    from pq_vector_spark.session import IndexBuildOptions

    src = str(tmp_path / "cache_src.parquet")
    out = str(tmp_path / "cache_indexed")
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(100)],
        "vec_id: bigint, embedding: array<float>",
    )
    df.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )
    i1 = S.load_index(spark, out)
    # warm hit: no glob and no byte read, just one stat of the meta file
    stats = []
    real_stat = S._hadoop_stat

    def boom(*a, **k):
        raise AssertionError("sidecar globbed or re-read on a warm load")

    def stat(spark_, p):
        stats.append(p)
        return real_stat(spark_, p)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(S, "_hadoop_glob", boom)
        m.setattr(S, "_hadoop_read_bytes", boom)
        m.setattr(S, "_hadoop_stat", stat)
        i2 = S.load_index(spark, out)
    assert len(stats) == 1 and stats[0].endswith("/_pq_index/meta/part-00000")
    assert i2.meta == i1.meta
    assert i2.centroids is i1.centroids  # shared matrix, no re-parse
    # per-call meta copies: caller mutation is invisible to later loads
    i2.meta["row_count"] = -1
    assert S.load_index(spark, out).meta["row_count"] == 100
    # an append rewrites the sidecar -> the signature moves -> fresh read
    extra = spark.createDataFrame(
        [(100 + i, [float(i), 1.0]) for i in range(30)],
        "vec_id: bigint, embedding: array<float>",
    )
    append_to_index(spark, extra, out)
    i3 = S.load_index(spark, out)
    assert i3.meta["row_count"] == 130
    # use_cache=False always reads storage
    assert S.load_index(spark, out, use_cache=False).meta["row_count"] == 130


# ---------------- one metadata I/O path for every path form ----------------


def _metadata_lifecycle(spark, layout, codes, src, extra):
    """build → append → cold and warm load → register codes → stale
    rebuild (swap) → unregister → pending-appends listing and drain on one
    layout; returns what each step left in the sidecar."""
    import pq_vector_spark.index.build as B
    import pq_vector_spark.index.search as S
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.intercept import (
        _load_codes_registration,
        register_codes_sidecar,
        unregister_codes_sidecar,
    )
    from pq_vector_spark.streaming.ingest import _list_pending, drain_pending_appends

    B.build_index(spark, src, layout, column="vec", options=IndexBuildOptions(n_clusters=4))
    assert has_index(layout, spark=spark)
    B.append_to_index(spark, extra, layout)
    S._SIDECAR_CACHE.clear()
    cold = load_index(spark, layout)
    warm = load_index(spark, layout)
    assert warm.centroids is cold.centroids and warm.meta == cold.meta

    cb = train_pq(spark.read.parquet(src), "vec", m=2, nbits=4, seed=7)
    encode_indexed(spark, layout, codes, "vec", "id", cb)
    register_codes_sidecar(layout, codes, cb, id_col="id", spark=spark)
    assert _load_codes_registration(spark, layout)[1][3] == 260

    res = B.auto_rebuild_if_stale(spark, layout)
    assert res["rebuilt"] and res["health"]["appended_rows"] == 60
    for debris in (".rebuild", ".retired"):
        assert not B._hadoop_exists(spark, layout + debris)
    assert not B._rebuild_sentinel_exists(spark, layout)
    rebuilt = load_index(spark, layout)
    found, sidecar = _load_codes_registration(spark, layout)
    assert found and sidecar[3] == 260  # re-encoded, re-registered
    unregister_codes_sidecar(layout, spark=spark)
    assert _load_codes_registration(spark, layout) == (False, None)

    extra.limit(5).write.parquet(f"{layout}.pending-appends/batch-3")
    pending = _list_pending(spark, layout)
    assert [p.rsplit("/", 1)[-1] for p in pending] == ["batch-3"]
    assert drain_pending_appends(spark, layout) == 5
    assert _list_pending(spark, layout) == []
    drained = load_index(spark, layout)
    return {
        "appended": cold,
        "rebuilt": rebuilt,
        "drained_rows": drained.meta["row_count"],
        "data_rows": spark.read.parquet(layout).count(),
    }


def _files_unnamed(meta):
    """A meta with part-file names dropped: every write names its files
    afresh, the rest must match."""
    out = dict(meta)
    out["file_stats"] = sorted(
        (f["groups"], f["counts"]) for f in meta.get("file_stats", [])
    )
    return out


def test_metadata_lifecycle_same_for_plain_path_and_file_url(spark, tmp_path):
    """The whole metadata lifecycle runs through one Hadoop FileSystem
    path, so a plain path and a file:// URL leave identical sidecars."""
    rng = np.random.default_rng(21)
    vecs = rng.random((260, 4), dtype=np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    src = str(tmp_path / "life_src")
    spark.createDataFrame(rows[:200], "id INT, vec ARRAY<FLOAT>").coalesce(1).write.parquet(src)
    extra = spark.createDataFrame(rows[200:], "id INT, vec ARRAY<FLOAT>")
    got = {}
    for form, prefix in (("plain", ""), ("url", "file://")):
        got[form] = _metadata_lifecycle(
            spark,
            prefix + str(tmp_path / f"life_{form}"),
            prefix + str(tmp_path / f"codes_{form}"),
            src,
            extra,
        )
    plain, url = got["plain"], got["url"]
    for step in ("appended", "rebuilt"):
        assert _files_unnamed(plain[step].meta) == _files_unnamed(url[step].meta), step
        assert np.array_equal(plain[step].centroids, url[step].centroids), step
    assert plain["appended"].meta["row_count"] == 260
    assert plain["rebuilt"].meta["n_clusters"] == 17  # ceil(sqrt(260))
    assert plain["drained_rows"] == url["drained_rows"] == 265
    assert plain["data_rows"] == url["data_rows"] == 265


def test_layout_written_without_checksums_still_loads(spark, tmp_path):
    """Sidecars, registrations and sentinels used to be written to local
    disk directly, with no Hadoop ``.crc`` checksum files beside them.
    Such a layout still loads, and the next sidecar write goes on from it."""
    import pq_vector_spark.index.search as S
    from pq_vector_spark.index.build import INDEX_DIR, append_to_index

    out = _small_stale_index(spark, tmp_path)
    built = load_index(spark, out, use_cache=False)
    crcs = [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(out, INDEX_DIR))
        for f in files
        if f.endswith(".crc")
    ]
    assert crcs
    for f in crcs:
        os.remove(f)
    S._SIDECAR_CACHE.clear()
    assert has_index(out, spark=spark)
    old = load_index(spark, out)
    assert old.meta == built.meta
    assert np.array_equal(old.centroids, built.centroids)
    extra = spark.createDataFrame(
        [(800, [3.0, 3.0])], "vec_id: bigint, embedding: array<float>"
    )
    append_to_index(spark, extra, out)
    assert load_index(spark, out).meta["row_count"] == 131


# ---------------- re-rank kernel choice on a wide (dim-256) index ----------


@pytest.fixture(scope="module")
def wide_index(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("wide_idx")
    src, out = str(base / "src.parquet"), str(base / "indexed")
    rng = np.random.default_rng(99)
    vecs = rng.normal(size=(600, 256)).astype(np.float32)
    vecs[7] = 0.0  # zero norm: its cosine is NaN
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").repartition(2).write.parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=24))
    # build_index rejects NULL elements and NULL vectors, but another writer
    # can leave them in the layout: null vec[8][1] and vec[9] in place (same
    # files, rows and clusters)
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out, f))
        ids = t.column("id").to_pylist()
        if 8 in ids or 9 in ids:
            vec = t.column("vec").to_pylist()
            if 8 in ids:
                vec[ids.index(8)][1] = None
            if 9 in ids:
                vec[ids.index(9)] = None
            t = t.set_column(
                t.schema.get_field_index("vec"), t.schema.field("vec"),
                pa.array(vec, t.schema.field("vec").type),
            )
            pq.write_table(t, os.path.join(out, f))
            crc = os.path.join(out, f".{f}.crc")  # Hadoop's checksum of the old bytes
            if os.path.exists(crc):
                os.remove(crc)
    return {"out": out, "vecs": vecs}


def _executed_plan(df):
    rows = df.collect()
    return rows, df._jdf.queryExecution().executedPlan().toString()


def test_wide_rerank_native_fold_bit_exact(spark, wide_index):
    """Under the element budget the indexed re-rank has no Python
    evaluation node, and its distances equal the Arrow kernel's bit for
    bit (all 600 rows probed; the zero-norm, NULL-element and NULL rows
    included)."""
    import struct

    from pq_vector_spark.functions.distance import array_distance, cosine_similarity

    def same(x, y):  # bit for bit; any NaN equals any NaN, as in Spark
        if x is None or y is None:
            return x is None and y is None
        return struct.pack("<d", x) == struct.pack("<d", y) or (np.isnan(x) and np.isnan(y))

    q = [float(x) for x in np.random.default_rng(5).normal(size=256).astype(np.float32)]
    table = spark.read.parquet(wide_index["out"])
    for metric, fn in (("l2", array_distance), ("cosine", cosine_similarity)):
        df = indexed_topk(
            spark, wide_index["out"], q, 600, options=VectorTopKOptions(nprobe=24),
            keep_distance=True, metric=metric,
        )
        rows, plan = _executed_plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, metric
        assert len(rows) == 600
        arrow = dict(table.select("id", fn("vec", q).alias("d")).collect())
        got = {r["id"]: r["_pq_distance"] for r in rows}
        bad = [i for i, d in got.items() if not same(d, arrow[i])]
        assert not bad, f"{metric}: ids {bad[:5]} differ from the Arrow kernel"
        assert (metric == "cosine") == np.isnan(got[7])
        assert np.isnan(got[8]) and got[9] is None


@pytest.mark.parametrize("budget", [None, 0])
def test_wide_rerank_ranks_unscored_rows_last(spark, wide_index, monkeypatch, budget):
    """On the l2 re-rank the NaN distance of the NULL-element row sorts
    after every finite one, and the NULL distance of the NULL vector sorts
    last (Spark's asc() is NULLS FIRST), on both kernels (budget 0 forces
    the Arrow kernel)."""
    import pq_vector_spark.functions.distance as distance

    if budget is not None:
        monkeypatch.setattr(distance, "FOLD_ELEMENT_BUDGET", budget)
    q = wide_index["vecs"][8].tolist()
    opts = VectorTopKOptions(nprobe=24)
    top = indexed_topk(spark, wide_index["out"], q, 10, options=opts, tie_break="id")
    assert not {8, 9} & {r["id"] for r in top.collect()}
    every = indexed_topk(spark, wide_index["out"], q, 600, options=opts, tie_break="id")
    assert [r["id"] for r in every.collect()][-2:] == [8, 9]


def test_wide_rerank_over_budget_uses_arrow_kernel(spark, wide_index, monkeypatch):
    """Above the budget, and for a sidecar without per-file counts, the
    re-rank stays on the Arrow kernel."""
    import pq_vector_spark.functions.distance as distance
    import pq_vector_spark.index.search as search

    q = [0.1] * 256
    opts = VectorTopKOptions(nprobe=5)
    with monkeypatch.context() as m:
        m.setattr(distance, "FOLD_ELEMENT_BUDGET", 0)
        _, plan = _executed_plan(indexed_topk(spark, wide_index["out"], q, 10, options=opts))
        assert "ArrowEvalPython" in plan
    with monkeypatch.context() as m:
        m.setattr(search, "_candidate_counts_from_meta", lambda meta, probed: None)
        _, plan = _executed_plan(indexed_topk(spark, wide_index["out"], q, 10, options=opts))
        assert "ArrowEvalPython" in plan


@pytest.mark.parametrize("nprobe", [5, 16])
def test_indexed_queries_reuse_generated_code(spark, wide_index, nprobe):
    """After one indexed query, a query probing a different cluster set
    compiles no new classes: the cluster IN-list becomes a hash-set
    reference (get_spark's InSet confs) and the query vector stays in the
    interpreted fold, so the codegen cache serves it."""
    from pq_vector_spark.index.kmeans import nearest_centroids

    cents = load_index(spark, wide_index["out"]).centroids

    def probe(v):
        return set(nearest_centroids(v, cents, nprobe).tolist())

    vecs = wide_index["vecs"]
    qa = vecs[1].tolist()
    qb = next(v for v in vecs[2:] if probe(v) != probe(vecs[1])).tolist()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    opts = VectorTopKOptions(nprobe=nprobe)
    indexed_topk(spark, wide_index["out"], qa, 10, options=opts).collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    indexed_topk(spark, wide_index["out"], qb, 10, options=opts).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before
