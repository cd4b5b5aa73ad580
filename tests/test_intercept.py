"""Plan-level top-k interception tests (plans/intercept.py) — the PySpark
analogue of the reference's physical-optimizer rule, and the one route
``pq_sql`` takes to the index: the same matcher fires however the query
was written (plain SELECT, CTE, subselect, DataFrame API), and its
replacement keeps the query's own filters and projections.
≙ reference rule guards: src/df_vector/physical.rs:134-177."""

import numpy as np
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from pq_vector_spark.index.build import build_index
from pq_vector_spark.plans.intercept import try_intercept_topk
from pq_vector_spark.plans.sql import (
    _FN_EXPANSIONS,
    expand_vector_functions,
    pq_sql,
    register_indexed_table,
)
from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions

N_ROWS = 500
N_CLUSTERS = 8
VEC = "array(0.5, 0.5, 0.5, 0.5)"


@pytest.fixture(scope="module")
def icpt_table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("icptidx")
    src = str(base / "src.parquet")
    out = str(base / "indexed")
    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.random(4, dtype=np.float32)])
        for i in range(N_ROWS)
    ]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").write.mode(
        "overwrite"
    ).parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=N_CLUSTERS))
    register_indexed_table(spark, "icpt_vectors", out)
    return {"src": src, "out": out}


def _brute(spark, sql):
    return [r["id"] for r in spark.sql(expand_vector_functions(sql)).collect()]


def test_cte_shape_intercepts_and_is_exact(spark, icpt_table):
    """A CTE normalizes to the canonical plan shape, so the interceptor
    fires, and with nprobe = n_clusters the answer equals brute force
    exactly."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id"]
    assert [r["id"] for r in hit.collect()] == _brute(spark, q)


def test_subquery_intercepts_through_pq_sql_with_metrics(spark, icpt_table):
    """pq_sql end-to-end on a subselect: interception fires (CollectMetrics
    in the plan proves the indexed path) and candidate_rows shows pruning."""
    q = (
        "SELECT * FROM (SELECT id, vec FROM icpt_vectors) t "
        f"ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    obs = Observation("icpt_test_metrics")
    out = pq_sql(spark, q, options=VectorTopKOptions(nprobe=2), observation=obs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan  # only the indexed path attaches metrics
    rows = out.collect()
    assert len(rows) == 5
    m = obs.get
    assert 0 < m["candidate_rows"] < N_ROWS  # nprobe=2 of 8 clusters pruned
    assert m["files_scanned"] >= 1


def test_where_inside_cte_applies(spark, icpt_table):
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors WHERE id >= 100) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    got = [r["id"] for r in hit.collect()]
    assert got == _brute(spark, q)
    assert all(i >= 100 for i in got)


def test_filter_string_literal_containing_alias_dot(spark, icpt_table):
    """A WHERE clause whose STRING LITERAL contains '<alias>.' must reach
    the probe verbatim: the filter applies as its own resolved condition,
    never as re-rendered SQL text (a quote-blind rewrite once corrupted
    such literals into silently-wrong filters). Interception must still
    fire, with metrics proving the pruned path executed."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        "SELECT id FROM c "
        "WHERE CAST(id AS STRING) != 'see c. below' AND id >= 250 "
        f"ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    obs = Observation("icpt_alias_literal")
    hit = try_intercept_topk(
        spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS), observation=obs
    )
    assert hit is not None
    got = [r["id"] for r in hit.collect()]
    assert got == _brute(spark, q)
    assert all(i >= 250 for i in got)
    assert obs.get["candidate_rows"] > 0  # indexed (pruned) path ran


def test_dataframe_api_intercepts(spark, icpt_table):
    """DataFrame-API query (F.expr HOF distance) over the registered view
    intercepts too — plan matching is representation-agnostic."""
    dist = _FN_EXPANSIONS["array_distance"].format(a="vec", b=VEC)
    df = spark.table("icpt_vectors").orderBy(F.expr(dist)).limit(7).select("id")
    hit = try_intercept_topk(spark, df, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id"]
    assert len(hit.collect()) == 7


def test_squared_l2_sort_intercepts(spark, icpt_table):
    """ORDER BY squared_l2 (no sqrt) has the identical ordering — accepted."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY squared_l2(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert [r["id"] for r in hit.collect()] == _brute(spark, q)


def test_cosine_desc_intercepts_and_is_exact(spark, icpt_table):
    """ORDER BY cosine_similarity DESC — the extension metric — intercepts
    through the plan matcher and equals brute force at nprobe=all."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY cosine_similarity(vec, {VEC}) DESC, id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert [r["id"] for r in hit.collect()] == _brute(spark, q)


def test_cosine_asc_declines(spark, icpt_table):
    """Ascending cosine (farthest-first) is not a supported index shape."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY cosine_similarity(vec, {VEC}) ASC, id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw) is None


def test_desc_declines(spark, icpt_table):
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}) DESC LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw) is None


def test_non_indexed_relation_declines(spark, icpt_table):
    spark.read.parquet(icpt_table["src"]).createOrReplaceTempView("icpt_plain")
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_plain) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw) is None


def test_non_attr_second_key_declines(spark, icpt_table):
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id + 1 LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw) is None


def test_aggregate_query_declines(spark, icpt_table):
    raw = spark.sql("SELECT count(*) AS n FROM icpt_vectors")
    assert try_intercept_topk(spark, raw) is None


def test_wrong_lambda_shape_declines(spark, icpt_table):
    """(x-y)*(y-x) renders the same SQL text as (x-y)*(x-y) but is NOT the
    L2 kernel — the exprId-level check must decline it."""
    evil = (
        f"sqrt(aggregate(zip_with(cast(vec as array<double>), cast({VEC} as array<double>),"
        " (x, y) -> (x - y) * (y - x)), cast(0.0 as double), (acc, x) -> acc + x))"
    )
    df = spark.table("icpt_vectors").orderBy(F.expr(evil)).limit(5).select("id")
    assert try_intercept_topk(spark, df) is None


# ---------------------------------------------------------- decline telemetry


def test_decline_reasons_for_guard_shapes(spark, icpt_table):
    """Each non-matching shape records WHICH guard declined (≙ the
    reference's per-node metrics philosophy — a silent fall-through to
    brute force at 100 TB is a 20× cost surprise)."""
    from pq_vector_spark.plans.intercept import last_decline_reason

    raw = spark.sql("SELECT count(*) AS n FROM icpt_vectors")
    assert try_intercept_topk(spark, raw) is None
    assert last_decline_reason().startswith("root-not-global-limit")

    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}) DESC LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw) is None
    assert last_decline_reason().startswith("sort-expr-not-cosine")

    spark.read.parquet(icpt_table["src"]).createOrReplaceTempView("icpt_plain2")
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_plain2) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw) is None
    assert last_decline_reason().startswith("path-not-indexed")

    # a successful interception clears this thread's reason
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS)) is not None
    assert last_decline_reason() is None


def test_decline_reason_is_thread_local(spark, icpt_table):
    """Two threads interleaving try_intercept_topk each read their OWN
    outcome — the telemetry is thread-local, not a shared global."""
    import threading

    from pq_vector_spark.plans.intercept import last_decline_reason

    barrier = threading.Barrier(2, timeout=60)
    results = {}

    def declining(name):
        raw = spark.sql("SELECT count(*) AS n FROM icpt_vectors")
        assert try_intercept_topk(spark, raw) is None
        barrier.wait()  # other thread now runs its (successful) intercept
        barrier.wait()
        results[name] = last_decline_reason()

    def succeeding(name):
        barrier.wait()  # after the declining thread recorded its reason
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
        )
        raw = spark.sql(expand_vector_functions(q))
        assert (
            try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
            is not None
        )
        results[name] = last_decline_reason()
        barrier.wait()

    t1 = threading.Thread(target=declining, args=("decliner",))
    t2 = threading.Thread(target=succeeding, args=("succeeder",))
    t1.start(); t2.start(); t1.join(60); t2.join(60)
    assert results["decliner"].startswith("root-not-global-limit")
    assert results["succeeder"] is None


# ------------------------------------------------------------ IVF-PQ route


@pytest.fixture()
def icpt_sidecar(spark, icpt_table, tmp_path):
    """PQ codes sidecar for the module's indexed layout, registered for the
    duration of one test and ALWAYS unregistered after (other tests in this
    module assert raw-IVF-probe behavior on the same path)."""
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )

    codes = str(tmp_path / "codes")
    emb = spark.read.parquet(icpt_table["src"])
    cb = train_pq(emb, "vec", m=4, nbits=8, seed=42)
    encode_indexed(spark, icpt_table["out"], codes, "vec", "id", cb)
    register_codes_sidecar(icpt_table["out"], codes, cb, id_col="id")
    yield {"codes": codes, "codebook": cb}
    unregister_codes_sidecar(icpt_table["out"])


def test_sidecar_pq_route_fires_and_is_exact(spark, icpt_table, icpt_sidecar):
    """With a registered codes sidecar the interceptor routes through the
    IVF-PQ plan (codes scan visible in the optimized plan) and — at
    nprobe = n_clusters — stays EXACT: the structural envelope bumps rerank
    to cover the candidate set (never trades exactness without being asked,
    ≙ physical.rs:161-168; session default rerank=4 would drop true
    neighbors otherwise)."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    obs = Observation("icpt_pq_route")
    hit = try_intercept_topk(
        spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS), observation=obs
    )
    assert hit is not None
    plan = hit._jdf.queryExecution().optimizedPlan().toString()
    assert "pq_codes" in plan  # proof: the codes table is scanned
    assert [r["id"] for r in hit.collect()] == _brute(spark, q)
    assert obs.get["candidate_rows"] == N_ROWS  # all clusters probed → all codes


def test_sidecar_pq_route_prunes_at_low_nprobe(spark, icpt_table, icpt_sidecar):
    """Production point: nprobe < n_clusters ADC-scans only the surviving
    clusters' code rows (both pruning axes at once)."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    obs = Observation("icpt_pq_prune")
    hit = try_intercept_topk(
        spark, raw, options=VectorTopKOptions(nprobe=2), observation=obs
    )
    assert hit is not None
    assert len(hit.collect()) == 5
    assert 0 < obs.get["candidate_rows"] < N_ROWS


def test_sidecar_cluster_projection_declines_cleanly(
    spark, icpt_table, icpt_sidecar
):
    """A query projecting the cluster column can be served by NEITHER route
    (both drop it); the pre-attach validation rejects the PQ route before
    the single-use observation could be bound to a doomed plan, and the
    whole interception declines to the (correct) brute-force plan with a
    recorded reason."""
    from pq_vector_spark.index.build import CLUSTER_COL
    from pq_vector_spark.plans.intercept import last_decline_reason

    dist = _FN_EXPANSIONS["array_distance"].format(a="vec", b=VEC)
    df = (
        spark.read.parquet(icpt_table["out"])
        .orderBy(F.expr(dist), F.col("id"))
        .limit(5)
        .select("id", CLUSTER_COL)
    )
    hit = try_intercept_topk(spark, df, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is None
    assert last_decline_reason() is not None


def test_sidecar_bad_codes_path_falls_back_to_ivf(spark, icpt_table, tmp_path):
    """A sidecar whose codes table has vanished AFTER registration fails
    BEFORE the observation attaches; the fallback raw IVF probe serves the
    query with the observation intact. (An unreadable table at
    registration time raises immediately.)"""
    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )
    from pq_vector_spark.index.pq import train_pq

    import shutil

    from pq_vector_spark.index.pq import encode_indexed

    cb = train_pq(spark.read.parquet(icpt_table["src"]), "vec", m=4, nbits=8, seed=42)
    # an unreadable codes table cannot even register (the guard must never
    # be silently disabled by a broken registration)
    with pytest.raises(Exception):
        register_codes_sidecar(
            icpt_table["out"], str(tmp_path / "nope"), cb, id_col="id"
        )
    # valid registration, then the codes table vanishes out from under it
    gone = str(tmp_path / "gone_codes")
    encode_indexed(spark, icpt_table["out"], gone, "vec", "id", cb)
    register_codes_sidecar(icpt_table["out"], gone, cb, id_col="id")
    shutil.rmtree(gone)
    try:
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
        )
        raw = spark.sql(expand_vector_functions(q))
        obs = Observation("icpt_pq_badpath")
        hit = try_intercept_topk(
            spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS), observation=obs
        )
        assert hit is not None
        plan = hit._jdf.queryExecution().optimizedPlan().toString()
        assert "pq_codes" not in plan
        assert [r["id"] for r in hit.collect()] == _brute(spark, q)
        assert obs.get["candidate_rows"] > 0  # observation rode the IVF plan
    finally:
        unregister_codes_sidecar(icpt_table["out"])


def test_sidecar_wrong_id_column_pre_rejected_with_observation_intact(
    spark, icpt_table, icpt_sidecar, tmp_path
):
    """A codes table whose id column doesn't match the registration is
    rejected by the schema-only pre-check BEFORE the single-use observation
    can bind to a doomed plan (an abandoned observation would make a later
    observation.get block forever); the raw IVF probe serves the query with
    the observation attached and readable. The post-attach consumed-
    observation fallback in _try_pq_route remains as defense-in-depth for
    failure shapes the pre-checks cannot foresee."""
    from pyspark.sql import functions as SF

    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )

    broken = str(tmp_path / "broken_codes")
    spark.read.parquet(icpt_sidecar["codes"]).withColumnRenamed(
        "id", "wrong_id"
    ).write.mode("overwrite").parquet(broken)
    register_codes_sidecar(
        icpt_table["out"], broken, icpt_sidecar["codebook"], id_col="id"
    )
    try:
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
        )
        raw = spark.sql(expand_vector_functions(q))
        obs = Observation("icpt_pq_postattach")
        hit = try_intercept_topk(
            spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS), observation=obs
        )
        assert hit is not None  # fell back to IVF, did NOT decline
        plan = hit._jdf.queryExecution().optimizedPlan().toString()
        assert "pq_codes" not in plan
        assert [r["id"] for r in hit.collect()] == _brute(spark, q)
        assert obs.get["candidate_rows"] > 0  # observation rode the IVF plan
    finally:
        unregister_codes_sidecar(icpt_table["out"])
        # re-register the good sidecar so the icpt_sidecar fixture teardown
        # (which unregisters the same path) stays a no-op double-pop
        register_codes_sidecar(
            icpt_table["out"],
            icpt_sidecar["codes"],
            icpt_sidecar["codebook"],
            id_col="id",
        )


def test_sidecar_skipped_on_pre_filter(spark, icpt_table, icpt_sidecar):
    """A payload pre-filter can't push into the codes scan — the PQ route
    must decline and the filtered IVF probe answer exactly."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors WHERE id >= 100) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    plan = hit._jdf.queryExecution().optimizedPlan().toString()
    assert "pq_codes" not in plan
    got = [r["id"] for r in hit.collect()]
    assert got == _brute(spark, q)
    assert all(i >= 100 for i in got)


# -------------------------------------------- projected distance column ----


def test_projected_distance_alias_intercepts_with_values(spark, icpt_table):
    """``SELECT id, array_distance(...) AS d … ORDER BY d`` — the sort key
    is a bare attribute defined by the Project under the Sort; the
    interceptor must resolve it to the kernel AND produce the distance
    column (bit-equal canonical fold) in the replacement."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id, array_distance(vec, {VEC}) AS d FROM c "
        "ORDER BY d, id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id", "d"]
    want = [
        (r["id"], r["d"])
        for r in spark.sql(expand_vector_functions(q)).collect()
    ]
    got = [(r["id"], r["d"]) for r in hit.collect()]
    assert got == want  # ids AND distance values, bit-equal


def test_projected_distance_not_selected_still_intercepts(spark, icpt_table):
    """ORDER BY a projected alias the outer SELECT then drops — the
    replacement needn't emit it, but interception must still fire."""
    q = (
        "SELECT id FROM ("
        "  WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f" SELECT id, array_distance(vec, {VEC}) AS d FROM c"
        ") t ORDER BY d, id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id"]
    assert [r["id"] for r in hit.collect()] == _brute(spark, q)


def test_projected_squared_distance_intercepts(spark, icpt_table):
    """squared_l2 as a projected OUTPUT intercepts: the probe orders by
    its own kernel and the query's projection is recomputed over the k
    rows, so ``d`` is the user's squared_l2 expression — ids and values
    equal brute force."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id, squared_l2(vec, {VEC}) AS d FROM c "
        "ORDER BY d, id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id", "d"]
    want = [(r["id"], r["d"]) for r in raw.collect()]
    assert [(r["id"], r["d"]) for r in hit.collect()] == want


def test_projected_cosine_alias_intercepts(spark, icpt_table):
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id, cosine_similarity(vec, {VEC}) AS sim FROM c "
        "ORDER BY sim DESC, id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id", "sim"]
    want = [
        (r["id"], r["sim"])
        for r in spark.sql(expand_vector_functions(q)).collect()
    ]
    assert [(r["id"], r["sim"]) for r in hit.collect()] == want


def test_unrelated_computed_projection_intercepts(spark, icpt_table):
    """A computed column beside the distance (``id + 1``) is recomputed
    over the probe's k rows from the query's own expression: ids and
    values equal brute force."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id, id + 1 AS id2, array_distance(vec, {VEC}) AS d FROM c "
        "ORDER BY d, id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id", "id2", "d"]
    want = [tuple(r) for r in raw.collect()]
    assert [tuple(r) for r in hit.collect()] == want


def test_computed_output_projection_intercepts(spark, icpt_table):
    """A Project above the Sort that computes (``id * 2``, a literal) is
    re-applied over the probe's k rows; a projection running a subquery
    declines with its own reason and keeps the brute-force answer."""
    from pq_vector_spark.plans.intercept import last_decline_reason

    dist = _FN_EXPANSIONS["array_distance"].format(a="vec", b=VEC)
    df = (
        spark.table("icpt_vectors")
        .orderBy(F.expr(dist), F.col("id"))
        .select((F.col("id") * 2).alias("x"), F.lit(7).alias("seven"))
        .limit(5)
    )
    hit = try_intercept_topk(spark, df, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert [tuple(r) for r in hit.collect()] == [tuple(r) for r in df.collect()]

    q = (
        "SELECT id, (SELECT max(id) FROM icpt_vectors) AS m FROM icpt_vectors "
        f"ORDER BY array_distance(vec, {VEC}), id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    assert try_intercept_topk(spark, raw) is None
    assert last_decline_reason().startswith("projection-reference")


def test_sidecar_stale_after_append_declines_pq_route(spark, icpt_table, tmp_path):
    """append_to_index grows the raw layout but not the codes table — a
    partial codes scan would silently EXCLUDE the appended rows from
    results. The route's registration-time row-count guard must push the
    query to the raw IVF probe (correct, just less pruned) until the codes
    are re-encoded and re-registered."""
    import numpy as np

    from pq_vector_spark.index.build import append_to_index, build_index as _bi
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )
    from pq_vector_spark.plans.sql import register_indexed_table

    # private copy of the layout — this test mutates it
    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "indexed")
    codes = str(tmp_path / "codes")
    rng = np.random.default_rng(21)
    rows = [
        (int(i), [float(x) for x in rng.random(4, dtype=np.float32)])
        for i in range(300)
    ]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").write.parquet(src)
    from pq_vector_spark.session import IndexBuildOptions

    _bi(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=8))
    cb = train_pq(spark.read.parquet(src), "vec", m=4, nbits=8, seed=42)
    encode_indexed(spark, out, codes, "vec", "id", cb)
    register_codes_sidecar(out, codes, cb, id_col="id")
    register_indexed_table(spark, "icpt_stale", out)
    try:
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_stale) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
        )
        raw = spark.sql(expand_vector_functions(q))
        hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=8))
        assert hit is not None
        assert "pq_codes" in hit._jdf.queryExecution().optimizedPlan().toString()

        appended = [
            (int(300 + i), [float(x) for x in rng.random(4, dtype=np.float32)])
            for i in range(100)
        ]
        append_to_index(
            spark, spark.createDataFrame(appended, "id INT, vec ARRAY<FLOAT>"), out
        )
        # temp views snapshot the parquet file listing — refresh so the
        # brute twin sees the appended files too (standard Spark semantics)
        register_indexed_table(spark, "icpt_stale", out)
        raw = spark.sql(expand_vector_functions(q))
        hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=8))
        assert hit is not None  # still intercepts — via the raw IVF probe
        plan = hit._jdf.queryExecution().optimizedPlan().toString()
        assert "pq_codes" not in plan  # stale codes never scanned
        # the IVF result covers the appended rows exactly
        assert [r["id"] for r in hit.collect()] == _brute(spark, q)

        # incremental refresh (encodes ONLY the 100 missing rows, appends,
        # re-registers) restores the PQ route over all 400 rows
        from pq_vector_spark.plans.intercept import refresh_codes_sidecar

        import os as _os

        files_before = {
            f for f in _os.listdir(codes) if f.startswith("part-")
        }
        refresh_codes_sidecar(spark, out)
        files_after = {f for f in _os.listdir(codes) if f.startswith("part-")}
        # incremental: every standing code file survives untouched and the
        # delta arrived as NEW files (a silent full re-encode would replace
        # the original file set)
        assert files_before <= files_after
        assert len(files_after) > len(files_before)
        codes_df = spark.read.parquet(codes)
        assert codes_df.count() == 400  # delta encoded, standing codes kept
        assert codes_df.select("id").distinct().count() == 400
        raw = spark.sql(expand_vector_functions(q))
        hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=8))
        assert hit is not None
        assert "pq_codes" in hit._jdf.queryExecution().optimizedPlan().toString()
        assert [r["id"] for r in hit.collect()] == _brute(spark, q)
    finally:
        unregister_codes_sidecar(out)


def test_sidecar_pq_route_serves_projected_distance(spark, icpt_table, icpt_sidecar):
    """Projected-distance queries take the PQ route too: the re-rank
    stage's exact distance column is renamed to the query's alias, so the
    values are the identical canonical fold — bit-equal to brute force in
    the exactness envelope."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id, array_distance(vec, {VEC}) AS d FROM c "
        "ORDER BY d, id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id", "d"]
    assert "pq_codes" in hit._jdf.queryExecution().optimizedPlan().toString()
    want = [(r["id"], r["d"]) for r in spark.sql(expand_vector_functions(q)).collect()]
    assert [(r["id"], r["d"]) for r in hit.collect()] == want


def test_projected_distance_with_filter(spark, icpt_table):
    """Alias sort key + WHERE below it: the walk forwards the filter to
    the pruned scan and the replacement still emits the distance column."""
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors WHERE id >= 100) "
        f"SELECT id, array_distance(vec, {VEC}) AS d FROM c "
        "ORDER BY d, id LIMIT 5"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert hit.columns == ["id", "d"]
    want = [(r["id"], r["d"]) for r in spark.sql(expand_vector_functions(q)).collect()]
    got = [(r["id"], r["d"]) for r in hit.collect()]
    assert got == want
    assert all(i >= 100 for i, _ in got)


# ----------------------------------- codes registration persistence (r9)


def test_codes_registration_survives_session_restart(spark, icpt_table, tmp_path):
    """The reference discovers its index from STORAGE (footer KV,
    src/ivf/parquet.rs:108-148) — any later process finds it. Our codes
    route must match: after register_codes_sidecar persists to
    _pq_index/codes.json, a FRESH session (simulated by clearing the
    in-memory cache) given only the on-disk layout must take the ivf-pq
    route with exact results."""
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.explain import vector_route
    from pq_vector_spark.plans.intercept import (
        _CODES_SIDECAR_MISSES,
        _CODES_SIDECARS,
        register_codes_sidecar,
        unregister_codes_sidecar,
    )

    codes = str(tmp_path / "codes_persist")
    emb = spark.read.parquet(icpt_table["src"])
    cb = train_pq(emb, "vec", m=4, nbits=8, seed=42)
    encode_indexed(spark, icpt_table["out"], codes, "vec", "id", cb)
    register_codes_sidecar(icpt_table["out"], codes, cb, id_col="id")
    try:
        saved = dict(_CODES_SIDECARS)
        _CODES_SIDECARS.clear()  # ≙ process restart: only disk remains
        _CODES_SIDECAR_MISSES.clear()
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
        )
        raw = spark.sql(expand_vector_functions(q))
        hit = try_intercept_topk(
            spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS)
        )
        assert hit is not None
        assert vector_route(hit) == "ivf-pq"
        assert [r["id"] for r in hit.collect()] == _brute(spark, q)
        # the auto-loaded registration round-trips the codebook exactly
        _, loaded_cb, loaded_id, loaded_rows = _CODES_SIDECARS[
            list(_CODES_SIDECARS)[0]
        ]
        assert np.array_equal(loaded_cb.codebooks, cb.codebooks)
        assert loaded_cb.dim == cb.dim and loaded_id == "id"
        assert loaded_rows == N_ROWS
        _CODES_SIDECARS.update(saved)
    finally:
        unregister_codes_sidecar(icpt_table["out"])


def test_opq_codes_registration_roundtrips_rotation(spark, icpt_table, tmp_path):
    """The persisted codes sidecar must carry the OPQ rotation (r13 ADVICE
    high): a registration that strips it would make a restarted session
    compute an UNROTATED query LUT against rotated codes — silently-wrong
    ADC shortlists — and auto_rebuild would re-encode the whole codes table
    with the stripped codebook. Round-trip through disk and pin both the
    loaded rotation matrix and the end-to-end exact result."""
    from pq_vector_spark.index.pq import encode_indexed, train_opq
    from pq_vector_spark.plans.explain import vector_route
    from pq_vector_spark.plans.intercept import (
        _CODES_SIDECAR_MISSES,
        _CODES_SIDECARS,
        register_codes_sidecar,
        unregister_codes_sidecar,
    )

    codes = str(tmp_path / "codes_opq")
    emb = spark.read.parquet(icpt_table["src"])
    cb = train_opq(emb, "vec", m=4, nbits=8, seed=42)
    assert cb.rotation is not None  # the premise: this codebook IS rotated
    encode_indexed(spark, icpt_table["out"], codes, "vec", "id", cb)
    register_codes_sidecar(icpt_table["out"], codes, cb, id_col="id")
    try:
        saved = dict(_CODES_SIDECARS)
        _CODES_SIDECARS.clear()  # ≙ process restart: only disk remains
        _CODES_SIDECAR_MISSES.clear()
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
        )
        raw = spark.sql(expand_vector_functions(q))
        hit = try_intercept_topk(
            spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS)
        )
        assert hit is not None
        assert vector_route(hit) == "ivf-pq"
        assert [r["id"] for r in hit.collect()] == _brute(spark, q)
        _, loaded_cb, _, _ = _CODES_SIDECARS[list(_CODES_SIDECARS)[0]]
        assert loaded_cb.rotation is not None
        assert np.array_equal(loaded_cb.rotation, cb.rotation)
        assert np.array_equal(loaded_cb.codebooks, cb.codebooks)
        _CODES_SIDECARS.update(saved)
    finally:
        unregister_codes_sidecar(icpt_table["out"])


def test_unregister_removes_persisted_registration(spark, icpt_table, tmp_path):
    """unregister must delete the on-disk registration too — otherwise the
    disk copy silently resurrects the route in the next session."""
    import os as _os

    from pq_vector_spark.index.build import INDEX_DIR
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.explain import vector_route
    from pq_vector_spark.plans.intercept import (
        _CODES_SIDECARS,
        CODES_REG_FILE,
        register_codes_sidecar,
        unregister_codes_sidecar,
    )

    codes = str(tmp_path / "codes_unreg")
    emb = spark.read.parquet(icpt_table["src"])
    cb = train_pq(emb, "vec", m=4, nbits=8, seed=42)
    encode_indexed(spark, icpt_table["out"], codes, "vec", "id", cb)
    register_codes_sidecar(icpt_table["out"], codes, cb, id_col="id")
    reg_file = _os.path.join(icpt_table["out"], INDEX_DIR, CODES_REG_FILE)
    assert _os.path.isfile(reg_file)
    unregister_codes_sidecar(icpt_table["out"])
    assert not _os.path.isfile(reg_file)
    _CODES_SIDECARS.clear()
    q = (
        "WITH c AS (SELECT id, vec FROM icpt_vectors) "
        f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
    )
    raw = spark.sql(expand_vector_functions(q))
    hit = try_intercept_topk(spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS))
    assert hit is not None
    assert vector_route(hit) == "ivf"  # no resurrection from disk


def test_corrupt_persisted_registration_degrades_to_ivf(spark, icpt_table, tmp_path):
    """A torn/corrupt codes.json is an optimization hint gone bad, not
    data: interception logs and falls back to the raw IVF probe."""
    import os as _os

    from pq_vector_spark.index.build import INDEX_DIR
    from pq_vector_spark.plans.explain import vector_route
    from pq_vector_spark.plans.intercept import _CODES_SIDECARS, CODES_REG_FILE

    reg_file = _os.path.join(icpt_table["out"], INDEX_DIR, CODES_REG_FILE)
    with open(reg_file, "w") as f:
        f.write("{not json")
    # drop the Hadoop checksum of the old bytes, so the JSON itself is
    # what fails to read
    crc = _os.path.join(icpt_table["out"], INDEX_DIR, f".{CODES_REG_FILE}.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    try:
        _CODES_SIDECARS.clear()
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
        )
        raw = spark.sql(expand_vector_functions(q))
        hit = try_intercept_topk(
            spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS)
        )
        assert hit is not None
        assert vector_route(hit) == "ivf"
        assert [r["id"] for r in hit.collect()] == _brute(spark, q)
    finally:
        _os.remove(reg_file)


def test_negative_codes_lookup_probed_once_per_session(spark, icpt_table):
    """A layout with NO persisted codes registration must pay the disk
    probe ONCE per session, not one FileSystem RPC per query (r9 order
    #4); register invalidates the cached miss so the route appears
    immediately."""
    import pq_vector_spark.plans.intercept as I

    key = I._normalize_path(icpt_table["out"])
    saved_hit = I._CODES_SIDECARS.pop(key, None)
    I._CODES_SIDECAR_MISSES.pop(key, None)
    calls = []
    real = I._load_codes_registration

    def counting(spark_, path):
        calls.append(path)
        return real(spark_, path)

    I._load_codes_registration = counting
    try:
        q = (
            "WITH c AS (SELECT id, vec FROM icpt_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC}), id LIMIT 10"
        )
        for _ in range(3):
            raw = spark.sql(expand_vector_functions(q))
            hit = try_intercept_topk(
                spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS)
            )
            assert hit is not None
        assert len(calls) == 1  # miss cached after the first probe
        assert key in I._CODES_SIDECAR_MISSES

        # register clears the miss: the route must appear without any
        # further disk probe (the registration is now in-memory)
        from pq_vector_spark.index.pq import encode_indexed, train_pq
        from pq_vector_spark.plans.explain import vector_route

        import tempfile

        codes = tempfile.mkdtemp(prefix="pq_codes_miss_") + "/codes"
        emb = spark.read.parquet(icpt_table["src"])
        cb = train_pq(emb, "vec", m=4, nbits=8, seed=42)
        encode_indexed(spark, icpt_table["out"], codes, "vec", "id", cb)
        I.register_codes_sidecar(icpt_table["out"], codes, cb, id_col="id")
        assert key not in I._CODES_SIDECAR_MISSES
        raw = spark.sql(expand_vector_functions(q))
        hit = try_intercept_topk(
            spark, raw, options=VectorTopKOptions(nprobe=N_CLUSTERS)
        )
        assert vector_route(hit) == "ivf-pq"
        assert len(calls) == 1  # still no second disk probe
    finally:
        I._load_codes_registration = real
        I.unregister_codes_sidecar(icpt_table["out"])
        I._CODES_SIDECARS.pop(key, None)
        I._CODES_SIDECAR_MISSES.pop(key, None)
        if saved_hit is not None:
            I._CODES_SIDECARS[key] = saved_hit


def test_negative_codes_miss_expires_for_outside_writers(spark, icpt_table, monkeypatch):
    """A cached miss must EXPIRE (default 5 min): a registration persisted
    by another process — discovery-from-storage is a cross-process
    contract — becomes visible to a long-lived session instead of never."""
    import pq_vector_spark.plans.intercept as I

    key = I._normalize_path(icpt_table["out"])
    saved_hit = I._CODES_SIDECARS.pop(key, None)
    calls = []
    real = I._load_codes_registration

    def counting(spark_, path):
        calls.append(path)
        return real(spark_, path)

    monkeypatch.setattr(I, "_load_codes_registration", counting)
    try:
        # fresh miss: cached, no second probe
        I._CODES_SIDECAR_MISSES.pop(key, None)
        assert I._lookup_codes_sidecar(spark, icpt_table["out"]) is None
        assert I._lookup_codes_sidecar(spark, icpt_table["out"]) is None
        assert len(calls) == 1
        # age the miss past the TTL: the next lookup probes disk again
        import time as _time

        I._CODES_SIDECAR_MISSES[key] = _time.monotonic() - I._MISS_REPROBE_SEC - 1
        assert I._lookup_codes_sidecar(spark, icpt_table["out"]) is None
        assert len(calls) == 2
    finally:
        I._CODES_SIDECAR_MISSES.pop(key, None)
        if saved_hit is not None:
            I._CODES_SIDECARS[key] = saved_hit


def test_force_probe_bypasses_cached_miss(spark, icpt_table, monkeypatch):
    """DESTRUCTIVE consumers (auto_rebuild_if_stale resolves the persisted
    registration BEFORE its swap deletes the old layout) must not trust a
    cached miss: a <TTL-old miss + a registration persisted by another
    process in the meantime would otherwise be silently destroyed with
    the retired directory (r10 review finding). force_probe=True goes to
    disk; the query path (default) keeps the cached miss."""
    import time as _time

    import pq_vector_spark.plans.intercept as I

    key = I._normalize_path(icpt_table["out"])
    saved_hit = I._CODES_SIDECARS.pop(key, None)
    calls = []
    sentinel = ("codes", None, "id", 7)

    def fake_load(spark_, path):
        calls.append(path)
        return True, sentinel

    monkeypatch.setattr(I, "_load_codes_registration", fake_load)
    try:
        # fresh cached miss (as if probed moments ago, before an outside
        # writer persisted the registration fake_load now reports)
        I._CODES_SIDECAR_MISSES[key] = _time.monotonic()
        assert I._lookup_codes_sidecar(spark, icpt_table["out"]) is None
        assert calls == []  # default path trusts the miss
        got = I._lookup_codes_sidecar(
            spark, icpt_table["out"], force_probe=True
        )
        assert got == sentinel  # destructive path went to disk
        assert len(calls) == 1
        assert key not in I._CODES_SIDECAR_MISSES  # hit replaced the miss
    finally:
        I._CODES_SIDECARS.pop(key, None)
        I._CODES_SIDECAR_MISSES.pop(key, None)
        if saved_hit is not None:
            I._CODES_SIDECARS[key] = saved_hit


def test_unregister_without_session_does_not_seed_miss_cache(monkeypatch):
    """r10 advice: when the persisted registration CANNOT be deleted (no
    active session for a remote path), unregister must not seed the
    negative-lookup cache — the registration is still on disk, and a
    seeded miss would hide it from this session's query path for the
    whole TTL, contradicting the docstring's 'only the in-memory entry
    is dropped'."""
    from pyspark.sql import SparkSession

    import pq_vector_spark.plans.intercept as I

    path = "hdfs://nn-nowhere/warehouse/tbl"
    key = I._normalize_path(path)
    I._CODES_SIDECAR_MISSES[key] = 0.0  # stale miss entry from earlier
    monkeypatch.setattr(
        SparkSession, "getActiveSession", staticmethod(lambda: None)
    )
    try:
        I.unregister_codes_sidecar(path)  # delete skipped: no session
    finally:
        I._CODES_SIDECARS.pop(key, None)
    # not seeded, and the stale entry was dropped so the on-disk
    # registration stays discoverable immediately
    assert key not in I._CODES_SIDECAR_MISSES


def test_unregister_local_seeds_miss_cache_after_delete(spark, tmp_path, icpt_table):
    """The local path DID delete the persisted registration — seeding the
    miss cache there is truthful and keeps the per-query probe away."""
    import tempfile

    import pq_vector_spark.plans.intercept as I
    from pq_vector_spark.index.pq import encode_indexed, train_pq

    key = I._normalize_path(icpt_table["out"])
    codes = tempfile.mkdtemp(prefix="pq_codes_unreg_") + "/codes"
    emb = spark.read.parquet(icpt_table["src"])
    cb = train_pq(emb, "vec", m=4, nbits=8, seed=42)
    encode_indexed(spark, icpt_table["out"], codes, "vec", "id", cb)
    I.register_codes_sidecar(icpt_table["out"], codes, cb, id_col="id")
    try:
        I.unregister_codes_sidecar(icpt_table["out"])
        assert key in I._CODES_SIDECAR_MISSES
        assert key not in I._CODES_SIDECARS
    finally:
        I._CODES_SIDECAR_MISSES.pop(key, None)
