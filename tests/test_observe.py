"""Observability tests ≙ reference plan metrics (A23,
src/df_vector/index_exec.rs:283-300: files_scanned / candidate_rows)."""

import numpy as np
import pytest
from pyspark.sql import Observation

from pq_vector_spark.index.build import build_index
from pq_vector_spark.index.search import indexed_topk
from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions


@pytest.fixture(scope="module")
def obs_table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("obsidx")
    src = str(base / "src.parquet")
    out = str(base / "indexed")
    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.random(4, dtype=np.float32)]) for i in range(1000)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").write.mode("overwrite").parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=10))
    return out


def test_candidate_rows_observed(spark, obs_table):
    obs = Observation("pq_vector")
    out = indexed_topk(
        spark,
        obs_table,
        [0.5] * 4,
        5,
        options=VectorTopKOptions(nprobe=2),
        tie_break="id",
        observation=obs,
    )
    out.collect()
    got = obs.get
    # nprobe=2 of 10 clusters ⇒ a strict subset of the 1000 rows was scanned
    assert 0 < got["candidate_rows"] < 1000
    assert got["files_scanned"] >= 1


def test_observation_free_after_unresolvable_filter(spark, obs_table):
    """A pre_filter that does not resolve raises before the single-use
    Observation binds, so a retry with a corrected filter can still use
    the same Observation."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    obs = Observation("pq_retry")
    opts = VectorTopKOptions(nprobe=2)
    with pytest.raises(AnalysisException):
        indexed_topk(
            spark, obs_table, [0.5] * 4, 5, options=opts,
            pre_filter=F.col("no_such_column") > 1, observation=obs,
        )
    out = indexed_topk(
        spark, obs_table, [0.5] * 4, 5, options=opts,
        pre_filter=F.col("id") >= 10, observation=obs,
    )
    assert len(out.collect()) == 5
    assert obs.get["candidate_rows"] > 0


def test_full_probe_observes_all_rows(spark, obs_table):
    obs = Observation("pq_vector_full")
    out = indexed_topk(
        spark,
        obs_table,
        [0.5] * 4,
        5,
        options=VectorTopKOptions(nprobe=10),
        tie_break="id",
        observation=obs,
    )
    out.collect()
    assert obs.get["candidate_rows"] == 1000


def test_explain_vector_renders_counters_with_plan(spark, obs_table):
    """explain_vector must show candidate_rows/files_scanned next to the
    plan (≙ reference metric-annotated plan tree, exec.rs:302-331) —
    inline on the CollectMetrics node and in the summary section — driving
    execution itself when the plan has not run yet."""
    from pq_vector_spark.plans.explain import explain_vector

    obs = Observation("pq_vector_explain")
    out = indexed_topk(
        spark,
        obs_table,
        [0.5] * 4,
        5,
        options=VectorTopKOptions(nprobe=2),
        tie_break="id",
        observation=obs,
    )
    text = explain_vector(out, obs)  # not collected yet: helper executes
    assert "== Vector Metrics ==" in text
    assert "candidate_rows = " in text and "files_scanned = " in text
    inline = [l for l in text.splitlines() if "CollectMetrics" in l and "candidate_rows=" in l]
    assert inline, "counters not annotated on the CollectMetrics node"
    n = int(text.split("candidate_rows = ")[1].split("\n")[0])
    assert 0 < n < 1000


def test_explain_vector_unexecuted_without_drive(spark, obs_table):
    from pq_vector_spark.plans.explain import explain_vector

    obs = Observation("pq_vector_noexec")
    out = indexed_topk(
        spark, obs_table, [0.5] * 4, 5,
        options=VectorTopKOptions(nprobe=2), observation=obs,
    )
    text = explain_vector(out, obs, execute=False)
    assert "(not executed)" in text


def test_vector_route_probe(spark, obs_table, tmp_path):
    """vector_route names the physical route from the plan text alone:
    ivf for the probe, ivf-pq once a codes sidecar routes, brute-force
    otherwise (paired with last_decline_reason for the why)."""
    from pq_vector_spark.index.pq import encode_indexed, ivfpq_topk, train_pq
    from pq_vector_spark.plans.explain import explain_vector, vector_route

    ivf = indexed_topk(
        spark, obs_table, [0.5] * 4, 5, options=VectorTopKOptions(nprobe=10)
    )
    assert vector_route(ivf) == "ivf"

    raw = spark.read.parquet(obs_table).drop("_pq_cluster_id")
    assert vector_route(raw.limit(5)) == "brute-force"

    cb = train_pq(raw, "vec", m=4, nbits=8, seed=42)
    codes = str(tmp_path / "codes")
    encode_indexed(spark, obs_table, codes, "vec", "id", cb)
    pq = ivfpq_topk(
        spark, obs_table, codes, "vec", "id", cb, [0.5] * 4, 5, nprobe=10, rerank=200
    )
    assert vector_route(pq) == "ivf-pq"

    # explain_vector leads with the route header
    obs = Observation("route_hdr")
    out = indexed_topk(
        spark, obs_table, [0.5] * 4, 5,
        options=VectorTopKOptions(nprobe=2), observation=obs,
    )
    text = explain_vector(out, obs)
    assert text.startswith("== Vector Route ==\nivf")


def test_vector_route_user_filter_on_cluster_col_not_misreported(spark, obs_table):
    """ADVICE r8: a user's own RANGE filter over the cluster column on a
    brute-force plan must not be misreported as an intercepted IVF route —
    the tree walk matches the probe's IN/InSet/=-shape, not any filter
    naming the column."""
    from pyspark.sql import functions as F

    from pq_vector_spark.plans.explain import vector_route

    df = (
        spark.read.parquet(obs_table)
        .filter(F.col("_pq_cluster_id") >= 3)
        .limit(5)
    )
    assert vector_route(df) == "brute-force"
    # a string literal containing the column name cannot flip the probe
    df2 = (
        spark.read.parquet(obs_table)
        .withColumn("note", F.lit("Filter _pq_cluster_id IN (1,2)"))
        .filter(F.col("note").contains("_pq_cluster_id"))
        .limit(5)
    )
    assert vector_route(df2) == "brute-force"


def test_vector_route_single_cluster_equality_probe(spark, obs_table):
    """nprobe=1 probes one cluster; Catalyst folds IN (x) to `=` — the
    walk must still classify it as ivf."""
    from pq_vector_spark.plans.explain import vector_route

    out = indexed_topk(
        spark, obs_table, [0.5] * 4, 5, options=VectorTopKOptions(nprobe=1)
    )
    assert vector_route(out) == "ivf"
