"""Session helpers and option dataclasses.

Mirrors the reference's session wiring and option surface:
- ``VectorTopKOptions { nprobe: 5, max_candidates: None }``
  (reference: src/df_vector/options.rs:4-19)
- index-build defaults ``max_iters=20, seed=42, n_clusters=ceil(sqrt(n))``
  (reference: src/ivf/parquet.rs:36-39, src/ivf/index.rs:161-167)
- ``SessionConfig::with_pq_vector`` ≙ our ``PqSession`` wrapper
  (reference: src/df_vector/session.rs:16-35)
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import SparkSession


@dataclass
class VectorTopKOptions:
    """Query-time knobs for the indexed top-k path.

    ``nprobe`` — number of IVF clusters probed (reference default 5,
    src/df_vector/options.rs:12-19). ``max_candidates`` — global cap on
    candidate rows fetched, interleaved fairly across files
    (reference: src/df_vector/access.rs:193-243). ``rerank`` — exact
    re-rank multiplier for the IVF-PQ route (k·rerank ADC candidates are
    re-scored exactly; only used when a codes sidecar is registered,
    plans/intercept.py:register_codes_sidecar).
    """

    nprobe: int = 5
    max_candidates: Optional[int] = None
    rerank: int = 4


@dataclass
class IndexBuildOptions:
    """Build-time knobs (reference: src/ivf/parquet.rs:22-103)."""

    n_clusters: Optional[int] = None  # default ceil(sqrt(n)) at build time
    max_iters: int = 20
    seed: int = 42
    sample_cap: int = 100_000  # reference: src/ivf/index.rs:172-174
    init_sample_cap: int = 50_000  # k-means++ init subsample, index.rs:332


def get_spark(
    app_name: str = "pq_vector_spark",
    shuffle_partitions: Optional[int] = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster the master/memory come from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. AQE is on so skewed shuffles
    re-plan at runtime; Arrow is on so pandas-UDF hot paths batch through
    Arrow instead of pickling rows.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # IN-lists longer than the default threshold (10) degrade to a
        # min/max range pushdown — useless for arbitrary probed cluster ids;
        # keep true IN pushdown for realistic nprobe values
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "512")
        # Every IN-list becomes an InSet whose generated code reads its
        # values from a hash set held by reference, instead of a switch
        # (or chain of compares) over the inlined literals. An IVF probe's
        # `_pq_cluster_id IN (...)` then compiles to the same classes
        # whatever clusters it probes, so after the first query the codegen
        # cache and the warm JIT serve every probe (before: two fresh class
        # compilations per query). Parquet still receives the full IN.
        .config("spark.sql.optimizer.inSetConversionThreshold", "0")
        .config("spark.sql.optimizer.inSetSwitchThreshold", "0")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # r16 (guide §4's boundary lesson applied to the DRIVER): PySpark 4
        # wraps every DataFrame/Column API call with call-site capture for
        # error enrichment — getActiveSession + PySparkCurrentOrigin.set/
        # clear = 3 extra py4j round trips per call, plus a Python stack
        # walk. Measured on this engine's plan-heavy queries (128-dim
        # unrolled distance chains ≈ 1k Column ops): construction drops
        # 2-4× with it off. Pure driver-side debugging nicety — plans,
        # results, and executor behavior are bit-identical at any scale.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PQ_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("PQ_MASTER", f"local[{cpus}]"))
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        builder = builder.config(
            "spark.sql.shuffle.partitions", os.environ.get("PQ_SHUFFLE_PARTITIONS", "32")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # SQL names (array_distance etc.) available everywhere, mirroring the
    # reference's session registration (src/df_vector/session.rs:29-35).
    from pq_vector_spark.functions.distance import register_sql_functions

    register_sql_functions(spark)
    return spark


class PqSession:
    """Thin wrapper pairing a SparkSession with pq-vector options.

    ≙ reference ``SessionStateBuilder::with_pq_vector(options)``
    (src/df_vector/session.rs:24-35): holds the options the topk path reads
    and guarantees SQL function registration.
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        options: Optional[VectorTopKOptions] = None,
    ):
        self.spark = spark or get_spark()
        self.options = options or VectorTopKOptions()
        from pq_vector_spark.functions.distance import register_sql_functions

        register_sql_functions(self.spark)

    def sql(self, query: str, observation=None):
        """Vector-aware SQL entry point (see plans/sql.py): ``spark.sql``,
        then plan-level interception (plans/intercept.py)."""
        from pq_vector_spark.plans.sql import pq_sql

        return pq_sql(self.spark, query, options=self.options, observation=observation)
