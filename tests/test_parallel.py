"""Spread-guard (parallel.py) tests: the partition probe memo and the
conditional round-robin spread."""

from pyspark.sql import functions as F

from pq_vector_spark import parallel as P


def test_plan_partitions_memoizes_file_backed_plans(spark, tmp_path):
    """r16: for a file-backed plan the probe result is memoized by
    (app, input file set, split confs) — a second construction over the
    same files must hit the memo with the same answer, and the memoized
    value must equal the real plan partition count."""
    path = str(tmp_path / "probe_tbl")
    spark.range(0, 1000, 1, 1).withColumn(
        "txt", F.concat(F.lit("doc "), F.col("id"))
    ).write.mode("overwrite").parquet(path)

    df1 = spark.read.parquet(path).select("id", "txt")
    real = df1.rdd.getNumPartitions()
    P._PROBE_MEMO.clear()
    n1 = P._plan_partitions(df1)
    assert n1 == real
    assert len(P._PROBE_MEMO) == 1

    # fresh plan, same files: memo hit (no new entry), same answer
    df2 = spark.read.parquet(path).filter(F.col("id") >= 0).select("id")
    n2 = P._plan_partitions(df2)
    assert n2 == n1
    assert len(P._PROBE_MEMO) == 1


def test_plan_partitions_no_memo_for_local_plans(spark):
    """A non-file plan (local relation) probes every time and never
    lands in the memo — its partition count is not a function of any
    file set."""
    P._PROBE_MEMO.clear()
    df = spark.createDataFrame([(i,) for i in range(10)], "id int")
    n = P._plan_partitions(df)
    assert n == df.rdd.getNumPartitions()
    assert len(P._PROBE_MEMO) == 0


def test_spread_fires_and_noops(spark, tmp_path):
    """ensure_compute_parallelism spreads a 1-partition file scan to
    defaultParallelism (when the input is big enough per the byte split)
    and leaves an already-wide plan unchanged (same object)."""
    path = str(tmp_path / "spread_tbl")
    spark.range(0, 100, 1, 1).write.mode("overwrite").parquet(path)
    narrow = spark.read.parquet(path).select("id")
    target = spark.sparkContext.defaultParallelism

    # split=1 byte: any file-backed input justifies a cores-wide spread
    spread = P.ensure_compute_parallelism(narrow, split_bytes=1)
    assert spread.rdd.getNumPartitions() == target
    # values unchanged (spread is a pure repartition)
    assert sorted(r["id"] for r in spread.collect()) == list(range(100))

    wide = spark.range(0, 100, 1, target + 1)
    assert P.ensure_compute_parallelism(wide) is wide


def test_spread_target_is_size_adaptive(spark, tmp_path):
    """r17 (verdict #1): the spread target is min(defaultParallelism,
    ceil(input_bytes / split)) — a sub-split input skips the exchange
    entirely (same object back), and a mid-size input gets a NARROW
    exchange instead of a cores-wide one."""
    path = str(tmp_path / "gate_tbl")
    spark.range(0, 1000, 1, 1).withColumn(
        "txt", F.concat(F.lit("document text "), F.col("id"))
    ).write.mode("overwrite").parquet(path)
    narrow = spark.read.parquet(path).select("id", "txt")
    target = spark.sparkContext.defaultParallelism
    assert target >= 2, "suite runs local[>=2]"

    nbytes = P._input_bytes(narrow)
    assert nbytes > 0  # file-backed: sizes are known

    # split far above the file size: ceil(bytes/split) == 1 -> no exchange
    assert P.ensure_compute_parallelism(narrow, split_bytes=nbytes * 10) is narrow

    # split at half the file size: target becomes exactly 2 partitions
    spread = P.ensure_compute_parallelism(narrow, split_bytes=(nbytes + 1) // 2)
    assert spread.rdd.getNumPartitions() == 2
    assert spread.count() == 1000

    # a non-file-backed plan has unknown size: spreads cores-wide as before
    local = spark.createDataFrame([(i,) for i in range(50)], "id int")
    if local.rdd.getNumPartitions() < target:
        assert (
            P.ensure_compute_parallelism(local).rdd.getNumPartitions() == target
        )


def test_input_bytes_matches_disk(spark, tmp_path):
    """_input_bytes sums the on-disk parquet part sizes (local file://
    stat path) and memoizes per file set; non-file plans report -1."""
    import pathlib

    path = str(tmp_path / "bytes_tbl")
    spark.range(0, 500, 1, 2).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    expect = sum(
        p.stat().st_size for p in pathlib.Path(path).glob("*.parquet")
    )
    P._BYTES_MEMO.clear()
    assert P._input_bytes(df) == expect
    assert len(P._BYTES_MEMO) == 1
    # second call: memo hit, same answer
    assert P._input_bytes(spark.read.parquet(path)) == expect
    assert len(P._BYTES_MEMO) == 1

    local = spark.createDataFrame([(1,)], "id int")
    assert P._input_bytes(local) == -1
