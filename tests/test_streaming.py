"""Event-analytics operators: batch goldens + genuine Structured Streaming
runs (memory sink) proving watermark/window/session semantics."""

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pq_vector_spark.streaming.events import (
    extract_prop,
    sessionize,
    streaming_sessionize,
    streaming_tumbling_agg,
    tumbling_agg,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark):
    rows = [
        # user 1: two sessions (gap > 30 min between idx 1 and 2)
        (1, T0, "click", 1.0, '{"k": 10}'),
        (1, T0 + dt.timedelta(minutes=10), "click", 2.0, '{"k": 60}'),
        (1, T0 + dt.timedelta(minutes=50), "view", 3.0, '{"k": 99}'),
        # user 2: one session
        (2, T0 + dt.timedelta(minutes=5), "view", 4.0, "{}"),
        (2, T0 + dt.timedelta(minutes=20), "click", 5.0, '{"k": 50}'),
        # next hour
        (1, T0 + dt.timedelta(hours=2), "click", 6.0, '{"k": 1}'),
    ]
    return spark.createDataFrame(
        rows, "user_id INT, ts TIMESTAMP, event_type STRING, value DOUBLE, props STRING"
    )


def test_tumbling_agg_golden(spark):
    out = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_agg(_events(spark), "ts", "event_type", "value", "1 hour").collect()
    }
    h0 = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert out[(h0, "click")] == (3, 8.0)
    assert out[(h0, "view")] == (2, 7.0)
    assert out[(h0 + 7200, "click")] == (1, 6.0)


def test_sessionize_golden(spark):
    out = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_s"])
        for r in sessionize(_events(spark), "ts", "user_id", gap_minutes=30).collect()
    }
    assert out[(1, 1)] == (2, 600)  # two events 10 min apart
    assert out[(1, 2)] == (1, 0)  # 40-min gap starts session 2
    assert out[(1, 3)] == (1, 0)  # 2h later, session 3
    assert out[(2, 1)] == (2, 900)


def test_extract_prop(spark):
    out = extract_prop(_events(spark), "k", "k").filter(F.col("k") >= 50)
    assert out.count() == 3


def _run_stream(spark, df, build, query_name, mode="complete"):
    """Feed a static frame through a real streaming query via a temp parquet
    source → memory sink, complete/append as the aggregation requires."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pq_stream_")
    df.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d)
    out = build(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(query_name)


def test_streaming_tumbling_matches_batch(spark):
    ev = _events(spark)
    got = _run_stream(
        spark,
        ev,
        lambda s: streaming_tumbling_agg(s, "ts", "event_type", "value", "1 hour"),
        "stream_tumbling",
    )
    batch = tumbling_agg(ev, "ts", "event_type", "value", "1 hour")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_sessionize_runs(spark):
    ev = _events(spark)
    got = _run_stream(
        spark,
        ev,
        lambda s: streaming_sessionize(s, "ts", "user_id", gap_minutes=30),
        "stream_sessions",
    )
    rows = got.collect()
    # same session structure as batch: users 1+2, sessions (2,1,1)+(2,)
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[1]) == [1, 1, 2]
    assert per_user[2] == [2]


def test_streaming_plan_is_streaming(spark):
    ev = _events(spark)
    import tempfile

    d = tempfile.mkdtemp(prefix="pq_stream_")
    ev.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(ev.schema).parquet(d)
    out = streaming_tumbling_agg(stream, "ts", "event_type", "value", "1 hour")
    assert out.isStreaming


def test_streaming_dedup_matches_batch_distinct(spark):
    from pq_vector_spark.streaming.events import streaming_dedup

    ev = _events(spark)
    got = _run_stream(
        spark,
        ev,
        lambda s: streaming_dedup(s, ["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        "stream_dedup",
        mode="append",
    )
    want = ev.select("user_id", "event_type").distinct()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_dedup_within_watermark_bounds_state(spark):
    """Watermarked variant builds (plan is streaming + watermark node) and
    suppresses duplicates arriving inside the horizon."""
    from pq_vector_spark.streaming.events import streaming_dedup

    ev = _events(spark)
    got = _run_stream(
        spark,
        ev,
        lambda s: streaming_dedup(
            s, ["user_id", "event_type"], within_watermark="2 hours"
        ).select("user_id", "event_type"),
        "stream_dedup_wm",
        mode="append",
    )
    # single availableNow replay of a bounded table: horizon covers all rows
    want = ev.select("user_id", "event_type").distinct()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _events_ntz(spark):
    """Same fixture but with TIMESTAMP_NTZ event time — Spark 4 infers NTZ
    for parquet ``timestamp[us]`` without UTC adjustment, and
    ``withWatermark`` rejects NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    ev = _events(spark)
    return ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def test_streaming_tumbling_accepts_ntz_event_time(spark):
    ev_ntz = _events_ntz(spark)
    assert dict(ev_ntz.dtypes)["ts"] == "timestamp_ntz"
    got = _run_stream(
        spark,
        ev_ntz,
        lambda s: streaming_tumbling_agg(s, "ts", "event_type", "value", "1 hour"),
        "stream_tumbling_ntz",
    )
    batch = tumbling_agg(_events(spark), "ts", "event_type", "value", "1 hour")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_sessionize_accepts_ntz_event_time(spark):
    got = _run_stream(
        spark,
        _events_ntz(spark),
        lambda s: streaming_sessionize(s, "ts", "user_id", gap_minutes=30),
        "stream_sessions_ntz",
    )
    per_user = {}
    for r in got.collect():
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[1]) == [1, 1, 2]
    assert per_user[2] == [2]


def test_load_table_normalizes_ntz_event_time(spark, tmp_path):
    """load_table/load_stream must hand back a watermarkable TIMESTAMP ts
    even when the parquet file carries timestamp[us] without UTC adjustment."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pq_vector_spark.sources.parquet import load_stream, load_table

    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 1)],
                pa.timestamp("us"),  # no tz → Spark 4 reads TIMESTAMP_NTZ
            ),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": pa.array(["click", "view"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    batch = load_table(spark, str(tmp_path), "events")
    assert dict(batch.dtypes)["ts"] == "timestamp"
    stream = load_stream(spark, str(tmp_path), "events")
    assert dict(stream.dtypes)["ts"] == "timestamp"
    # the real gate: a watermark attaches without EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    stream.withWatermark("ts", "1 hour").groupBy(
        F.window("ts", "1 hour")
    ).count()


def test_load_table_relation_cache_invalidates_on_rewrite(spark, tmp_path):
    """r16: load_table memoizes the lazy read RELATION per (app, path,
    mtime) — a plan object only, never data, so every action still scans
    the parquet. Two properties matter: an unchanged source returns the
    memoized object (no repeated footer read / schema inference), and a
    rewrite of the source invalidates the entry so write-then-reread
    paths (tests, temp layouts) see the new bytes."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pq_vector_spark.sources.parquet import load_table

    p = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64())}), p)
    a = load_table(spark, str(tmp_path), "documents")
    b = load_table(spark, str(tmp_path), "documents")
    assert a is b, "unchanged source must hit the relation memo"
    assert [r["doc_id"] for r in a.collect()] == [1]
    time.sleep(0.05)  # ensure a strictly newer mtime even on coarse clocks
    pq.write_table(pa.table({"doc_id": pa.array([2, 3], pa.int64())}), p)
    c = load_table(spark, str(tmp_path), "documents")
    assert c is not a, "rewritten source must invalidate the memo"
    assert sorted(r["doc_id"] for r in c.collect()) == [2, 3]


def test_stream_static_enrich_join_matches_batch(spark):
    """Stream-static enrichment: readStream events joined to a broadcast
    static dim must produce exactly the batch join's aggregation."""
    from pq_vector_spark.streaming.events import enrich_join

    ev = _events(spark)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "cust_id INT, tier STRING"
    )

    def build(src):
        return (
            enrich_join(src, dim, "user_id", "cust_id")
            .groupBy("tier")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    got = _run_stream(spark, ev, build, "stream_enrich")
    want = build(ev)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the static side is broadcast: no shuffle of the stream for the join
    plan = build(ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_scd_enrich_stream_matches_batch_asof_twin(spark):
    """SCD enrichment: the streaming broadcast-interval join must equal the
    batch as-of join over a dim with multiple effective-dated versions —
    including events before the first version (NULL tier)."""
    from pq_vector_spark.operators.asof import asof_join
    from pq_vector_spark.streaming.events import scd_enrich

    ev = _events(spark).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 30 MINUTES") * (F.col("user_id") - 1)
    )
    dim = spark.createDataFrame(
        [
            (1, T0 + dt.timedelta(minutes=5), "bronze"),
            (1, T0 + dt.timedelta(minutes=45), "gold"),
            (2, T0 + dt.timedelta(minutes=0), "silver"),
        ],
        "cust_id INT, eff TIMESTAMP, tier STRING",
    )

    def build(src):
        return (
            scd_enrich(src, dim, "user_id", "cust_id", "eff")
            .groupBy("tier")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    key = lambda rows: sorted(
        ((r["tier"], r["n"]) for r in rows), key=lambda t: (t[0] is None, t)
    )
    got = _run_stream(spark, ev, build, "stream_scd")
    want = build(ev)
    assert key(got.collect()) == key(want.collect())

    # batch as-of twin computes the identical per-event assignment
    batch = asof_join(
        ev,
        dim.withColumnsRenamed({"cust_id": "user_id", "eff": "ts"}),
        on="ts",
        by="user_id",
        value_cols=["tier"],
    ).groupBy("tier").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    assert key(want.collect()) == key(batch.collect())
    # dim is broadcast: the stream side never shuffles for the join
    plan = build(ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_add_batch_is_exact_across_splits():
    """The vectorized distillation fold must give the SAME correctly-rounded
    total as math.fsum over all values, regardless of how the stream of
    values is split into batches — including catastrophic-cancellation
    magnitudes that break naive accumulation."""
    import math
    import random

    import numpy as np

    from pq_vector_spark.streaming.stateful import _add_batch, _grow_partials

    rng = random.Random(13)
    adversarial = [1e16, 1.0, -1e16, 1e-16, 3.14159, -1.0, 2.0**-53, 1e8,
                   -1e8, 0.1] * 20
    rng.shuffle(adversarial)
    randoms = [rng.uniform(-1e12, 1e12) * 10 ** rng.randint(-12, 12)
               for _ in range(300)]
    for vals in (adversarial, randoms, [0.0, -0.0, 0.0], [], [42.0]):
        want = math.fsum(vals)
        # arbitrary batch splits
        partials: list = []
        i = 0
        while i < len(vals):
            j = i + rng.randint(1, 7)
            partials = _add_batch(partials, np.array(vals[i:j], dtype=float))
            i = j
        assert math.fsum(partials) == want, f"batched fold drifted on {vals[:5]}..."
        # and matches the sequential Shewchuk reference implementation
        seq: list = []
        for x in vals:
            seq = _grow_partials(seq, float(x))
        assert math.fsum(partials) == math.fsum(seq)


def test_add_batch_transient_overflow_falls_back_to_sequential():
    """Finite inputs near DBL_MAX can overflow inside a TwoSum sweep
    (a + b = inf → err = NaN); the fold must detect this after each sweep
    and redo the accumulation sequentially on the ORIGINAL inputs, matching
    the pre-vectorized Shewchuk behavior element-for-element."""
    import numpy as np

    from pq_vector_spark.streaming.stateful import _add_batch, _grow_partials

    cases = [
        [9e307] * 12 + [-9e307] * 12,          # adjacent same-sign pairs → inf
        [1.7e308, 1.7e308, -1.7e308] * 4,      # mixed, pairwise overflow
        [8.9e307] * 9 + [-8.9e307] * 9 + [1.0],
    ]
    for vals in cases:
        got = _add_batch([], np.array(vals, dtype=float))
        seq: list = []
        for x in vals:
            seq = _grow_partials(seq, float(x))
        assert [repr(g) for g in got] == [repr(s) for s in seq], vals[:3]


def test_stateful_user_stats_matches_batch(spark):
    """applyInPandasWithState custom state: final per-user stats must equal
    the batch aggregation (latest emit per key wins)."""
    from pq_vector_spark.streaming.stateful import streaming_user_stats

    ev = _events(spark)
    got = _run_stream(
        spark,
        ev,
        lambda s: streaming_user_stats(s),
        "stream_stateful",
        mode="update",
    )
    latest = (
        got.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.unix_timestamp(F.min("ts")).cast("bigint").alias("first_ts"),
        F.unix_timestamp(F.max("ts")).cast("bigint").alias("last_ts"),
    )
    g = {r["user_id"]: r for r in latest.collect()}
    w = {r["user_id"]: r for r in want.collect()}
    assert set(g) == set(w)
    for uid in w:
        assert g[uid]["n_events"] == w[uid]["n_events"]
        assert g[uid]["first_ts"] == w[uid]["first_ts"]
        assert g[uid]["last_ts"] == w[uid]["last_ts"]
        assert g[uid]["sum_value"] == pytest.approx(w[uid]["sum_value"], abs=1e-9)


def _attr_events(spark):
    rows = [
        # user 1: clicks at t0+0/10/2000 min, purchases at t0+30min and t0+25h
        (100, 1, T0, "click"),
        (101, 1, T0 + dt.timedelta(minutes=10), "click"),
        (102, 1, T0 + dt.timedelta(minutes=30), "purchase"),
        (103, 1, T0 + dt.timedelta(hours=25), "purchase"),
        (104, 1, T0 + dt.timedelta(minutes=2000), "click"),
        # user 2: click AFTER its only purchase → no pair
        (200, 2, T0 + dt.timedelta(minutes=5), "purchase"),
        (201, 2, T0 + dt.timedelta(minutes=6), "click"),
        # same-instant click+purchase → excluded (strictly before)
        (300, 3, T0, "click"),
        (301, 3, T0, "purchase"),
    ]
    return spark.createDataFrame(
        rows, "event_id BIGINT, user_id INT, ts TIMESTAMP, event_type STRING"
    )


def test_stream_stream_join_batch_golden(spark):
    from pq_vector_spark.streaming.events import stream_stream_window_join

    got = {
        (r["purchase_id"], r["click_id"])
        for r in stream_stream_window_join(_attr_events(spark)).collect()
    }
    # purchase 102 pairs with clicks 100+101 (within 24h before);
    # purchase 103 pairs with clicks 101? (25h-10min > 24h → no), 100 (no),
    # 104 at 2000min=33.3h < 25h? 2000min > 25h*60=1500min → click AFTER → no
    assert got == {(102, 100), (102, 101)}


def test_stream_stream_join_streaming_matches_batch(spark):
    from pq_vector_spark.streaming.events import stream_stream_window_join

    ev = _attr_events(spark)
    got = _run_stream(
        spark,
        ev,
        lambda s: stream_stream_window_join(s),
        "stream_attrib",
        mode="append",
    )
    batch = stream_stream_window_join(ev)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_ingest_dedup_append(spark, tmp_path):
    """Continuous ingestion composition (streaming/ingest.py): two
    micro-batch files stream through foreachBatch incremental dedup into a
    standing parquet corpus — corpus dups dropped, within-batch dups
    collapse, fresh content appends."""
    from pq_vector_spark.streaming.ingest import streaming_ingest

    corpus_dir = str(tmp_path / "corpus")
    in_dir = str(tmp_path / "incoming")
    chk = str(tmp_path / "chk")

    spark.createDataFrame(
        [(1, "seed document one"), (2, "seed document two")], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(corpus_dir)

    incoming = spark.createDataFrame(
        [
            (10, "seed document one"),  # already in corpus → dropped
            (11, "brand new content"),  # fresh → appended
            (12, "brand new content"),  # within-batch dup → collapses
            (13, "other fresh content"),  # fresh → appended
        ],
        ["doc_id", "text"],
    )
    incoming.write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(incoming.schema).parquet(in_dir)
    q = (
        streaming_ingest(stream, corpus_dir, "text", "doc_id", checkpoint=chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()
    }
    assert got == {1, 2, 11, 13}


def test_dedup_append_batch_idempotent_on_rerun(spark, tmp_path):
    """Re-applying the same batch appends nothing (content already
    present) — the property that makes foreachBatch retries safe."""
    from pq_vector_spark.streaming.ingest import dedup_append_batch

    corpus_dir = str(tmp_path / "corpus2")
    spark.createDataFrame([(1, "base")], ["doc_id", "text"]).write.parquet(corpus_dir)
    batch = spark.createDataFrame([(5, "added once")], ["doc_id", "text"])
    assert dedup_append_batch(batch, corpus_dir, "text", "doc_id") == 1
    assert dedup_append_batch(batch, corpus_dir, "text", "doc_id") == 0
    assert spark.read.parquet(corpus_dir).count() == 2


def test_cohort_retention(spark):
    """Hand-computed weekly cohorts: user 1 joins week 0 and returns in
    week 2; user 2 joins week 0 only; user 3 joins week 2."""
    from datetime import datetime

    from pq_vector_spark.operators.retention import cohort_retention

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Mondays: 2024-01-01, 2024-01-15 (week0, week2)
    rows = [
        (1, datetime(2024, 1, 2)),
        (1, datetime(2024, 1, 3)),  # same week, deduped
        (1, datetime(2024, 1, 16)),
        (2, datetime(2024, 1, 4)),
        (3, datetime(2024, 1, 17)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,  # users 1, 2 join week of Jan 1
        ("2024-01-01", 2): 1,  # user 1 returns two weeks later
        ("2024-01-15", 0): 1,  # user 3's own cohort
    }


def test_streaming_drift_monitor(spark, tmp_path):
    """Two micro-batches against a uniform baseline: the in-distribution
    batch scores ~0 PSI, the shifted batch crosses the 0.2 alert line."""
    from pq_vector_spark.streaming.monitor import streaming_drift_monitor

    baseline = spark.createDataFrame([(float(i % 100),) for i in range(1000)], ["x"])
    in_dir = str(tmp_path / "in")
    metrics = str(tmp_path / "metrics")
    chk = str(tmp_path / "chk")

    same = spark.createDataFrame([(float(i % 100),) for i in range(500)], ["x"])
    shifted = spark.createDataFrame([(float(i % 30),) for i in range(500)], ["x"])
    same.coalesce(1).write.parquet(in_dir)
    shifted.coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(same.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_drift_monitor(
            stream, baseline, "x", metrics, lo=0, hi=100, bins=10, checkpoint=chk
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(metrics).collect()
    assert len(rows) == 2
    psis = sorted(r["psi"] for r in rows)
    assert psis[0] < 0.05  # in-distribution batch
    assert psis[1] > 0.2  # shifted batch trips the alert threshold
    assert all(r["n_rows"] == 500 for r in rows)


def test_ab_test_readout(spark):
    """Hand-built experiment: A converts 3/4, B converts 1/4 — rates,
    pooled z sign, and the multi-event dedup (one user counted once)."""
    from pq_vector_spark.operators.abtest import ab_test

    rows = []
    for u in range(4):
        rows.append((u, "A", "view"))
        rows.append((u, "A", "view"))  # duplicate exposure — counted once
    for u in (0, 1, 2):
        rows.append((u, "A", "purchase"))
    for u in range(4, 8):
        rows.append((u, "B", "view"))
    rows.append((4, "B", "purchase"))
    ev = spark.createDataFrame(rows, ["user_id", "variant", "event_type"])
    out = ab_test(
        ev, "variant", "user_id",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["variant_a"], r["variant_b"]) == ("A", "B")
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert (r["rate_a"], r["rate_b"]) == (0.75, 0.25)
    assert r["z"] > 0  # A better than B
    # z = 0.5 / sqrt(0.5*0.5*(0.25+0.25)) = sqrt(2) ≈ 1.414 → not significant
    assert abs(r["z"] - 1.414214) < 1e-4
    assert not r["significant"]


def test_ab_test_degenerate_se_zero(spark):
    """Everyone converts in both arms → se = 0 → z defined as 0."""
    from pq_vector_spark.operators.abtest import ab_test

    rows = []
    for u, v in [(1, "A"), (2, "B")]:
        rows.append((u, v, "view"))
        rows.append((u, v, "purchase"))
    ev = spark.createDataFrame(rows, ["user_id", "variant", "event_type"])
    r = ab_test(
        ev, "variant", "user_id",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
    ).collect()[0]
    assert r["z"] == 0.0 and not r["significant"]


def test_event_transitions(spark):
    """Hand-built journeys: A→B→A for user 1, A→B for user 2 → counts
    {A→B: 2, B→A: 1}; probs row-normalized; cross-user pairs never form."""
    from datetime import datetime

    from pq_vector_spark.operators.retention import event_transitions

    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0), "A"),
        (2, 1, datetime(2024, 1, 1, 0, 1), "B"),
        (3, 1, datetime(2024, 1, 1, 0, 2), "A"),
        (4, 2, datetime(2024, 1, 1, 0, 0), "A"),
        (5, 2, datetime(2024, 1, 1, 0, 1), "B"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["prob"])
        for r in event_transitions(ev).collect()
    }
    assert got == {("A", "B"): (2, 1.0), ("B", "A"): (1, 1.0)}


def test_trending_heavy_hitters(spark):
    """Hourly top-k: counts, ordering, tie-break by key, k cutoff."""
    from datetime import datetime

    from pq_vector_spark.streaming.events import trending

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = []
    eid = 0
    for et, n in [("a", 5), ("b", 3), ("c", 3), ("d", 1)]:
        for _ in range(n):
            rows.append((eid, datetime(2024, 1, 1, 10, eid % 60), et)); eid += 1
    rows.append((eid, datetime(2024, 1, 1, 11, 0), "z"))
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    got = sorted(
        (r["window_start"], r["rank"], r["event_type"], r["n_events"])
        for r in trending(ev, k=2).collect()
    )
    h10 = [g for g in got if g[0] == 1704103200]
    assert h10 == [(1704103200, 1, "a", 5), (1704103200, 2, "b", 3)]  # b beats c on tie
    h11 = [g for g in got if g[0] == 1704106800]
    assert h11 == [(1704106800, 1, "z", 1)]


def test_trending_streaming_twin(spark, tmp_path):
    """The trending docstring's streaming recipe end-to-end: watermarked
    windowed counts stream into a foreachBatch ranking sink; final metrics
    table matches the batch trending() output."""
    from datetime import datetime

    from pq_vector_spark.streaming.events import streaming_tumbling_agg, trending

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = []
    eid = 0
    for et, n in [("a", 4), ("b", 2), ("c", 1)]:
        for _ in range(n):
            rows.append((eid, datetime(2024, 1, 1, 10, eid % 60), et, 1.0)); eid += 1
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    in_dir, out_dir, chk = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "chk")
    ev.write.parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    counts = streaming_tumbling_agg(stream, "ts", "event_type", "value", "1 hour")

    def _rank_sink(batch_df, batch_id):
        from pyspark.sql import Window

        w = Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type").asc()
        )
        out = batch_df.withColumn("rank", F.row_number().over(w).cast("int")).filter(
            F.col("rank") <= 2
        )
        out.write.mode("overwrite").parquet(out_dir)

    q = (
        counts.writeStream.foreachBatch(_rank_sink)
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["rank"]): (r["event_type"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["window_start"], r["rank"]): (r["event_type"], r["n_events"])
        for r in trending(ev, k=2).collect()
    }
    assert got == want and len(got) == 2


def test_streaming_index_ingest_maintains_health(spark, tmp_path):
    """The streaming closure of the append lifecycle (r9 order #3):
    micro-batches of vectors append into an indexed layout via
    append_to_index; appended mass pushes index_health past the staleness
    threshold mid-stream; a later batch's maintenance pass triggers
    auto_rebuild_if_stale; post-stream recall at nprobe=n_clusters is
    exactly brute force over old AND streamed rows."""
    import numpy as np

    from pq_vector_spark.index.build import CLUSTER_COL, build_index, index_health
    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions
    from pq_vector_spark.streaming.ingest import streaming_index_ingest

    rng = np.random.default_rng(42)
    src = str(tmp_path / "vec_src.parquet")
    out = str(tmp_path / "vec_indexed")
    in_dir = str(tmp_path / "vec_incoming")
    chk = str(tmp_path / "vec_chk")

    def rows(start, n):
        return [
            (int(start + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(n)
        ]

    base = spark.createDataFrame(rows(0, 100), "vec_id: bigint, embedding: array<float>")
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )

    # three micro-batch files of 50 rows each (flat part-files — the file
    # stream source does not recurse into subdirectories): after batch 1
    # staleness is 50/150 = 0.33 >= 0.2 -> its maintenance pass rebuilds
    for b in range(3):
        spark.createDataFrame(
            rows(1000 + 50 * b, 50), "vec_id: bigint, embedding: array<float>"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    events = []
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_index_ingest(
            stream, out, checkpoint=chk, on_maintenance=lambda b, r: events.append(r)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert sum(e["appended"] for e in events) == 150
    assert any(e["rebuilt"] for e in events)  # maintenance fired mid-stream
    h = post = index_health(spark, out)
    assert post["row_count"] == 250
    # the last rebuild retrained over the grown table: every batch that
    # crossed the threshold rebuilt, so post-stream staleness is low
    assert post["appended_fraction"] < 0.2 and not post["stale"]

    q_vec = [float(x) for x in rng.random(8)]
    nc = h["n_clusters"]
    got = [
        r["vec_id"]
        for r in indexed_topk(
            spark, out, q_vec, 20,
            options=VectorTopKOptions(nprobe=nc), tie_break="vec_id",
        ).collect()
    ]
    full = spark.read.parquet(out).drop(CLUSTER_COL)
    want = [
        r["vec_id"]
        for r in brute_force_topk(full, "embedding", q_vec, 20, tie_break="vec_id").collect()
    ]
    assert got == want


def test_append_index_batch_refreshes_codes(spark, tmp_path):
    """maintain_codes: a registered PQ codes sidecar is incrementally
    re-encoded after the batch's append, so the IVF-PQ route never
    declines fresh rows as stale."""
    import numpy as np

    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )
    from pq_vector_spark.session import IndexBuildOptions
    from pq_vector_spark.streaming.ingest import append_index_batch

    rng = np.random.default_rng(3)
    src = str(tmp_path / "pq_src.parquet")
    out = str(tmp_path / "pq_indexed")
    codes = str(tmp_path / "pq_codes")

    base = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(120)],
        "vec_id: bigint, embedding: array<float>",
    )
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )
    cb = train_pq(spark.read.parquet(out), "embedding", m=4, nbits=4)
    encode_indexed(spark, out, codes, "embedding", "vec_id", cb)
    register_codes_sidecar(out, codes, cb, "vec_id", spark=spark)
    try:
        batch = spark.createDataFrame(
            [(int(500 + i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(10)],
            "vec_id: bigint, embedding: array<float>",
        )
        res = append_index_batch(
            batch, out, maintain_codes=True, maintain_index=False
        )
        assert res["appended"] == 10 and res["codes_refreshed"]
        assert spark.read.parquet(codes).count() == 130
    finally:
        unregister_codes_sidecar(out, spark=spark)


def test_streaming_index_ingest_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed micro-batch (checkpoint
    lost after the append committed) must SKIP the parquet append — the
    per-batch marker makes the restart converge to the same row count
    instead of duplicating vectors."""
    import shutil

    import numpy as np

    from pq_vector_spark.index.build import build_index, index_health
    from pq_vector_spark.session import IndexBuildOptions
    from pq_vector_spark.streaming.ingest import streaming_index_ingest

    rng = np.random.default_rng(5)
    src = str(tmp_path / "rp_src.parquet")
    out = str(tmp_path / "rp_indexed")
    in_dir = str(tmp_path / "rp_incoming")
    chk = str(tmp_path / "rp_chk")

    def rows(start, n):
        return [
            (int(start + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(n)
        ]

    base = spark.createDataFrame(rows(0, 100), "vec_id: bigint, embedding: array<float>")
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )
    for b in range(2):
        spark.createDataFrame(
            rows(1000 + 50 * b, 50), "vec_id: bigint, embedding: array<float>"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run(events):
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            streaming_index_ingest(
                stream, out, checkpoint=chk, maintain_index=False,
                maintain_codes=False,
                on_maintenance=lambda b, r: events.append(r),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    first = []
    run(first)
    assert sum(e["appended"] for e in first) == 100
    assert not any(e["replayed"] for e in first)
    assert index_health(spark, out)["row_count"] == 200

    # simulate a lost checkpoint AFTER the appends committed: Spark will
    # replay every batch, but the markers (kept) must suppress re-appends —
    # each replay reports the marker's RECORDED count with replayed=True
    # (r10 advice: observability hooks were undercounting across a crash).
    # The source's seen-files log goes too, else the restart re-lists
    # nothing and the replay collapses into one empty batch
    for sub in ("offsets", "commits", "metadata", "sources"):
        shutil.rmtree(f"{chk}/{sub}", ignore_errors=True)
    second = []
    run(second)
    assert all(e["replayed"] for e in second)
    assert sum(e["appended"] for e in second) == 100  # recorded, not re-run
    assert index_health(spark, out)["row_count"] == 200  # no duplicates


def test_append_index_batch_skips_covering_codes(spark, tmp_path):
    """maintain_codes must be a no-op when the registered codes already
    cover the index (no appends since the last refresh) — no per-batch
    encode job on an idle stream."""
    import numpy as np

    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )
    from pq_vector_spark.session import IndexBuildOptions
    from pq_vector_spark.streaming.ingest import append_index_batch

    rng = np.random.default_rng(9)
    src = str(tmp_path / "cv_src.parquet")
    out = str(tmp_path / "cv_indexed")
    codes = str(tmp_path / "cv_codes")
    base = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(100)],
        "vec_id: bigint, embedding: array<float>",
    )
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )
    cb = train_pq(spark.read.parquet(out), "embedding", m=4, nbits=4)
    encode_indexed(spark, out, codes, "embedding", "vec_id", cb)
    register_codes_sidecar(out, codes, cb, id_col="vec_id")
    try:
        empty = base.limit(0)
        res = append_index_batch(empty, out, maintain_codes=True)
        assert res == {"appended": 0, "codes_refreshed": False, "rebuilt": False}
    finally:
        unregister_codes_sidecar(out, spark=spark)


def test_streaming_index_ingest_prunes_markers_and_skips_without_checkpoint(
    spark, tmp_path
):
    """Markers are pruned as the stream advances (only the in-flight batch
    can replay) and are NOT kept at all without a checkpoint — a fresh
    run's batch ids restart at 0, so layout-scoped markers would wrongly
    suppress new appends."""
    import os

    import numpy as np

    from pq_vector_spark.index.build import build_index, index_health
    from pq_vector_spark.session import IndexBuildOptions
    from pq_vector_spark.streaming.ingest import streaming_index_ingest

    rng = np.random.default_rng(12)
    src = str(tmp_path / "pm_src.parquet")
    out = str(tmp_path / "pm_indexed")
    in_dir = str(tmp_path / "pm_incoming")
    chk = str(tmp_path / "pm_chk")

    def rows(start, n):
        return [
            (int(start + i), [float(x) for x in rng.random(4, dtype=np.float32)])
            for i in range(n)
        ]

    base = spark.createDataFrame(rows(0, 50), "vec_id: bigint, embedding: array<float>")
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=2)
    )
    for b in range(4):
        spark.createDataFrame(
            rows(1000 + 10 * b, 10), "vec_id: bigint, embedding: array<float>"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_index_ingest(
            stream, out, checkpoint=chk, maintain_index=False, maintain_codes=False
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert index_health(spark, out)["row_count"] == 90
    # markers go through the Hadoop FileSystem, whose local store keeps a
    # hidden .<name>.crc checksum beside each file
    kept = sorted(
        f for f in os.listdir(f"{chk}/pq_ingest_markers") if not f.startswith(".")
    )
    assert kept == ["batch-2", "batch-3"]  # older markers pruned

    # no checkpoint -> no markers anywhere (plain at-least-once), and the
    # layout's _pq_index never grows an ingest/ directory
    stream2 = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    q2 = (
        streaming_index_ingest(
            stream2, out, maintain_index=False, maintain_codes=False
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    # fresh temp checkpoint reprocesses all 4 files: appends happen (no
    # stale-marker suppression) and no marker dir appears in the layout
    assert index_health(spark, out)["row_count"] == 130
    assert not os.path.isdir(os.path.join(out, "_pq_index", "ingest"))


def test_streaming_index_ingest_async_rebuild_defers_appends(spark, tmp_path):
    """maintenance_mode='async' (r12): a stale index starts the rebuild on
    a side thread — the due batch returns at append cost with
    rebuild_started, later batches park rows in the pending buffer
    (deferred=True) instead of stalling, and the first batch after the
    rebuild completes reports rebuilt, drains the buffer into the fresh
    layout, and appends normally. Recall is exact post-drain."""
    import threading

    import numpy as np

    from pq_vector_spark.index.build import (
        CLUSTER_COL,
        build_index,
        index_health,
    )
    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions
    from pq_vector_spark.streaming.ingest import (
        streaming_index_ingest,
        wait_for_async_rebuild,
    )

    rng = np.random.default_rng(11)
    src = str(tmp_path / "ar_src.parquet")
    out = str(tmp_path / "ar_indexed")
    in_dir = str(tmp_path / "ar_incoming")
    chk = str(tmp_path / "ar_chk")

    def rows(start, n):
        return [
            (int(start + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(n)
        ]

    base = spark.createDataFrame(rows(0, 100), "vec_id: bigint, embedding: array<float>")
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )

    def add_file(b):
        spark.createDataFrame(
            rows(1000 + 50 * b, 50), "vec_id: bigint, embedding: array<float>"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    gate = threading.Event()

    def run(events, hook=None, maintain=True):
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            streaming_index_ingest(
                stream, out, checkpoint=chk, maintain_index=maintain,
                maintain_codes=False, stale_threshold=0.01,
                maintenance_mode="async", _pre_rebuild_hook=hook,
                on_maintenance=lambda b, r: events.append((b, r)),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    for b in range(3):
        add_file(b)
    first = []
    run(first, hook=gate.wait)
    by_batch = dict(first)
    # batch 0 appended + detected staleness + only STARTED the rebuild
    assert by_batch[0]["appended"] == 50 and not by_batch[0]["deferred"]
    assert by_batch[0].get("rebuild_started") is True
    # batches 1-2 deferred while the (gated) rebuild holds the layout —
    # and their maintenance was skipped, not run against the old layout
    for b in (1, 2):
        assert by_batch[b]["deferred"] is True
        assert by_batch[b]["appended"] == 50
        assert by_batch[b].get("maintenance_deferred") is True
    # layout unchanged while deferring (the rebuild's read is stable)
    assert index_health(spark, out)["row_count"] == 150

    gate.set()
    res = wait_for_async_rebuild(out, timeout=300)
    assert res is not None and res["rebuilt"] is True

    # next stream run: first batch reports the finished rebuild, drains
    # the 100 parked rows into the FRESH layout, then appends its own 50
    add_file(3)
    second = []
    run(second, maintain=False)  # no second rebuild racing the asserts
    assert len(second) == 1
    b3 = second[0][1]
    assert b3["rebuilt"] is True and b3["drained"] == 100
    assert b3["appended"] == 50 and not b3["deferred"]
    assert index_health(spark, out)["row_count"] == 300
    assert spark.read.parquet(out).count() == 300

    # recall exact post-drain
    q_vec = [float(x) for x in rng.random(8)]
    got = [
        r["vec_id"]
        for r in indexed_topk(
            spark, out, q_vec, 20,
            options=VectorTopKOptions(nprobe=64), tie_break="vec_id",
        ).collect()
    ]
    full = spark.read.parquet(out).drop(CLUSTER_COL)
    want = [
        r["vec_id"]
        for r in brute_force_topk(full, "embedding", q_vec, 20, tie_break="vec_id").collect()
    ]
    assert got == want
    with pytest.raises(ValueError, match="maintenance_mode"):
        streaming_index_ingest(
            spark.readStream.schema(base.schema).parquet(in_dir),
            out, maintenance_mode="background",
        )


def test_streaming_index_ingest_dedupe_probe_auto(spark, tmp_path):
    """dedupe_probe='auto' (r12): the id anti-join runs only on SUSPECTED
    replays — the first batch after a (re)start, which is exactly where a
    crash-between-append-and-marker replay lands — and never on
    steady-state fresh batches; the replayed batch still appends zero
    duplicates."""
    import os

    import numpy as np

    from pq_vector_spark.index.build import build_index, index_health
    from pq_vector_spark.session import IndexBuildOptions
    from pq_vector_spark.streaming.ingest import streaming_index_ingest

    rng = np.random.default_rng(7)
    src = str(tmp_path / "ap_src.parquet")
    out = str(tmp_path / "ap_indexed")
    in_dir = str(tmp_path / "ap_incoming")
    chk = str(tmp_path / "ap_chk")

    def rows(start, n):
        return [
            (int(start + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(n)
        ]

    base = spark.createDataFrame(rows(0, 100), "vec_id: bigint, embedding: array<float>")
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )

    def add_file(b):
        spark.createDataFrame(
            rows(1000 + 50 * b, 50), "vec_id: bigint, embedding: array<float>"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run(events):
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            streaming_index_ingest(
                stream, out, checkpoint=chk, maintain_index=False,
                maintain_codes=False, dedupe_on="vec_id",
                dedupe_probe="auto",
                on_maintenance=lambda b, r: events.append((b, r)),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    add_file(0)
    add_file(1)
    first = []
    run(first)
    # first batch of the writer is suspected (probed); the next is not
    assert [(b, r["dedupe_probed"]) for b, r in first] == [(0, True), (1, False)]
    assert sum(r["appended"] for _, r in first) == 100
    assert index_health(spark, out)["row_count"] == 200

    # crash window for batch 1: its append landed but neither the marker
    # nor the checkpoint commit did — delete both; restart replays batch 1
    os.remove(os.path.join(chk, "commits", "1"))
    # the Hadoop local FS keeps a sibling checksum; a stale .crc makes the
    # restart's commit rename fail and masquerade as a concurrent query
    crc = os.path.join(chk, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    os.remove(os.path.join(chk, "pq_ingest_markers", "batch-1"))
    second = []
    run(second)
    assert [(b, r["dedupe_probed"]) for b, r in second] == [(1, True)]
    assert sum(r["appended"] for _, r in second) == 0  # ids already present
    assert index_health(spark, out)["row_count"] == 200
    assert spark.read.parquet(out).count() == 200

    # steady state resumes: two fresh batches — only the restart's first
    # batch pays the probe
    add_file(2)
    add_file(3)
    third = []
    run(third)
    assert [(b, r["dedupe_probed"]) for b, r in third] == [(2, True), (3, False)]
    assert sum(r["appended"] for _, r in third) == 100
    assert spark.read.parquet(out).count() == 300
    with pytest.raises(ValueError, match="dedupe_probe"):
        streaming_index_ingest(
            spark.readStream.schema(base.schema).parquet(in_dir),
            out, dedupe_probe="sometimes",
        )


def test_streaming_index_ingest_dedupe_on_closes_marker_crash_window(
    spark, tmp_path
):
    """The one remaining duplicate window: a crash BETWEEN a batch's
    parquet append and its marker write replays as a re-append. With
    dedupe_on=<id>, the replayed batch's ids anti-join against the layout
    and the re-append lands zero rows — the stream converges to the exact
    row count with recall unchanged."""
    import shutil

    import numpy as np

    from pq_vector_spark.index.build import CLUSTER_COL, build_index, index_health
    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions
    from pq_vector_spark.streaming.ingest import streaming_index_ingest

    rng = np.random.default_rng(6)
    src = str(tmp_path / "dw_src.parquet")
    out = str(tmp_path / "dw_indexed")
    in_dir = str(tmp_path / "dw_incoming")
    chk = str(tmp_path / "dw_chk")

    def rows(start, n):
        return [
            (int(start + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(n)
        ]

    base = spark.createDataFrame(rows(0, 100), "vec_id: bigint, embedding: array<float>")
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding", options=IndexBuildOptions(n_clusters=4)
    )
    for b in range(2):
        spark.createDataFrame(
            rows(1000 + 50 * b, 50), "vec_id: bigint, embedding: array<float>"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run(events):
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            streaming_index_ingest(
                stream, out, checkpoint=chk, maintain_index=False,
                maintain_codes=False, dedupe_on="vec_id",
                on_maintenance=lambda b, r: events.append(r),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    first = []
    run(first)
    assert sum(e["appended"] for e in first) == 100
    assert index_health(spark, out)["row_count"] == 200

    # simulate the crash window: appends committed, but BOTH the markers
    # and the checkpoint are gone — the restart replays every batch with
    # no marker to skip on, so only the id anti-join stands between the
    # replay and duplicate vectors
    shutil.rmtree(f"{chk}", ignore_errors=True)
    second = []
    run(second)
    assert sum(e["appended"] for e in second) == 0  # every id already present
    assert not any(e["replayed"] for e in second)  # markers were lost
    assert index_health(spark, out)["row_count"] == 200
    assert spark.read.parquet(out).count() == 200  # data-level: no dupes

    # recall unchanged: probed search still matches brute force exactly
    q_vec = [float(x) for x in rng.random(8)]
    got = [
        r["vec_id"]
        for r in indexed_topk(
            spark, out, q_vec, 20,
            options=VectorTopKOptions(nprobe=4), tie_break="vec_id",
        ).collect()
    ]
    full = spark.read.parquet(out).drop(CLUSTER_COL)
    want = [
        r["vec_id"]
        for r in brute_force_topk(full, "embedding", q_vec, 20, tie_break="vec_id").collect()
    ]
    assert got == want


def test_streaming_ingest_near_dedup_across_batches(spark, tmp_path):
    """streaming_ingest(near_index=...): batches near-dedup against the
    corpus's persisted LSH index AND against earlier batches' survivors
    (each batch appends its admitted signatures), so a near-copy arriving
    two batches later still drops — the continuous near-dup-free corpus."""
    from pq_vector_spark.operators.dedup import build_dedup_index
    from pq_vector_spark.streaming.ingest import streaming_ingest

    corpus_dir = str(tmp_path / "ncorpus")
    idx = str(tmp_path / "ncorpus_idx")
    in_dir = str(tmp_path / "nincoming")
    chk = str(tmp_path / "nchk")

    mk = lambda *w: " ".join(w)
    seed = spark.createDataFrame(
        [
            (1, mk("the", "quick", "brown", "fox", "jumps", "over", "the",
                   "lazy", "dog", "near", "the", "river")),
            (2, mk("spark", "plans", "are", "declarative", "catalyst",
                   "optimizes", "predicates", "and", "projections", "for",
                   "parquet", "scans")),
        ],
        ["doc_id", "text"],
    )
    seed.write.parquet(corpus_dir)
    build_dedup_index(seed, "text", "doc_id", idx, num_hashes=16, bands=4)

    batch1 = spark.createDataFrame(
        [
            # near-copy of corpus doc 1 -> dropped by the index probe
            (10, mk("the", "quick", "brown", "fox", "jumps", "over", "the",
                    "lazy", "dog", "near", "the", "creek")),
            # fresh -> appended (and indexed)
            (11, mk("fresh", "streaming", "document", "about", "markers",
                    "checkpoints", "replay", "and", "idempotent", "appends",
                    "in", "practice")),
        ],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        [
            # near-copy of batch1's survivor 11 -> dropped via the APPENDED
            # index rows (exact fingerprint differs: one token changed)
            (20, mk("fresh", "streaming", "document", "about", "markers",
                    "checkpoints", "replay", "and", "idempotent", "appends",
                    "in", "theory")),
            # fresh -> appended
            (21, mk("completely", "unrelated", "payload", "covering",
                    "vector", "recall", "pruning", "budgets", "and",
                    "mixtures", "at", "scale")),
        ],
        ["doc_id", "text"],
    )
    batch1.coalesce(1).write.mode("append").parquet(in_dir)
    batch2.coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_ingest(
            stream, corpus_dir, "text", "doc_id", checkpoint=chk,
            near_index=idx, near_threshold=0.5,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {1, 2, 11, 21}
    # the index tracks the corpus: 2 seed + 2 admitted docs x 4 bands
    assert spark.read.parquet(idx).count() == 4 * 4


def _mk_indexed(spark, tmp_path, tag, n=100, dim=8, n_clusters=4, seed=21):
    import numpy as np

    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.session import IndexBuildOptions

    rng = np.random.default_rng(seed)
    src = str(tmp_path / f"{tag}_src.parquet")
    out = str(tmp_path / f"{tag}_indexed")
    rows = [
        (int(i), [float(x) for x in rng.random(dim, dtype=np.float32)])
        for i in range(n)
    ]
    base = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    base.write.parquet(src)
    build_index(
        spark, src, out, column="embedding",
        options=IndexBuildOptions(n_clusters=n_clusters),
    )
    return base, out


def test_streaming_index_ingest_second_writer_fails_loudly(spark, tmp_path):
    """r12 verdict #7: while writer A's async rebuild is in flight, a
    SECOND writer on the same indexed path must fail loudly instead of
    parking rows into A's pending buffer (colliding batch-id subdirs)."""
    import threading

    import numpy as np

    from pq_vector_spark.streaming.ingest import (
        drain_pending_appends,
        streaming_index_ingest,
        wait_for_async_rebuild,
    )

    rng = np.random.default_rng(17)
    base, out = _mk_indexed(spark, tmp_path, "sw")
    in_a = str(tmp_path / "sw_in_a")
    in_b = str(tmp_path / "sw_in_b")
    for d, start in ((in_a, 1000), (in_b, 2000)):
        spark.createDataFrame(
            [
                (int(start + i), [float(x) for x in rng.random(8, dtype=np.float32)])
                for i in range(40)
            ],
            "vec_id: bigint, embedding: array<float>",
        ).coalesce(1).write.mode("append").parquet(d)

    gate = threading.Event()
    ev_a: list = []
    qa = (
        streaming_index_ingest(
            spark.readStream.schema(base.schema).parquet(in_a),
            out, checkpoint=str(tmp_path / "sw_chk_a"),
            maintain_index=True, maintain_codes=False, stale_threshold=0.01,
            maintenance_mode="async", _pre_rebuild_hook=gate.wait,
            on_maintenance=lambda b, r: ev_a.append((b, r)),
        )
        .trigger(availableNow=True)
        .start()
    )
    qa.awaitTermination(300)
    assert ev_a and ev_a[0][1].get("rebuild_started") is True

    # writer B (fresh closure = distinct writer token, own checkpoint)
    # arrives while A's rebuild still holds the layout
    qb = (
        streaming_index_ingest(
            spark.readStream.schema(base.schema).parquet(in_b),
            out, checkpoint=str(tmp_path / "sw_chk_b"),
            maintain_index=False, maintain_codes=False,
            maintenance_mode="async",
        )
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="another writer"):
        qb.awaitTermination(300)
        raise RuntimeError(qb.exception() or "query ended cleanly")

    gate.set()
    res = wait_for_async_rebuild(out, timeout=300)
    assert res is not None
    drain_pending_appends(spark, out)


def test_inline_mode_drains_stranded_pending(spark, tmp_path, caplog):
    """ADVICE r12 (medium): a pending buffer stranded by a crashed/ended
    async run is drained on the FIRST batch even under the default
    inline maintenance mode — the rows were invisible indefinitely
    before; append_index_batch warns direct callers too."""
    import logging as _logging

    import numpy as np

    from pq_vector_spark.index.build import index_health
    from pq_vector_spark.streaming.ingest import (
        _pending_dir,
        append_index_batch,
        streaming_index_ingest,
    )

    rng = np.random.default_rng(19)
    base, out = _mk_indexed(spark, tmp_path, "ip")
    parked = spark.createDataFrame(
        [
            (int(5000 + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(30)
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    parked.write.parquet(f"{_pending_dir(out)}/batch-7")

    # direct batch caller: loud pointer, rows NOT silently stranded
    with caplog.at_level(_logging.WARNING, logger="pq_vector_spark.streaming.ingest"):
        append_index_batch(parked.limit(0), out)
    assert any("pending-append buffer" in m for m in caplog.messages)

    in_dir = str(tmp_path / "ip_in")
    spark.createDataFrame(
        [
            (int(9000 + i), [float(x) for x in rng.random(8, dtype=np.float32)])
            for i in range(20)
        ],
        "vec_id: bigint, embedding: array<float>",
    ).coalesce(1).write.parquet(in_dir)
    events: list = []
    q = (
        streaming_index_ingest(
            spark.readStream.schema(base.schema).parquet(in_dir),
            out, checkpoint=str(tmp_path / "ip_chk"),
            maintain_index=False, maintain_codes=False,
            maintenance_mode="inline",
            on_maintenance=lambda b, r: events.append((b, r)),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert events[0][1]["drained"] == 30 and events[0][1]["appended"] == 20
    assert index_health(spark, out)["row_count"] == 150
    import os as _os

    assert not _os.path.isdir(_pending_dir(out))


def test_indexed_topk_with_pending_sees_parked_rows(spark, tmp_path):
    """r12 verdict #6: mid-rebuild searches must cover ALL ingested rows —
    the pending-union helper brute-forces the (delta-sized) parked slice
    and re-ranks with the layout's indexed top-k; with no buffer it equals
    plain indexed_topk."""
    import numpy as np

    from pq_vector_spark.index.build import CLUSTER_COL
    from pq_vector_spark.index.search import indexed_topk
    from pq_vector_spark.operators.topk import brute_force_topk
    from pq_vector_spark.session import VectorTopKOptions
    from pq_vector_spark.streaming.ingest import (
        _pending_dir,
        indexed_topk_with_pending,
    )

    rng = np.random.default_rng(29)
    base, out = _mk_indexed(spark, tmp_path, "fp")
    q_vec = [float(x) for x in rng.random(8)]
    opts = VectorTopKOptions(nprobe=64)

    # no pending buffer: exactly indexed_topk
    a = [r["vec_id"] for r in indexed_topk_with_pending(
        spark, out, q_vec, 10, options=opts, tie_break="vec_id").collect()]
    b = [r["vec_id"] for r in indexed_topk(
        spark, out, q_vec, 10, options=opts, tie_break="vec_id").collect()]
    assert a == b

    # park rows NEAR the query (tiny jitter around q_vec): they must
    # dominate the top-k even though the layout has never seen them
    parked = spark.createDataFrame(
        [
            (
                int(7000 + i),
                [float(v + 0.001 * rng.standard_normal()) for v in q_vec],
            )
            for i in range(5)
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    parked.write.parquet(f"{_pending_dir(out)}/batch-3")
    got = [r["vec_id"] for r in indexed_topk_with_pending(
        spark, out, q_vec, 10, options=opts, tie_break="vec_id").collect()]
    assert set(range(7000, 7005)).issubset(set(got))
    # parity with brute force over layout ∪ pending
    union = spark.read.parquet(out).drop(CLUSTER_COL).unionByName(parked)
    want = [r["vec_id"] for r in brute_force_topk(
        union, "embedding", q_vec, 10, tie_break="vec_id").collect()]
    assert got == want


def test_streaming_ingest_quality_gate(spark, tmp_path):
    """The r13 `gate` hook: a curation stream — trained-classifier gate
    (or any DataFrame->DataFrame filter) applied per micro-batch BEFORE
    the dedup probe; rejected rows never reach the corpus."""
    from pyspark.sql import functions as F

    from pq_vector_spark.operators.classifier import (
        classify_quality,
        fit_lda_quality,
    )
    from pq_vector_spark.streaming.ingest import streaming_ingest

    corpus_dir = str(tmp_path / "gated_corpus")
    in_dir = str(tmp_path / "gated_in")
    chk = str(tmp_path / "gated_chk")

    spark.createDataFrame(
        [(1, "the seed document is here and it is fine for all of us")],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(corpus_dir)

    # fit the gate model on labeled references (prose vs junk)
    fit_rows = [
        (100 + i, "the cat sat on the mat and it is that good for all", True)
        for i in range(3)
    ] + [(200 + i, "zzz 111 !!! ### qqq", False) for i in range(3)]
    model = fit_lda_quality(
        spark.createDataFrame(fit_rows, ["doc_id", "text", "y"]), "text", "y"
    )

    def gate(df):
        return (
            classify_quality(df, "text", model)
            .filter(F.col("quality_lr_pred"))
            .select("doc_id", "text")
        )

    incoming = spark.createDataFrame(
        [
            (10, "a day in the life of a cat that is happy for it"),  # prose → kept
            (11, "qqq 999 ### zzz !!!"),  # junk → gated out
            (12, "the seed document is here and it is fine for all of us"),  # dup → dropped
        ],
        ["doc_id", "text"],
    )
    incoming.write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(incoming.schema).parquet(in_dir)
    q = (
        streaming_ingest(
            stream, corpus_dir, "text", "doc_id", checkpoint=chk, gate=gate
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {1, 10}
