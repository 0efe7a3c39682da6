"""Watermarked windowed aggregation (append mode: finalized windows ==
batch once the watermark passes; late data dropped) and
applyInPandasWithState sessionization (restartable across runs;
closed sessions == the batch sessionizer's)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from eaststorm_searchengine_spark.operators import analytics
from eaststorm_searchengine_spark.streaming import windows as W

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, "_tmp", "t_stream_win")
EVENTS_SCHEMA = "event_id long, user_id long, event_type string, ts timestamp, value double"


@pytest.fixture(scope="module")
def events(spark):
    return (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .cache()
    )


def _fence(events, days=30):
    """A single far-future event that pushes the watermark beyond every
    real window so append mode finalizes (emits) them all."""
    return (
        events.orderBy(F.desc("ts")).limit(1)
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
        .withColumn("event_id", F.lit(10_000_000))
        .withColumn("event_type", F.lit("fence"))
    )


def test_windowed_counts_stream_equals_batch(spark, events):
    shutil.rmtree(TMP, ignore_errors=True)
    # two micro-batch waves, then a watermark fence to finalize all
    events.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(f"{TMP}/in")
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(f"{TMP}/in")
    W.run_windowed_event_counts(spark, f"{TMP}/in", f"{TMP}/ckpt", f"{TMP}/out", EVENTS_SCHEMA)
    _fence(events).write.mode("append").parquet(f"{TMP}/in")
    W.run_windowed_event_counts(spark, f"{TMP}/in", f"{TMP}/ckpt", f"{TMP}/out", EVENTS_SCHEMA)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{TMP}/out")
        .filter(F.col("event_type") != "fence")
        .collect()
    )
    want = sorted(tuple(r) for r in W.windowed_event_counts_batch(events).collect())
    assert got == want and len(got) > 0


def test_watermark_drops_late_events(spark, events):
    """A straggler far older than the watermark must not appear in the
    finalized output — exercised through the SHIPPED operator."""
    tmp = f"{TMP}_late"
    shutil.rmtree(tmp, ignore_errors=True)
    on_time = events.filter(F.col("event_id") < 500)
    on_time.write.mode("overwrite").parquet(f"{tmp}/in")
    W.run_windowed_event_counts(spark, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/out", EVENTS_SCHEMA)

    # straggler: 1 day older than everything seen — far past the
    # 10-minute watermark; then a fence so every live window finalizes
    old = (
        on_time.orderBy("ts").limit(1)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 1 DAY"))
        .withColumn("event_id", F.lit(999999))
    )
    old.write.mode("append").parquet(f"{tmp}/in")
    _fence(on_time).write.mode("append").parquet(f"{tmp}/in")
    W.run_windowed_event_counts(spark, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/out", EVENTS_SCHEMA)

    rows = spark.read.parquet(f"{tmp}/out").collect()
    late_ws = (
        old.select(F.col("ts").cast("timestamp").cast("long")).collect()[0][0]
        // 300 * 300
    )
    assert not any(r["window_start"] == late_ws for r in rows), rows[:5]
    assert len(rows) > 0


def _batch_sessions(events):
    return {
        (r.user_id, r.start_epoch, r.end_epoch, r.n_events, round(r.total_value, 6))
        for r in analytics.sessionize(events, gap_minutes=30).collect()
    }


def _drop_last_per_user(sessions):
    last = {}
    for u, st, e, n, t in sessions:
        if u not in last or st > last[u][1]:
            last[u] = ((u, st, e, n, t), st)
    return sessions - {v[0] for v in last.values()}


def test_stateful_sessionize_matches_batch(spark, events):
    tmp = f"{TMP}_sess"
    shutil.rmtree(tmp, ignore_errors=True)
    events.write.mode("overwrite").parquet(f"{tmp}/in")
    W.sessionize_stream(spark, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/out", EVENTS_SCHEMA, gap_sec=1800)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    # emitted == batch minus each user's final (still-open) session
    want = _drop_last_per_user(_batch_sessions(events))
    assert got == want and len(got) > 0


def test_stateful_sessionize_restartable_across_runs(spark, events):
    """Open sessions survive in GroupState across availableNow runs
    (file sink + checkpoint recovery): splitting the input at a time
    threshold and running twice yields the same closed sessions as one
    run over everything."""
    tmp = f"{TMP}_sess2"
    shutil.rmtree(tmp, ignore_errors=True)
    cut = events.agg(F.expr("percentile(cast(cast(ts as timestamp) as long), 0.5)")).collect()[0][0]
    early = events.filter(F.col("ts").cast("timestamp").cast("long") <= cut)
    late = events.filter(F.col("ts").cast("timestamp").cast("long") > cut)
    early.write.mode("overwrite").parquet(f"{tmp}/in")
    W.sessionize_stream(spark, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/out", EVENTS_SCHEMA, gap_sec=1800)
    late.write.mode("append").parquet(f"{tmp}/in")
    W.sessionize_stream(spark, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/out", EVENTS_SCHEMA, gap_sec=1800)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    want = _drop_last_per_user(_batch_sessions(events))
    assert got == want and len(got) > 0
