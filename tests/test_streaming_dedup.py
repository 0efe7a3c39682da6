"""Streaming exact dedup (dropDuplicatesWithinWatermark): first
arrival wins, later copies within the watermark are dropped — across
micro-batches AND across restarts from the checkpoint."""

import os
import shutil

from pyspark.sql import functions as F

from eaststorm_searchengine_spark.streaming import dedup as SD

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, "_tmp", "t_stream_dedup")
SCHEMA = "doc_id long, text string, ts timestamp"


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _ts(sec):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(1_700_000_000 + sec, tz=timezone.utc)


def test_stream_dedup_first_arrival_wins(spark):
    shutil.rmtree(TMP, ignore_errors=True)
    batch1 = [
        (1, "alpha text", _ts(0)),
        (2, "beta text", _ts(10)),
        (3, "alpha text", _ts(20)),  # in-batch duplicate
    ]
    _docs(spark, batch1).coalesce(1).write.mode("overwrite").parquet(f"{TMP}/in")
    SD.run_dedup_stream(spark, f"{TMP}/in", f"{TMP}/ckpt", f"{TMP}/out", SCHEMA)
    out1 = {
        (r.doc_id, r.text_hash) for r in spark.read.parquet(f"{TMP}/out").collect()
    }
    assert len(out1) == 2  # alpha once, beta once
    assert {d for d, _ in out1} <= {1, 2, 3}
    assert len({h for _, h in out1}) == 2

    # a second RUN (restart from checkpoint) with copies of already-seen
    # texts inside the watermark plus one new text: only the new text
    # (and nothing already emitted) appears
    batch2 = [
        (10, "alpha text", _ts(30)),   # dup of batch1, within watermark
        (11, "beta text", _ts(40)),    # dup of batch1, within watermark
        (12, "gamma text", _ts(50)),   # new
    ]
    _docs(spark, batch2).coalesce(1).write.mode("append").parquet(f"{TMP}/in")
    SD.run_dedup_stream(spark, f"{TMP}/in", f"{TMP}/ckpt", f"{TMP}/out", SCHEMA)
    out2 = {
        (r.doc_id, r.text_hash) for r in spark.read.parquet(f"{TMP}/out").collect()
    }
    new = out2 - out1
    assert {d for d, _ in new} == {12}, new


def test_stream_dedup_distinct_hash_set_matches_batch(spark):
    """The emitted digest SET equals the batch distinct-digest set over
    the same documents (stream == batch on the dedup dimension)."""
    tmp = f"{TMP}_eq"
    shutil.rmtree(tmp, ignore_errors=True)
    rows = [
        (i, f"text number {i % 7}", _ts(i)) for i in range(40)
    ]  # 7 distinct texts, many copies each
    _docs(spark, rows).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    SD.run_dedup_stream(spark, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/out", SCHEMA)
    got = {r.text_hash for r in spark.read.parquet(f"{tmp}/out").collect()}
    want = {
        r.h
        for r in _docs(spark, rows).select(F.md5("text").alias("h")).distinct().collect()
    }
    assert got == want and len(got) == 7
