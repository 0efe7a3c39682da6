"""Event-time streaming operators: watermarked tumbling-window
aggregation and custom stateful sessionization.

The reference has no streaming (SURVEY.md §2.8); these are the two
canonical event-stream shapes the build brief calls for:

* :func:`run_windowed_event_counts` — ``readStream → withWatermark →
  groupBy(window(...), key) → agg`` in APPEND mode to a file sink: a
  window row is emitted exactly once, when the watermark passes its
  end (finalized), and events arriving later than the watermark are
  dropped — both behaviors are tested.  The watermark also bounds
  state (finalized windows are evicted).  The window/agg expression is
  shared with the batch mirror so stream == batch stays meaningful.
* :func:`sessionize_stream` — gap-based sessionization via
  ``applyInPandasWithState`` (GroupState): per-user open-session state
  carries (start, last-seen, count, sum) across micro-batches.  This
  is the custom-stateful-operator escape hatch for semantics window
  aggs can't express (data-driven session boundaries).

At scale both shapes keep state partitioned by key (user/event_type),
and the watermark bounds window state — the standard Structured
Streaming story; nothing here is driver-resident.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import worker_guard


def _window_agg(df: DataFrame, window_sec: int) -> DataFrame:
    """The shared tumbling-window aggregation — applied to both the
    static and the streaming DataFrame so the stream == batch gate
    compares one expression, not two hand-copies."""
    return (
        df.groupBy(F.window(F.col("ts"), f"{window_sec} seconds").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )


def windowed_event_counts_batch(events: DataFrame, window_sec: int = 300) -> DataFrame:
    """Batch mirror of the streaming windowed agg (oracle-checked by
    the ``windowed_event_counts`` contract query)."""
    return _window_agg(events, window_sec).orderBy("window_start", "event_type")


def run_windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str,
    window_sec: int = 300,
    watermark: str = "10 minutes",
) -> None:
    """File-source stream → watermark → tumbling-window agg → APPEND
    parquet sink.  Append mode is what gives the watermark its two
    jobs: a window emits exactly once when the watermark passes its
    end, and events older than the watermark are dropped (state for
    finalized windows is evicted).  Restartable from the checkpoint.
    Runs all available micro-batches and returns."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = _window_agg(stream.withWatermark("ts", watermark), window_sec)
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_SESSION_STATE_SCHEMA = "start long, last long, n long, total double"
_SESSION_OUT_SCHEMA = (
    "user_id long, session_start long, session_end long, n_events long, total_value double"
)


def _session_fn(gap_sec: int):
    def fn(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        worker_guard.install()
        (user_id,) = key
        rows = pd.concat(list(pdfs)).sort_values("epoch")
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        out = []
        for r in rows.itertuples():
            e, v = int(r.epoch), float(r.value)
            if last is not None and e <= last:
                # out-of-order arrival relative to the open session
                # (events within one batch are sorted, so this is a
                # cross-batch straggler).  Best effort, watermark-like:
                # fold it into the open session if it falls inside (or
                # gap-chains backward onto) the session's span without
                # moving ``last`` backwards; drop it if it is older
                # than the open session by more than the gap.
                if e >= start:
                    n += 1
                    total += v
                elif start - e <= gap_sec:
                    start = e
                    n += 1
                    total += v
                continue
            if last is not None and e - last > gap_sec:
                out.append({"user_id": user_id, "session_start": start,
                            "session_end": last, "n_events": n, "total_value": total})
                start, n, total = e, 0, 0.0
            if start is None:
                start = e
            last = e
            n += 1
            total += v
        state.update((start, last, n, total))
        if out:
            yield pd.DataFrame(out)

    return fn


def sessionize_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str,
    gap_sec: int = 1800,
) -> None:
    """Gap-based sessionization as a custom stateful streaming operator
    (``applyInPandasWithState``): emits a session row when a later
    event crosses the user's EVENT-time gap (``gap_sec``).  Sink is
    APPEND parquet, so the query is restartable from its checkpoint:
    each user's final still-open session correctly remains in GroupState
    and is closed by a later run's events.  Stream == batch equivalence
    holds for per-user event-time-ordered arrival (the normal log-stream
    case); cross-batch stragglers get best-effort watermark-like
    handling (folded into the open session when within its span or
    gap-chaining onto its start; dropped when older than that).

    Spark 4.1.2 workarounds, all environment-verified:
    * planning FlatMapGroupsInPandasWithState with AQE enabled hits an
      internal NPE (PythonSQLMetrics on a session-less SparkPlan while
      AQE is being force-disabled for the stateful query), so AQE is
      toggled off around the stream and restored after;
    * availableNow never terminates while ProcessingTimeTimeout timers
      are pending (endless "no new data but cleaning up state"
      batches), so no flush timers — open sessions wait for the next
      run, which the restartable checkpoint + file sink support;
    * the newer ``transformWithStateInPandas`` would avoid the NPE,
      but its state protocol needs google.protobuf, which this
      container doesn't ship.
    """
    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withColumn("epoch", F.col("ts").cast("timestamp").cast("long"))
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_sec),
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = (
            sessions.writeStream.outputMode("append")
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
