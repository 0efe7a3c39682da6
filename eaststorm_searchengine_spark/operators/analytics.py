"""Crawl-quality analytics — groupBy-report rewrites of
``jobs/CrawlQualityAnalyzer.java`` (host concentration :250-307,
response codes :309-349, content types :351-394, size stats :396-445,
TLD counts :491-534, systematic sampling :200-234) over the ``pages``
table, plus generic event-stream reports used by the driver's
correctness gate.

Everything here is stock DataFrame API — one shuffle per report,
partial aggregation map-side; at 10^12 rows these are the canonical
"groupBy histogram" shape Catalyst already plans optimally
(SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from ..functions.udfs import extract_title_udf, host_udf


def host_concentration(pages: DataFrame, top: int = 20) -> DataFrame:
    """Top hosts by page count (CrawlQualityAnalyzer.java:250-307)."""
    return (
        pages.select(host_udf("url").alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("pages"))
        .orderBy(F.desc("pages"), F.asc("host"))
        .limit(top)
    )


def tld_counts(pages: DataFrame) -> DataFrame:
    """Pages per top-level domain (CrawlQualityAnalyzer.java:491-534)."""
    return (
        pages.select(
            F.regexp_extract(host_udf("url"), r"\.([a-z0-9\-]+)$", 1).alias("tld")
        )
        .groupBy("tld")
        .agg(F.count("*").alias("pages"))
        .orderBy(F.desc("pages"), F.asc("tld"))
    )


def language_share(pages: DataFrame) -> DataFrame:
    """Pages per lang column (the reference greps <html lang>,
    Crawler.java:816-821; lang is first-class per input_hint)."""
    return (
        pages.groupBy("lang")
        .agg(F.count("*").alias("pages"))
        .orderBy(F.desc("pages"), F.asc("lang"))
    )


def size_stats(pages: DataFrame) -> DataFrame:
    """Page-size distribution: min/max/avg/median of html bytes
    (CrawlQualityAnalyzer.java:396-445)."""
    sized = pages.select(F.length("html").alias("bytes"))
    return sized.agg(
        F.count("*").alias("pages"),
        F.min("bytes").alias("min_bytes"),
        F.max("bytes").alias("max_bytes"),
        F.round(F.avg("bytes"), 4).alias("avg_bytes"),
        F.round(F.expr("percentile(bytes, 0.5)"), 4).alias("median_bytes"),
    )


def size_histogram(pages: DataFrame, bucket: int = 1024) -> DataFrame:
    """Bucketed page-size histogram (the reference's when-chains,
    CrawlQualityAnalyzer.java:420-445)."""
    return (
        pages.select((F.floor(F.length("html") / bucket) * bucket).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("pages"))
        .orderBy("bucket_lo")
    )


def title_coverage(pages: DataFrame) -> DataFrame:
    """Share of pages with an extractable, non-blank <title>
    (CrawlQualityAnalyzer-style coverage probe)."""
    t = pages.select(extract_title_udf("html").alias("title"))
    return t.agg(
        F.count("*").alias("pages"),
        F.sum(
            F.when(F.col("title").isNotNull() & (F.trim("title") != ""), 1).otherwise(0)
        ).cast("long").alias("with_title"),
    )


def systematic_sample(df: DataFrame, order_col: str, step: int) -> DataFrame:
    """Every Nth row in a deterministic order — the analyzer's
    systematic sampling (CrawlQualityAnalyzer.java:200-234).
    row_number is 1-based; keeps rows where (rn-1) % step == 0.

    Distributed two-phase rank (no global single-partition window):
    range-partition on ``order_col``, materialize once (localCheckpoint
    pins the sampled range boundaries so the count job and the output
    job see identical partitions), count rows per partition (tiny job),
    then per-partition row_number + broadcast cumulative offsets.
    ``order_col`` values must be unique (ties would make the global
    order — and hence the sample — ambiguous in any implementation)."""
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(nparts, F.asc(order_col)).localCheckpoint(eager=False)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    counts = sorted(
        (r["_pid"], r["n"]) for r in with_pid.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = F.broadcast(
        local_frame(spark, offsets or [(0, 0)], "_pid int, _off long")
    )
    w = Window.partitionBy("_pid").orderBy(F.asc(order_col))
    return (
        with_pid.join(off_df, "_pid")
        .withColumn("rn", F.row_number().over(w) + F.col("_off"))
        .filter((F.col("rn") - 1) % step == 0)
        .drop("rn", "_pid", "_off")
    )


# ---- generic event-table reports (driver tables) -----------------------

def event_type_counts(events: DataFrame) -> DataFrame:
    return (
        events.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


def event_value_stats(events: DataFrame) -> DataFrame:
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        )
        .orderBy("event_type")
    )


def top_users(events: DataFrame, top: int = 20) -> DataFrame:
    return (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(top)
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (30-min inactivity default) — the
    standard event-stream operator: lag → new-session flag → running
    sum → per-session aggregates.  Deterministic order (ts, event_id).
    Output times as epoch seconds (cross-engine-stable longs)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
            > gap_minutes * 60,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(F.col("ts").cast("timestamp").cast("long")).alias("start_epoch"),
            F.max(F.col("ts").cast("timestamp").cast("long")).alias("end_epoch"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .withColumn("duration_sec", (F.col("end_epoch") - F.col("start_epoch")).cast("long"))
        .orderBy("user_id", "session_idx")
    )
