"""Flame dataflow-surface parity operators.

The reference's dataflow API (``flame/FlameRDD.java``,
``flame/FlamePairRDD.java``) maps almost entirely onto native DataFrame
ops (SURVEY.md §2.2-2.5).  This module provides the few composites with
non-obvious semantics, reproducing the reference's output contracts
exactly (string formats included) so a migrating user gets identical
values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cogroup_strings(a: DataFrame, b: DataFrame) -> DataFrame:
    """``FlamePairRDD.cogroup`` parity: full-outer grouped join with the
    reference's exact value encoding ``[a1,a2,...],[b1,b2,...]`` where
    each side's values are sorted (``flame/FlamePairRDD.java:70-78``,
    impl ``FlamePairRDDImpl.java:116-148`` — the impl sorts each side's
    collected values).  Inputs: two (key string, value string) frames.
    Missing side encodes as ``[]``."""
    ga = a.groupBy("key").agg(
        F.concat(
            F.lit("["),
            F.array_join(F.sort_array(F.collect_list("value")), ","),
            F.lit("]"),
        ).alias("va")
    )
    gb = b.groupBy("key").agg(
        F.concat(
            F.lit("["),
            F.array_join(F.sort_array(F.collect_list("value")), ","),
            F.lit("]"),
        ).alias("vb")
    )
    return (
        ga.join(gb, "key", "full_outer")
        .select(
            "key",
            F.concat(
                F.coalesce("va", F.lit("[]")),
                F.lit(","),
                F.coalesce("vb", F.lit("[]")),
            ).alias("value"),
        )
        .orderBy("key")
    )


def anti_join(frontier: DataFrame, crawled: DataFrame, on: str) -> DataFrame:
    """The crawler's "candidate URLs not yet crawled" pattern
    (``jobs/Crawler.java:279-298``) as a left-anti join."""
    return frontier.join(crawled, on, "left_anti")
