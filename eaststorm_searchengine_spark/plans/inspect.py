"""Physical-plan inspection helpers — the ".explain and iterate"
loop, made assertable.

These let tests (and humans) verify the plans the engine relies on at
100 TB actually materialize: parquet predicate pushdown + column
pruning, partition (directory) pruning on segment buckets, and broadcast
joins for query-term lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters line(s) of every scan in the plan."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """The ReadSchema line(s) — verifies column pruning reached the scan."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def partition_filters(df: DataFrame) -> str:
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PartitionFilters" in line
    )


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)
