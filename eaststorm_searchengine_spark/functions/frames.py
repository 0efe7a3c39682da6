"""Driver-side DataFrame helpers shared by every operator.

``local_frame`` is the one way driver-side rows enter Spark.
``createDataFrame`` on a Python list turns it into a Python RDD
(``parallelize`` + a pickling ``RDD.map``), so every job that reads the
frame, and every downstream job that re-runs its lineage, schedules
Python-worker tasks that do no Python work yet pay the worker's per-task
set-up.  An Arrow table instead becomes a JVM ``LocalRelation``: no
Python RDD, no Python task, and ``collect()`` on it is served from the
driver without a job.

``ensure_parallelism`` and the size-gated ``spread_for_udf`` are the
spread gates in front of the expensive per-row Python passes.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: list, ddl_schema: str) -> DataFrame:
    """``rows`` (tuples in ``ddl_schema`` column order; may be empty) →
    a DataFrame over a JVM ``LocalRelation``.  Same rows and schema as
    ``createDataFrame`` on the list, independent of the Arrow conf."""
    schema = StructType.fromDDL(ddl_schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


ENSURE_PARALLELISM_FACTOR = 2


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small-input guard: a compact parquet input coalesces to a
    handful of scan splits (maxPartitionBytes), which would run the
    expensive per-row Python pass on 1-2 cores.  Repartition up to
    cores × ``ENSURE_PARALLELISM_FACTOR`` when the scan gives fewer —
    the raw-input shuffle is cheap at this size.  At production scale
    (thousands of splits) this is a no-op, so no 100-TB reshuffle ever
    happens."""
    target = df.sparkSession.sparkContext.defaultParallelism * ENSURE_PARALLELISM_FACTOR
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


SPREAD_MIN_BYTES = 2 << 20  # spread_for_udf's size gate


def spread_for_udf(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cores before an expensive
    per-row Python pass: a small parquet arrives as ONE scan partition,
    which serialized the whole UDF onto a single core (measured 8.3 s of
    an 11 s entry at 50k docs).  Callers project to the needed columns
    first, so the repartition shuffles only those.

    Two no-op guards keep this scale-adaptive rather than tuned to one
    shape: inputs that already have scan parallelism are left alone
    (no shuffle), and inputs below ``SPREAD_MIN_BYTES`` (2 MB,
    plan-statistics estimate) keep their single-partition plan — at a
    few thousand rows the repartition's fixed shuffle/stage cost
    exceeds the single-core UDF time it saves (measured 1.3-2.6×
    regressions at the 5k-doc scale before the gate)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = SPREAD_MIN_BYTES  # unknown → assume large (spread)
    if size < SPREAD_MIN_BYTES:
        return df
    return df.repartition(par * 2)
