"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every setting is chosen for the
1000-executor / 100 TB case and documented as such:

* AQE on (runtime re-plan: coalesce small shuffle partitions, skew-join
  splitting — the index-build shuffle is Zipf-skewed by term).
* Arrow on (all Python UDFs in this engine are vectorized pandas UDFs;
  Arrow batch transfer is the only acceptable Python boundary).
* ``spark.sql.shuffle.partitions`` defaults to cores locally; on a real
  cluster set it ~2-3× total cores — AQE coalesces the excess.
* Cores and driver heap default to the host's usable CPUs and half of
  its RAM (at most 24 GB); ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM``
  override them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not on Linux
        return os.cpu_count() or 1


def _host_driver_mem() -> str:
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, ValueError, OSError):
        return "4g"
    return f"{max(1024, min(24 << 10, ram_mb // 2))}m"


def get_spark(
    app_name: str = "eaststorm-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cores())
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # pages.html rows are up to 500 KB (Crawler.java:28); keep scan
        # splits bounded so a partition of html blobs fits executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
