"""Host facts, a Spark session sized for the host, and a peak-RSS sampler.

The session is configured here, not through the package's ``get_spark``:
its defaults (32 cores, a 24 GB driver heap) describe a larger machine,
and the benchmark must not depend on them.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

PACKAGE = "eaststorm_searchengine_spark"


def nproc() -> int:
    try:
        out = subprocess.run(["nproc"], capture_output=True, text=True, check=True)
        return max(1, int(out.stdout.strip()))
    except (OSError, ValueError, subprocess.CalledProcessError):
        return max(1, os.cpu_count() or 1)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def package_line_counts(root: str) -> dict:
    """Lines of Python per top-level part of the package (ROADMAP asks
    for line counts beside every benchmark record)."""
    counts: dict[str, int] = {}
    base = os.path.join(root, PACKAGE)
    for dirpath, _dirs, files in os.walk(base):
        for name in files:
            if not name.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, name), base)
            part = rel.split(os.sep)[0] if os.sep in rel else "(top)"
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                counts[part] = counts.get(part, 0) + sum(1 for _ in f)
    counts["total"] = sum(counts.values())
    return counts


def spark_conf(cores: int, ram_mb: int, event_log_dir: str | None) -> dict[str, str]:
    """Session settings derived from the host. The driver heap holds the
    executors too (local mode), so it gets an eighth of RAM, capped at
    2 GB: every workload's data fits in a few hundred MB, and the rest of
    the machine is left to the OS page cache and the Python workers."""
    heap_mb = max(1024, min(2048, ram_mb // 8))
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the driver keeps job, stage and SQL-execution records for the
        # status store even without a UI; with the default limits (1,000
        # each) the first large clean-up lands inside the timed loop
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "100",
        "spark.ui.retainedTasks": "10000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log_dir)
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_spark(conf: dict[str, str], local_dir: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench").config(
        "spark.local.dir", os.path.abspath(local_dir)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ")"
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used by ``root_pid`` and all its
    descendants, including children they have already reaped. Time the
    hypervisor gave to other guests (steal) is not in it."""
    kids = children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(kids.get(pid, ()))
    return total / CLK_TCK


def steal_s() -> float:
    """CPU seconds, summed over all CPUs, that the hypervisor gave to
    other guests since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    kids = children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) every ``interval`` seconds and
    keeps the peak. psutil is not a dependency; /proc is read directly."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))


def host_facts(root: str, cores: int, ram_mb: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "mem_total_mb": ram_mb,
        "pyspark": pyspark.__version__,
        "python": ".".join(map(str, sys.version_info[:3])),
        "line_counts": package_line_counts(root),
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
