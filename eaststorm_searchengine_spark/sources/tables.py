"""Table IO seam — format-agnostic reader/writer for the engine's
durable tables (SURVEY.md §1.3: the reference's disk-persistent ``pt-*``
KVS tables map to Iceberg tables per BASELINE.json input_hint; scratch
tables map to cached DataFrames).

Everything above this seam is format-agnostic: swap ``format="iceberg"``
in (requires the iceberg-spark runtime jar + a catalog, neither shipped
in this sandbox) and the engine's logic is unchanged.  Parquet is the
tested default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _atomic_exchange(a: str, b: str) -> bool:
    """Atomically swap two paths with ``renameat2(..., RENAME_EXCHANGE)``
    (Linux ≥3.15, local filesystems).  Returns False when unsupported
    (non-Linux libc, EINVAL/ENOSYS, cross-device) so callers can fall
    back to the non-atomic two-rename swap."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        fn = libc.renameat2
    except (OSError, AttributeError):
        return False
    AT_FDCWD = -100
    RENAME_EXCHANGE = 2
    ret = fn(
        AT_FDCWD, os.fsencode(a), AT_FDCWD, os.fsencode(b), RENAME_EXCHANGE
    )
    return ret == 0


class _table_lock:
    """Advisory per-table flock serializing the fallback rename swap."""

    def __init__(self, path: str):
        self.path = path
        self.fd = -1

    def __enter__(self):
        import fcntl

        self.fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        fcntl.flock(self.fd, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self.fd, fcntl.LOCK_UN)
        os.close(self.fd)
        return False


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """Minimal catalog: named tables under a root (parquet) or a Spark
    catalog namespace (iceberg)."""

    def __init__(self, spark: SparkSession, root: str, format: str = "parquet"):
        if format == "iceberg" and not iceberg_available(spark):
            raise RuntimeError(
                "iceberg runtime jar not on the classpath; use format='parquet'"
            )
        self.spark = spark
        self.root = root
        self.format = format

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        if self.format == "iceberg":
            writer = df.writeTo(f"{self.root}.{name}")
            if partition_by:
                from pyspark.sql import functions as F

                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def read(self, name: str) -> DataFrame:
        if self.format == "iceberg":
            return self.spark.read.table(f"{self.root}.{name}")
        return self.spark.read.parquet(self._path(name))

    def exists(self, name: str) -> bool:
        if self.format == "iceberg":
            return self.spark.catalog.tableExists(f"{self.root}.{name}")
        return os.path.exists(self._path(name))

    def rename(self, old: str, new: str) -> None:
        """KVS rename-table parity (``kvs/KVSClient.java:225-251``)."""
        if self.format == "iceberg":
            self.spark.sql(f"ALTER TABLE {self.root}.{old} RENAME TO {self.root}.{new}")
            return
        os.rename(self._path(old), self._path(new))

    def upsert(self, updates: DataFrame, name: str, key: str | list[str]) -> None:
        """KVS point-write parity (``kvs/KVSClient.java:253-318`` put →
        row upsert): MERGE semantics keyed on ``key`` — matching rows
        are replaced by the update, non-matching update rows are
        inserted, untouched base rows survive.

        Iceberg: a real ``MERGE INTO`` (row-level ops, transactional —
        the path for concurrent readers).  Parquet fallback:
        copy-on-write under a per-table advisory lock held for the
        WHOLE read-merge-write-swap (concurrent upserts on the same
        table serialize; the shared staging dir and the read-your-
        writes merge both require it): base anti-join updates ∪
        updates into a staging dir, then the staged dir is swapped
        into place ATOMICALLY via Linux ``renameat2(RENAME_EXCHANGE)``
        (one syscall; a concurrent READER sees either the old or the
        new table, never an absent path).  On
        filesystems/kernels without RENAME_EXCHANGE the swap degrades
        to two renames (still under the lock); a reader racing that
        fallback can observe a brief absence — documented limitation;
        use iceberg for concurrent-reader workloads.  Both paths are
        one shuffle on the key; at 10^12 rows the Iceberg path
        additionally prunes untouched files by key range."""
        keys = [key] if isinstance(key, str) else list(key)
        if self.format == "iceberg":
            updates.createOrReplaceTempView("_upsert_src")
            on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            self.spark.sql(
                f"MERGE INTO {self.root}.{name} t USING _upsert_src s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
            return
        import shutil

        os.makedirs(self.root, exist_ok=True)
        with _table_lock(self._path(f"_lock_{name}")):
            base = self.read(name)
            merged = base.join(updates.select(*keys), keys, "left_anti").unionByName(
                updates.select(*base.columns)
            )
            staged = self._path(f"_staging_{name}")
            trash = self._path(f"_trash_{name}")
            merged.write.mode("overwrite").parquet(staged)
            shutil.rmtree(trash, ignore_errors=True)
            live = self._path(name)
            if os.path.exists(live) and _atomic_exchange(live, staged):
                # staged now holds the OLD table; drop it
                shutil.rmtree(staged, ignore_errors=True)
                return
            if os.path.exists(live):
                os.rename(live, trash)
            os.rename(staged, live)
            shutil.rmtree(trash, ignore_errors=True)

    def drop(self, name: str) -> None:
        """FlameRDD.destroy parity (``flame/FlameRDD.java:50-56``)."""
        if self.format == "iceberg":
            self.spark.sql(f"DROP TABLE IF EXISTS {self.root}.{name}")
            return
        import shutil

        shutil.rmtree(self._path(name), ignore_errors=True)
