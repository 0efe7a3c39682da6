"""Small-file IO through the Hadoop FileSystem API.

Index metadata (stats.json) and resumable-build commit markers must
live on the SAME filesystem as the segment/doclens parquet so that a
``spark-submit --output hdfs://...`` (or s3a://) deployment works and
crash markers survive driver loss — driver-local POSIX IO only works
for ``file:`` outputs.  These helpers route the byte-sized metadata
through ``org.apache.hadoop.fs.FileSystem`` (already on the Spark
classpath for every supported scheme), keeping one code path for
local paths and remote URIs alike.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create/overwrite ``path`` with ``data`` (atomic enough for
    single-writer metadata: Hadoop create+close; missing parent
    directories are created)."""
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite ``path`` with UTF-8 ``text``."""
    write_bytes(spark, path, text.encode("utf-8"))


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` and everything under it; nothing when absent."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def read_text(spark: SparkSession, path: str) -> str:
    fs, hpath = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        baos = spark._jvm.java.io.ByteArrayOutputStream()
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs(spark, path)
    fs.mkdirs(hpath)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the entries directly under ``path``; [] when it does
    not exist."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]
