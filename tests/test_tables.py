"""TableIO seam: write/read/exists/drop round-trips; iceberg cleanly
gated when the runtime jar is absent."""

import os
import pytest

from eaststorm_searchengine_spark.sources.tables import TableIO, iceberg_available

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, "_tmp", "t_tables")


def test_parquet_roundtrip(spark):
    io = TableIO(spark, TMP)
    df = spark.range(100).withColumnRenamed("id", "v")
    io.write(df, "t1")
    assert io.exists("t1")
    assert io.read("t1").count() == 100
    io.write(df.withColumn("p", df["v"] % 4), "t2", partition_by=["p"])
    assert io.read("t2").filter("p = 1").count() == 25
    io.drop("t1")
    assert not io.exists("t1")


def test_iceberg_gated(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg present; gate not applicable")
    with pytest.raises(RuntimeError, match="iceberg runtime jar"):
        TableIO(spark, "cat.db", format="iceberg")


def test_upsert_merge_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.sources.tables import TableIO

    io = TableIO(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    io.write(base, "t")
    updates = spark.createDataFrame(
        [(2, "b2", 22.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    io.upsert(updates, "t", key="k")
    got = sorted((r.k, r.name, r.v) for r in io.read("t").collect())
    assert got == [(1, "a", 10.0), (2, "b2", 22.0), (3, "c", 30.0), (4, "d", 40.0)]
    # idempotent re-upsert of the same updates
    io.upsert(updates, "t", key="k")
    got2 = sorted((r.k, r.name, r.v) for r in io.read("t").collect())
    assert got2 == got


def test_atomic_exchange_swaps_directories(tmp_path):
    """The upsert swap's renameat2(RENAME_EXCHANGE) primitive
    (ADVICE r02 #4): both paths exist at every instant; contents are
    exchanged in one syscall."""
    import os

    from eaststorm_searchengine_spark.sources.tables import _atomic_exchange

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a)
    os.makedirs(b)
    open(os.path.join(a, "was_a"), "w").close()
    open(os.path.join(b, "was_b"), "w").close()
    assert _atomic_exchange(a, b) is True  # local fs on Linux supports it
    assert os.path.exists(os.path.join(a, "was_b"))
    assert os.path.exists(os.path.join(b, "was_a"))
    # unsupported target (missing path) reports False, not an exception
    assert _atomic_exchange(str(tmp_path / "nope"), a) is False
