import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from eaststorm_searchengine_spark.session import get_spark

    s = get_spark("eaststorm-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def arrow_batch_rows(spark):
    """``with arrow_batch_rows(n):`` runs its body with
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` set to ``n``, the
    bound ``build_index`` gates its single pass on."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"

    @contextlib.contextmanager
    def rows(n: int):
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return rows
