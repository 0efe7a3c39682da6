"""The Python boundary: driver rows enter Spark as LocalRelations
(``functions.frames.local_frame``) and Python workers skip the
per-task re-read of unchanged zip archives (``worker_guard``)."""

import ast
import importlib
import re
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from eaststorm_searchengine_spark import worker_guard
from eaststorm_searchengine_spark.functions.frames import local_frame

PKG = Path(__file__).resolve().parent.parent / "eaststorm_searchengine_spark"
_GUARDED_PY = sys.version_info[:2] in {(3, 10), (3, 11)}


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(1, 2, "a", [0.5, -1.0]), (3, None, None, None), (-(1 << 62), 7, "", [])],
         "id long, n int, s string, v array<double>"),
        ([], "id long, n int, s string, v array<double>"),
        ([(i, i % 97, str(i), [float(i)]) for i in range(100_000)],
         "id long, n int, s string, v array<double>"),
    ],
    ids=["mixed", "empty", "100k"],
)
def test_local_frame_matches_create_dataframe(spark, rows, ddl):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    plan = _plan(got)
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, plan
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_needs_no_arrow_conf(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "x")], "a int, b string")
        assert _plan(df).startswith("LocalRelation")
        assert [tuple(r) for r in df.collect()] == [(1, "x")]
    finally:
        spark.conf.set(key, before)


def test_connected_components_driver_path_has_no_logical_rdd(spark):
    from eaststorm_searchengine_spark.operators import dedup

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    cc = dedup.connected_components(pairs)
    assert "LogicalRDD" not in _plan(cc)
    assert sorted(tuple(r) for r in cc.collect()) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    ]


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not _GUARDED_PY, reason="the re-read is eager only on CPython 3.10/3.11")
def test_guard_skips_unchanged_zip_and_rereads_rewritten(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zg_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_guard, "installed", False)
    monkeypatch.setattr(worker_guard, "_stamps", {})
    monkeypatch.setattr(worker_guard, "_in_worker", lambda: True)
    assert importlib.import_module("zg_mod_a").X == 1

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real_read(p))

    def reads_of_archive():
        importlib.invalidate_caches()
        n = reads.count(str(archive))
        reads.clear()
        return n

    assert reads_of_archive() >= 1  # unguarded: eager re-read per call
    worker_guard.install()
    assert worker_guard.installed
    reads_of_archive()  # first guarded call records the stamp
    assert reads_of_archive() == 0
    assert reads_of_archive() == 0

    _write_zip(archive, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
    assert reads_of_archive() == 1
    assert importlib.import_module("zg_mod_b").Y == 2
    monkeypatch.delitem(sys.modules, "zg_mod_a")
    monkeypatch.delitem(sys.modules, "zg_mod_b")


def test_guard_is_noop_in_driver():
    worker_guard.install()
    assert zipimport.zipimporter.invalidate_caches is not worker_guard._invalidate_if_changed
    assert not worker_guard.installed


_PROBE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    import numpy as np
    from eaststorm_searchengine_spark.functions.frames import local_frame
    from eaststorm_searchengine_spark.operators import dedup, similarity
    from eaststorm_searchengine_spark.session import get_spark

    spark = get_spark("guard-probe", cores=1, shuffle_partitions=2)
    rng = np.random.RandomState(0)
    words = ["w%d" % i for i in range(50)]
    docs = [(i, " ".join(rng.choice(words, 30))) for i in range(40)]
    docs += [(100 + i, t) for i, t in docs[:5]]
    dedup.near_dup_groups(
        local_frame(spark, docs, "doc_id long, text string"), threshold=0.5
    ).collect()
    vecs = [(i, rng.standard_normal(8).tolist()) for i in range(200)]
    idx = similarity.IVFIndex(
        local_frame(spark, vecs, "vec_id long, embedding array<double>"), n_centroids=4
    )
    idx.topk([(1, vecs[3][1])], k=3, n_probe=2).collect()

    def probe(batches):
        import zipimport
        import pandas as pd
        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({{"guard": [getattr(fn, "__module__", "")]}})

    out = spark.range(1, numPartitions=1).mapInPandas(probe, "guard string").collect()
    print("GUARD=" + ",".join(r["guard"] for r in out))
    spark.stop()
    """
)


@pytest.mark.skipif(not _GUARDED_PY, reason="the re-read is eager only on CPython 3.10/3.11")
def test_worker_has_guard_after_dedup_and_ivf():
    """A local[1] session in a child process (one SparkContext per
    process): after near_dup_groups and IVFIndex.topk, a probe UDF that
    imports nothing of the package finds the guard installed in its
    Python worker."""
    root = str(PKG.parent)
    res = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=root)],
        capture_output=True, text=True, timeout=600, cwd=root,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("GUARD=")]
    assert line == ["GUARD=eaststorm_searchengine_spark.worker_guard"], res.stdout[-2000:]


def _package_sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(), str(path))


def test_driver_rows_enter_spark_only_through_local_frame():
    """Static rule: the package calls ``createDataFrame`` only inside
    ``local_frame`` and renders no ``FROM VALUES`` SQL text."""
    bad = []
    values_sql = re.compile(r"\bFROM\s+VALUES\b", re.IGNORECASE)
    for path, tree in _package_sources():
        rel = path.relative_to(PKG.parent)
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame" and id(node) not in allowed):
                bad.append(f"{rel}:{node.lineno} createDataFrame")
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and values_sql.search(node.value)):
                bad.append(f"{rel}:{node.lineno} FROM VALUES")
    assert not bad, bad
