"""Similarity-search operators: blocked exact near-dup pairs (the
production path) vs the naive all-pairs baseline, LSH near-dup recall
on planted duplicates, and plan assertions (no Cartesian products)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from eaststorm_searchengine_spark.operators import similarity
from eaststorm_searchengine_spark.plans import inspect

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted((r.vec_a, r.vec_b, r.cosine) for r in df.collect())


def _ivf_topk(emb, qvecs, k, n_probe=64, **index_kw):
    """Build an IVFIndex, query it once and release its persisted lists."""
    idx = similarity.IVFIndex(emb, **index_kw)
    try:
        return idx.topk(qvecs, k=k, n_probe=n_probe).collect()
    finally:
        idx.unpersist()


def test_blocked_near_dup_matches_allpairs(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = _rows(similarity.cosine_near_dup_pairs(emb, 0.45))
    want = _rows(similarity.cosine_near_dup_pairs_allpairs(emb, 0.45))
    assert len(want) > 0
    assert got == want


def test_blocked_near_dup_odd_block_count(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = _rows(similarity.cosine_near_dup_pairs(emb, 0.45, n_blocks=3))
    want = _rows(similarity.cosine_near_dup_pairs_allpairs(emb, 0.45))
    assert got == want


def test_blocked_near_dup_plan_has_no_cartesian(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.cosine_near_dup_pairs(emb, 0.45)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _planted_corpus(spark, n=200, dim=16, n_dups=12, seed=3):
    """Random unit vectors plus planted near-duplicates at cosine ≥0.9."""
    rng = np.random.RandomState(seed)
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    for j in range(n_dups):
        base = vecs[j]
        noise = rng.standard_normal(dim) * 0.12
        v = base + noise
        v /= np.linalg.norm(v)
        rows.append((n + j, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_near_dup_pairs_recall_and_precision(spark):
    emb = _planted_corpus(spark)
    exact = _rows(similarity.cosine_near_dup_pairs_allpairs(emb, 0.8))
    got = _rows(similarity.lsh_near_dup_pairs(emb, 0.8))
    assert len(exact) >= 10
    # precision is exact by construction (verify step); recall ≥ 0.9
    assert set(got) <= set(exact)
    assert len(got) / len(exact) >= 0.9, (len(got), len(exact))


def test_lsh_near_dup_plan_has_no_cartesian(spark):
    emb = _planted_corpus(spark, n=50, n_dups=4)
    plan = inspect.formatted_plan(similarity.lsh_near_dup_pairs(emb, 0.8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_cosine_topk_plan_has_no_join_or_generate(spark):
    """LSH top-k masks candidates inside the batch scorer: the corpus is
    neither exploded per table nor joined to a probe table."""
    emb = _planted_corpus(spark, n=50, n_dups=4)
    q = [(1, [float(x) for x in emb.first()["embedding"]])]
    plan = inspect.formatted_plan(similarity.lsh_cosine_topk(emb, q, k=3))
    assert "Join" not in plan and "Generate" not in plan, plan


def test_multiprobe_lsh_ann_recall(spark):
    """Hamming-1 multi-probe must recover ≥0.9 of the exact top-10."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvecs = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    ]
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, qvecs, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.lsh_cosine_topk(emb, qvecs, k=10).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.9, len(approx & exact) / len(exact)


def test_ivf_ann_recall(spark):
    """IVF with 32 centroids / 16 probes on the near-isotropic sf0.01
    embeddings (500 vectors → ~16 per list, the quantizer's noisiest
    regime) still recovers ≥0.75 of exact top-10 — 0.967 at sf0.1, see
    BASELINE.md; on the planted-cluster corpus even 4 probes find the
    planted near-dup as rank 1."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvecs = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    ]
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, qvecs, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in _ivf_topk(emb, qvecs, k=10)
    }
    assert len(approx & exact) / len(exact) >= 0.75

    planted = _planted_corpus(spark)
    pq = [(0, [float(x) for x in planted.filter(F.col("vec_id") == 200).first()["embedding"]])]
    top = _ivf_topk(planted, pq, k=2, n_centroids=8, n_probe=4)
    # vec 200 is the planted near-dup of vec 0: both must appear first
    assert {r.vec_id for r in top} == {0, 200}


def test_lsh_near_dup_flood_star_bound(spark):
    """1,000 identical vectors collide in every table; the star bound
    emits exactly n-1 cosine-1.0 pairs anchored at the min id instead
    of ~500k (VERDICT r02 #2), and completes fast."""
    import time

    n = 1000
    v = [1.0, 0.5, -0.25, 0.125] * 4
    rows = [(i, v) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t0 = time.perf_counter()
    got = sorted((r.vec_a, r.vec_b, r.cosine) for r in
                 similarity.lsh_near_dup_pairs(emb, 0.8, max_bucket_docs=64).collect())
    elapsed = time.perf_counter() - t0
    assert got == [(0, i, 1.0) for i in range(1, n)]
    assert elapsed < 120, f"flooded corpus took {elapsed:.1f}s"


def test_lsh_near_dup_bucket_cap_does_not_change_normal_corpora(spark):
    emb = _planted_corpus(spark)
    key = lambda df: sorted((r.vec_a, r.vec_b, r.cosine) for r in df.collect())
    assert key(similarity.lsh_near_dup_pairs(emb, 0.8)) == key(
        similarity.lsh_near_dup_pairs(emb, 0.8, max_bucket_docs=1 << 30)
    )


def test_lsh_near_dup_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.lsh_near_dup_pairs(empty, 0.8).count() == 0


def test_ivf_tolerates_zero_vectors(spark):
    emb = _planted_corpus(spark, n=60, n_dups=4)
    emb = emb.union(
        spark.createDataFrame([(999, [0.0] * 16)], "vec_id long, embedding array<double>")
    )
    q = [(0, [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]])]
    rows = _ivf_topk(emb, q, k=5, n_centroids=8, n_probe=8)
    assert len(rows) == 5


def test_ivf_index_handle_matches_one_shot(spark):
    """The build-once IVFIndex handle (persisted assignment) must
    return the same rows across repeated queries (VERDICT r03 #2)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvecs = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 2).collect()
    ]
    idx = similarity.IVFIndex(emb)
    try:
        first = sorted(
            (r.query_id, r.rank, r.vec_id, r.cosine)
            for r in idx.topk(qvecs, k=5).collect()
        )
        second = sorted(
            (r.query_id, r.rank, r.vec_id, r.cosine)
            for r in idx.topk(qvecs, k=5).collect()
        )
    finally:
        idx.unpersist()
    assert first == second and len(first) > 0


def test_nan_cosine_excluded_deterministically(spark):
    """A NaN-component vector yields an undefined cosine; the ANN tails
    EXCLUDE it like the zero-norm NULLs (documented contract) — Spark's
    raw window would rank NaN first, and a NaN score cannot round-trip
    the prune's Arrow boundary (it comes back NULL), so exclusion is
    the only behavior that is both sensible and batch-layout-stable
    (code-review r04b, execution-confirmed)."""
    rows = [(i, [1.0, 0.0, 0.0]) for i in range(20)]
    rows.append((99, [float("nan"), 1.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(emb, [(1, [1.0, 0.0, 0.0])], k=3).collect()
    assert all(r["vec_id"] != 99 for r in out)
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert all(r["cosine"] == 1.0 for r in out)


_SCORERS = {
    "cosine_topk": lambda emb, q: similarity.cosine_topk(emb, q, k=5),
    "lsh_cosine_topk": lambda emb, q: similarity.lsh_cosine_topk(emb, q, k=5),
    "cosine_near_dup_pairs": lambda emb, q: similarity.cosine_near_dup_pairs(emb, 0.8),
    "lsh_near_dup_pairs": lambda emb, q: similarity.lsh_near_dup_pairs(emb, 0.8),
    "cosine_near_dup_pairs_allpairs":
        lambda emb, q: similarity.cosine_near_dup_pairs_allpairs(emb, 0.8),
}


@pytest.mark.parametrize("scorer", list(_SCORERS))
def test_scorers_skip_null_and_ragged_vectors(spark, scorer):
    """A NULL, a short, a zero and a NaN embedding, ahead of the
    well-formed rows, must not fail any scorer: they have no cosine, so
    the result equals the one over the well-formed rows alone."""
    rng = np.random.RandomState(5)
    good = [(i, rng.standard_normal(4).tolist()) for i in range(30)]
    bad = [
        (100, None), (101, [1.0, 0.0]), (102, [0.0] * 4),
        (103, [float("nan"), 1.0, 0.0, 0.0]),
    ]
    schema = "vec_id long, embedding array<double>"
    q = [(1, good[0][1]), (2, [0.0, 1.0, 0.0, 0.0])]

    def run(rows):
        emb = spark.createDataFrame(rows, schema)
        return [tuple(r) for r in _SCORERS[scorer](emb, q).collect()]

    got, want = run(bad + good), run(good)
    assert got == want and len(got) >= 5


def test_empty_query_list_returns_empty_topk(spark):
    """No query vectors → no rows, with the schema a non-empty call
    returns, on all three top-k paths."""
    emb = _planted_corpus(spark, n=40, n_dups=2)
    q = [(1, [float(x) for x in emb.first()["embedding"]])]
    schema = lambda df: [(f.name, f.dataType) for f in df.schema.fields]
    idx = similarity.IVFIndex(emb, n_centroids=4)
    try:
        for topk in (
            lambda qs: similarity.cosine_topk(emb, qs, k=3),
            lambda qs: similarity.lsh_cosine_topk(emb, qs, k=3),
            lambda qs: idx.topk(qs, k=3, n_probe=2),
        ):
            empty, full = topk([]), topk(q)
            assert empty.collect() == []
            assert schema(empty) == schema(full) and full.count() == 3
    finally:
        idx.unpersist()


def _ivf_rows(idx, q, k=5, n_probe=3):
    return [tuple(r) for r in idx.topk(q, k=k, n_probe=n_probe).collect()]


def test_ivf_skips_null_and_ragged_vectors(spark):
    """A NULL and a wrong-length embedding have no cosine: they stay out
    of the fit and the lists, so the index equals one built over the
    well-formed rows alone."""
    rng = np.random.RandomState(11)
    good = [(i, rng.standard_normal(4).tolist()) for i in range(40)]
    bad = [(7_000, None), (7_001, [1.0, 0.0])]
    schema = "vec_id long, embedding array<double>"
    q = [(1, good[3][1]), (2, [0.0, 1.0, 0.5, 0.0])]
    both = similarity.IVFIndex(spark.createDataFrame(good + bad, schema), n_centroids=6)
    only = similarity.IVFIndex(spark.createDataFrame(good, schema), n_centroids=6)
    try:
        got, want = _ivf_rows(both, q), _ivf_rows(only, q)
    finally:
        both.unpersist()
        only.unpersist()
    assert got == want and len(got) == 10


def test_ivf_topk_equals_brute_force_over_probed_lists(spark):
    """Each query's top-k equals a numpy brute force over the vectors of
    the lists it probes (same affinity as the index), so only probed
    pairs are scored: cosines within 2e-6, ids equal apart from ties."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 6).collect()
    ]
    k, n_probe, tol = 10, 4, 2e-6
    idx = similarity.IVFIndex(emb, n_centroids=16)
    try:
        lists = idx.lists.collect()
        got = _ivf_rows(idx, q, k=k, n_probe=n_probe)
    finally:
        idx.unpersist()
    ids = np.array([r["vec_id"] for r in lists])
    lid = np.array([r["list_id"] for r in lists])
    V = np.array([r["vec"] for r in lists], dtype=np.float64)
    half_sq = (idx.cnorm ** 2) / 2.0
    for qid, v in q:
        qv = np.asarray(v)
        probed = np.argsort(-((qv / np.linalg.norm(qv)) @ idx.centers.T - half_sq))[:n_probe]
        m = np.isin(lid, probed)
        cos = np.round(V[m] @ qv / (np.linalg.norm(V[m], axis=1) * np.linalg.norm(qv)), 6)
        order = np.lexsort((ids[m], -cos))[:k]
        want = [(int(ids[m][i]), float(cos[i])) for i in order]
        mine = [(vid, c) for qq, _r, vid, c in got if qq == qid]
        assert len(mine) == len(want) == k
        assert all(abs(a[1] - b[1]) <= tol for a, b in zip(mine, want))
        cut = want[-1][1] + tol
        assert {i for i, c in mine if c > cut} == {i for i, c in want if c > cut}
        assert not m.all()  # the probed lists leave part of the corpus out
