"""Dedup-family behavior: minhash LSH banding with the hot-bucket
bound, plus adversarial many-identical-docs completion (VERDICT r01
item 6)."""

import time

import pytest
from pyspark.sql import functions as F

from eaststorm_searchengine_spark.operators import dedup

SF = "/root/testdata/sf0.01"


def _pairs(df):
    return sorted((r.doc_a, r.doc_b, r.n_shared_bands) for r in df.collect())


def _grams(text, n=3):
    """Word n-grams as ``dedup`` forms them: split on single spaces, and
    a text of at most ``n`` words is one gram."""
    w = text.split(" ")
    if len(w) <= n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _round6(x):
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _jaccard_oracle(rows, threshold, n=3):
    """Every (doc_a, doc_b, jaccard) with doc_a < doc_b and the rounded
    Jaccard of their n-gram sets ≥ ``threshold``, by brute force over all
    pairs of (doc_id, text) ``rows``; NULL texts have no grams."""
    gmap = {d: _grams(t, n) for d, t in rows if t is not None}
    ids = sorted(gmap)
    want = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = gmap[a], gmap[b]
            j = _round6(len(ga & gb) / len(ga | gb))
            if j >= threshold:
                want.append((a, b, j))
    return want


def _docs_rows(docs):
    return [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]


def test_bucket_cap_does_not_change_normal_corpora(spark):
    """At sf0.01 no bucket exceeds the cap, so capped == uncapped."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    capped = _pairs(dedup.minhash_candidates(docs))
    uncapped = _pairs(dedup.minhash_candidates(docs, max_bucket_docs=1 << 30))
    assert capped == uncapped
    assert len(capped) > 0


def test_adversarial_identical_docs_star_not_quadratic(spark):
    """1,000 byte-identical docs land in one bucket per band; the star
    fallback emits exactly n-1 pairs (all anchored at the min id, all
    sharing all 16 bands) instead of ~500k, and completes fast."""
    n = 1000
    docs = spark.createDataFrame(
        [(i, "the same exact document text repeated for everyone") for i in range(n)],
        "doc_id long, text string",
    )
    t0 = time.perf_counter()
    got = _pairs(dedup.minhash_candidates(docs, max_bucket_docs=64))
    elapsed = time.perf_counter() - t0
    assert got == [(0, i, dedup.N_BANDS) for i in range(1, n)]
    assert elapsed < 120, f"adversarial corpus took {elapsed:.1f}s"


def test_star_fallback_preserves_components(spark):
    """Mixed corpus: a hot group of identical docs plus unrelated
    singletons — the identical group stays one connected component and
    no cross-group pairs appear."""
    rows = [(i, "identical hot document body shared by the cluster") for i in range(200)]
    rows += [(1000 + i, f"unique document number {i} with its own words entirely") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _pairs(dedup.minhash_candidates(docs, max_bucket_docs=32))
    hot = [(a, b) for a, b, _ in got if a < 1000 and b < 1000]
    cross = [(a, b) for a, b, _ in got if (a < 1000) != (b < 1000)]
    assert hot == [(0, i) for i in range(1, 200)]
    assert cross == []


def test_ngram_prefix_filtering_complete(spark):
    """Prefix filtering must find EVERY pair with J ≥ t (the theorem it
    implements), verified against a brute-force all-pairs oracle on a
    corpus engineered with near-threshold overlaps."""
    words = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(40):
        # sliding windows of 12 words with stride 3: neighbours share
        # 9/15 grams-ish → many pairs straddling t=0.5
        start = (d * 3) % 18
        rows.append((d, " ".join(words[start : start + 12])))
    rows += [(100 + d, f"unique{d} " * 8) for d in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )

    want = _jaccard_oracle(rows, 0.5)
    assert got == sorted(want)
    assert len(want) > 0


def test_simhash_near_dups_complete(spark):
    """Bit-block blocking must find EVERY pair within the hamming
    bound (Manku-Jain-Sarma pigeonhole), vs a brute-force oracle on a
    corpus with planted token-level mutations."""
    base_words = [f"term{i}" for i in range(60)]
    rows = []
    for d in range(25):
        words = list(base_words)
        # mutate a few tokens per doc: nearby docs get similar simhashes
        for j in range(d % 5):
            words[j] = f"mut{d}_{j}"
        rows.append((d, " ".join(words)))
    rows += [(100 + d, f"totally different corpus {d} " * 6) for d in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dups(docs, max_hamming=6).collect()
    )

    sigs = {d: dedup.simhash64(t) for d, t in rows}
    want = []
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 6:
                want.append((a, b, h))
    assert got == sorted(want)
    assert len(want) > 0


def test_simhash_flood_star_bound(spark):
    """1,000 byte-identical docs share one fingerprint; every bit-block
    bucket goes over the cap, so the star fallback emits exactly n-1
    hamming-0 pairs anchored at the min id instead of ~500k
    (VERDICT r02 #1), and completes fast."""
    n = 1000
    rows = [(i, "the same flooded document body for every copy") for i in range(n)]
    rows += [(5000 + i, f"distinct page {i} with entirely different words here") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.perf_counter()
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dups(docs, max_hamming=3, max_block_docs=64).collect()
    )
    elapsed = time.perf_counter() - t0
    flood = [(a, b, h) for a, b, h in got if a < 5000 and b < 5000]
    assert flood == [(0, i, 0) for i in range(1, n)]
    assert elapsed < 120, f"flooded corpus took {elapsed:.1f}s"


def test_simhash_block_cap_does_not_change_normal_corpora(spark):
    """At sf0.01 no bit-block bucket exceeds the cap: capped == uncapped."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    key = lambda df: sorted((r.doc_a, r.doc_b, r.hamming) for r in df.collect())
    capped = key(dedup.simhash_near_dups(docs, max_hamming=3))
    uncapped = key(dedup.simhash_near_dups(docs, max_hamming=3, max_block_docs=1 << 30))
    assert capped == uncapped


def _edge_docs(spark, id_type="long"):
    """NULL text, empty strings, one-word docs, an identical-document
    flood and planted near-duplicates, with ``id_type`` doc ids."""
    words = [f"w{i}" for i in range(30)]
    rows = [(d, " ".join(words[(d * 3) % 18 : (d * 3) % 18 + 12])) for d in range(20)]
    rows += [(100 + i, "same text body for every single copy here") for i in range(60)]
    rows += [(200, None), (201, None), (202, ""), (203, ""), (204, "")]
    rows += [(300, "solo"), (301, "solo"), (302, "other"), (303, "a b"), (304, "a b")]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


def _run_placements(monkeypatch, fn):
    """``fn()`` (an n-gram pipeline call) forced onto each placement:
    the driver, Spark direct (the driver row gate patched shut) and
    prefix (``fn(direct_rows_budget=0)``).  Returns {placement: frame};
    a spy on ``_ngram_pairs`` asserts which placement ran."""
    ran = []
    inner = dedup._ngram_pairs

    def spy(*a, **k):
        out = inner(*a, **k)
        ran.append(out[1])
        return out

    with monkeypatch.context() as m:
        m.setattr(dedup, "_ngram_pairs", spy)
        got = {"driver": fn()}
        with monkeypatch.context() as gate:
            gate.setattr(dedup, "_GRAM_DRIVER_ROWS", -1)
            got["direct"] = fn()
        got["prefix"] = fn(direct_rows_budget=0)
    assert ran == ["driver", "direct", "prefix"]
    return got


def _schema(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_ngram_direct_route_matches_prefix_route(spark, monkeypatch):
    """ngram_jaccard_pairs places its count-join in the driver (small
    gram table), runs it as a Spark self-join (the direct route) or
    switches to the prefix filter (hot grams).  Forced onto each, on
    sf0.01 and on the edge corpus with long and int doc ids, it returns
    the all-pairs oracle's rows in the same order, with the same column
    names and types on every placement — including the length filter
    every placement applies."""
    cases = {
        "sf0.01": spark.read.parquet(f"{SF}/documents.parquet"),
        "edge": _edge_docs(spark),
        "edge_int_ids": _edge_docs(spark, "int"),
    }
    for case, docs in cases.items():
        got = _run_placements(
            monkeypatch, lambda **k: dedup.ngram_jaccard_pairs(docs, threshold=0.5, **k)
        )
        want = sorted(_jaccard_oracle(_docs_rows(docs), 0.5))
        assert len(want) > 0, case
        for placement, df in got.items():
            assert _schema(df) == _schema(got["driver"]), (case, placement)
            assert [tuple(r) for r in df.collect()] == want, (case, placement)


def test_ngram_driver_join_chunks_agree(spark, monkeypatch):
    """The driver count-join makes its pairs a chunk at a time; chunks
    of a few pairs, cut inside gram groups, give the oracle's rows."""
    docs = _edge_docs(spark)
    want = sorted(_jaccard_oracle(_docs_rows(docs), 0.5))
    monkeypatch.setattr(dedup, "_PAIR_CHUNK", 7)
    got = [tuple(r) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()]
    assert got == want and len(want) > 0


def test_ngram_count_verify_matches_array_verify(spark):
    """The production count-based Jaccard verify must equal the
    brute-force set formulation on the real sf0.01 corpus."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    key = lambda df: sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())
    got = key(dedup.ngram_jaccard_pairs(docs, threshold=0.5))
    want = sorted(_jaccard_oracle(_docs_rows(docs), 0.5))
    assert got == want
    assert len(got) > 0


def test_ngram_verify_join_ships_no_arrays(spark, monkeypatch):
    """No array column may cross the verify joins of the Spark
    placements: the plan between the candidate join and the jaccard
    filter must carry only scalar columns (the point of the count-based
    rewrite)."""
    from eaststorm_searchengine_spark.plans import inspect

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    monkeypatch.setattr(dedup, "_GRAM_DRIVER_ROWS", -1)
    for budget in (None, 0):  # Spark direct, prefix
        plan = inspect.formatted_plan(
            dedup.ngram_jaccard_pairs(docs, threshold=0.5, direct_rows_budget=budget)
        )
        assert "Join" in plan
        # the gram-set arrays exist only below the explode; they must not
        # appear in any join output schema (array_intersect/array_union
        # would mark the array formulation)
        assert "array_intersect" not in plan and "array_union" not in plan


def test_near_dup_groups_driver_placement_releases_cache(spark):
    """A driver-placed near_dup_groups unpersists its gram table: the
    session CacheManager holds no more entries after the call than
    before it, the one-slot registry is empty, and the result is a
    LocalRelation (no Exchange)."""
    from eaststorm_searchengine_spark.plans import inspect

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.cachedData().size()
    out = dedup.near_dup_groups(_edge_docs(spark), threshold=0.5)
    assert "Exchange" not in inspect.formatted_plan(out)
    assert out.count() > 0
    assert cm.cachedData().size() <= before
    assert dedup._GRAM_CACHE_SLOT == []


def test_connected_components_vs_union_find(spark):
    """Hash-min label propagation == a pure-Python union-find on a
    graph with chains, stars, a cycle, and singleton-free isolation."""
    edges = [(1, 2), (2, 3), (3, 4),          # chain
             (10, 11), (10, 12), (10, 13),    # star
             (20, 21), (21, 22), (22, 20),    # cycle
             (30, 31)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = sorted((r.node, r.comp) for r in dedup.connected_components(pairs).collect())
    # the distributed label-propagation path must agree with the
    # driver-side union-find path (size gate is strategy-only)
    got_dist = sorted(
        (r.node, r.comp)
        for r in dedup.connected_components(pairs, driver_threshold=0).collect()
    )
    assert got == got_dist

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = sorted((n, find(n)) for n in parent)
    assert got == want


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain deeper than max_iters must raise, never return partial
    labels (code-review r03 finding)."""
    import pytest

    chain = [(i, i + 1) for i in range(10)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=3, driver_threshold=0)
    # diameter == max_iters exactly must SUCCEED (the convergence check
    # costs one extra confirming round, not one propagation round)
    got = {
        r.comp
        for r in dedup.connected_components(
            pairs, max_iters=10, driver_threshold=0
        ).collect()
    }
    assert got == {0}


def test_near_dup_groups_flood_converges_fast(spark):
    """An identical-docs flood must resolve to ONE group in few rounds
    (the upstream pair generators emit star edges, diameter ≤ 2)."""
    rows = [(i, "same text body for every single copy here") for i in range(300)]
    rows += [(900 + i, f"unique doc {i} " + " ".join(f"w{i}x{j}" for j in range(10)))
             for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.near_dup_groups(docs, threshold=0.5).collect()
    flood = [(r.doc_id, r.group_id, r.n_docs) for r in got if r.doc_id < 900]
    assert flood == [(i, 0, 300) for i in range(300)]


def test_minhash_dup_groups_flood_one_group(spark):
    """End-to-end scale path: a 1,000-identical-docs flood groups into
    ONE component through O(m) star edges (diameter 2 → 2 CC rounds),
    and the distinct docs stay ungrouped singletons (absent)."""
    import time

    rows = [(i, "flooded identical body of text for the group") for i in range(1000)]
    rows += [(5000 + i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.perf_counter()
    got = dedup.minhash_dup_groups(docs).collect()
    elapsed = time.perf_counter() - t0
    flood = [(r.doc_id, r.group_id, r.n_docs) for r in got if r.doc_id < 5000]
    assert flood == [(i, 0, 1000) for i in range(1000)]
    assert all(r.doc_id < 5000 for r in got)  # uniques form no pairs
    assert elapsed < 150, f"flood grouping took {elapsed:.1f}s"


def test_ngram_prefix_filtering_complete_t08(spark):
    """t=0.8 with gram counts that make t*n a whole number — the float
    (1-t)*n lands just below the integer and a naive floor would cut
    the prefix one short (code-review r02 finding)."""
    words = [f"v{i}" for i in range(40)]
    rows = []
    for d in range(12):
        # 12 tokens -> exactly 10 distinct 3-grams; neighbours overlap 9/11
        start = d
        rows.append((d, " ".join(words[start : start + 12])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    )
    want = _jaccard_oracle(rows, 0.8)
    assert got == sorted(want)
    assert len(want) > 0


def test_ngram_staged_grams_match_persist_path(spark, tmp_path):
    """stage_dir (the grouping-scale path: exploded grams staged to
    parquet instead of the cluster cache) must produce exactly the
    persist path's pairs and groups."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stage = str(tmp_path / "grams")
    base = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    staged = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, stage_dir=stage).collect()
    )
    assert staged == base and len(base) > 0
    import os

    assert any(f.endswith(".parquet") for f in os.listdir(stage))
    g_base = sorted(
        (r.doc_id, r.group_id, r.n_docs)
        for r in dedup.near_dup_groups(docs, threshold=0.5).collect()
    )
    g_staged = sorted(
        (r.doc_id, r.group_id, r.n_docs)
        for r in dedup.near_dup_groups(
            docs, threshold=0.5, stage_dir=str(tmp_path / "grams2")
        ).collect()
    )
    assert g_staged == g_base


def test_star_cap_metrics_report_engagement(spark):
    """metrics={} fills overcap_buckets: zero on a normal corpus,
    positive under an identical-docs flood (ADVICE r03 #2 — pair
    consumers can now detect when the star bound engaged)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    m: dict = {}
    dedup.minhash_candidates(docs, metrics=m).count()
    assert m["overcap_buckets"] == 0
    flood = spark.createDataFrame(
        [(i, "the same exact document text repeated for everyone") for i in range(300)],
        "doc_id long, text string",
    )
    m2: dict = {}
    dedup.minhash_candidates(flood, max_bucket_docs=64, metrics=m2).count()
    assert m2["overcap_buckets"] >= dedup.N_BANDS


def test_ngram_routes_agree_at_rounding_boundary(spark, monkeypatch):
    """J = 2/3 rounds (6 digits) onto t = 0.666667, so the direct route
    keeps the pair.  With the prefix length taken from the exact t, doc 1
    (3 grams) would index only its rare unshared gram and the prefix
    route would miss the pair; taken from t − 1e-6 every placement
    agrees."""
    rows = [(1, "a b c d e"), (2, "b c d e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.666667
    got = _run_placements(
        monkeypatch, lambda **k: dedup.ngram_jaccard_pairs(docs, n=3, threshold=t, **k)
    )
    got = {p: sorted(tuple(r) for r in df.collect()) for p, df in got.items()}
    assert got["driver"] == [(1, 2, 0.666667)]
    assert got["direct"] == got["prefix"] == got["driver"]
    assert _jaccard_oracle(rows, t) == got["driver"]


def _planted_and_flood_docs(spark, kind):
    """``planted``: sliding 12-word windows (many pairs straddling
    t=0.5, components of several sizes) plus unrelated singletons,
    ``planted_int`` the same with an ``int`` doc_id column;
    ``flood``: identical documents plus unrelated ones."""
    if kind.startswith("planted"):
        words = [f"w{i}" for i in range(30)]
        rows = [(d, " ".join(words[(d * 3) % 18 : (d * 3) % 18 + 12])) for d in range(40)]
        rows += [(100 + d, f"unique{d} " * 8) for d in range(5)]
    else:
        rows = [(i, "same text body for every single copy here") for i in range(300)]
        rows += [(900 + i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(5)]
    id_type = "int" if kind == "planted_int" else "long"
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


@pytest.mark.parametrize("kind", ["planted", "flood", "planted_int"])
@pytest.mark.parametrize("op", ["near_dup_groups", "minhash_dup_groups"])
def test_group_tails_agree(spark, monkeypatch, op, kind):
    """The driver group tail (components solved by union-find, sizes
    and order computed in the driver) and the distributed tail (forced
    with a zero CC driver threshold, and for near_dup_groups with the
    Spark pair placement) return the same rows, column names and types,
    also for an ``int`` doc_id column; the driver tail's plan has no
    Exchange."""
    import functools

    from eaststorm_searchengine_spark.plans import inspect

    docs = _planted_and_flood_docs(spark, kind)
    fn = getattr(dedup, op)
    drv_df = fn(docs)
    assert "Exchange" not in inspect.formatted_plan(drv_df)
    monkeypatch.setattr(
        dedup, "_components", functools.partial(dedup._components, driver_threshold=0)
    )
    monkeypatch.setattr(dedup, "_GRAM_DRIVER_ROWS", -1)
    dist_df = fn(docs)
    schema = lambda df: [(f.name, f.dataType) for f in df.schema.fields]
    assert schema(drv_df) == schema(dist_df)
    drv, dist = [tuple(r) for r in drv_df.collect()], [tuple(r) for r in dist_df.collect()]
    assert drv == dist and drv
