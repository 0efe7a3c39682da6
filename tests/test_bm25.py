"""BM25 engine correctness:

* rank-identical (docIDs AND scores) vs an independent pure-Python
  BM25 oracle — the FIXTURES.md §3 check
* MaxScore == exhaustive, bitwise, on randomized synthetic corpora
  (hypothesis) — exercises block boundaries, ties, absent terms
"""

import math
import shutil

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from eaststorm_searchengine_spark import textproc
from eaststorm_searchengine_spark.functions import sqltok
from eaststorm_searchengine_spark.operators import codec
from eaststorm_searchengine_spark.operators.bm25 import (
    BM25Index,
    _exhaustive_topk,
    bm25_idf,
)
from eaststorm_searchengine_spark.operators.index_build import (
    BLOCK,
    build_index_fast,
)
from eaststorm_searchengine_spark.operators.maxscore import maxscore_topk

SF = "/root/testdata/sf0.001"
TMP = "/root/repo/_tmp"


def _python_bm25(rows, query, k=10):
    """Independent oracle: exact BM25 ranking in pure python."""
    toks = {d: textproc.tokenize(t or "") for d, t in rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    terms = sorted(set(textproc.tokenize(query.lower())))
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    scores = {}
    for d, v in toks.items():
        s = 0.0
        for t in terms:
            if df.get(t, 0) == 0:
                continue
            tf = v.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (sqltok.K1 + 1)) / (
                tf + sqltok.K1 * (1 - sqltok.B + sqltok.B * len(v) / avgdl)
            )
        if s > 0:
            scores[d] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, round(s, 4)) for d, s in ranked]


@pytest.fixture(scope="module")
def idx(spark):
    root = f"{TMP}/t_bm25_idx"
    shutil.rmtree(root, ignore_errors=True)
    build_index_fast(spark, spark.read.parquet(f"{SF}/documents.parquet"), root)
    return BM25Index(spark, root)


@pytest.fixture(scope="module")
def rows(spark):
    return [
        (int(r["doc_id"]), r["text"])
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    ]


@pytest.mark.parametrize(
    "query",
    ["join", "hash join", "merge sort join agg", "the a", "dup", "zzznone",
     "Spark WINDOW stream", "customer filter big data"],
)
def test_rank_identical_vs_python_oracle(idx, rows, query):
    want = _python_bm25(rows, query, k=10)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in idx.search([(1, query)], k=10, score_round=4).collect()
    ]
    assert got == want, f"query {query!r}"


def test_wand_equals_exhaustive_on_index(idx):
    """method="wand" is an alias for MaxScore: same rows as both
    executors."""
    qs = [(i, q) for i, q in enumerate(
        ["join", "hash join merge", "the a big", "dup window", "value"]
    )]
    out = {
        m: [tuple(r) for r in idx.search(qs, k=25, method=m).collect()]
        for m in ("exhaustive", "maxscore", "wand")
    }
    assert out["wand"] == out["maxscore"] == out["exhaustive"]
    assert out["wand"]


def test_search_rejects_unknown_method_and_final_rank(idx):
    """A misspelled executor or rank mode must fail loudly, not run
    some other path."""
    with pytest.raises(ValueError, match="method"):
        idx.search([(1, "join")], k=5, method="maxcore")
    with pytest.raises(ValueError, match="final_rank"):
        idx.search([(1, "join")], k=5, final_rank="drvier")


def test_driver_merge_equals_window_rank(idx):
    """final_rank='driver' (fused single-job plan, VERDICT r02 #7) must
    reproduce the distributed window ranking exactly — ties, ranks,
    rounding and all — across the whole fixed query batch."""
    import __spark_entry__ as E

    a = sorted(
        tuple(r) for r in idx.search(E.QUERY_SET, k=10, score_round=4).collect()
    )
    b = sorted(
        tuple(r)
        for r in idx.search(
            E.QUERY_SET, k=10, score_round=4, final_rank="driver"
        ).collect()
    )
    assert a == b and len(a) > 0
    # empty-query edge: both paths return an empty frame of same schema
    e = idx.search([(1, "@@@")], k=5, final_rank="driver")
    assert e.count() == 0 and e.columns == ["query_id", "rank", "doc_id", "score"]


# ---- randomized executor equivalence on synthetic posting lists ---------

def _mk_blocks(postings, avgdl):
    """postings: sorted [(doc, tf, dl)] → block-row DataFrame like the
    segment reader provides."""
    rows = []
    for s in range(0, len(postings), BLOCK):
        chunk = postings[s : s + BLOCK]
        docs = np.array([p[0] for p in chunk], dtype=np.uint64)
        tfs = np.array([p[1] for p in chunk], dtype=np.uint64)
        dls = np.array([p[2] for p in chunk], dtype=np.uint64)
        rows.append(
            {
                "first_doc": int(docs[0]),
                "last_doc": int(docs[-1]),
                "n": len(chunk),
                "max_tf": int(tfs.max()),
                "min_dl": int(dls.min()),
                "docs": codec.delta_encode(docs),
                "tfs": codec.vb_encode(tfs),
                "dls": codec.vb_encode(dls),
            }
        )
    return pd.DataFrame(rows)


@given(
    data=st.data(),
    n_terms=st.integers(min_value=1, max_value=5),
    k=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=60, deadline=None)
def test_maxscore_equals_exhaustive_random(data, n_terms, k):
    term_blocks, idfs = [], []
    all_dls = []
    for t in range(n_terms):
        docs = data.draw(
            st.lists(st.integers(min_value=0, max_value=400), min_size=1,
                     max_size=300, unique=True)
        )
        docs = sorted(docs)
        postings = []
        for d in docs:
            tf = data.draw(st.integers(min_value=1, max_value=9))
            dl = data.draw(st.integers(min_value=5, max_value=200))
            postings.append((d, tf, dl))
            all_dls.append(dl)
        term_blocks.append(postings)
        idfs.append(data.draw(st.floats(min_value=0.01, max_value=8.0)))
    avgdl = sum(all_dls) / len(all_dls)
    frames = [_mk_blocks(p, avgdl) for p in term_blocks]
    d1, s1 = _exhaustive_topk(frames, idfs, k, avgdl)
    d2, s2 = maxscore_topk(frames, idfs, k, avgdl)
    assert d1.tolist() == d2.tolist()
    # bitwise-identical scores across both executors
    assert s1.tolist() == s2.tolist()


def test_idf_formula():
    assert bm25_idf(1, 1) == math.log(1 + 0.5 / 1.5)
    assert bm25_idf(10, 1000) > bm25_idf(500, 1000)


def test_live_handle_survives_index_rebuild(spark, tmp_path):
    """ADVICE r03 #3: a BM25Index handle caches the segment DataFrames
    at construction; rebuilding the index directory under a live
    handle must not serve stale (or deleted-file) results.  The handle
    stat-checks stats.json per search and refreshes itself."""
    root = str(tmp_path / "idx_rebuild")
    docs_a = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    build_index_fast(spark, docs_a, root)
    idx = BM25Index(spark, root)
    got_a = {r.doc_id for r in idx.search([(1, "alpha")], k=10).collect()}
    assert got_a == {1, 2}
    # rebuild the SAME directory with a different corpus
    shutil.rmtree(root)
    docs_b = spark.createDataFrame(
        [(7, "alpha delta"), (8, "epsilon zeta")], "doc_id long, text string"
    )
    build_index_fast(spark, docs_b, root)
    got_b = {r.doc_id for r in idx.search([(1, "alpha")], k=10).collect()}
    assert got_b == {7}, f"stale handle: {got_b}"


def test_auto_method_matches_both_executors(idx):
    """method="auto" (per-query cost-based executor choice) must return
    exactly what the fixed executors return, on queries that exercise
    both branches (dense-only → exhaustive; rare+dense → maxscore)."""
    q = [(1, "join"), (2, "the data"), (3, "hash join merge"), (4, "zzzmissing")]
    out = {}
    for m in ("exhaustive", "wand", "maxscore", "auto"):
        out[m] = [tuple(r) for r in idx.search(q, k=10, score_round=6).collect()] if m == "exhaustive" else [
            tuple(r) for r in idx.search(q, k=10, method=m, score_round=6).collect()
        ]
    assert out["auto"] == out["exhaustive"] == out["wand"] == out["maxscore"]
    assert len(out["auto"]) > 0


def test_auto_method_on_rare_term_corpus(spark, tmp_path):
    """A corpus with a genuinely rare term (df*10 <= n_docs) drives the
    auto heuristic down the MaxScore branch; results must still equal the
    exhaustive executor."""
    docs = spark.createDataFrame(
        [(i, "common words everywhere " + ("rareterm special" if i == 7 else "filler text"))
         for i in range(200)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "rare_idx")
    build_index_fast(spark, docs, root)
    idx = BM25Index(spark, root)
    q = [(1, "rareterm common"), (2, "filler common")]
    a = [tuple(r) for r in idx.search(q, k=10, method="auto", score_round=6).collect()]
    e = [tuple(r) for r in idx.search(q, k=10, score_round=6).collect()]
    assert a == e and len(a) > 0


def test_decode_counters_and_zipf_determinism(spark):
    """r5 decode instrumentation: exhaustive counts every block as
    decoded; MaxScore never counts more than total; both executors return
    identical results with counters on.  Also: the Zipf corpus is
    deterministic under repartitioning (seeded per doc_id)."""
    import numpy as np
    import pandas as pd

    from eaststorm_searchengine_spark import corpus as corpus_mod
    from eaststorm_searchengine_spark.operators import codec
    from eaststorm_searchengine_spark.operators.bm25 import _exhaustive_topk

    rng = np.random.RandomState(3)
    docs = np.sort(rng.choice(5000, size=1200, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 9, size=1200).astype(np.int64)
    dls = rng.randint(20, 200, size=1200).astype(np.int64)
    rows = []
    for s in range(0, len(docs), 128):
        e = min(s + 128, len(docs))
        rows.append({
            "first_doc": int(docs[s]), "last_doc": int(docs[e - 1]), "n": e - s,
            "max_tf": int(tfs[s:e].max()), "min_dl": int(dls[s:e].min()),
            "docs": codec.delta_encode(docs[s:e].astype(np.uint64)),
            "tfs": codec.vb_encode(tfs[s:e].astype(np.uint64)),
            "dls": codec.vb_encode(dls[s:e].astype(np.uint64)),
        })
    blocks = pd.DataFrame(rows)
    rare = blocks.iloc[:1].copy()
    cm, ce = {}, {}
    dm = maxscore_topk([blocks, rare], [0.5, 6.0], 5, 100.0, counters=cm)
    de = _exhaustive_topk([blocks, rare], [0.5, 6.0], 5, 100.0, counters=ce)
    assert ce["blocks_decoded"] == ce["blocks_total"] == len(blocks) + 1
    assert cm["blocks_total"] == len(blocks) + 1
    assert 0 < cm["blocks_decoded"] <= cm["blocks_total"]
    assert [int(d) for d in dm[0]] == [int(d) for d in de[0]]

    a = sorted(corpus_mod.synthesize_zipf_docs(spark, 200).collect())
    b = sorted(corpus_mod.synthesize_zipf_docs(spark, 200).repartition(7).collect())
    assert a == b and len(a) == 200


def test_maxscore_skips_nonessential_blocks():
    """r7 MaxScore: with a high-idf rare anchor and a low-idf dense
    term, the dense term is non-essential — only its fence-hit blocks
    decode (candidate waves come from the anchor), and results stay
    bitwise equal to exhaustive."""
    import numpy as np
    import pandas as pd

    from eaststorm_searchengine_spark.operators import codec
    from eaststorm_searchengine_spark.operators.bm25 import _exhaustive_topk
    from eaststorm_searchengine_spark.operators.maxscore import maxscore_topk

    rng = np.random.RandomState(11)
    docs = np.sort(rng.choice(50_000, size=5000, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 9, size=5000).astype(np.int64)
    dls = rng.randint(20, 200, size=5000).astype(np.int64)
    rows = []
    for s in range(0, len(docs), 128):
        e = min(s + 128, len(docs))
        rows.append({
            "first_doc": int(docs[s]), "last_doc": int(docs[e - 1]), "n": e - s,
            "max_tf": int(tfs[s:e].max()), "min_dl": int(dls[s:e].min()),
            "docs": codec.delta_encode(docs[s:e].astype(np.uint64)),
            "tfs": codec.vb_encode(tfs[s:e].astype(np.uint64)),
            "dls": codec.vb_encode(dls[s:e].astype(np.uint64)),
        })
    dense = pd.DataFrame(rows)
    rare = dense.iloc[:1].copy()  # 128 postings clustered in one range
    cm, ce = {}, {}
    dm = maxscore_topk([dense, rare], [0.3, 7.0], 10, 100.0, counters=cm)
    de = _exhaustive_topk([dense, rare], [0.3, 7.0], 10, 100.0, counters=ce)
    assert dm[0].tolist() == de[0].tolist()
    assert dm[1].tolist() == de[1].tolist()  # bitwise scores
    assert ce["blocks_decoded"] == ce["blocks_total"]
    assert cm["blocks_total"] == ce["blocks_total"]
    # candidates live in one doc range -> nearly all dense blocks skipped
    assert cm["blocks_decoded"] < cm["blocks_total"] // 4


def test_decision_accumulators_report_auto_choices(spark, tmp_path):
    """method='auto' runs MaxScore on every chunk: decision_acc counts
    each (query, chunk-with-hits) exactly once under "wand" and leaves
    the other DECISION_REASONS keys at 0 (bench records and perfbench's
    bm25.route.<reason> metrics read all five)."""
    from eaststorm_searchengine_spark.operators.bm25 import (
        BM25Index,
        DECISION_REASONS,
    )
    from eaststorm_searchengine_spark.operators.index_build import build_index

    docs = spark.createDataFrame(
        [(i, ("rare " if i == 0 else "") + "alpha beta gamma") for i in range(300)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, chunk_bits=7)  # 3 chunks of <= 128 docs
    idx = BM25Index(spark, out)
    acc = {r: spark.sparkContext.accumulator(0) for r in DECISION_REASONS}
    n_chunks = idx._segs_df.select("chunk").distinct().count()
    assert n_chunks == 3
    rows = idx.search(
        [(1, "rare alpha"), (2, "alpha beta"), (3, "alpha"), (4, "rare"),
         (5, "zzzmissing")],
        k=5, method="auto", decision_acc=acc,
    ).collect()
    assert rows
    counts = {r: a.value for r, a in acc.items()}
    # q1-q3 hit every chunk, q4 ("rare", doc 0) one chunk, q5 none
    assert counts == {r: 0 for r in DECISION_REASONS} | {"wand": 3 * n_chunks + 1}


def test_dataframe_bm25_analyzes_queries_like_the_index(spark, tmp_path):
    """bm25_score_dataframe tokenizes queries with the index analyzer,
    so punctuated queries keep the terms the segment engine keeps:
    "hash-join" is (hash, join) and "spark's" still scores "spark"."""
    from eaststorm_searchengine_spark.operators.bm25 import bm25_score_dataframe
    from eaststorm_searchengine_spark.operators.index_build import build_index

    docs = spark.createDataFrame(
        [
            (0, "a hash join over two tables"),
            (1, "spark streaming reads a stream"),
            (2, "the hash of a join key in spark"),
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx")
    build_index(spark, docs, out)
    idx = BM25Index(spark, out)
    qs = [(1, "hash-join"), (2, "spark's streaming")]
    seg = [tuple(r) for r in idx.search(qs, k=10, score_round=4).collect()]
    frame = [tuple(r) for r in bm25_score_dataframe(spark, docs, qs, k=10).collect()]
    assert frame == seg
    assert {q for q, *_ in frame} == {1, 2}


def test_logical_decode_counter_per_query_semantics():
    """r8 (ADVICE r07): ``blocks_logical`` counts what a COLD cache
    would decode per query — invariant to cross-query handle sharing
    (unlike ``blocks_decoded`` = fresh decodes) and deduped when a
    query touches a block via both all_docs and contributions."""
    import numpy as np
    import pandas as pd

    from eaststorm_searchengine_spark.operators import codec
    from eaststorm_searchengine_spark.operators.bm25 import _exhaustive_topk
    from eaststorm_searchengine_spark.operators.maxscore import (
        _TermPostings,
        maxscore_topk,
    )

    def blocks_for(docs):
        rows = []
        for s in range(0, len(docs), 128):
            d = np.asarray(docs[s:s + 128], dtype=np.int64)
            rows.append({
                "first_doc": int(d[0]), "last_doc": int(d[-1]), "n": int(d.size),
                "max_tf": 3, "min_dl": 50,
                "docs": codec.delta_encode(d.astype(np.uint64)),
                "tfs": codec.vb_encode(np.ones(d.size, dtype=np.uint64)),
                "dls": codec.vb_encode(np.full(d.size, 100, dtype=np.uint64)),
            })
        return pd.DataFrame(rows)

    a = _TermPostings(blocks_for(list(range(0, 2560, 2))), 2.0, 100.0)  # 10 blocks
    b = _TermPostings(blocks_for(list(range(0, 640, 1))), 5.0, 100.0)   # 5 blocks

    c = {}
    _exhaustive_topk([a, b], [2.0, 5.0], 10, 100.0, counters=c)
    q1 = dict(c)
    _exhaustive_topk([a, b], [2.0, 5.0], 10, 100.0, counters=c)
    assert q1["blocks_logical"] == 15  # every block, first query
    # second query on WARM shared handles: logical counts again (cold-
    # cache semantics), fresh does not (cache hit)
    assert c["blocks_logical"] - q1["blocks_logical"] == 15
    assert c["blocks_decoded"] - q1["blocks_decoded"] == 0

    c2 = {}
    maxscore_topk([a, b], [2.0, 5.0], 10, 100.0, counters=c2)
    # essential terms touch blocks via all_docs AND contributions —
    # tag-dedup keeps logical ≤ total
    assert c2["blocks_logical"] <= c2["blocks_total"]


def test_big_vocab_df_fallback_matches_full_map(spark, tmp_path):
    """When the vocabulary exceeds DRIVER_STATS_CAP the handle resolves
    term→df through a bounded filtered collect with per-term
    memoization (r8).  Results must be identical to the full-map path,
    absent terms must negative-cache, and repeat queries must resolve
    from the memo."""
    root = str(tmp_path / "idx_bigvocab")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "beta delta")],
        "doc_id long, text string",
    )
    build_index_fast(spark, docs, root)
    full = BM25Index(spark, root)
    want = sorted(
        tuple(r) for r in full.search([(1, "alpha beta zzz")], k=10,
                                      score_round=4).collect()
    )
    small = BM25Index(spark, root)
    small.DRIVER_STATS_CAP = 0  # force the big-vocab fallback path
    got1 = sorted(
        tuple(r) for r in small.search([(1, "alpha beta zzz")], k=10,
                                       score_round=4).collect()
    )
    assert got1 == want and len(got1) > 0
    assert small._df_map is False
    # memo holds hits AND the negative entry for the absent term
    assert small._df_cache.get("alpha") and small._df_cache.get("zzz") is None
    # repeat query: fully memo-resolved (no missing terms), same result
    got2 = sorted(
        tuple(r) for r in small.search([(1, "alpha beta zzz")], k=10,
                                       score_round=4).collect()
    )
    assert got2 == want


def test_df_cache_overflow_keeps_current_query_terms(spark, tmp_path):
    """ADVICE r8 (medium): when the memo overflow eviction fires mid-
    query, the CURRENT query's already-cached terms must still resolve
    — the old wipe-before-return dropped them, silently scoring the
    query without its indexed terms.  Repro: cap small enough that a
    3-term query overflows after 2 terms were cached by an earlier
    query; all three must resolve and results must match the full map."""
    root = str(tmp_path / "idx_cache_evict")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "beta gamma delta")],
        "doc_id long, text string",
    )
    build_index_fast(spark, docs, root)
    full = BM25Index(spark, root)
    want = sorted(
        tuple(r)
        for r in full.search([(1, "alpha beta gamma")], k=10,
                             score_round=4).collect()
    )
    small = BM25Index(spark, root)
    small.DRIVER_STATS_CAP = 0  # big-vocab fallback
    small.search([(1, "alpha beta")], k=10).collect()  # caches alpha, beta
    assert set(small._df_cache) >= {"alpha", "beta"}
    small.DRIVER_STATS_CAP = 2  # next query's 3 terms overflow the memo
    got = sorted(
        tuple(r)
        for r in small.search([(1, "alpha beta gamma")], k=10,
                              score_round=4).collect()
    )
    assert got == want and len(got) == 3
    # eviction kept exactly the current query's terms
    assert set(small._df_cache) == {"alpha", "beta", "gamma"}
