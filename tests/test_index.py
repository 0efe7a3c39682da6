"""Index-build correctness: segments decode back to exactly the
postings a pure-Python oracle computes; both build paths agree;
resume-after-crash equals from-scratch (FIXTURES.md §5)."""

import collections
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from eaststorm_searchengine_spark import textproc
from eaststorm_searchengine_spark.operators import codec
from eaststorm_searchengine_spark.operators.bm25 import BM25Index
from eaststorm_searchengine_spark.operators.index_build import (
    BLOCK,
    DOCLEN_TERM,
    SEGMENT_COLS,
    _encode_sorted_runs,
    build_index,
    build_index_fast,
    build_index_resumable,
)

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, "_tmp")


def _python_postings(rows):
    """Oracle: term -> sorted [(doc_id, tf, positions)] from raw text."""
    inv = collections.defaultdict(list)
    doclens = {}
    for doc_id, text in rows:
        toks = textproc.tokenize(text or "")
        doclens[doc_id] = len(toks)
        seen = collections.defaultdict(list)
        for i, t in enumerate(toks):
            seen[t].append(i + 1)
        for t, ps in seen.items():
            inv[t].append((doc_id, len(ps), ps))
    for t in inv:
        inv[t].sort()
    return inv, doclens


def _decode_index(spark, root):
    """Engine: decode every segment block back to python postings."""
    inv = collections.defaultdict(list)
    segs = spark.read.parquet(os.path.join(root, "segments")).filter(
        f"term != '{DOCLEN_TERM}'"
    ).collect()
    for r in sorted(segs, key=lambda r: (r["term"], r["first_doc"])):
        docs = codec.delta_decode(bytes(r["docs"])).astype("int64")
        tfs = codec.vb_decode(bytes(r["tfs"])).astype("int64")
        poss = codec.decode_positions(bytes(r["pos"]), tfs)
        for d, tf, ps in zip(docs, tfs, poss):
            inv[r["term"]].append((int(d), int(tf), [int(p) for p in ps]))
    for t in inv:
        inv[t].sort()
    return dict(inv)


@pytest.fixture(scope="module")
def docs_rows(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    return [(int(r["doc_id"]), r["text"]) for r in df.collect()]


@pytest.mark.parametrize("builder,tag", [(build_index, "term"), (build_index_fast, "fast")])
def test_segments_match_python_oracle(spark, docs_rows, builder, tag):
    root = f"{TMP}/t_idx_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    stats = builder(spark, spark.read.parquet(f"{SF}/documents.parquet"), root)
    want, doclens = _python_postings(docs_rows)
    got = _decode_index(spark, root)
    assert set(got) == set(want)
    for t in want:
        assert got[t] == want[t], f"postings differ for {t!r}"
    assert stats["n_docs"] == len(doclens)
    assert stats["total_tokens"] == sum(doclens.values())
    # doclens table
    dl = {
        int(r["doc_id"]): int(r["dl"])
        for r in spark.read.parquet(os.path.join(root, "doclens")).collect()
    }
    assert dl == doclens
    # term_stats df
    ts = {
        r["term"]: int(r["df"])
        for r in spark.read.parquet(os.path.join(root, "term_stats")).collect()
    }
    assert ts == {t: len(v) for t, v in want.items()}
    # lineage covers all postings exactly once
    lin = spark.read.parquet(os.path.join(root, "lineage")).collect()
    assert sum(int(r["postings"]) for r in lin) == sum(len(v) for v in want.values())
    assert all(r["status"] == "complete" for r in lin)


def test_resumable_crash_resume_equals_scratch(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = f"{TMP}/t_idx_resume"
    b = f"{TMP}/t_idx_scratch"
    shutil.rmtree(a, ignore_errors=True)
    shutil.rmtree(b, ignore_errors=True)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index_resumable(spark, docs, a, n_jobs=4, fail_after=2)
    # resume: skips the 2 committed parts, finishes the rest
    build_index_resumable(spark, docs, a, n_jobs=4)
    build_index_resumable(spark, docs, b, n_jobs=4)
    got = _decode_index(spark, a)
    want = _decode_index(spark, b)
    assert got == want
    # and the resumable index serves identical queries to the plain one
    c = f"{TMP}/t_idx_plain"
    shutil.rmtree(c, ignore_errors=True)
    build_index(spark, docs, c)
    q = [(1, "join"), (2, "hash window"), (3, "dup")]
    ra = [tuple(r) for r in BM25Index(spark, a).search(q, k=10, score_round=4).collect()]
    rc = [tuple(r) for r in BM25Index(spark, c).search(q, k=10, score_round=4).collect()]
    assert ra == rc


def test_fast_and_term_paths_serve_identical_results(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a, b = f"{TMP}/t_eq_term", f"{TMP}/t_eq_fast"
    for p, builder in [(a, build_index), (b, build_index_fast)]:
        shutil.rmtree(p, ignore_errors=True)
        builder(spark, docs, p)
    q = [(1, "join"), (2, "merge sort join"), (3, "the a"), (4, "zzz")]
    for method in ["exhaustive", "wand"]:
        ra = [tuple(r) for r in BM25Index(spark, a).search(q, k=10, method=method).collect()]
        rb = [tuple(r) for r in BM25Index(spark, b).search(q, k=10, method=method).collect()]
        assert ra == rb, method


def test_compact_index_merges_split_builds(spark, tmp_path):
    """north_star "externally merged": two indexes built over disjoint
    halves of the corpus, compacted into one, must serve IDENTICAL
    top-k (ids and scores) to a from-scratch single build — and
    compacting a single fragment-layout index must too (the streaming
    micro-batch collapse case)."""
    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.operators.bm25 import BM25Index
    from eaststorm_searchengine_spark.operators.index_build import (
        build_index_fast,
        compact_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    lo = docs.filter(F.col("doc_id") <= mid)
    hi = docs.filter(F.col("doc_id") > mid)
    d_full = str(tmp_path / "full")
    d_lo, d_hi = str(tmp_path / "lo"), str(tmp_path / "hi")
    d_merged = str(tmp_path / "merged")
    d_rolled = str(tmp_path / "rolled")
    build_index_fast(spark, docs, d_full)
    build_index_fast(spark, lo, d_lo)
    build_index_fast(spark, hi, d_hi)
    st = compact_index(spark, [d_lo, d_hi], d_merged)
    st2 = compact_index(spark, [d_full], d_rolled)

    full = BM25Index(spark, d_full)
    assert st["n_docs"] == full.n_docs and abs(st["avgdl"] - full.avgdl) < 1e-12
    assert st2["n_docs"] == full.n_docs
    Q = [(1, "data analysis"), (2, "research"), (3, "the"), (4, "zzzmissing")]
    want = [
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in full.search(Q, k=10, score_round=6).collect()
    ]
    for d in (d_merged, d_rolled):
        got = [
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in BM25Index(spark, d).search(Q, k=10, score_round=6).collect()
        ]
        assert got == want and len(got) > 0, d
    # phrase positions survive the decode→re-encode round trip
    pw = [
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in full.phrase_search([(1, "data analysis")], k=10, score_round=6).collect()
    ]
    pg = [
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in BM25Index(spark, d_merged).phrase_search(
            [(1, "data analysis")], k=10, score_round=6
        ).collect()
    ]
    assert pg == pw


def test_compact_index_refuses_mixed_analyzers(spark, tmp_path):
    """Merging stemmed and unstemmed indexes would silently mix
    incompatible vocabularies — compact_index must refuse loudly."""
    import pytest as _pytest

    from eaststorm_searchengine_spark.operators.index_build import (
        build_index_fast,
        compact_index,
    )

    docs = spark.createDataFrame(
        [(1, "running quickly"), (2, "run quick")], "doc_id long, text string"
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index_fast(spark, docs.filter("doc_id = 1"), a)
    build_index_fast(spark, docs.filter("doc_id = 2"), b, stem=True)
    with _pytest.raises(ValueError, match="stemmed"):
        compact_index(spark, [a, b], str(tmp_path / "out"))


def test_chunk_bits_override_serves_identical_results(spark):
    """r5: build_index(chunk_bits=N) pins the doc-range span (the
    production-shape knob the Zipf WAND bench uses); queries against a
    pinned-span index must equal the adaptive-span index under both
    executors, and the pinned span must actually land in stats.json."""
    import json

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a, b = f"{TMP}/t_cb_adaptive", f"{TMP}/t_cb_pinned"
    shutil.rmtree(a, ignore_errors=True)
    shutil.rmtree(b, ignore_errors=True)
    build_index(spark, docs, a)
    build_index(spark, docs, b, chunk_bits=14)
    assert json.load(open(f"{b}/stats.json"))["chunk_bits"] == 14
    q = [(1, "join"), (2, "merge sort join"), (3, "the a"), (4, "zzz")]
    for method in ["exhaustive", "wand"]:
        ra = [tuple(r) for r in BM25Index(spark, a).search(q, k=10, method=method).collect()]
        rb = [tuple(r) for r in BM25Index(spark, b).search(q, k=10, method=method).collect()]
        assert ra == rb, method


def test_adaptive_chunk_bits_serving_span():
    """r6 (VERDICT r05 #4): the adaptive span targets ~one chunk per
    core — the serving shape — instead of 4×cores; at the 1M-doc bench
    scale it must land the cb15-equivalent span that the r5 A/B found
    optimal, and at 10^12 docs it must stay at the fixed production
    span."""
    from eaststorm_searchengine_spark.operators.index_build import (
        CHUNK_BITS,
        MIN_CHUNK_BITS,
        adaptive_chunk_bits,
    )

    assert adaptive_chunk_bits(1_000_000, 32) == 15  # the r5 A/B winner
    assert adaptive_chunk_bits(10**12, 32) == CHUNK_BITS
    assert adaptive_chunk_bits(500, 32) == MIN_CHUNK_BITS
    # chunk count lands in [cores/2, cores) wherever the corpus allows
    for n in (50_000, 200_000, 1_000_000, 4_000_000):
        bits = adaptive_chunk_bits(n, 32)
        assert 16 <= (n >> bits) < 32 or bits in (CHUNK_BITS, MIN_CHUNK_BITS)
    # monotone in n_docs
    spans = [adaptive_chunk_bits(n, 32) for n in (10_000, 100_000, 1_000_000)]
    assert spans == sorted(spans)


def test_skew_corpus_deterministic_and_hot_fraction(spark):
    """The skew-flood bench corpus is partition-invariant and its hot
    term really hits ~the requested fraction of docs with token mass
    identical to the uniform twin (replacement, not insertion)."""
    from eaststorm_searchengine_spark import corpus as corpus_mod

    hot = corpus_mod.zipf_word(0)
    a = sorted(corpus_mod.synthesize_skew_docs(spark, 400, hot_fraction=0.5).collect())
    b = sorted(
        corpus_mod.synthesize_skew_docs(spark, 400, hot_fraction=0.5)
        .repartition(7)
        .collect()
    )
    assert a == b and len(a) == 400
    n_hot = sum(1 for _, t in a if t.split()[0] == hot)
    assert 120 <= n_hot <= 280  # ~50% of 400
    u = sorted(corpus_mod.synthesize_skew_docs(spark, 400, hot_fraction=0.0).collect())
    assert all(len(t.split()) == len(ut.split()) for (_, t), (_, ut) in zip(a, u))
    assert not any(t.split()[0] == hot for _, t in u)


def _encode_blocks(
    bucket: int, term: str, chunk: int,
    docs: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
    positions: list, rows: list,
) -> None:
    """Append ≤ ceil(n/128) block rows for one (term, chunk) run."""
    for s in range(0, len(docs), BLOCK):
        e = min(s + BLOCK, len(docs))
        b_docs = codec.delta_encode(docs[s:e].astype(np.uint64))
        b_tfs = codec.vb_encode(tfs[s:e].astype(np.uint64))
        b_dls = codec.vb_encode(dls[s:e].astype(np.uint64))
        b_pos = codec.encode_positions(positions[s:e]) if positions else b""
        rows.append(
            {
                "bucket": bucket,
                "term": term,
                "chunk": chunk,
                "first_doc": int(docs[s]),
                "last_doc": int(docs[e - 1]),
                "n": e - s,
                "max_tf": int(tfs[s:e].max()) if len(tfs) else 0,
                "min_dl": int(dls[s:e].min()) if len(dls) else 0,
                "bytes": len(b_docs) + len(b_tfs) + len(b_dls) + len(b_pos),
                "docs": b_docs,
                "tfs": b_tfs,
                "dls": b_dls,
                "pos": b_pos,
            }
        )


def _encode_bucket_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    """REFERENCE encoder (readable, per-run loop) — the byte-identity
    oracle for the production `_encode_sorted_runs`: one (bucket, chunk)
    group of posting rows → block rows for every term run inside it."""
    rows: list = []
    if not len(pdf):
        return pd.DataFrame(rows, columns=SEGMENT_COLS)
    pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
    bucket = int(pdf["bucket"].iloc[0])
    chunk = int(pdf["chunk"].iloc[0])
    docs_all = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs_all = pdf["tf"].to_numpy(dtype=np.int64)
    dls_all = pdf["dl"].to_numpy(dtype=np.int64)
    pos_all = pdf["positions"].tolist()
    terms = pdf["term"].to_numpy()
    starts = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    bounds = np.r_[starts, len(terms)]
    for i in range(len(starts)):
        s, e = int(bounds[i]), int(bounds[i + 1])
        _encode_blocks(
            bucket, str(terms[s]), chunk,
            docs_all[s:e], tfs_all[s:e], dls_all[s:e], pos_all[s:e], rows,
        )
    return pd.DataFrame(rows, columns=SEGMENT_COLS)


def _encode_with_sorted_runs(pdf: pd.DataFrame) -> pd.DataFrame:
    """The same group through the production encoder, fed the way the
    fragment encode and the re-chunk feed it: (term, doc)-sorted streams
    plus flat positions with per-posting counts."""
    pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
    pos = pdf["positions"].tolist()
    counts = np.fromiter((len(p) for p in pos), dtype=np.int64, count=len(pos))
    flat = np.concatenate(pos).astype(np.int64) if pos else np.empty(0, np.int64)
    return _encode_sorted_runs(
        pdf["term"].to_numpy(),
        pdf["bucket"].to_numpy(dtype=np.int64),
        pdf["chunk"].to_numpy(dtype=np.int64),
        pdf["doc_id"].to_numpy(dtype=np.int64),
        pdf["tf"].to_numpy(dtype=np.int64),
        pdf["dl"].to_numpy(dtype=np.int64),
        (flat, counts),
    )


def test_vectorized_encoder_matches_loopy_reference():
    """r6: `_encode_sorted_runs` (production, run by every build path)
    is byte-identical to the per-run loopy `_encode_blocks` reference on
    randomized groups — tiny runs, multi-block runs, empty position
    lists, adversarial doc-id gaps (varbyte width boundaries)."""
    rng = np.random.RandomState(1234)

    def group(n_terms, max_run, id_space, empty_pos_frac=0.0):
        rows = []
        for t in range(n_terms):
            run = int(rng.randint(1, max_run + 1))
            docs = np.unique(rng.randint(0, id_space, size=run * 2, dtype=np.int64))[:run]
            for d in docs:
                tf = int(rng.randint(1, 6))
                if rng.rand() < empty_pos_frac:
                    pos = np.array([], dtype=np.int64)
                else:
                    pos = np.sort(rng.choice(10_000, tf, replace=False)).astype(np.int64)
                rows.append(
                    {
                        "bucket": 5, "term": f"w{t:05d}", "chunk": 9,
                        "doc_id": int(d), "tf": tf, "dl": int(rng.randint(1, 400)),
                        "positions": pos,
                    }
                )
        return pd.DataFrame(rows).sample(frac=1, random_state=7).reset_index(drop=True)

    cases = [
        group(300, 2, 100_000),                      # tiny runs (the hot case)
        group(3, 1000, 1_000_000),                   # multi-block runs
        group(40, 60, 1 << 40),                      # wide ids (multi-byte varbyte)
        group(25, 30, 5_000, empty_pos_frac=0.4),    # empty position lists
        pd.DataFrame([], columns=["bucket", "term", "chunk", "doc_id", "tf", "dl", "positions"]),
    ]
    for i, pdf in enumerate(cases):
        a = _encode_bucket_chunk(pdf.copy())
        b = _encode_with_sorted_runs(pdf.copy())
        assert len(a) == len(b), i
        for col in a.columns:
            assert a[col].tolist() == b[col].tolist(), (i, col)


def test_group_subsplits_rule():
    """ADVICE r06: expected per-(bucket, chunk) posting mass must be
    bounded by MAX_GROUP_POSTINGS via term-hash sub-splits."""
    from eaststorm_searchengine_spark.operators.index_build import (
        MAX_GROUP_POSTINGS,
        group_subsplits,
    )

    # sandbox scale: no extra salt
    assert group_subsplits(1_000_000, 40.0, 15, 16) == 1
    # production shape: 2^18-doc chunks, web avgdl ~300 → mass ~4.9M/group
    n = group_subsplits(10**12, 300.0, 18, 16)
    assert n >= 2
    assert (1 << 18) * 300.0 / 16 / n <= MAX_GROUP_POSTINGS
    # monotone in avgdl, bounded below by 1
    assert group_subsplits(100, 5.0, 18, 16) == 1
    # chunk span caps the per-chunk doc count even for huge corpora
    assert group_subsplits(10**12, 300.0, 10, 16) == 1


def test_build_index_with_forced_subsplits_serves_identically(
    spark, tmp_path, monkeypatch, arrow_batch_rows
):
    """End-to-end wiring of ADVICE r06 #1: force group_subsplits > 1
    through the REAL build_index caller (tiny MAX_GROUP_POSTINGS) and
    assert the index byte-equals a default build — segments, stats and
    served results.  Arrow batches smaller than a chunk force the
    re-chunk route (the default build here is the single pass); a spy
    on the re-chunk proves the build really ran with sub-splits (the
    cap must be read at call time)."""
    from eaststorm_searchengine_spark.operators import index_build as ib
    from eaststorm_searchengine_spark.operators.bm25 import BM25Index

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    root_a = str(tmp_path / "idx_default")
    ib.build_index(spark, docs, root_a)

    monkeypatch.setattr(ib, "MAX_GROUP_POSTINGS", 64)
    n_subs = []
    compact = ib._compact_segments

    def spy(seg, chunk_bits, n_sub=1):
        n_subs.append(n_sub)
        return compact(seg, chunk_bits, n_sub=n_sub)

    monkeypatch.setattr(ib, "_compact_segments", spy)
    root_b = str(tmp_path / "idx_subsplit")
    with arrow_batch_rows(64):
        ib.build_index(spark, docs, root_b)
    assert len(n_subs) == 1 and n_subs[0] > 1, n_subs

    def seg_rows(root):
        return sorted(
            (r["bucket"], r["term"], r["chunk"], r["first_doc"], bytes(r["docs"]),
             bytes(r["tfs"]), bytes(r["dls"]), bytes(r["pos"]))
            for r in spark.read.parquet(f"{root}/segments").collect()
        )

    assert seg_rows(root_a) == seg_rows(root_b)
    q = [(1, "data analysis"), (2, "research")]
    a = [tuple(r) for r in BM25Index(spark, root_a).search(q, k=10, score_round=4).collect()]
    b = [tuple(r) for r in BM25Index(spark, root_b).search(q, k=10, score_round=4).collect()]
    assert a == b and len(a) > 0


def test_chunk_mode_regroups_chunks_across_batches():
    """The chunk-mode encode emits one unit per doc-range chunk however
    the chunk arrives: split over several Arrow batches, or sharing a
    batch with the tail of the previous chunk.  Each unit equals the
    fragment encode of that chunk's docs as one batch, keyed
    ``doc_id >> chunk_bits``."""
    from eaststorm_searchengine_spark.operators.index_build import _make_fragment_gen

    rng = np.random.default_rng(7)
    words = np.array(["alpha", "beta", "gamma", "delta", "eps", "zeta"], dtype=object)
    ids = np.arange(0, 120, 3, dtype=np.int64)  # 40 docs, chunks of 16 ids
    texts = [" ".join(rng.choice(words, size=rng.integers(0, 300))) for _ in ids]
    pdf = pd.DataFrame({"doc_id": ids, "text": texts})
    chunk_of = ids >> 4

    def rows(out, rekey=False):
        out = pd.concat(out, ignore_index=True)
        if rekey:
            out["chunk"] = out["chunk"].to_numpy() >> 4
        return sorted(
            tuple(bytes(v) if isinstance(v, bytes) else v for v in r)
            for r in out[SEGMENT_COLS].itertuples(index=False)
        )

    per_chunk = [pdf[chunk_of == c] for c in np.unique(chunk_of)]
    # chunk 0 (six docs) over three batches, the third also holding
    # the head of chunk 1; an empty batch in between
    split = [pdf.iloc[0:2], pdf.iloc[2:4], pdf.iloc[0:0], pdf.iloc[4:9], pdf.iloc[9:25],
             pdf.iloc[25:]]
    chunked = _make_fragment_gen("text", False, False, 4, chunk_bits=4)
    units = list(chunked(iter(split)))
    assert len(units) == len(per_chunk) == 8
    assert [int(u["chunk"].iloc[0]) for u in units] == list(np.unique(chunk_of))
    for u in units:
        for col in ("first_doc", "last_doc"):
            assert (u[col].to_numpy() >> 4 == u["chunk"].to_numpy()).all()
        runs = list(dict.fromkeys(u["term"]))
        assert runs == sorted(runs) and runs[0] == DOCLEN_TERM
    assert rows(units) == rows(chunked(iter(per_chunk)))
    fragments = _make_fragment_gen("text", False, False, 4)
    assert rows(units) == rows(fragments(iter(per_chunk)), rekey=True)
