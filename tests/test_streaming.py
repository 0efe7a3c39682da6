"""Streaming incremental indexing: two ingest waves through
Structured Streaming == one batch build, rank-identically."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from eaststorm_searchengine_spark.operators.bm25 import BM25Index
from eaststorm_searchengine_spark.operators.index_build import build_index_fast
from eaststorm_searchengine_spark.streaming import incremental

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, "_tmp", "t_stream")


def test_streaming_equals_batch(spark):
    shutil.rmtree(TMP, ignore_errors=True)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # two ingest waves land as separate files in the stream input dir
    docs.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(f"{TMP}/in")
    docs.filter(F.col("doc_id") >= 250).write.mode("append").parquet(f"{TMP}/in")

    incremental.start_incremental_index(
        spark,
        input_dir=f"{TMP}/in",
        index_dir=f"{TMP}/idx",
        checkpoint_dir=f"{TMP}/ckpt",
        schema="doc_id long, text string",
    )
    stats = incremental.refresh_metadata(spark, f"{TMP}/idx")
    assert stats["n_docs"] == 500

    build_index_fast(spark, docs, f"{TMP}/batch_idx")
    q = [(1, "join"), (2, "hash window"), (3, "the a"), (4, "dup")]
    got = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/idx").search(q, k=10, score_round=4).collect()
    ]
    want = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/batch_idx").search(q, k=10, score_round=4).collect()
    ]
    assert got == want and len(got) > 0


def test_streaming_replay_is_idempotent(spark):
    # restarting the drained stream ingests nothing new and changes nothing
    before = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/idx").search([(1, "join")], k=5).collect()
    ]
    incremental.start_incremental_index(
        spark,
        input_dir=f"{TMP}/in",
        index_dir=f"{TMP}/idx",
        checkpoint_dir=f"{TMP}/ckpt",
        schema="doc_id long, text string",
    )
    incremental.refresh_metadata(spark, f"{TMP}/idx")
    after = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/idx").search([(1, "join")], k=5).collect()
    ]
    assert before == after


def test_compact_streaming_store_equals_batch(spark):
    """Compacting an incrementally-ingested store (per-micro-batch
    ``stream_batch=*`` fragment layout) must produce a canonical index
    serving identical top-k to the batch build — the maintenance loop:
    ingest → compact → serve."""
    from eaststorm_searchengine_spark.operators.index_build import compact_index

    stats = compact_index(spark, [f"{TMP}/idx"], f"{TMP}/compacted")
    assert stats["n_docs"] == 500 and stats["layout"] == "compacted"
    q = [(1, "join"), (2, "hash window"), (3, "the a"), (4, "dup")]
    got = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/compacted").search(q, k=10, score_round=4).collect()
    ]
    want = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/batch_idx").search(q, k=10, score_round=4).collect()
    ]
    assert got == want and len(got) > 0


def test_compact_mixed_streaming_and_batch_layouts(spark):
    """Mixing a streaming store (extra stream_batch partition column)
    with a plain fragment store in ONE compaction must work — the
    column sets are normalized per root before the union (code-review
    r04: this documented use case previously threw on unionByName).
    Each source holds a DISJOINT half of the corpus, built through a
    different ingestion path; the merge must equal the full batch
    build."""
    import shutil as _sh

    from pyspark.sql import functions as _F

    from eaststorm_searchengine_spark.operators.index_build import compact_index

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    _sh.rmtree(f"{TMP}/half_in", ignore_errors=True)
    _sh.rmtree(f"{TMP}/half_idx", ignore_errors=True)
    _sh.rmtree(f"{TMP}/half_ckpt", ignore_errors=True)
    docs.filter(_F.col("doc_id") < 250).write.mode("overwrite").parquet(f"{TMP}/half_in")
    incremental.start_incremental_index(
        spark,
        input_dir=f"{TMP}/half_in",
        index_dir=f"{TMP}/half_idx",
        checkpoint_dir=f"{TMP}/half_ckpt",
        schema="doc_id long, text string",
    )
    incremental.refresh_metadata(spark, f"{TMP}/half_idx")
    build_index_fast(
        spark, docs.filter(_F.col("doc_id") >= 250), f"{TMP}/other_half_idx"
    )
    stats = compact_index(
        spark, [f"{TMP}/half_idx", f"{TMP}/other_half_idx"], f"{TMP}/mixed_compacted"
    )
    assert stats["n_docs"] == 500
    q = [(1, "join"), (2, "hash window"), (3, "dup")]
    got = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/mixed_compacted").search(q, k=10, score_round=4).collect()
    ]
    want = [
        tuple(r)
        for r in BM25Index(spark, f"{TMP}/batch_idx").search(q, k=10, score_round=4).collect()
    ]
    assert got == want and len(got) > 0


def test_auto_compaction_policy(spark):
    """VERDICT r08 #5: the LSM-style maintenance policy — fragment
    stats counted off metadata, a threshold predicate, and an in-place
    compaction that triggers only past the threshold, serves identical
    results, and is picked up by a live handle through rebuild
    detection."""
    root = os.path.join(REPO, "_tmp", "t_autocompact")
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    for b in range(8):
        batch = docs.filter(
            (F.col("doc_id") % 8 == b)
        )
        incremental._append_batch(
            batch, b, f"{root}/idx", "doc_id", "text", False, 8
        )
    incremental.refresh_metadata(spark, f"{root}/idx", n_buckets=8)

    fstats = incremental.fragment_stats(f"{root}/idx")
    assert fstats["n_fragments"] == 8 and fstats["n_files"] > 8
    # healthy store: policy declines, store untouched
    assert not incremental.should_compact(fstats, max_fragments=16)
    assert (
        incremental.auto_compact(spark, f"{root}/idx", max_fragments=16)
        is None
    )
    assert incremental.fragment_stats(f"{root}/idx")["n_fragments"] == 8

    q = [(1, "join"), (2, "hash window"), (3, "the a")]
    live = BM25Index(spark, f"{root}/idx")  # opened BEFORE compaction
    want = sorted(
        tuple(r) for r in live.search(q, k=10, score_round=4).collect()
    )
    assert len(want) > 0

    # past the threshold: compaction runs in place
    assert incremental.should_compact(fstats, max_fragments=4)
    stats = incremental.auto_compact(spark, f"{root}/idx", max_fragments=4)
    assert stats is not None and stats["n_docs"] == 500
    after = incremental.fragment_stats(f"{root}/idx")
    assert after["n_fragments"] == 1
    assert after["n_files"] < fstats["n_files"]
    # file-count trigger fires independently of fragment count
    assert incremental.should_compact(after, max_fragments=4, max_files=0)

    # a fresh handle AND the live pre-compaction handle (rebuild
    # detection) both serve the exact pre-compaction results
    got_fresh = sorted(
        tuple(r)
        for r in BM25Index(spark, f"{root}/idx")
        .search(q, k=10, score_round=4)
        .collect()
    )
    got_live = sorted(
        tuple(r) for r in live.search(q, k=10, score_round=4).collect()
    )
    assert got_fresh == want
    assert got_live == want


def _search(spark, root, q, method="auto"):
    return [
        tuple(r)
        for r in BM25Index(spark, root).search(q, k=10, method=method, score_round=4).collect()
    ]


def _phrase(spark, root, q):
    return [
        tuple(r) for r in BM25Index(spark, root).phrase_search(q, k=10, score_round=4).collect()
    ]


def test_stream_after_compaction_refreshes(spark, tmp_path):
    """Ingest keeps working after its own compaction and stays exact:
    stream, compact, stream, refresh.  Batches 1-5 of
    ``doc_id % 6`` stream in and are compacted, then batch 0 streams
    in: its first doc, 0, is also the compacted store's chunk key, so
    only a (gen, chunk) grouping keeps the two sorted runs apart.  A
    second compaction and one more batch of new docs follow.  After
    each ingest, both executors and the phrase path serve exactly what
    a batch build over the ingested docs serves; ``refresh_metadata``
    right after a compaction returns the compaction's corpus
    statistics; restarting the drained stream changes nothing."""
    root = str(tmp_path)
    idx = f"{root}/idx"
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # new documents: the first 100 texts again under unused ids
    extra = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"
    )
    q = [(1, "join"), (2, "hash window"), (3, "the a"), (4, "data analysis"), (5, "research")]
    pq = [(1, "data analysis"), (2, "hash join")]
    corpus_keys = ("n_docs", "avgdl", "total_tokens")

    def ingest(df=None):
        if df is not None:
            df.coalesce(1).write.mode("append").parquet(f"{root}/in")
        incremental.start_incremental_index(
            spark, input_dir=f"{root}/in", index_dir=idx,
            checkpoint_dir=f"{root}/ckpt", schema="doc_id long, text string",
        )
        return incremental.refresh_metadata(spark, idx)

    def compact():
        stats = incremental.auto_compact(spark, idx, max_fragments=1)
        assert stats is not None
        assert incremental.fragment_stats(idx)["n_fragments"] == 1
        refreshed = incremental.refresh_metadata(spark, idx)
        assert {k: refreshed[k] for k in corpus_keys} == {k: stats[k] for k in corpus_keys}
        return stats

    def assert_serves_like_batch_build(all_docs, name):
        build_index_fast(spark, all_docs, f"{root}/{name}")
        for method in ("exhaustive", "auto"):
            got = _search(spark, idx, q, method)
            assert got == _search(spark, f"{root}/{name}", q, method) and got, method
        got = _phrase(spark, idx, pq)
        assert got == _phrase(spark, f"{root}/{name}", pq) and got

    for b in range(1, 6):
        ingest(docs.filter(F.col("doc_id") % 6 == b))
    first = compact()
    assert first["n_docs"] == docs.filter(F.col("doc_id") % 6 != 0).count()

    # restarting the drained stream after the compaction changes nothing
    before = (incremental.fragment_stats(idx), _search(spark, idx, q))
    restarted = ingest()
    assert (incremental.fragment_stats(idx), _search(spark, idx, q)) == before
    assert {k: restarted[k] for k in corpus_keys} == {k: first[k] for k in corpus_keys}

    stats = ingest(docs.filter(F.col("doc_id") % 6 == 0))
    assert stats["n_docs"] == 500 and incremental.fragment_stats(idx)["n_fragments"] == 2
    assert_serves_like_batch_build(docs, "batch_all")

    assert compact()["n_docs"] == 500
    stats = ingest(extra)
    assert stats["n_docs"] == 600
    assert_serves_like_batch_build(docs.unionByName(extra), "batch_extra")


def test_compaction_preconditions(spark, tmp_path):
    """compact_index refuses a source it cannot count, with a
    ValueError naming refresh_metadata: a streamed store before its
    first refresh (no stats.json), and a store whose segments hold
    postings but no #doclens# rows (compacted before doc lengths were
    postings), which would otherwise be indexed as zero documents."""
    from eaststorm_searchengine_spark.operators.index_build import DOCLEN_TERM, compact_index

    root = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for b in range(2):
        incremental._append_batch(
            docs.filter(F.col("doc_id") % 2 == b), b, f"{root}/idx", "doc_id", "text", False, 8
        )
    with pytest.raises(ValueError, match="refresh_metadata"):
        incremental.auto_compact(spark, f"{root}/idx", max_fragments=1)

    build_index_fast(spark, docs, f"{root}/fast", n_buckets=8)
    spark.read.parquet(f"{root}/fast/segments").filter(
        F.col("term") != DOCLEN_TERM
    ).drop("gen").write.partitionBy("bucket").parquet(f"{root}/old/segments")
    shutil.copy(f"{root}/fast/stats.json", f"{root}/old/stats.json")
    with pytest.raises(ValueError, match="refresh_metadata"):
        compact_index(spark, [f"{root}/old"], f"{root}/out")


def _older_format(spark, src, dst):
    """Rewrite streamed store ``src`` into the format written before
    generations and doc-length postings: ``stream_batch=<b>``
    directories in place of ``gen=<b+1>``, and one reserved row per
    fragment chunk, with an empty ``tfs`` stream and zero metadata."""
    import numpy as np

    from eaststorm_searchengine_spark.operators import codec
    from eaststorm_searchengine_spark.operators.index_build import (
        DOCLEN_TERM,
        SEGMENT_COLS,
        SEGMENT_SCHEMA,
    )

    seg = spark.read.parquet(f"{src}/segments")
    rows = []
    reserved = seg.filter(F.col("term") == DOCLEN_TERM).toPandas()
    for (gen, chunk), g in reserved.groupby(["gen", "chunk"]):
        g = g.sort_values("first_doc")
        ids = np.concatenate([codec.delta_decode(bytes(d)) for d in g["docs"]])
        dls = np.concatenate([codec.vb_decode(bytes(d)) for d in g["dls"]])
        rows.append((
            0, DOCLEN_TERM, int(chunk), int(ids[0]), int(ids[-1]), len(ids), 0, 0, 0,
            codec.delta_encode(ids.astype(np.uint64)), b"", codec.vb_encode(dls), b"",
            int(gen) - 1,
        ))
    old_reserved = spark.createDataFrame(rows, SEGMENT_SCHEMA + ", stream_batch int")
    seg.filter(F.col("term") != DOCLEN_TERM).withColumn(
        "stream_batch", F.col("gen") - 1
    ).select(*SEGMENT_COLS, "stream_batch").unionByName(old_reserved).write.partitionBy(
        "stream_batch", "bucket"
    ).parquet(f"{dst}/segments")


def test_older_fragment_store_serves_and_compacts(spark, tmp_path):
    """A fragment store in the format written before generations (a
    ``stream_batch=`` level, reserved rows with empty ``tfs``) still
    refreshes, serves and compacts; its compaction is row-equal to the
    compaction of the same docs streamed into generations."""
    from eaststorm_searchengine_spark.operators.index_build import SEGMENT_COLS, compact_index

    root = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for b in range(3):
        incremental._append_batch(
            docs.filter(F.col("doc_id") % 3 == b), b, f"{root}/new", "doc_id", "text", False, 8
        )
    _older_format(spark, f"{root}/new", f"{root}/old")
    assert incremental.fragment_stats(f"{root}/old")["n_fragments"] == 3
    st = {d: incremental.refresh_metadata(spark, f"{root}/{d}", n_buckets=8) for d in ("new", "old")}
    assert st["old"]["n_docs"] == 500
    keys = ("n_docs", "avgdl", "total_tokens", "n_terms")
    assert {k: st["old"][k] for k in keys} == {k: st["new"][k] for k in keys}
    q = [(1, "join"), (2, "hash window"), (3, "the a")]
    for method in ("exhaustive", "auto"):
        got = _search(spark, f"{root}/old", q, method)
        assert got == _search(spark, f"{root}/new", q, method) and got, method

    for d in ("new", "old"):
        compact_index(spark, [f"{root}/{d}"], f"{root}/{d}_compacted")
    for sub, cols in (("segments", SEGMENT_COLS), ("doclens", ["doc_id", "dl"])):
        a, b = (
            spark.read.parquet(f"{root}/{d}_compacted/{sub}").select(*cols)
            for d in ("new", "old")
        )
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), sub
    assert _search(spark, f"{root}/old_compacted", q) == _search(spark, f"{root}/new", q)


@pytest.mark.parametrize("layout", ["bucket=0", "stream_batch=0/bucket=0"])
def test_stream_refuses_store_without_generations(spark, tmp_path, layout):
    """Streaming into a store whose segments/ has no ``gen=`` level
    (written before generations) raises ValueError before the stream
    starts, and leaves the store as it was: a ``gen=<b+1>`` directory
    beside ``bucket=*`` would make every later read of the store fail
    on conflicting partition columns."""
    import os

    import pandas as pd

    from eaststorm_searchengine_spark.operators.index_build import _make_fragment_gen

    docs = pd.DataFrame({"doc_id": [0, 1], "text": ["alpha beta", "beta gamma"]})
    rows = next(_make_fragment_gen("text", False, False, 1)(iter([docs])))
    seg = tmp_path / "idx" / "segments"
    os.makedirs(seg / layout)
    rows.drop(columns="bucket").to_parquet(seg / layout / "part-0.parquet", index=False)
    docs.to_parquet(tmp_path / "in.parquet", index=False)
    with pytest.raises(ValueError, match="no gen= level"):
        incremental.start_incremental_index(
            spark,
            input_dir=str(tmp_path / "in.parquet"),
            index_dir=str(tmp_path / "idx"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            schema="doc_id long, text string",
        )
    assert sorted(os.listdir(seg)) == [layout.split("/")[0]]
    assert not (tmp_path / "ckpt").exists()
