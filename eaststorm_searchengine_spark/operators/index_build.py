"""Inverted-index construction — the engine's core batch pipeline.

Implements BASELINE.json north_star: vectorized tokenization →
per-(term, doc) postings with tf + positions → delta-gap + varbyte
block encoding with block-max metadata → salted (bucket, chunk)
shuffle into term-bucketed segment files.  Replaces the reference's
eager string-fold index build (``jobs/Indexer.java:36-75``) with a
shuffle-conscious DataFrame plan.

``segments/`` is every store's single source of truth: besides the
real terms it holds the reserved ``#doclens#`` postings, every
document's (doc_id, tf=0, dl) in bucket 0, token-less documents
included, encoded and re-chunked like any other term.

One encoder, two routes.  Every posting is encoded by
:func:`_make_fragment_gen`: each encode unit of documents is tokenized
once and turned into finished compressed block rows, its ``#doclens#``
run included.  :func:`build_index` picks the unit by whether one
doc-range chunk fits one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch``):

1. **Chunk-aligned single pass** (it fits).  The docs are partitioned
   one chunk per partition, and the unit is the chunk: its rows are
   the canonical rows, written straight to segments/.
2. **Fragment encode → canonical re-chunk** (it does not, and every
   other writer's path).  The unit is one Arrow batch; the compressed
   fragment blocks are shuffled on (bucket, chunk) and re-encoded per
   group (:func:`_compact_segments`).  The output depends only on the
   posting set, not on how it was fragmented.

Every entry point ends in the same metadata tail (:func:`_finalize`):
doclens/ from the reserved postings, term_stats/ and lineage/ from the
segment metadata, and one stats.json key set (listed in
:func:`build_index`).  A store of at most ``_META_DRIVER_ROWS``
segment rows (counted on its write) gets the three tables from one
scan job, grouped and decoded in the driver; only a larger store, or a
refresh that has no count, runs the three concurrent Spark pipelines.

Scale design (the 10^12-doc story):

* **Doc-range chunking is the salt.**  ``chunk = doc_id >> CHUNK_BITS``
  bounds every ``(term, chunk)`` group at 2^CHUNK_BITS postings, so even
  a stopword that appears in *every* document never forms a single
  giant shuffle group — its postings land in one bounded group per doc
  range.  Because chunks partition the doc-id space into ordered
  disjoint ranges, the "external merge" of per-partition sorted runs is
  free: reading a term's blocks ordered by ``first_doc`` *is* the merged
  list (same trick as Lucene segment ordering).
* **Term buckets give query-side pruning.**  Segments are written
  partitioned by ``bucket = xxhash64(term) % n_buckets``; a query reads
  only its terms' buckets (directory-level partition pruning).
* **Generations keep writers apart.**  Every writer lands one
  generation, ``segments/gen=<g>/bucket=<b>/``: builds and compactions
  ``gen=0``, streamed micro-batch ``b`` ``gen=<b+1>``.  Chunk keys are
  unique only within a generation, so queries and lineage key on
  ``(gen, chunk)``; a store without ``gen=`` directories is gen 0.
* **Block-max metadata.**  Each 128-posting block stores
  ``(max_tf, min_dl)``; the query computes the WAND upper bound
  ``idf · tfnorm(max_tf, min_dl, avgdl)`` with broadcast stats, so the
  build needs no stats pre-pass.

Entry points (all serve the identical query engine, equality-tested):

* ``build_index`` — chunk-partition → chunk encode when a chunk fits
  a batch, else range-partition → fragment encode → re-chunk.
* ``build_index_resumable`` — the second route, with the fragment
  encode run as checkpointed doc-id-range slices staged under
  ``postings/``; its segments/, doclens/ and term_stats/ are row-equal
  to ``build_index``'s.
* ``build_index_fast`` — the fragment encode alone, zero shuffle:
  fragment-layout segments.  Not the cheapest build: on 4 vCPUs it
  measured 1.34× (4,000 HTML pages) and 1.46× (20k text docs) the
  process CPU of ``build_index``'s single pass.
* ``compact_index`` — ``build_index``'s re-chunk and tail over
  existing segment stores.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sqltok
from ..functions.frames import ensure_parallelism
from . import codec
from ..sources import fsio

CHUNK_BITS = 18  # 262,144 docs per chunk → bounded (term, chunk) groups
MIN_CHUNK_BITS = 10


def adaptive_chunk_bits(n_docs: int, parallelism: int) -> int:
    """Chunk span sized to the corpus: at 10^12 docs the fixed 2^18
    span bounds every (term, chunk) shuffle group; below that, shrink
    only as far as needed for the corpus to yield roughly one chunk
    per core.  The chunk count drives QUERY-side parallelism (the
    scorer is one applyInPandas group per chunk), not build
    parallelism — the build fans out over (bucket, chunk) groups
    and has the whole bucket space to parallelize on.  Targeting
    4×cores chunks over-shards the serving path: at 1M docs it picks
    4096-doc chunks whose scoring runs are overhead-bound (a
    cb12→cb15 A/B measured +13% build, −29% single-query p50, −40%
    batch with the longer span — BASELINE.md).  This rule lands the
    cb15-equivalent span at the 1M bench scale automatically; chunk
    counts quantize in ×2 steps, so [cores/2, cores) is the closest
    reachable band to "≈ cores".
    Monotone in n_docs; recorded in stats.json for reproducibility."""
    bits = CHUNK_BITS
    while bits > MIN_CHUNK_BITS and (n_docs >> bits) < max(parallelism // 2, 1):
        bits -= 1
    return bits
BLOCK = 128  # postings per block (classic block-max WAND block size)
DEFAULT_BUCKETS = 16

# Upper bound on postings materialized in one encode group:
# at the production 2^18 chunk span with a realistic web avgdl, a plain
# (bucket, chunk) group holds ~chunk_docs×unique_terms/n_buckets postings
# *including position lists* in a single pandas frame — millions of rows
# per task.  Groups expected to exceed this are re-split on a term-hash
# sub-key (term runs stay whole, so output bytes are identical).
MAX_GROUP_POSTINGS = 1 << 21  # ~2M postings ≈ low hundreds of MB w/ positions


def group_subsplits(n_docs: int, avgdl: float, chunk_bits: int, n_buckets: int) -> int:
    """Number of term-hash sub-splits per (bucket, chunk) encode group
    so the expected per-group posting mass stays under
    ``MAX_GROUP_POSTINGS`` (read at call time).
    ``avgdl`` (tokens/doc) upper-bounds unique-terms/doc, so this is a
    safe overestimate of postings/doc.  Returns 1 (no extra salt) at
    sandbox scales; ~3 at the production 2^18 span with web avgdl."""
    chunk_docs = min(max(n_docs, 1), 1 << chunk_bits)
    expected = chunk_docs * max(avgdl, 1.0) / max(n_buckets, 1)
    return max(1, -(-int(expected) // MAX_GROUP_POSTINGS))

# Block metadata stores (max_tf, min_dl) rather than a precomputed
# tf-norm: tfnorm(tf, dl) is monotone ↑ in tf and ↓ in dl, so
# tfnorm(max_tf, min_dl) is a valid block-max WAND upper bound computed
# query-side with the broadcast avgdl — which frees the build from any
# stats pre-pass (single-pass builds).
SEGMENT_SCHEMA = (
    "bucket int, term string, chunk long, first_doc long, last_doc long, "
    "n int, max_tf int, min_dl int, bytes int, "
    "docs binary, tfs binary, dls binary, pos binary"
)

SEGMENT_COLS = [
    "bucket", "term", "chunk", "first_doc", "last_doc", "n",
    "max_tf", "min_dl", "bytes", "docs", "tfs", "dls", "pos",
]

# reserved pseudo-term whose postings are every document's (doc_id,
# tf=0, dl), all in bucket 0; can never collide with real tokens
# (tokens are [a-z]+)
DOCLEN_TERM = "#doclens#"


class IndexPaths:
    def __init__(self, root: str):
        self.root = root
        self.postings = os.path.join(root, "postings")  # resumable slices (checkpoint)
        self.segments = os.path.join(root, "segments")
        self.term_stats = os.path.join(root, "term_stats")
        self.doclens = os.path.join(root, "doclens")
        self.stats = os.path.join(root, "stats.json")
        self.lineage = os.path.join(root, "lineage")
        self.commits = os.path.join(root, "_commits")


def _read_segments(spark: SparkSession, path: str) -> DataFrame:
    """A segment store with its ``gen`` column; a store written without
    ``gen=`` directories reads as generation 0.  The schema is known,
    so the read runs no schema-inference job."""
    seg = spark.read.schema(SEGMENT_SCHEMA + ", gen int").parquet(path)
    return seg.withColumn("gen", F.coalesce("gen", F.lit(0)))


def _write_gen0(seg: DataFrame, paths: IndexPaths) -> int:
    """Replace segments/ with ``seg`` as generation 0.  Returns the
    rows written: an Observation counts them on the write, so no
    counting job runs."""
    from pyspark.sql import Observation

    obs = Observation()
    seg.withColumn("gen", F.lit(0)).observe(obs, F.count("*").alias("rows")).write.mode(
        "overwrite"
    ).partitionBy("gen", "bucket").parquet(paths.segments)
    return int(obs.get["rows"])


def _encode_sorted_runs(
    terms: np.ndarray,
    buckets: np.ndarray,
    chunks: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: tuple[np.ndarray, np.ndarray],
) -> pd.DataFrame:
    """The block encoder every build path runs: posting streams already
    grouped into contiguous (term, chunk) runs (equal terms adjacent,
    doc ids ascending within a run; ``buckets``/``chunks`` constant
    within a run) → block rows.  Every run start is a block start, so
    per-block delta resets land exactly where a per-run encoder puts
    them; block boundaries, metadata (reduceat) and all four byte
    streams (segmented codec) are computed without a per-run Python
    loop (byte-identity against a per-run reference encoder is
    pytest-gated).

    ``positions``: ``(flat_positions, per_posting_counts)`` — the
    postings' 1-based positions concatenated in posting order, and how
    many belong to each posting (0 for a posting stored without
    positions)."""
    n = len(docs)
    if n == 0:
        return pd.DataFrame([], columns=SEGMENT_COLS)
    new_run = np.r_[True, (terms[1:] != terms[:-1]) | (chunks[1:] != chunks[:-1])]
    run_starts = np.flatnonzero(new_run)
    run_of = np.cumsum(new_run) - 1  # run index per element
    idx_in_run = np.arange(n) - run_starts[run_of]
    block_starts = np.flatnonzero(idx_in_run % BLOCK == 0)
    nb = block_starts.size
    block_ends = np.empty(nb, dtype=np.int64)
    block_ends[:-1] = block_starts[1:]
    block_ends[-1] = n
    docs_buf, docs_off = codec.delta_encode_segmented(docs, block_starts)
    tfs_buf, tfs_off = codec.vb_encode_segmented(tfs, block_starts)
    dls_buf, dls_off = codec.vb_encode_segmented(dls, block_starts)
    flat_src, counts = positions
    counts = np.asarray(counts, dtype=np.int64)
    pcum = np.empty(n + 1, dtype=np.int64)
    pcum[0] = 0
    np.cumsum(counts, out=pcum[1:])
    if pcum[-1]:
        flat = flat_src.astype(np.uint64)
        d = np.empty_like(flat)
        d[0] = flat[0]
        d[1:] = flat[1:] - flat[:-1]
        post_starts = pcum[:-1][counts > 0]
        d[post_starts] = flat[post_starts]  # prev resets to 0 per posting
        pos_buf, pos_off = codec.vb_encode_segmented(d, pcum[block_starts])
    else:
        pos_buf, pos_off = b"", np.zeros(nb + 1, dtype=np.int64)
    mvd, mvt, mvl, mvp = map(memoryview, (docs_buf, tfs_buf, dls_buf, pos_buf))
    return pd.DataFrame(
        {
            "bucket": buckets[block_starts],
            "term": terms[block_starts],
            "chunk": chunks[block_starts],
            "first_doc": docs[block_starts],
            "last_doc": docs[block_ends - 1],
            "n": block_ends - block_starts,
            "max_tf": np.maximum.reduceat(tfs, block_starts),
            "min_dl": np.minimum.reduceat(dls, block_starts),
            "bytes": (
                np.diff(docs_off) + np.diff(tfs_off)
                + np.diff(dls_off) + np.diff(pos_off)
            ),
            "docs": [bytes(mvd[docs_off[i]:docs_off[i + 1]]) for i in range(nb)],
            "tfs": [bytes(mvt[tfs_off[i]:tfs_off[i + 1]]) for i in range(nb)],
            "dls": [bytes(mvl[dls_off[i]:dls_off[i + 1]]) for i in range(nb)],
            "pos": [bytes(mvp[pos_off[i]:pos_off[i + 1]]) for i in range(nb)],
        },
        columns=SEGMENT_COLS,
    )


def _run_concurrently(*fns) -> list:
    """Submit independent Spark jobs from concurrent driver threads and
    wait for all; first exception (if any) re-raises, else returns the
    results in order.  The Spark metadata tail (:func:`_spark_tail`,
    stores above ``_META_DRIVER_ROWS`` rows) runs its three pipelines
    this way, so each job's fixed scheduling cost overlaps instead of
    summing."""
    # InheritableThread, not threading.Thread: under
    # PySpark's default pinned-thread mode each plain Python thread
    # maps to a dedicated JVM thread that is NOT reclaimed on exit —
    # repeated builds in a long-lived driver would accumulate pinned
    # JVM threads; InheritableThread also propagates job group / local
    # properties into the concurrent jobs.
    from pyspark import InheritableThread

    results: list = [None] * len(fns)
    errs: list[BaseException] = []

    def _wrap(i, fn):
        try:
            results[i] = fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    threads = [InheritableThread(target=_wrap, args=(i, fn)) for i, fn in enumerate(fns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return results


def _decode_doclen_rows(batches):
    """mapInPandas generator: reserved #doclens# block rows → (doc_id,
    dl) rows."""
    for pdf in batches:
        ids = codec.delta_decode_concat(pdf["docs"].tolist(), pdf["n"].to_numpy(np.int64))
        dls = codec.vb_decode_concat(pdf["dls"].tolist())
        yield pd.DataFrame({"doc_id": ids.astype(np.int64), "dl": dls.astype(np.int64)})


def _reserved_rows(seg: DataFrame) -> DataFrame:
    """The reserved #doclens# rows of segment rows.  They all sit in
    bucket 0, so on a stored segment store the bucket filter prunes
    every other bucket directory."""
    return seg.filter((F.col("bucket") == 0) & (F.col("term") == DOCLEN_TERM))


def _doclen_rows(seg: DataFrame) -> DataFrame:
    """The (doc_id, dl) pairs of segment rows, decoded from their
    reserved #doclens# rows."""
    return _reserved_rows(seg).select("n", "docs", "dls").mapInPandas(
        _decode_doclen_rows, "doc_id long, dl long"
    )


def _write_doclens(dl: DataFrame, paths: IndexPaths) -> dict:
    """Write (doc_id, dl) rows to doclens/ and return the corpus
    statistics ``n_docs``, ``avgdl`` and ``total_tokens``.  They ride
    the write job through an Observation, so no aggregation job runs."""
    from pyspark.sql import Observation

    obs = Observation()
    dl.observe(
        obs,
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("total_tokens"),
    ).write.mode("overwrite").parquet(paths.doclens)
    agg = obs.get
    return {
        "n_docs": int(agg["n_docs"]),
        "avgdl": float(agg["avgdl"] or 0.0),
        "total_tokens": int(agg["total_tokens"] or 0),
    }


# Segment stores of at most this many rows (the reserved #doclens#
# rows included) end in the driver metadata tail, larger ones in the
# Spark tail; the same bound as dedup's _GRAM_DRIVER_ROWS.  The driver
# holds every row's term and five ints, tens of MB at the bound.  On
# 4 vCPUs, a 676k-row store (200k Zipf docs, fragment layout) took
# 2.5-3.8 s CPU / 0.9-1.2 s wall in the driver tail and 5.9-15.2 s /
# 1.6-4.0 s in the Spark tail (3 runs each).
_META_DRIVER_ROWS = 1_000_000


def _finalize(
    spark: SparkSession,
    paths: IndexPaths,
    t0: float,
    corpus: dict | None,
    seg_rows: int | None,
    *,
    n_buckets: int,
    stem: bool,
    chunk_bits: int | None = None,
    sources: int = 1,
) -> dict:
    """The metadata tail every builder and the streaming refresh end
    with, after segments/ is written: doclens/ decoded from the
    reserved #doclens# rows (unless ``corpus`` holds the corpus
    statistics of a doclens/ that :func:`_write_doclens` already
    wrote), term_stats/ and lineage/ from the segment metadata, then
    stats.json.  Returns the stats dict.  ``chunk_bits`` is None for a
    fragment-layout store, whose chunks are batch first-doc ids rather
    than doc-id ranges.  lineage/ has one row per (gen, chunk).

    ``seg_rows`` is the row count of segments/ when the caller has it
    without a job (None otherwise).  A store of at most
    ``_META_DRIVER_ROWS`` rows takes :func:`_driver_tail`, any other
    :func:`_spark_tail`; both write the same rows with the same
    schemas."""
    if seg_rows is not None and seg_rows <= _META_DRIVER_ROWS:
        n_terms, corpus = _driver_tail(spark, paths, corpus)
    else:
        n_terms, corpus = _spark_tail(spark, paths, corpus)
    stats = {
        "n_docs": corpus["n_docs"],
        "avgdl": corpus["avgdl"],
        "total_tokens": corpus["total_tokens"],
        "n_terms": n_terms,
        "n_buckets": n_buckets,
        "block": BLOCK,
        "chunk_bits": chunk_bits,
        "layout": "fragment" if chunk_bits is None else "compacted",
        "stem": stem,
        "k1": sqltok.K1,
        "b": sqltok.B,
        "build_sec": time.time() - t0,
        "sources": sources,
    }
    fsio.write_text(spark, paths.stats, json.dumps(stats, indent=2))
    return stats


def _spark_tail(
    spark: SparkSession, paths: IndexPaths, corpus: dict | None
) -> tuple[int, dict]:
    """:func:`_finalize`'s tables as three Spark pipelines over
    segments/; returns (n_terms, corpus statistics).

    The term_stats/ and lineage/ scans are metadata-only (ints + term;
    column pruning and the precomputed bytes column keep the posting
    blobs unread).  The writes are independent given segments/, so they
    run from concurrent driver threads, and n_terms and the corpus
    statistics ride their writes through Observations: the tail costs
    one job latency, not one per write plus two aggregations."""
    from pyspark.sql import Observation

    seg = _read_segments(spark, paths.segments)
    meta = seg.filter(F.col("term") != DOCLEN_TERM).select(
        "term", "bucket", "gen", "chunk", "n", "bytes"
    )

    def _term_stats_pipeline():
        # bucket rides along so the query path resolves term→bucket
        # with the same lookup that fetches df (one fewer job/query)
        ts_obs = Observation()
        meta.groupBy("term").agg(
            F.sum("n").cast("long").alias("df"),
            F.first("bucket").cast("int").alias("bucket"),
        ).observe(ts_obs, F.count("*").alias("n_terms")).write.mode(
            "overwrite"
        ).parquet(paths.term_stats)
        return int(ts_obs.get["n_terms"])

    def _lineage_pipeline():
        # per-chunk (shuffle-partition) lineage + metrics — north_rule
        meta.groupBy("gen", "chunk").agg(
            F.sum("n").cast("long").alias("postings"),
            F.countDistinct("term").alias("terms"),
            F.sum("bytes").cast("long").alias("bytes"),
        ).withColumn("status", F.lit("complete")).write.mode(
            "overwrite"
        ).parquet(paths.lineage)

    def _doclens_pipeline():
        if corpus is not None:
            return corpus
        return _write_doclens(_doclen_rows(seg), paths)

    n_terms, _, corpus = _run_concurrently(
        _term_stats_pipeline, _lineage_pipeline, _doclens_pipeline
    )
    return n_terms, corpus


def _driver_tail(
    spark: SparkSession, paths: IndexPaths, corpus: dict | None
) -> tuple[int, dict]:
    """:func:`_spark_tail`'s tables from one Spark job: a ``toArrow``
    scan of every segment row's metadata, plus the docs/dls streams of
    the reserved rows alone when doclens/ is still to write, so no
    other posting blob reaches the driver.  The driver groups and
    decodes, and writes each table as one parquet file through the
    Hadoop FileSystem API (:func:`_write_table`).

    Spark's ``avg`` sums the lengths as exact doubles, so avgdl is
    ``total_tokens / n_docs``, bitwise the Spark tail's value."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols: list = ["term", "bucket", "gen", "chunk", "n", "bytes"]
    if corpus is None:
        reserved = (F.col("bucket") == 0) & (F.col("term") == DOCLEN_TERM)
        cols += [F.when(reserved, F.col(c)).alias(c) for c in ("docs", "dls")]
    tbl = _read_segments(spark, paths.segments).select(*cols).toArrow()

    meta = tbl.filter(pc.not_equal(tbl["term"], DOCLEN_TERM))
    # a term's rows all sit in its one bucket, so min is Spark's first
    ts = meta.group_by("term").aggregate([("n", "sum"), ("bucket", "min")])
    _write_table(spark, paths.term_stats, pa.table({
        "term": ts["term"].cast(pa.string()),
        "df": ts["n_sum"].cast(pa.int64()),
        "bucket": ts["bucket_min"].cast(pa.int32()),
    }))
    ln = meta.group_by(["gen", "chunk"]).aggregate(
        [("n", "sum"), ("term", "count_distinct"), ("bytes", "sum")]
    )
    _write_table(spark, paths.lineage, pa.table({
        "gen": ln["gen"].cast(pa.int32()),
        "chunk": ln["chunk"].cast(pa.int64()),
        "postings": ln["n_sum"].cast(pa.int64()),
        "terms": ln["term_count_distinct"].cast(pa.int64()),
        "bytes": ln["bytes_sum"].cast(pa.int64()),
        "status": pa.array(["complete"] * ln.num_rows, pa.string()),
    }))
    if corpus is None:
        res = tbl.filter(pc.is_valid(tbl["docs"])).select(["n", "docs", "dls"])
        dl = next(_decode_doclen_rows([res.to_pandas()]))
        _write_table(spark, paths.doclens, pa.Table.from_pandas(dl, preserve_index=False))
        n_docs, total = len(dl), int(dl["dl"].sum())
        corpus = {
            "n_docs": n_docs,
            "avgdl": total / n_docs if n_docs else 0.0,
            "total_tokens": total,
        }
    return ts.num_rows, corpus


def _write_table(spark: SparkSession, path: str, table) -> None:
    """Replace the parquet directory ``path`` with one file holding the
    Arrow ``table``, written through the Hadoop FileSystem API (no
    Spark job).  The old directory is deleted first, so no stale part
    file survives beside the new one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fsio.delete(spark, path)
    data = buf.getvalue().to_pybytes()
    fsio.write_bytes(spark, os.path.join(path, "part-00000.parquet"), data)


def _range_fragments(
    docs: DataFrame, id_col: str, text_col: str, from_html: bool, stem: bool,
    n_buckets: int, parts: int,
) -> DataFrame:
    """Fragment encode over ``parts`` doc-id-range partitions.  Range
    order makes every fragment block's doc span tight, so the re-chunk
    in :func:`_compact_segments` replicates each block to ~1 target
    chunk (hash-partitioned batches would span the whole id range and
    replicate to every chunk)."""
    src = docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col))
    src = src.repartitionByRange(parts, "doc_id").sortWithinPartitions("doc_id")
    return src.mapInPandas(
        _make_fragment_gen(text_col, from_html, stem, n_buckets), SEGMENT_SCHEMA
    )


def _finish_build(
    spark: SparkSession,
    paths: IndexPaths,
    frags: DataFrame,
    chunk_bits: int | None,
    n_buckets: int,
    stem: bool,
    t0: float,
    *,
    persist: bool = True,
    sources: int = 1,
) -> dict:
    """Tail of :func:`build_index`'s re-chunk route,
    :func:`build_index_resumable` and :func:`compact_index`: segment
    rows → doclens/, canonical segments/ (generation 0) via
    :func:`_compact_segments`, then :func:`_finalize`.
    doclens/ is written first: the re-chunk's group split and a None
    ``chunk_bits`` need n_docs/avgdl.  ``frags`` is read twice, so a
    computed input is persisted; a stored one (``persist=False``) is
    not, and its doclens read prunes to bucket 0."""
    from pyspark.storagelevel import StorageLevel

    if persist:
        frags = frags.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        corpus = _write_doclens(_doclen_rows(frags), paths)
        if chunk_bits is None:
            chunk_bits = adaptive_chunk_bits(
                corpus["n_docs"], spark.sparkContext.defaultParallelism
            )
        seg_rows = _write_gen0(
            _compact_segments(
                frags, chunk_bits,
                n_sub=group_subsplits(
                    corpus["n_docs"], corpus["avgdl"], chunk_bits, n_buckets
                ),
            ),
            paths,
        )
    finally:
        if persist:
            frags.unpersist()
    return _finalize(
        spark, paths, t0, corpus, seg_rows, n_buckets=n_buckets, stem=stem,
        chunk_bits=chunk_bits, sources=sources,
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    stem: bool = False,
    from_html: bool = False,
    chunk_bits: int | None = None,
) -> dict:
    """Full index build → ``out_dir``.  Returns build stats/metrics.

    ``chunk_bits``: doc-range span per (term, chunk) group.  Default
    ``None`` sizes it adaptively for build parallelism at sandbox
    corpus sizes; pass an explicit value (e.g. the production
    ``CHUNK_BITS`` = 18) to reproduce at small scale the long per-chunk
    posting runs a 10^12-doc corpus has naturally — block-max WAND's
    skippable shape.

    Layout (every builder and ``refresh_metadata`` write the same):
      segments/   parquet, partitioned by gen (writer generation; 0
                  for a build) and bucket (term-hash pruning); holds
                  the reserved #doclens# postings
      term_stats/ parquet (term, df, bucket)
      doclens/    parquet (doc_id, dl)
      lineage/    parquet per-chunk metrics (postings, terms, bytes)
      stats.json  n_docs, avgdl, total_tokens, n_terms, n_buckets,
                  block, chunk_bits (null for the fragment layout),
                  layout ("compacted" | "fragment"), stem, k1, b,
                  build_sec, sources (segment stores merged; 1 for a
                  build)

    Shape: the heavy bytes move ONCE, and which route moves them
    depends on whether one doc-range chunk fits one Arrow batch
    (:func:`_chunk_fits_batch`: at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` documents, ≤ 0
    meaning unlimited — the memory the fragment encode holds anyway).

    * **Chunk-aligned single pass** (a chunk fits a batch).  The raw
      docs are partitioned by chunk ``doc_id >> chunk_bits`` (one
      partition per chunk, no sampling job) and sorted by doc_id; the
      chunk-mode encode (:func:`_make_fragment_gen`) turns each chunk
      straight into its canonical block rows, written as generation 0.
      Every posting is encoded once, and the only shuffle carries the
      raw docs.
    * **Fragments → re-chunk** (a chunk spans several batches).  The
      raw docs are range-partitioned by doc_id, each sorted batch
      becomes finished compressed fragment blocks, and the canonical
      term-clustered (bucket, chunk) layout comes from re-chunking
      those COMPRESSED blocks through :func:`_compact_segments` — the
      second exchange carries index bytes, not exploded postings.
      Staging and shuffling exploded posting rows (term, doc_id, tf,
      positions-list, …) instead measured 11.5 s of a 20.7 s isolated
      build at 500k docs for the tokenize+write of the staged form
      alone.

    Both routes write the same segments/, doclens/, term_stats/ and
    lineage/ rows (pytest-gated).  :func:`build_index_resumable` runs
    the fragment encode in checkpointed slices and the second route's
    tail."""
    t0 = time.time()
    n_docs_est = docs.count()
    par = docs.sparkSession.sparkContext.defaultParallelism
    if chunk_bits is None:
        chunk_bits = adaptive_chunk_bits(n_docs_est, par)
    paths = IndexPaths(out_dir)
    if _chunk_fits_batch(spark, n_docs_est, chunk_bits):
        # one partition per chunk when the ids are dense
        parts = max(1, -(-n_docs_est >> chunk_bits))
        src = docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col))
        src = src.repartitionById(
            parts, F.pmod(F.shiftright("doc_id", chunk_bits), F.lit(parts)).cast("int")
        ).sortWithinPartitions("doc_id")
        seg_rows = _write_gen0(
            src.mapInPandas(
                _make_fragment_gen(text_col, from_html, stem, n_buckets, chunk_bits),
                SEGMENT_SCHEMA,
            ),
            paths,
        )
        return _finalize(
            spark, paths, t0, None, seg_rows,
            n_buckets=n_buckets, stem=stem, chunk_bits=chunk_bits,
        )
    frags = _range_fragments(
        docs, id_col, text_col, from_html, stem, n_buckets,
        parts=max(par * 2, n_docs_est // (1 << chunk_bits) + 1),
    )
    return _finish_build(spark, paths, frags, chunk_bits, n_buckets, stem, t0)


def _chunk_fits_batch(spark: SparkSession, n_docs: int, chunk_bits: int) -> bool:
    """Whether one doc-range chunk holds no more documents than one
    Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``; ≤ 0
    is unlimited): :func:`build_index`'s single-pass gate."""
    cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    return cap <= 0 or min(n_docs, 1 << chunk_bits) <= cap


def build_index_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    stem: bool = False,
    from_html: bool = False,
    n_jobs: int = 4,
    fail_after: int | None = None,
) -> dict:
    """Checkpointed :func:`build_index`: the fragment encode runs as
    ``n_jobs`` doc-id-range slices.  Each slice writes its fragment
    rows under ``postings/part=<j>`` and then commits a marker; a
    re-run skips committed slices, so resume-after-kill equals
    from-scratch (FIXTURES.md §5).  The tail is ``build_index``'s
    (:func:`_finish_build`) and reads every staged slice, so a crash
    during the tail re-runs only the tail.  The re-chunk is canonical,
    so segments/, doclens/ and term_stats/ are row-equal to
    ``build_index``'s.  The staged slices stay as the build's
    checkpoint.

    ``fail_after`` (tests only): raise after that many slices commit,
    simulating a mid-build crash."""
    t0 = time.time()
    paths = IndexPaths(out_dir)
    # all metadata IO goes through the Hadoop FileSystem API so the
    # whole index root (segments + stats + commit markers) lives on one
    # filesystem — hdfs://, s3a://, or file: alike (resume survives a
    # driver replacement)
    fsio.mkdirs(spark, paths.commits)

    agg = docs.agg(
        F.count("*").alias("n"), F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    n_docs_est, lo, hi = int(agg["n"]), int(agg["lo"]), int(agg["hi"])
    par = docs.sparkSession.sparkContext.defaultParallelism
    chunk_bits = adaptive_chunk_bits(n_docs_est, par)
    parts = max(par * 2, n_docs_est // n_jobs // (1 << chunk_bits) + 1)
    span = (hi - lo + 1 + n_jobs - 1) // n_jobs

    done = 0
    for j in range(n_jobs):
        marker = os.path.join(paths.commits, f"part-{j}.done")
        if fsio.exists(spark, marker):
            continue
        s_lo, s_hi = lo + j * span, lo + (j + 1) * span
        part_docs = docs.filter((F.col(id_col) >= s_lo) & (F.col(id_col) < s_hi))
        _range_fragments(
            part_docs, id_col, text_col, from_html, stem, n_buckets, parts
        ).write.mode("overwrite").parquet(os.path.join(paths.postings, f"part={j}"))
        fsio.write_text(spark, marker, json.dumps({"part": j, "lo": s_lo, "hi": s_hi}))
        done += 1
        if fail_after is not None and done >= fail_after:
            raise RuntimeError(f"simulated crash after {done} parts")

    frags = spark.read.parquet(paths.postings).select(*SEGMENT_COLS)
    return _finish_build(spark, paths, frags, chunk_bits, n_buckets, stem, t0)


# ---------------------------------------------------------------------------
# Map-side fragment build (the MapReduce-indexer shape)
# ---------------------------------------------------------------------------

from ..functions.hashing import term_bucket as _bucket_of  # noqa: E402


def _make_fragment_gen(
    text_col: str, from_html: bool, stem: bool, n_buckets: int,
    chunk_bits: int | None = None,
):
    """mapInPandas generator: Arrow batches of (doc_id, text|html) →
    finished segment block rows, each encode unit's #doclens# run
    included.  Within a unit, term runs are in lexicographic order and
    doc ids ascend within each run.

    Fragment mode (``chunk_bits`` None): the unit is one Arrow batch,
    sorted by doc_id in-python, so every (term, batch) run is a sorted
    doc-id run, and runs across batches are disjoint (a doc lives in
    exactly one batch).  chunk = the batch's first doc_id — necessarily
    unique across the batches of one generation.  That is everything
    the query engine needs (per-chunk independent scoring, within-chunk
    blocks ordered by first_doc); no global ordering, and therefore no
    input shuffle, is required.

    Chunk mode (``chunk_bits`` set): the input arrives sorted by doc_id,
    each chunk's docs in one partition.  The unit is one doc-range chunk
    ``doc_id >> chunk_bits``, regrouped from consecutive batches (a chunk
    may span batches, a batch may end one chunk and start the next), and
    that is its chunk key, so the rows are exactly
    :func:`_compact_segments`' canonical rows.  It holds one chunk at a
    time: as much memory as fragment mode when a chunk fits a batch."""
    from .. import textproc
    from ..stemmer import porter_stem

    def tokenizer(v):
        if from_html:
            if isinstance(v, (bytes, bytearray)):
                v = v.decode("utf-8", errors="replace")
            toks = textproc.extract_and_tokenize(v)
        else:
            toks = textproc.tokenize(v)
        if stem:
            toks = [porter_stem(t) for t in toks]
        return toks

    def encode(pdf: pd.DataFrame, chunk: int) -> pd.DataFrame:
        from itertools import chain

        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        # tokenize (python — parity-bound), then aggregate postings
        # fully vectorized (a per-token dict/setdefault aggregation
        # was ~35 % of generator time at 1M scale — profiled;
        # factorize + one stable int argsort avoids it)
        tok_lists = []
        dls = np.empty(ids.size, dtype=np.int64)
        for i, raw in enumerate(pdf[text_col]):
            toks = tokenizer(raw)
            tok_lists.append(toks)
            dls[i] = len(toks)
        total_toks = int(dls.sum())
        flat = np.fromiter(
            chain.from_iterable(tok_lists), dtype=object, count=total_toks
        )
        # C-level string hash; sort=True numbers the terms in
        # lexicographic order, the canonical run order
        codes, uniq = pd.factorize(flat, sort=True)
        # factorize maps None/NaN to code -1, which would
        # silently attribute that posting to the LAST unique
        # term below; textproc tokenizers never yield None
        # today — keep that a loud invariant, not an assumption
        if codes.size and codes.min() < 0:
            raise ValueError(
                "tokenizer yielded a null token; factorize "
                "aggregation requires non-null tokens"
            )
        tok_doc = np.repeat(ids, dls)
        tok_dl = np.repeat(dls, dls)
        doc_start = np.repeat(np.cumsum(dls) - dls, dls)
        tok_pos = np.arange(total_toks, dtype=np.int64) - doc_start + 1
        # stable sort by term code: tokens were emitted in
        # (doc asc, position asc) order, so within each code
        # run docs stay ascending and positions ascending
        # within each (term, doc) posting — exactly the run
        # shape _encode_sorted_runs requires
        order = np.argsort(codes, kind="stable")
        s_codes = codes[order]
        s_docs = tok_doc[order]
        s_pos = tok_pos[order]
        new_post = np.ones(total_toks, dtype=bool)
        new_post[1:] = (s_codes[1:] != s_codes[:-1]) | (s_docs[1:] != s_docs[:-1])
        p_start = np.flatnonzero(new_post)
        p_tfs = np.diff(np.r_[p_start, total_toks])
        uniq_arr = np.asarray(uniq, dtype=object)
        uniq_buckets = np.fromiter(
            (_bucket_of(t, n_buckets) for t in uniq_arr),
            dtype=np.int64, count=uniq_arr.size,
        )
        start_codes = s_codes[p_start]
        # the #doclens# run (every doc, tf 0, bucket 0) leads the
        # term runs ('#' sorts before every token); its postings
        # carry no positions
        n = ids.size
        tfs = np.r_[np.zeros(n, dtype=np.int64), p_tfs]
        return _encode_sorted_runs(
            np.r_[np.full(n, DOCLEN_TERM, dtype=object), uniq_arr[start_codes]],
            np.r_[np.zeros(n, dtype=np.int64), uniq_buckets[start_codes]],
            np.full(tfs.size, chunk, dtype=np.int64),
            np.r_[ids, s_docs[p_start]],
            tfs,
            np.r_[dls, tok_dl[order][p_start]],
            (s_pos, tfs),
        )

    def fragment_gen(batches):
        for pdf in batches:
            if len(pdf):
                yield encode(pdf, int(pdf["doc_id"].min()))

    def chunk_gen(batches):
        held, cur = [], None
        for pdf in batches:
            if not len(pdf):
                continue
            ch = pdf["doc_id"].to_numpy(dtype=np.int64) >> chunk_bits
            cuts = np.flatnonzero(ch[1:] != ch[:-1]) + 1
            for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(pdf)]):
                if held and ch[lo] != cur:
                    yield encode(pd.concat(held), cur)
                    held = []
                cur = int(ch[lo])
                held.append(pdf.iloc[lo:hi])
        if held:
            yield encode(pd.concat(held), cur)

    return fragment_gen if chunk_bits is None else chunk_gen


def build_index_fast(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    stem: bool = False,
    from_html: bool = False,
) -> dict:
    """Single-pass, ZERO-shuffle index build in the fragment layout.

    Shape: scan → mapInPandas emits *finished compressed block rows*
    (the #doclens# runs included) → one parquet write of generation 0,
    partitioned by bucket.  Neither postings nor raw documents are ever shuffled: each
    Arrow batch is sorted by doc_id in-python, which preserves every
    invariant the query engine needs (disjoint per-chunk doc sets,
    within-chunk blocks as sorted runs).  Term skew is structurally
    impossible at build time: work is partitioned by document, and a
    stopword's postings are just more block rows spread across all
    batches — the classic MapReduce/Lucene per-segment indexing shape.

    ``build_index_resumable`` (and ``build_index`` when a chunk spans
    several batches) run this same encode and then re-chunk it into the
    canonical term-clustered (bucket, chunk) layout; ``build_index``'s
    single pass runs it per chunk.  All of them serve the identical
    query engine (equality tested).

    Zero shuffle does not make it the cheapest build: on 4 vCPUs it
    measured 1.34× (4,000 HTML pages) and 1.46× (20k text docs) the
    process CPU of ``build_index``'s single pass.
    """
    t0 = time.time()
    paths = IndexPaths(out_dir)

    src = ensure_parallelism(
        docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col))
    )
    frags = src.mapInPandas(
        _make_fragment_gen(text_col, from_html, stem, n_buckets), SEGMENT_SCHEMA
    )
    seg_rows = _write_gen0(frags, paths)
    return _finalize(spark, paths, t0, None, seg_rows, n_buckets=n_buckets, stem=stem)


# ---- segment compaction / index merge -----------------------------------

def _gather_positions(
    flat: np.ndarray, counts: np.ndarray, sel: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """The flat position runs (``counts`` per posting) of the postings
    ``sel`` picks (a mask or an index order), in that order, and their
    counts."""
    sc = counts[sel]
    if not flat.size:
        return flat, sc
    out_start = np.cumsum(sc) - sc
    src_off = (np.cumsum(counts) - counts)[sel]
    return flat[np.repeat(src_off - out_start, sc) + np.arange(int(sc.sum()))], sc


def _compact_segments(
    seg: DataFrame, chunk_bits: int, n_sub: int = 1
) -> DataFrame:
    """Block-level re-chunk: shuffle the already-COMPRESSED block
    rows keyed by the target (bucket, chunk) and decode + re-encode
    inside each group.

    The shuffle only decides where bytes GO, so it ships the compressed
    blocks and the decode→trim→sort→re-encode runs vectorized inside
    the group.  Decoding to posting rows before the shuffle (a Python
    ``list[int]`` positions cell per posting) would move the
    fully-decoded corpus (~15× the stored bytes) and pay a per-posting
    list round-trip at the Arrow boundary both ways.  A source block
    whose doc range spans several target chunks is replicated to each
    (``explode`` over its chunk span — fragment blocks span 1-2
    chunks) and trimmed after decode.
    Groups are sorted by (term, doc) before the encode, so the emitted
    block rows depend only on the posting set, not on how the input was
    fragmented (pytest-gated: compact-vs-rebuild and builder parity).

    ``n_sub`` (see :func:`group_subsplits`): when the
    expected per-group posting mass exceeds ``MAX_GROUP_POSTINGS``, the
    group is further salted on a term-hash sub-key (murmur3 ``F.hash``
    — independent of the bucket hash, so terms inside one bucket spread
    across sub-keys).  A term's run for a chunk still lands entirely in
    one group, so the emitted rows are identical for any ``n_sub``; only
    the shuffle-group size changes.

    The #doclens# postings are re-chunked like any other term.  A block
    with an empty ``tfs`` stream (the reserved rows of stores written
    before doc lengths were postings) decodes as tf 0."""
    src = seg.select(
        "bucket", "term", "n", "docs", "tfs", "dls", "pos",
        F.explode(
            F.sequence(
                F.floor(F.col("first_doc") / F.lit(1 << chunk_bits)),
                F.floor(F.col("last_doc") / F.lit(1 << chunk_bits)),
            )
        ).alias("chunk"),
    )

    def recode(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame([], columns=SEGMENT_COLS)
        bucket = int(pdf["bucket"].iloc[0])
        chunk = int(pdf["chunk"].iloc[0])
        lo = chunk << chunk_bits
        hi = lo + (1 << chunk_bits)
        n_arr = pdf["n"].to_numpy(dtype=np.int64)
        docs = codec.delta_decode_concat(pdf["docs"].tolist(), n_arr).astype(np.int64)
        tf_bufs = pdf["tfs"].tolist()
        has_tf = np.fromiter((len(t) > 0 for t in tf_bufs), dtype=bool, count=len(tf_bufs))
        tfs = np.zeros(docs.size, dtype=np.int64)
        tfs[np.repeat(has_tf, n_arr)] = codec.vb_decode_concat(tf_bufs)
        dls = codec.vb_decode_concat(pdf["dls"].tolist()).astype(np.int64)
        terms = np.repeat(pdf["term"].to_numpy(), n_arr)
        # flat positions with per-posting delta resets (the wire format
        # stores gaps per posting; counts == tf for blocks that carry
        # positions, 0 for those that don't)
        pos_bufs = pdf["pos"].tolist()
        has_pos = np.fromiter((len(p) > 0 for p in pos_bufs), dtype=bool, count=len(pos_bufs))
        counts = np.where(np.repeat(has_pos, n_arr), tfs, 0)
        gaps = codec.vb_decode(b"".join(pos_bufs))
        if gaps.size != counts.sum():
            raise ValueError(
                f"compact recode: position count {gaps.size} != expected {counts.sum()}"
            )
        if gaps.size:
            p_off = np.cumsum(counts) - counts
            nz = counts > 0
            c = np.cumsum(gaps, dtype=np.uint64)
            st = p_off[nz]
            carry = c[st] - gaps[st]
            flat_pos = (c - np.repeat(carry, counts[nz])).astype(np.int64)
        else:
            flat_pos = np.empty(0, dtype=np.int64)
        # trim to the target chunk's doc range (replicated boundary
        # blocks carry out-of-range postings)
        keep = (docs >= lo) & (docs < hi)
        if not keep.all():
            flat_pos, counts = _gather_positions(flat_pos, counts, keep)
            terms, docs, tfs, dls = terms[keep], docs[keep], tfs[keep], dls[keep]
        if docs.size == 0:
            return pd.DataFrame([], columns=SEGMENT_COLS)
        # (term lexicographic, doc asc) — the posting-level path's sort
        codes, uniq = pd.factorize(terms)
        rank = np.empty(len(uniq), dtype=np.int64)
        rank[np.argsort(uniq)] = np.arange(len(uniq))
        order = np.lexsort((docs, rank[codes]))
        n = docs.size
        return _encode_sorted_runs(
            terms[order],
            np.full(n, bucket, dtype=np.int64),
            np.full(n, chunk, dtype=np.int64),
            docs[order],
            tfs[order],
            dls[order],
            _gather_positions(flat_pos, counts, order),
        )

    if n_sub > 1:
        grouped = src.withColumn(
            "_sub", F.pmod(F.hash("term"), F.lit(n_sub))
        ).groupBy("bucket", "chunk", "_sub")
    else:
        grouped = src.groupBy("bucket", "chunk")
    return grouped.applyInPandas(recode, SEGMENT_SCHEMA)


def compact_index(
    spark: SparkSession,
    src_roots: list[str],
    out_dir: str,
    chunk_bits: int | None = None,
) -> dict:
    """Merge one or more segment stores into ONE canonical compacted
    index (generation 0) — the north-star's "externally merged" step:
    :func:`build_index`'s tail over the union of the sources' segments,
    so the compressed blocks, #doclens# postings included, are
    re-chunked on ``chunk = doc_id >> chunk_bits`` through one salted
    (bucket, chunk) shuffle, whatever the input layout (streamed
    generations, fragments, compacted stores, or a mix).

    Use cases: collapsing an incremental-ingest store's micro-batch
    generations (reads slow down as their count grows), and merging
    indexes built over disjoint corpus partitions.  Sources MUST cover
    disjoint doc-id sets; overlapping ids would duplicate postings.
    Each source needs a stats.json (``refresh_metadata`` writes one for
    a streamed store) whose analyzer and bucket count match the
    others', and #doclens# rows if it holds postings; otherwise
    ``ValueError``.

    Returns the new stats dict; the output serves the unchanged query
    engine (equality with a from-scratch single build is pytest-gated,
    tests/test_index.py)."""
    t0 = time.time()
    stems: set[bool] = set()
    bucket_counts: set[int] = set()
    seg = None
    for r in src_roots:
        paths = IndexPaths(r)
        if not fsio.exists(spark, paths.stats):
            raise ValueError(
                f"compact_index: {r} has no stats.json; run refresh_metadata on it first"
            )
        st = json.loads(fsio.read_text(spark, paths.stats))
        stems.add(bool(st.get("stem", False)))
        bucket_counts.add(int(st.get("n_buckets", DEFAULT_BUCKETS)))
        # projected per root before the union: a store written without
        # generations (or with the older stream_batch level) carries
        # other partition columns
        part = _read_segments(spark, paths.segments).select(*SEGMENT_COLS)
        if _reserved_rows(part).isEmpty() and not part.isEmpty():
            raise ValueError(
                f"compact_index: {r} holds postings but no {DOCLEN_TERM} rows (compacted "
                "before doc lengths were postings): rebuild it, or re-ingest and refresh_metadata"
            )
        seg = part if seg is None else seg.unionByName(part)
    # merging indexes with different analyzers or bucket layouts would
    # silently mix incompatible vocabularies / break query-side bucket
    # pruning — refuse loudly
    if len(stems) > 1:
        raise ValueError(
            f"compact_index: sources mix stemmed and unstemmed analyzers: {src_roots}"
        )
    if len(bucket_counts) > 1:
        raise ValueError(
            f"compact_index: sources have different n_buckets {sorted(bucket_counts)}: "
            f"{src_roots}"
        )
    return _finish_build(
        spark, IndexPaths(out_dir), seg, chunk_bits, bucket_counts.pop(), stems.pop(),
        t0, persist=False, sources=len(src_roots),
    )
