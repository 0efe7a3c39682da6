"""Deduplication operators for large-scale corpus pipelines.

Beyond-reference capability (per the build brief): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — the standard
training-data-pipeline family (algorithms per Broder 1997 "On the
resemblance and containment of documents" and Charikar 2002 "Similarity
estimation techniques from rounding algorithms"; public literature).

Scale notes: every variant is a groupBy on a *bounded-width* key
(digest / band hash / simhash prefix), so the shuffle is uniform even
at 10^12 docs; candidate verification joins happen only within buckets
(classic LSH band trick), never all-pairs.
"""

from __future__ import annotations

import threading
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .. import worker_guard
from ..functions.frames import local_frame, spread_for_udf

# ---- exact -------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, doc_ids
    sorted).  Hash-groupBy: one shuffle keyed on a 128-bit digest."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("doc_id"))
        .groupBy("text_hash")
        .agg(F.count("*").cast("long").alias("n_docs"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
        .orderBy("text_hash")
    )


def prefix_dup_groups(
    docs: DataFrame, prefix_len: int = 64, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of texts sharing the first ``prefix_len`` characters —
    the cheap blocking stage of boilerplate/template detection (and a
    non-vacuous exercise of the hash-groupBy dedup path on corpora with
    no byte-identical full texts).  Same shuffle shape as
    :func:`exact_dup_groups`: one shuffle keyed on a 128-bit digest."""
    return (
        docs.select(
            F.md5(F.substring(F.col(text_col), 1, prefix_len)).alias("prefix_hash"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("prefix_hash")
        .agg(F.count("*").cast("long").alias("n_docs"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
        .orderBy("prefix_hash")
    )


def star_capped_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    payload_col: str | None = None,
    cap: int = 256,
    metrics: dict | None = None,
) -> DataFrame:
    """Within-bucket candidate pairs with the HOT-BUCKET STAR BOUND —
    the one blocking self-join shape shared by minhash banding,
    simhash bit-blocks, and hyperplane-LSH buckets (single
    implementation: the cap/rep/star logic must not diverge between
    them).

    Buckets of ≤ ``cap`` rows emit all ordered pairs (id_a < id_b);
    bigger buckets emit *star* pairs to the bucket's min-id
    representative (m-1 instead of m(m-1)/2 — identical-content
    floods stay O(m) while staying connected through the rep).  The
    bucket-size window and the small-bucket self-join share ONE hash
    shuffle on the bucket key.  Returns (id_a, id_b) plus
    (payload_a, payload_b) when ``payload_col`` is given (the rep's
    payload rides along via the min-struct, no extra join).

    SILENT-CAP NOTE: in over-cap buckets, non-rep
    pairs are reachable only through the representative, so pair-level
    recall degrades on skewed corpora for callers that consume PAIRS
    rather than connected components (the grouping pipelines are
    unaffected — star edges keep every bucket connected).  Pass
    ``metrics={}`` to have ``metrics["overcap_buckets"]`` filled with
    the number of buckets where capping actually engaged; a nonzero
    value means the pair output is star-bounded, not complete.  COST
    NOTE: requesting metrics eagerly
    localCheckpoints ``df`` (one materialization of the upstream
    signature UDFs) so the metric count AND the pair plan both read
    the checkpoint instead of each re-running the lineage; the
    checkpoint is GC-cleaned with the returned plan."""
    from pyspark.sql import Window

    if metrics is not None:
        df = df.localCheckpoint(eager=True)
        metrics["overcap_buckets"] = (
            df.groupBy(*bucket_cols).count().filter(F.col("count") > cap).count()
        )
    w = Window.partitionBy(*bucket_cols)
    rep_fields = [id_col] + ([payload_col] if payload_col else [])
    d = df.withColumn("_n", F.count("*").over(w)).withColumn(
        "_rep", F.min(F.struct(*rep_fields)).over(w)
    )
    small = d.filter(F.col("_n") <= cap).drop("_n", "_rep")
    a, b = small.alias("a"), small.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    out_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    ]
    big_cols = [
        F.col(f"_rep.{id_col}").alias("id_a"),
        F.col(id_col).alias("id_b"),
    ]
    if payload_col:
        out_cols += [
            F.col(f"a.{payload_col}").alias("payload_a"),
            F.col(f"b.{payload_col}").alias("payload_b"),
        ]
        big_cols += [
            F.col(f"_rep.{payload_col}").alias("payload_a"),
            F.col(payload_col).alias("payload_b"),
        ]
    small_pairs = a.join(b, cond).select(*out_cols)
    big_pairs = d.filter(
        (F.col("_n") > cap) & (F.col(id_col) != F.col(f"_rep.{id_col}"))
    ).select(*big_cols)
    return small_pairs.unionByName(big_pairs)


# ---- shingles + minhash --------------------------------------------------

N_HASHES = 64
N_BANDS = 16  # 16 bands x 4 rows
_MERSENNE = (1 << 61) - 1


# fixed universal-hash family (a*x + b) mod p — module-level constants,
# deterministic across sessions/executors.  a, b < 2^32 and x is
# truncated to 31 bits so a*x + b stays below 2^64: exact uint64
# arithmetic, fully vectorized (no object-dtype bignum path).
_RNG = np.random.RandomState(42)
_HASH_A = _RNG.randint(1, 1 << 32, size=N_HASHES, dtype=np.int64).astype(np.uint64)
_HASH_B = _RNG.randint(0, 1 << 32, size=N_HASHES, dtype=np.int64).astype(np.uint64)
_TOKHASH_B = np.uint64(1000003)


def _token_hashes(tokens: list[str]) -> np.ndarray:
    """FNV-1a per token (seed-independent), uint64 — vectorized: each
    *unique* token is hashed once via a padded byte matrix, one fused
    numpy op per byte position instead of a Python loop per character
    (bit-identical to the scalar FNV-1a reference, tested)."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    uniq, inv = np.unique(np.asarray(tokens, dtype=object), return_inverse=True)
    enc = [t.encode() for t in uniq]
    lens = np.fromiter((len(b) for b in enc), count=len(enc), dtype=np.int64)
    maxlen = int(lens.max()) if len(lens) else 0
    h = np.full(len(enc), 0xCBF29CE484222325, dtype=np.uint64)
    if maxlen:
        flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
        offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
        pos = np.arange(maxlen)
        idx = offs[:, None] + pos[None, :]
        valid = pos[None, :] < lens[:, None]
        mat = np.zeros((len(enc), maxlen), dtype=np.uint64)
        mat[valid] = flat[idx[valid]]
        prime = np.uint64(0x100000001B3)
        with np.errstate(over="ignore"):
            for j in range(maxlen):
                h = np.where(valid[:, j], (h ^ mat[:, j]) * prime, h)
    return h[inv]


def _shingle_hashes(tokens: list[str], k: int = 5) -> np.ndarray:
    """Rolling polynomial hash of k-token windows (wraparound uint64) —
    one hash per shingle, vectorized via shifted-array sum."""
    th = _token_hashes(tokens)
    if th.size == 0:
        return th
    if th.size < k:
        k = th.size
    n = th.size - k + 1
    acc = np.zeros(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            acc = acc * _TOKHASH_B + th[j : j + n]
    return np.unique(acc)


def minhash_signature(text: str, n_hashes: int = N_HASHES, k: int = 5) -> list[int]:
    """Deterministic MinHash signature (k-token shingles), vectorized:
    sig[i] = min over shingles of (a_i * x + b_i) mod p."""
    x = _shingle_hashes((text or "").split(), k)
    if x.size == 0:
        return [0] * n_hashes
    x31 = x >> np.uint64(33)  # 31-bit values keep a*x+b below 2^64
    vals = (_HASH_A[:, None] * x31[None, :] + _HASH_B[:, None]) % np.uint64(_MERSENNE)
    return [int(v) for v in vals.min(axis=1)]


@pandas_udf(ArrayType(LongType()))
def minhash_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: [v - (1 << 63) for v in minhash_signature(t or "")])
    # shifted into signed-long range for Spark LongType


def minhash_candidates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_bands: int = N_BANDS, max_bucket_docs: int = 256,
    metrics: dict | None = None, sort: bool = True,
) -> DataFrame:
    """LSH banding: docs sharing any band of their MinHash signature →
    candidate pairs (doc_a < doc_b, n_shared_bands).  The groupBy key is
    (band_id, band_hash): bounded buckets, uniform shuffle.

    Hot-bucket bound: a bucket of m docs would emit m(m-1)/2 pairs
    through the self-join — quadratic in the (adversarial) case of many
    identical documents.  Buckets holding more than ``max_bucket_docs``
    DOCUMENTS (so up to max_bucket_docs·(max_bucket_docs-1)/2 pairs)
    instead emit *star* pairs to the bucket's min-id representative
    (m-1 pairs), which preserves the connected components downstream
    dedup actually consumes (a standard LSH-at-scale mitigation; cf.
    the union-find step of Broder-style dedup pipelines).

    Return contract: for pairs routed only through
    ≤-cap buckets, ``n_shared_bands`` is the exact band-collision
    count; for pairs touching an over-cap bucket it is a LOWER BOUND
    (star pairs count collisions with the representative only, and
    non-rep/non-rep pairs of such buckets are represented transitively
    via the rep, not emitted).  Consumers using ``n_shared_bands`` as a
    similarity *weight* rather than connectivity evidence should
    re-verify with an exact measure (e.g. :func:`ngram_jaccard_pairs`).
    Pass ``metrics={}`` to learn whether capping engaged
    (``metrics["overcap_buckets"]`` — see :func:`star_capped_pairs`)."""
    rows_per_band = N_HASHES // n_bands
    sigs = spread_for_udf(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).select("doc_id", minhash_udf(F.col("text")).alias("sig"))
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band).cast("string"), b).alias("bh"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))
    pairs = (
        star_capped_pairs(bands, ["band", "bh"], "doc_id", cap=max_bucket_docs,
                          metrics=metrics)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )
    # sort=False for pipeline consumers (see ngram_jaccard_pairs)
    return pairs.orderBy("doc_a", "doc_b") if sort else pairs


# ---- simhash -------------------------------------------------------------

def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens (Charikar 2002),
    vectorized: per-bit ±1 accumulation across token hashes."""
    toks = (text or "").split()
    if not toks:
        return 0
    hs = _token_hashes(toks)
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    out = 0
    for i in np.flatnonzero(acc > 0):
        out |= 1 << int(i)
    return out


@pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: simhash64(t or "") - (1 << 63))


def simhash_buckets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    prefix_bits: int = 16) -> DataFrame:
    """Near-dup buckets by SimHash prefix (cheap blocking stage; the
    within-bucket hamming check runs on bounded groups)."""
    sh = spread_for_udf(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).select("doc_id", simhash_udf(F.col("text")).alias("simhash"))
    return (
        sh.withColumn("bucket", F.shiftrightunsigned("simhash", 64 - prefix_bits))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
        .orderBy("bucket")
    )


def simhash_near_dups(
    docs: DataFrame, max_hamming: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    max_block_docs: int = 256,
    metrics: dict | None = None,
) -> DataFrame:
    """SimHash near-dup pairs (hamming(a, b) ≤ max_hamming) via
    Manku-Jain-Sarma bit-block blocking (WWW'07 "Detecting
    near-duplicates for web crawling", public literature): split the
    64-bit fingerprint into ``max_hamming + 1`` blocks — by pigeonhole,
    any pair within hamming distance k agrees exactly on at least one
    block — then verify candidates with exact ``bit_count(a XOR b)``.
    All blocking/verify math is JVM-side (whole-stage codegen); the
    only Python is the vectorized simhash UDF.  GroupBy keys are
    (block_idx, block_bits): bounded width, uniform shuffle.

    Hot-block bound: identical documents have
    IDENTICAL fingerprints, so a corpus with m copies of one page —
    the exact flood dedup exists for — puts all m in every block
    bucket and the self-join goes m²/2.  Blocks holding more than
    ``max_block_docs`` fingerprints instead emit *star* candidates to
    the block's min-id representative (m-1 pairs), mirroring
    :func:`minhash_candidates`.  Completeness: exact for every pair
    whose agreeing block is ≤-cap; over-cap blocks keep equal
    fingerprints fully connected through hamming-0 star edges (the
    flood case), while unequal-fingerprint pairs inside an over-cap
    block are connected transitively via the rep when both verify
    against it — the connected components downstream dedup consumes
    survive; individual far-from-rep edges may not.  Pass
    ``metrics={}`` to learn whether capping engaged
    (``metrics["overcap_buckets"]`` — see :func:`star_capped_pairs`)."""
    k = max_hamming
    n_blocks = k + 1
    width = 64 // n_blocks
    sh = spread_for_udf(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).select("doc_id", simhash_udf(F.col("text")).alias("sh"))
    block_cols = []
    for i in range(n_blocks):
        start = i * width
        w = width if i < n_blocks - 1 else 64 - start
        bits = F.shiftrightunsigned("sh", start).bitwiseAND(F.lit((1 << w) - 1))
        block_cols.append(F.struct(F.lit(i).alias("blk"), bits.alias("bits")))
    bands = sh.select(
        "doc_id", "sh", F.explode(F.array(*block_cols)).alias("e")
    ).select("doc_id", "sh", F.col("e.blk").alias("blk"), F.col("e.bits").alias("bits"))
    cand = star_capped_pairs(
        bands, ["blk", "bits"], "doc_id", payload_col="sh",
        cap=max_block_docs, metrics=metrics,
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        F.col("payload_a").alias("sha"), F.col("payload_b").alias("shb"),
    )
    # hamming BEFORE the distinct: the verify is one codegen'd
    # bit_count per row while the distinct is a full exchange — on a
    # clustered corpus the blocking emits ~4.5M duplicated candidate
    # rows of which only ~1 % pass, so filtering first shrinks the
    # dedup shuffle ~100×.  Identical result set: hamming is a pure
    # function of the pair, so dedup-then-filter == filter-then-dedup.
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("int"))
        .filter(F.col("hamming") <= k)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


# ---- n-gram jaccard --------------------------------------------------------

# at most one persisted exploded-gram table per session (see
# ngram_jaccard_pairs); bounded leak instead of one per invocation.
# The lock guards the slot swap against concurrent callers: without
# it, two multithreaded-driver calls could corrupt the list or
# double-unpersist.  A call CAN still unpersist the previous call's
# in-flight cache — results stay correct (persist keeps lineage; the
# old plan recomputes), only the caching degrades; callers needing
# isolation pass ``stage_dir`` instead.  A driver-placed call
# releases its own table before returning.
_GRAM_CACHE_SLOT: list = []
_GRAM_CACHE_LOCK = threading.Lock()

# gram tables of at most this many rows are collected so the driver
# computes the join statistic (and, when the join is small, the join
# itself); the same value as connected_components' driver_threshold
_GRAM_DRIVER_ROWS = 1_000_000
# the direct-join budget is this many in-flight rows per core
# (× defaultParallelism); ``direct_rows_budget=`` overrides the product
NGRAM_DIRECT_ROWS_PER_CORE = 8_000_000
# pairs the driver count-join makes at a time (~25 MB of numpy arrays;
# at 2,000 Zipf docs, 7.2M candidate pairs, the call peaks ~170 MB over
# its input, mostly the length-filtered pair keys)
_PAIR_CHUNK = 1 << 18


def _gram_explode(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, gram, n_grams): each document's distinct word-n-grams,
    exploded, with the per-doc distinct-gram count riding along so no
    downstream per-doc-count join/window is needed.

    Synthesis runs in ONE vectorized Arrow pass (mapInPandas) instead
    of the pure-expression ``array_distinct(transform(sequence, i ->
    concat_ws(slice(split(text)))))`` chain: projection collapse
    substitutes the ``split`` into the lambda, so the JVM re-split the
    text once per gram — O(|doc|²) per document.  Measured at 50k
    ~54-token docs: 25.5 s (expression) vs 2.9 s (this pass) — guide
    §4.2 (hand whole batches to native code when the expression path
    degenerates).  Gram strings are byte-identical to the expression
    form (same split-on-single-space, same short-doc clamp)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType),
            StructField("gram", StringType()),
            StructField("n_grams", IntegerType()),
        ]
    )
    src = spread_for_udf(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )

    def gen(batches):
        worker_guard.install()
        for b in batches:
            ids: list = []
            grams: list = []
            ns: list = []
            for did, txt in zip(b["doc_id"], b["text"]):
                if txt is None:
                    continue  # split(NULL) → no exploded rows upstream
                w = txt.split(" ")
                if len(w) <= n:
                    gs = [" ".join(w)]
                else:
                    gs = list({" ".join(w[i : i + n]) for i in range(len(w) - n + 1)})
                ids.extend([did] * len(gs))
                grams.extend(gs)
                ns.extend([len(gs)] * len(gs))
            yield pd.DataFrame({"doc_id": ids, "gram": grams, "n_grams": ns})

    return src.mapInPandas(gen, schema)


def _driver_count_join(tbl, gid: np.ndarray, lo: float) -> list[tuple]:
    """The direct route's count-join on a collected gram table ``tbl``
    (Arrow; ``gid`` = each row's dense gram id): every pair of rows
    sharing a gram, the same length filter, |A∩B| counted per
    (doc_a, doc_b, na, nb).  Returns the (doc_a, doc_b, na, nb, n_inter)
    rows with J ≥ ``lo`` sorted by (doc_a, doc_b); the caller's
    round-and-threshold expression decides the rest.  Rows with a NULL
    doc_id never pair (``doc_a < doc_b`` is NULL in Spark)."""
    ids = tbl["doc_id"]
    if ids.null_count:
        valid = ids.is_valid()
        tbl, gid = tbl.filter(valid), gid[valid.to_numpy()]
    if tbl.num_rows == 0:
        return []
    doc = tbl["doc_id"].to_numpy()
    ng = tbl["n_grams"].to_numpy().astype(np.int64)
    # a pair key is (doc_id, n_grams) as in the Spark groupBy; entities
    # number those keys in (doc_id, n_grams) order
    docs_u, doc_ix = np.unique(doc, return_inverse=True)
    width = int(ng.max()) + 1
    ent_u, ent = np.unique(doc_ix * width + ng, return_inverse=True)
    ent_doc, ent_n, n_ent = ent_u // width, ent_u % width, len(ent_u)
    # rows grouped by gram, entities ascending inside each group; each
    # row pairs with every later row of its group.  Pairs are made
    # _PAIR_CHUNK at a time, which bounds the peak memory
    order = np.lexsort((ent, gid))
    g, e = gid[order], ent[order]
    size = np.bincount(g)
    later = size[g] - (np.arange(len(g)) - (np.cumsum(size) - size)[g]) - 1
    ends = np.cumsum(later)
    cuts = np.searchsorted(ends, np.arange(_PAIR_CHUNK, ends[-1], _PAIR_CHUNK))
    cuts = np.unique(np.r_[0, cuts, len(g)])
    keys = []
    for lo_row, hi_row in zip(cuts[:-1], cuts[1:]):
        cnt = later[lo_row:hi_row]
        left = np.repeat(np.arange(lo_row, hi_row), cnt)
        right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        ea, eb = e[left], e[right]
        na, nb = ent_n[ea], ent_n[eb]
        keep = (ent_doc[ea] < ent_doc[eb]) & (na * lo <= nb) & (nb * lo <= na)
        keys.append(ea[keep] * n_ent + eb[keep])
    key, n_inter = np.unique(np.concatenate(keys), return_counts=True)
    ea, eb = key // n_ent, key % n_ent
    # J ≥ lo keeps every pair round(J, 6) ≥ t can keep (see
    # "Boundary completeness" in ngram_jaccard_pairs)
    keep = n_inter >= lo * (ent_n[ea] + ent_n[eb] - n_inter)
    ea, eb, n_inter = ea[keep], eb[keep], n_inter[keep]
    if n_ent != len(docs_u):  # a doc_id with two n_grams values
        o = np.lexsort((ent_doc[eb], ent_doc[ea]))
        ea, eb, n_inter = ea[o], eb[o], n_inter[o]
    return list(zip(
        docs_u[ent_doc[ea]].tolist(), docs_u[ent_doc[eb]].tolist(),
        ent_n[ea].tolist(), ent_n[eb].tolist(), n_inter.tolist(),
    ))


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, threshold: float = 0.8, stage_dir: str | None = None,
    sort: bool = True, direct_rows_budget: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (doc_a < doc_b, J ≥ threshold).

    One count-join in three placements, identical results:

    * **Direct count-join** (chosen when the exact gram self-join size
      Σ_g df_g·(df_g−1)/2 fits ``direct_rows_budget``): one self-join
      of the exploded gram table on ``gram`` with the *length filter*
      inline (J ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t, Arasu/Bayardo — complete,
      only ever removes pairs that cannot qualify), then one pair
      aggregation counts |A∩B|.  Two shuffles total.  The earlier
      shape (prefix candidates + a (pair × |A|-gram) verify expansion)
      spent 489 s at 50k docs shuffling ~2.7B verify rows because the
      corpus's gram universe is small (27.9k grams, median df 96) —
      prefix filtering prunes nothing there while the verify pays
      candidates × doc-length; the direct join computes the same
      counts in 12 s from Σdf²/2 ≈ 126M in-flight rows.

    * **Driver placement of the direct route**: a gram table of at most
      ``_GRAM_DRIVER_ROWS`` (1,000,000) rows is collected after the job
      that persists it, and the driver computes Σdf·(df−1)/2 in numpy.
      When that fits one core's share of the budget (``budget /
      defaultParallelism``, i.e. 8M rows by default) and ``doc_id`` is
      an integer column, the same count-join with the same length
      filter runs vectorized in numpy; its (doc_a, doc_b, na, nb,
      n_inter) rows with J ≥ t − 1e-6 enter Spark as a
      ``LocalRelation`` and pass through the one Jaccard
      round-and-threshold expression below, so the
      result is a ``LocalRelation`` already in (doc_a, doc_b) order that
      ``collect()`` serves without a job.  The gram table is unpersisted
      before returning.  At 400 Zipf docs (4 cores) this replaced ~11
      single-task jobs whose planning gaps dominated a 2.3 s call.

    * **Prefix-filter route** (hot-gram-safe fallback when Σdf² blows
      the budget, e.g. Zipf-distributed web grams where one stopword
      gram would make the direct join quadratic): under a global
      (df asc, gram asc) order, two sets with J ≥ t must share one of
      their first ``⌊(1-t)·|g|⌋ + 1`` grams (Chaudhuri ICDE'06 /
      Bayardo WWW'07 — complete), so the self-join touches only each
      doc's rarest grams; length-filtered candidates are verified with
      the count-based join (no gram arrays cross a shuffle).

    The budget defaults to ``NGRAM_DIRECT_ROWS_PER_CORE`` (8M) rows ×
    defaultParallelism.  The statistic is data, not a
    scale switch: computed in the driver when the table was collected,
    else by one Spark aggregate of the gram-frequency table.

    Boundary completeness: the output filter is ``round(J, 6) ≥ t``,
    so a pair with true J marginally below t can round in; the length
    filter and the prefix length therefore use ``t − 1e-6`` (round(J,6)
    ≥ t ⟹ J ≥ t−5e-7 ⟹ min/max ≥ t−5e-7 > t−1e-6 — no qualifying pair
    is dropped, and every placement returns the same pairs).

    100-TB contract: pass ``stage_dir`` to stage the exploded grams to
    parquet once (resumable, bounded by disk) instead of the cluster
    cache; every plan branch then scans the staged files with
    pruning/pushdown."""
    return _ngram_pairs(docs, text_col, id_col, n, threshold, stage_dir, sort,
                        direct_rows_budget)[0]


def _ngram_pairs(
    docs: DataFrame, text_col: str, id_col: str, n: int, threshold: float,
    stage_dir: str | None, sort: bool, direct_rows_budget: int | None,
) -> tuple[DataFrame, str]:
    """:func:`ngram_jaccard_pairs` body → (pairs, placement), placement
    one of ``"driver"``, ``"direct"`` (Spark) or ``"prefix"``."""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegralType
    from pyspark.storagelevel import StorageLevel

    spark = docs.sparkSession
    ex = _gram_explode(docs, text_col, id_col, n)
    # the exploded gram table feeds several plan branches (routing
    # stats, both sides of the intersection join, the prefix ranking on
    # the fallback route); compute it once — staged to parquet when
    # stage_dir is given, else persisted.  persist, not
    # localCheckpoint: lazy and lineage-backed.  The CacheManager would
    # pin one copy per call for the session lifetime, so a one-slot
    # registry unpersists the PREVIOUS call's cache first — safe
    # because persist keeps lineage
    if stage_dir is not None:
        ex.write.mode("overwrite").parquet(stage_dir)
        ex = spark.read.parquet(stage_dir)
    else:
        with _GRAM_CACHE_LOCK:
            while _GRAM_CACHE_SLOT:
                try:
                    _GRAM_CACHE_SLOT.pop().unpersist()
                except Exception:
                    pass
            ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
            _GRAM_CACHE_SLOT.append(ex)
    par = spark.sparkContext.defaultParallelism
    if direct_rows_budget is None:
        direct_rows_budget = NGRAM_DIRECT_ROWS_PER_CORE * par
    lo = threshold - 1e-6  # see "Boundary completeness" above
    id_type = ex.schema["doc_id"].dataType
    est_direct_rows = None
    placement = None
    # the row count off the JVM RDD: one job that materializes the
    # table, where DataFrame.count() under AQE runs three (cache stage,
    # shuffle map stage, result)
    if ex._jdf.queryExecution().toRdd().count() <= _GRAM_DRIVER_ROWS:
        tbl = ex.toArrow()
        gid = tbl["gram"].combine_chunks().dictionary_encode().indices.to_numpy()
        size = np.bincount(gid)
        est_direct_rows = int((size * (size - 1) // 2).sum())
        if est_direct_rows * par <= direct_rows_budget and isinstance(id_type, IntegralType):
            t = id_type.simpleString()
            inter = local_frame(
                spark, _driver_count_join(tbl, gid, lo),
                f"doc_a {t}, doc_b {t}, na int, nb int, n_inter long",
            )
            if stage_dir is None:  # nothing reads the cached table again
                with _GRAM_CACHE_LOCK:
                    _GRAM_CACHE_SLOT[:] = [d for d in _GRAM_CACHE_SLOT if d is not ex]
                ex.unpersist()
            placement = "driver"
    if placement is None:
        dfreq = ex.groupBy("gram").agg(F.count("*").alias("df"))
        if est_direct_rows is None:
            est_direct_rows = (
                dfreq.agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("s"))
                .collect()[0]["s"] or 0.0
            )
        placement = "direct" if est_direct_rows <= direct_rows_budget else "prefix"
    if placement == "direct":
        a = ex.select(F.col("doc_id").alias("doc_a"), "gram", F.col("n_grams").alias("na"))
        b = ex.select(F.col("doc_id").alias("doc_b"), "gram", F.col("n_grams").alias("nb"))
        inter = (
            a.join(b, "gram")
            .filter(
                (F.col("doc_a") < F.col("doc_b"))
                & (F.col("na") * lo <= F.col("nb"))
                & (F.col("nb") * lo <= F.col("na"))
            )
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count("*").alias("n_inter"))
        )
    elif placement == "prefix":
        w_rank = Window.partitionBy("doc_id").orderBy("df", "gram")
        prefix = (
            ex.join(dfreq, "gram")
            .withColumn("rk", F.row_number().over(w_rank))
            # prefix length from lo, not t: the direct route keeps pairs
            # with round(J, 6) ≥ t, i.e. J ≥ lo, so the prefix must be
            # complete for J ≥ lo too.  +1e-9 before floor: binary-float
            # (1-t)*n lands just below the exact integer when t*n is
            # whole (e.g. t=0.8, n=10 → 1.9999…), which would shorten the
            # prefix and break completeness; erring one longer is safe
            .filter(F.col("rk") <= F.floor((1.0 - lo) * F.col("n_grams") + 1e-9) + 1)
            .select("doc_id", "gram", "n_grams")
        )
        a, b = prefix.alias("a"), prefix.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.n_grams") * lo <= F.col("b.n_grams"))
                & (F.col("b.n_grams") * lo <= F.col("a.n_grams")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_grams").alias("na"),
                F.col("b.n_grams").alias("nb"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        ea = ex.select(F.col("doc_id").alias("doc_a"), "gram")
        eb = ex.select(F.col("doc_id").alias("doc_b"), "gram")
        inter = (
            cand.join(ea, "doc_a")
            .join(eb, ["doc_b", "gram"])
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count("*").alias("n_inter"))
        )
    jac = (
        inter.withColumn("un", F.col("na") + F.col("nb") - F.col("n_inter"))
        # un ≥ 1 always (counted pairs share a gram); the when-guard
        # keeps Spark 4's ANSI DIVIDE_BY_ZERO out of the plan regardless
        .withColumn("jaccard", F.round(F.col("n_inter") / F.when(F.col("un") != 0, F.col("un")), 6))
        .select("doc_a", "doc_b", "jaccard")
    )
    out = jac.filter(F.col("jaccard") >= threshold)
    # sort=False for pipeline consumers (connected components): the
    # global range-exchange buys nothing before a hash-keyed CC loop,
    # and its cost is the FULL pair set at corpus scale.  The driver
    # placement's rows are already in order
    if sort and placement != "driver":
        out = out.orderBy("doc_a", "doc_b")
    return out, placement


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
    max_iters: int = 25, driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, component) over the near-dup pair graph — the union-find
    step every candidate-pair generator feeds (component id = min node
    id in the component).  Hash-min label propagation (cf. Rastogi et
    al., ICDE'13 "Finding connected components in Map-Reduce in
    logarithmic rounds"; this is the plain min-propagation variant):
    each iteration joins labels to the symmetric edge list, takes the
    neighborhood min, and stops as soon as no label changed.

    Scale shape: converges in O(component diameter) rounds — and the
    upstream generators' hot-bucket star bounds make flood components
    *stars* (diameter 2), so the adversarial mass-duplication case
    converges in 2 rounds.  Per round: one join + one groupBy, both
    keyed on node ids; ``localCheckpoint`` truncates lineage like the
    PageRank loop.  Raises ``RuntimeError`` rather than returning
    partial labels if a component's diameter exceeds ``max_iters``
    (deep-chain graphs would want the large-star/small-star
    logarithmic variant; near-dup graphs aren't that).

    Size gate: edge sets of at most ``driver_threshold`` rows resolve
    DRIVER-SIDE with union-find (exact, one collect, no per-round job
    overhead — the same small-side escape hatch as TakeOrdered / the
    crawl frontier broadcast; the edge list was already bounded by the
    pair generators).  Bigger graphs take the distributed loop.  The
    edge count comes free off the eager checkpoint."""
    rows, labels = _components(pairs, a_col, b_col, max_iters, driver_threshold)
    if rows is None:
        return labels
    return local_frame(pairs.sparkSession, rows, "node long, comp long")


def _components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
    max_iters: int = 25, driver_threshold: int = 1_000_000,
) -> tuple[list[tuple[int, int]] | None, DataFrame | None]:
    """:func:`connected_components` body → ``(rows, None)`` with the
    driver union-find's (node, comp) rows sorted by node, or
    ``(None, labels)`` from the distributed loop."""
    # symmetrize via explode, NOT a self-union: the union references
    # its input twice (forcing an extra eager checkpoint of the
    # directed pairs so the expensive upstream pair pipeline doesn't
    # run once per branch — two sequential driver barriers); explode
    # reads the input once, so ONE checkpoint materializes the
    # deduped symmetric edge list (the grouping pipeline's serial
    # fraction is these fixed job barriers)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                    F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_directed = edges.count()
    if n_directed <= 2 * driver_threshold:
        return _union_find((int(r["src"]), int(r["dst"])) for r in edges.collect()), None
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    # max_iters + 1: detecting convergence costs one extra no-change
    # round, so a diameter-== max_iters graph needs max_iters
    # productive rounds plus the confirming one
    for _ in range(max_iters + 1):
        nbr = (
            edges.join(
                labels.select(F.col("node").alias("dst"), F.col("comp").alias("nbr_comp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_comp").alias("min_nbr"))
        )
        new = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("min_nbr", "comp")).alias("comp"),
                (F.coalesce("min_nbr", "comp") < F.col("comp")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new.drop("chg")
        if new.filter("chg").isEmpty():
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds — "
            "a component's diameter exceeds max_iters; raise max_iters "
            "(labels would be silently wrong otherwise)"
        )
    return None, labels


def _union_find(edges) -> list[tuple[int, int]]:
    """(node, comp) rows sorted by node for the undirected ``edges``
    (an iterable of int pairs); comp is the min node of the component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-root union: the root IS the component min id
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in sorted(parent)]


def _group_frame(spark, rows: list[tuple[int, int]]) -> DataFrame:
    """Driver (node, comp) rows → the group tail's (doc_id, group_id,
    n_docs) rows, ordered by (group_id, doc_id), as one LocalRelation."""
    sizes = Counter(comp for _node, comp in rows)
    groups = sorted(((node, comp, sizes[comp]) for node, comp in rows), key=lambda r: (r[1], r[0]))
    return local_frame(spark, groups, "doc_id long, group_id long, n_docs long")


def _groups_from_pairs(pairs: DataFrame) -> DataFrame:
    """Shared tail of every grouping pipeline: pairs → connected
    components → (doc_id, group_id, n_docs), group_id = min doc_id,
    ordered by (group_id, doc_id), ids bigint whatever the input's id
    type (as :func:`_group_frame`).  When the components resolve in the
    driver, the sizes and the ordered rows are computed there too and
    come back as one LocalRelation — no further Spark job."""
    rows, cc = _components(pairs)
    if rows is not None:
        return _group_frame(pairs.sparkSession, rows)
    sizes = cc.groupBy("comp").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        cc.join(sizes, "comp")
        .select(
            F.col("node").cast("long").alias("doc_id"),
            F.col("comp").cast("long").alias("group_id"),
            "n_docs",
        )
        .orderBy("group_id", "doc_id")
    )


def near_dup_groups(
    docs: DataFrame, threshold: float = 0.5,
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    stage_dir: str | None = None,
) -> DataFrame:
    """The end product of the dedup pipeline: (doc_id, group_id,
    n_docs) for every document in a near-duplicate group — exact
    n-gram-Jaccard pairs (complete prefix filtering) → connected
    components → group sizes.  ``group_id`` is the min doc_id of the
    group; a keep-one policy is ``filter(doc_id == group_id)``.

    Placement follows :func:`ngram_jaccard_pairs`: a gram table of at
    most ``_GRAM_DRIVER_ROWS`` (1,000,000) rows whose self-join
    Σdf·(df−1)/2 fits one core's share of the direct budget
    (``NGRAM_DIRECT_ROWS_PER_CORE``, 8M rows) is joined in the
    driver, and its surviving pairs go straight to the driver
    union-find and group tail: the result is a ``LocalRelation`` and
    the call runs no Spark job after collecting the gram table.  Other
    tables take the Spark direct or prefix route and
    :func:`connected_components`' own size gate.

    ``stage_dir`` (the grouping-scale path): stage the exploded gram
    table to parquet instead of the cluster cache — see
    :func:`ngram_jaccard_pairs`."""
    pairs, placement = _ngram_pairs(docs, text_col, id_col, n, threshold, stage_dir,
                                    sort=False, direct_rows_budget=None)
    if placement == "driver":  # a LocalRelation: collect runs no job
        edges = ((r["doc_a"], r["doc_b"]) for r in pairs.collect())
        return _group_frame(docs.sparkSession, _union_find(edges))
    return _groups_from_pairs(pairs)


def minhash_dup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_shared_bands: int = 1,
) -> DataFrame:
    """The 100-TB-scale grouping path: MinHash-LSH candidate pairs
    (hot buckets star-bounded → O(m) edges even under
    identical-document floods) → connected components → (doc_id,
    group_id, n_docs).  Approximate where :func:`near_dup_groups` is
    exact: recall follows the LSH banding curve.

    ``min_shared_bands`` defaults to 1 — ANY band collision is a
    candidate edge, the standard LSH criterion.  Raising it trades
    precision against the documented lower-bound semantics of
    ``n_shared_bands`` for pairs routed through over-cap buckets
    (star pairs count collisions with the representative only, so a
    threshold > 1 can drop genuinely-similar over-cap pairs); re-verify with an exact measure instead if
    precision matters."""
    pairs = minhash_candidates(
        docs, text_col=text_col, id_col=id_col, sort=False
    ).filter(F.col("n_shared_bands") >= min_shared_bands)
    return _groups_from_pairs(pairs)
