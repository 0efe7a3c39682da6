"""Similarity search over embedding columns (``array<float>``).

Beyond-reference capability (build brief): brute-force cosine top-k as
the exact baseline, and an LSH-bucketed approximate variant as the
scale path (random-hyperplane LSH per Charikar 2002).

Scale notes: every cosine here is numpy.  The top-k paths (brute
force, LSH, the IVF probe scan) hand each Arrow batch of corpus vectors
to one BLAS matmul against the (tiny) query matrix (``_score_topk``) —
embarrassingly parallel, no shuffle except the final top-k; LSH and IVF
only mask which (vector, query) pairs count.  The near-dup pair paths
score a blocked tile per matmul or rescore candidate pairs row-wise
(``_rescore_pairs``).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worker_guard
from ..functions.frames import local_frame, spread_for_udf
from ..functions.topk import rank_topk


def _stack(vecs: np.ndarray, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """``(ok, M)`` for an object array of vectors: ``ok`` marks the
    vectors of length ``dim`` — NULL and wrong-length vectors have no
    cosine — and ``M`` stacks them as float64 rows (``ok.sum()`` × dim)."""
    ok = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), dtype=bool, count=len(vecs)
    )
    if not ok.any():
        return ok, np.empty((0, dim))
    return ok, np.vstack(vecs[ok]).astype(np.float64)


_TOPK_DDL = "query_id int, rank long, vec_id long, cosine double"
_PAIRS_DDL = "vec_a long, vec_b long, cosine double"


def _score_topk(
    src: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    k: int,
    score_round: int,
    probe: Callable[[pd.DataFrame, np.ndarray], np.ndarray] | None = None,
) -> DataFrame:
    """The exact batch scorer behind every top-k path: ``src`` rows
    (vec_id, vec, …) → global top-k per query via ``rank_topk``
    (cosine desc, vec_id asc).

    One BLAS matmul per Arrow batch against the query matrix, which
    rides in the closure: a JVM-side cosine (``F.aggregate`` folds over
    the zipped arrays) costs 44 µs per cosine — scalar codegen over
    array cells.  NULL and wrong-length vectors and non-finite cosines
    (zero-norm or NaN inputs) are dropped inside the scorer.

    ``probe(pdf, ok)`` (IVF, LSH): a function of the batch and its
    ``_stack`` mask returning a boolean (ok rows × queries) matrix; a
    (vector, query) pair is scored only where it is True."""
    if not query_vectors:
        return local_frame(src.sparkSession, [], _TOPK_DDL)
    Q = np.asarray([v for _, v in query_vectors], dtype=np.float64)
    qids = np.asarray([qid for qid, _ in query_vectors], dtype=np.int64)

    def score(batches):
        worker_guard.install()
        qn = np.linalg.norm(Q, axis=1)
        for pdf in batches:
            ok, M = _stack(pdf["vec"].to_numpy(), Q.shape[1])
            if not ok.any():
                continue
            vn = np.linalg.norm(M, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (M @ Q.T) / np.outer(vn, qn)
            keep = np.isfinite(cos)
            if probe is not None:
                keep &= probe(pdf, ok)
            ids = pdf["vec_id"].to_numpy()[ok]
            r, c = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qids[c].astype(np.int32),
                    "vec_id": ids[r],
                    "cosine": cos[r, c],
                }
            )

    scored = src.mapInPandas(score, "query_id int, vec_id long, cosine double")
    scored = scored.withColumn("cosine", F.round("cosine", score_round))
    return (
        rank_topk(scored, "query_id", ["cosine", "vec_id"], [False, True], k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k → (query_id, rank, vec_id, cosine).
    Tie-break: cosine desc, vec_id asc.  Scored by :func:`_score_topk`;
    no query vectors → an empty frame of the same schema."""
    src = spread_for_udf(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    )
    return _score_topk(src, query_vectors, k, score_round)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def _multi_sig_col(vec_col, all_planes: list[np.ndarray]):
    """All hyperplane-table signatures of a vector in ONE Arrow-batched
    matmul: stack every table's planes into a (T·b, dim) matrix, one
    BLAS product per batch, pack sign bits per table.  Returns
    array<long> of length n_tables; NULL for a NULL or wrong-length
    vector, which then lands in no bucket."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_tables = len(all_planes)
    n_planes, dim = all_planes[0].shape
    stacked = np.vstack(all_planes)  # (T*b, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        worker_guard.install()
        ok, M = _stack(vecs.to_numpy(), dim)
        bits = (M @ stacked.T) > 0  # (n_ok, T*b)
        packed = (bits.reshape(len(M), n_tables, n_planes) * weights).sum(axis=2)
        rows = iter(packed.astype(np.int64).tolist())
        return pd.Series([next(rows) if o else None for o in ok], dtype=object)

    return sigs(vec_col)


def lsh_cosine_topk(
    embeddings: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 10,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int = 6,
    n_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: ``n_tables`` independent hyperplane
    signatures per corpus vector (OR-amplification); each query probes,
    per table, its own bucket plus every bucket at Hamming distance 1
    (multi-probe LSH, Lv et al. VLDB'07).  The candidates are scored
    exactly, so precision is exact and only recall is approximate — it
    rises with tables × probes.  The exact variant is the oracle (recall
    measured at sf0.1 in BASELINE.md).

    One pass, no join: the corpus rows carry their signatures into
    :func:`_score_topk`, whose probe mask looks each vector's bucket up
    in a (table, bucket, query) boolean array — 2^n_planes buckets per
    table — and ORs over the tables.  Query signatures use a per-plane
    dot loop (the oracle aux mirrors it bit for bit).  No query vectors
    → an empty frame of the same schema."""
    spark = embeddings.sparkSession
    if not query_vectors:
        return local_frame(spark, [], _TOPK_DDL)
    dim = len(query_vectors[0][1])
    all_planes = [_hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)]
    hit = np.zeros((n_tables, 1 << n_planes, len(query_vectors)), dtype=bool)
    for j, (_qid, v) in enumerate(query_vectors):
        arr = np.asarray(v, dtype=np.float64)
        for t, planes in enumerate(all_planes):
            sig = 0
            for i, p in enumerate(planes):
                if float(arr @ p) > 0:
                    sig |= 1 << i
            hit[t, [sig] + [sig ^ (1 << i) for i in range(n_planes)], j] = True

    def probe(pdf, ok):
        sigs = np.vstack(pdf["sigs"].to_numpy()[ok])  # (ok rows, tables)
        return hit[np.arange(n_tables), sigs].any(axis=1)

    src = spread_for_udf(
        embeddings.select(F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("vec"))
    ).withColumn("sigs", _multi_sig_col(F.col("vec"), all_planes))
    return _score_topk(src, query_vectors, k, score_round, probe)


def _near_dup_tail(pairs: DataFrame, threshold: float, score_round: int) -> DataFrame:
    """(vec_a, vec_b, cosine) → rounded, thresholded, ordered pairs:
    round-then-compare, the reference semantics."""
    return (
        pairs.withColumn("cosine", F.round("cosine", score_round))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def _rescore_pairs(cand: DataFrame) -> DataFrame:
    """Candidate pairs (vec_a, vec_b, va, vb) → (vec_a, vec_b, cosine),
    one row-wise numpy cosine per Arrow batch.  A pair has no cosine
    (no row) when either vector is NULL, the two lengths differ, a norm
    is zero, or a component is NaN."""

    def rescore(batches):
        worker_guard.install()
        for pdf in batches:
            va, vb = pdf["va"].to_numpy(), pdf["vb"].to_numpy()
            cos = np.full(len(pdf), np.nan)
            for dim in {len(v) for v in va if v is not None}:
                oka, A = _stack(va, dim)
                okb, B = _stack(vb, dim)
                both = oka & okb
                A, B = A[both[oka]], B[both[okb]]
                den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos[both] = np.einsum("ij,ij->i", A, B) / den
            keep = np.isfinite(cos)
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy()[keep],
                    "vec_b": pdf["vec_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return cand.mapInPandas(rescore, _PAIRS_DDL)


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (vec_a < vec_b,
    cosine ≥ threshold) via blocked matrix multiplication.

    Exact all-pairs similarity at a *low* threshold (0.45 ≈ 63° — far
    wider than any LSH family can prune with high recall) is inherently
    O(N²) compute; the scalable shape is to distribute that compute
    evenly: assign each vector to one of ``n_blocks`` blocks, replicate
    each vector to its block-pair row groups (explode — no join), and
    evaluate each (bi, bj) tile as one BLAS matmul inside
    ``applyInPandas``.  Shuffle volume is (n_blocks+2)·|data|, tiles are
    uniform by construction (id-modulo blocking), and the plan contains
    no CartesianProduct / BroadcastNestedLoopJoin (plan-asserted in
    tests).  For genuinely near-duplicate thresholds (≥ ~0.8) use
    :func:`lsh_near_dup_pairs`, which prunes candidates first.  Pair
    contract of :func:`_rescore_pairs`: NULL vectors, vectors of unequal
    length and zero-norm vectors form no pair.
    """
    base = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    a_side = base.select(
        "vec_id", "vec",
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        F.lit(0).alias("side"),
    )
    b_side = base.select(
        "vec_id", "vec",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("side"),
    )
    tagged = a_side.unionByName(b_side)
    # emit slightly below threshold so the final (JVM-side) round+filter
    # reproduces the reference round-then-compare semantics exactly
    raw_cut = threshold - 1e-6

    def tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        worker_guard.install()
        same_block = int(key[0]) == int(key[1])
        A = pdf[pdf["side"] == 0]
        B = pdf[pdf["side"] == 1]
        out = []
        for dim in {len(v) for v in A["vec"] if v is not None}:
            oka, MA = _stack(A["vec"].to_numpy(), dim)
            okb, MB = _stack(B["vec"].to_numpy(), dim)
            na = np.linalg.norm(MA, axis=1)
            nb = np.linalg.norm(MB, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (MA @ MB.T) / np.outer(na, nb)
            ia = A["vec_id"].to_numpy()[oka]
            ib = B["vec_id"].to_numpy()[okb]
            mask = cos >= raw_cut
            if same_block:
                mask &= ia[:, None] < ib[None, :]
            r, c = np.nonzero(mask)
            va, vb = ia[r], ib[c]
            out.append(pd.DataFrame(
                {"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb),
                 "cosine": cos[r, c]}
            ))
        if not out:
            return pd.DataFrame(columns=["vec_a", "vec_b", "cosine"])
        return pd.concat(out, ignore_index=True)

    pairs = tagged.groupBy("bi", "bj").applyInPandas(tile, _PAIRS_DDL)
    return _near_dup_tail(pairs, threshold, score_round)


def cosine_near_dup_pairs_allpairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int = 6,
) -> DataFrame:
    """Naive all-pairs cross-join baseline — kept ONLY as the pytest
    oracle for :func:`cosine_near_dup_pairs`; never the production
    path (CartesianProduct plan).  Every pair goes through
    :func:`_rescore_pairs`."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    cand = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    return _near_dup_tail(_rescore_pairs(cand), threshold, score_round)


def lsh_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int = 6,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 7,
    max_bucket_docs: int = 256,
    metrics: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs for *high* cosine thresholds via
    OR-amplified hyperplane LSH: ``n_tables`` independent tables of
    ``n_planes`` hyperplanes each; a pair is a candidate if it collides
    in ANY table (miss prob (1-p^b)^L with p = 1-θ/π); candidates are
    verified with the exact cosine of :func:`_rescore_pairs`.  The
    bucket groupBy keys are (table, signature) — bounded, uniform
    shuffle; no all-pairs product.  Precision is exact (verify step);
    recall < 1 by design and rises with n_tables — at threshold 0.8,
    b=4 × L=8 gives ≥ 0.998 per-pair recall.  The hyperplanes take the
    most common vector length; NULL and other-length vectors land in no
    bucket, so they form no pair.

    Hot-bucket bound: m identical vectors share every
    signature, so an uncapped bucket self-join is m²/2 on the exact
    flood workload dedup targets.  Buckets over ``max_bucket_docs``
    emit *star* candidates to the bucket's min-id representative (m-1
    pairs, cosine-verified like every candidate) — identical/near-rep
    vectors stay connected through the rep; same mitigation as
    ``dedup.minhash_candidates`` / ``dedup.simhash_near_dups``.  Pass
    ``metrics={}`` to learn whether capping engaged
    (``metrics["overcap_buckets"]`` — see ``dedup.star_capped_pairs``)."""
    mode = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .groupBy(F.size(vec_col).alias("dim")).count()
        .orderBy(F.desc("count"), "dim").first()
    )
    if mode is None:  # no vectors → no pairs
        return local_frame(embeddings.sparkSession, [], _PAIRS_DDL)
    dim = mode["dim"]
    base = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    all_planes = [_hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)]
    from .dedup import star_capped_pairs

    buckets = base.withColumn("sigs", _multi_sig_col(F.col("vec"), all_planes)).select(
        "vec_id", "vec", F.posexplode("sigs").alias("table", "sig")
    )
    cand = (
        star_capped_pairs(buckets, ["table", "sig"], "vec_id", payload_col="vec",
                          cap=max_bucket_docs, metrics=metrics)
        .select(
            F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"),
            F.col("payload_a").alias("va"), F.col("payload_b").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return _near_dup_tail(_rescore_pairs(cand), threshold, score_round)


def _kmeans_fit(
    X: np.ndarray, k: int, seed: int, n_iter: int = 30, n_init: int = 4
) -> np.ndarray:
    """Seeded Lloyd's k-means with k-means++ init (Arthur &
    Vassilvitskii, SODA'07) over a bounded in-memory sample;
    ``n_init`` independent restarts, best inertia wins (the standard
    guard against a bad ++ draw — matching the quantizer quality of
    k-means|| for this use).  Each iteration is one BLAS matmul;
    deterministic for a given (X, k, seed).  ``k`` clamps to
    ``len(X)``."""
    if len(X) == 0:
        return np.zeros((1, 1))
    k = max(1, min(k, len(X)))

    def trial(t: int) -> tuple[np.ndarray, float]:
        centers = _kmeans_once(X, k, seed + 1000 * t, n_iter)
        # inertia: sum over rows of min squared distance
        d = (X ** 2).sum(axis=1)[:, None] - 2.0 * (X @ centers.T) + (
            centers ** 2
        ).sum(axis=1)[None, :]
        return centers, float(d.min(axis=1).sum())

    # the restarts are independent and deterministic per trial seed, so
    # they run from a thread pool (numpy's big ufuncs/BLAS release the
    # GIL — measured 5.2 → 1.7 s at 20k×64/k=128 on 32 cores); the
    # winner is still picked sequentially in trial order, so the fitted
    # centers are bit-identical to the sequential loop (verified)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=n_init) as pool:
        results = list(pool.map(trial, range(n_init)))
    best = None
    best_inertia = np.inf
    for centers, inertia in results:
        if inertia < best_inertia:
            best, best_inertia = centers, inertia
    return best


def _kmeans_once(X: np.ndarray, k: int, seed: int, n_iter: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    dim = X.shape[1]
    centers = np.empty((k, dim), dtype=np.float64)
    centers[0] = X[rng.randint(len(X))]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        j = rng.choice(len(X), p=d2 / tot) if tot > 0 else rng.randint(len(X))
        centers[i] = X[j]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    for _ in range(n_iter):
        # argmin ||x-c||² == argmax (x·c − |c|²/2): |x|² is constant per row
        lab = np.argmax(X @ centers.T - ((centers ** 2).sum(axis=1) / 2.0)[None, :], axis=1)
        new = np.zeros_like(centers)
        np.add.at(new, lab, X)
        counts = np.bincount(lab, minlength=k).astype(np.float64)
        nz = counts > 0
        new[nz] /= counts[nz, None]
        new[~nz] = centers[~nz]  # empty cluster keeps its centroid
        if np.allclose(new, centers):
            centers = new
            break
        centers = new
    return centers


class IVFIndex:
    """IVF-style ANN index handle: a k-means coarse quantizer (on
    L2-normalized vectors so Euclidean clustering ≈ cosine) partitions
    the corpus into inverted lists; each query exactly rescans only
    the ``n_probe`` lists whose centroids score best under the SAME
    affinity the assignment uses.  Scan fraction ≈ probed list mass;
    recall measured against the exact oracle (BASELINE.md).  At 10^12
    rows the lists become the partition key — write the assignment
    out partitioned by list_id and probing becomes partition pruning.
    List count should grow ≈ √N with the corpus (the classic IVF
    sizing); the defaults (128 lists, 64 probes ⇒ ~50% mass) are
    tuned for the bench corpus, where finer quantization at the same
    probed mass measurably lifts recall (grid in BASELINE.md).

    Sample-fit contract: the quantizer is fit on a
    deterministic hash-sample of at most ``fit_sample_cap`` vectors —
    centroid quality at k≈32 saturates far below 100k points, and a
    full-corpus fit would make multiple passes over 100 TB just to
    place the centroids.  The bounded sample is collected and fit
    driver-side (seeded numpy Lloyd's with k-means++ init — one BLAS
    matmul per iteration, no per-iteration distributed jobs), then
    the centroids broadcast and the full corpus assigned in ONE
    Arrow-batched matmul pass.

    Build-once/query-many contract: construction
    runs the count + sample-collect + fit chain ONCE and persists the
    assignment DataFrame (MEMORY_AND_DISK, lineage-backed), so each
    :meth:`topk` call only scans the probed lists of the persisted
    assignment instead of re-running the whole chain.  Call
    :meth:`unpersist` when done; at 100-TB scale replace the persist
    with a parquet stage partitioned by list_id (the index builder's
    staging pattern).

    NULL and wrong-length vectors have no cosine (:func:`cosine_topk`'s
    contract), so they stay out of the fit sample and the lists; the
    dimension is the most common vector length in the collected
    sample."""

    def __init__(
        self,
        embeddings: DataFrame,
        n_centroids: int = 128,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        fit_sample_cap: int = 100_000,
    ) -> None:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import IntegerType
        from pyspark.storagelevel import StorageLevel

        self.spark = embeddings.sparkSession
        norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, v: a + v * v))
        base = (
            spread_for_udf(
                embeddings.select(
                    F.col(id_col).alias("vec_id"),
                    F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
                )
            )
            # norm computed ONCE per row (inside the transform lambda it
            # would re-aggregate per element); zero vectors stay
            # unnormalized rather than becoming NaN features that
            # poison the fit
            .withColumn("nrm", norm(F.col("vec")))
            .withColumn(
                "unit",
                F.when(
                    F.col("nrm") > 0,
                    F.transform(F.col("vec"), lambda x: x / F.col("nrm")),
                ).otherwise(F.col("vec")),
            )
            .drop("nrm")
        )
        n_vecs = embeddings.count()
        if n_vecs > fit_sample_cap:
            # deterministic hash-sample (id-keyed, reproducible across
            # sessions/partitionings — unlike .sample or .limit)
            denom = -(-n_vecs // fit_sample_cap)  # ceil
            fit_df = base.filter(
                F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(denom)) == 0
            )
        else:
            fit_df = base
        # sort by id driver-side: collect() returns partition order,
        # which varies with the input's partitioning — and k-means++ is
        # sample-ORDER-sensitive, so without the sort the fitted
        # centroids (hence assignments) would differ across otherwise
        # identical corpora (also what lets the pure-Python oracle
        # aux reproduce the quantizer exactly)
        sample_rows = sorted(
            fit_df.select("vec_id", "unit").collect(), key=lambda r: r["vec_id"]
        )
        lens = Counter(len(r["unit"]) for r in sample_rows if r["unit"] is not None)
        dim = lens.most_common(1)[0][0] if lens else 0
        sample = np.array(
            [r["unit"] for r in sample_rows if r["unit"] is not None and len(r["unit"]) == dim],
            dtype=np.float64,
        )
        self.empty = sample.size == 0
        if self.empty:  # empty corpus → no results from any query
            self.lists = None
            self._persisted = False
            return
        centers = _kmeans_fit(sample, n_centroids, seed)
        self.centers = centers
        self.cnorm = np.linalg.norm(centers, axis=1)
        # assignment: argmin ||x - c||² == argmax (x·c − |c|²/2); one
        # BLAS product per Arrow batch, centroids in the UDF closure
        half_sq = (self.cnorm ** 2) / 2.0

        @pandas_udf(IntegerType())
        def assign(units: pd.Series) -> pd.Series:
            worker_guard.install()
            if units.empty:
                return pd.Series([], dtype="int32")
            M = np.vstack(units.to_numpy())
            lid = np.argmax(M @ centers.T - half_sq[None, :], axis=1)
            return pd.Series(lid.astype(np.int32))

        self.lists = base.filter(F.size("vec") == dim).select(
            "vec_id", "vec", assign(F.col("unit")).alias("list_id")
        )
        # persist + force the one assignment pass at build time
        self.lists = self.lists.persist(StorageLevel.MEMORY_AND_DISK)
        self.lists.count()
        self._persisted = True

    def unpersist(self) -> None:
        if self.lists is not None and self._persisted:
            self.lists.unpersist()
            self._persisted = False

    def topk(
        self,
        query_vectors: list[tuple[int, list[float]]],
        k: int = 10,
        n_probe: int = 64,
        score_round: int = 6,
    ) -> DataFrame:
        """(query_id, rank, vec_id, cosine) over the ``n_probe`` best
        lists per query: the persisted assignment, filtered to the
        lists some query probes, goes through :func:`_score_topk` with
        the (list_id × query) probe matrix, so each query scores only
        the vectors of its own probed lists."""
        if self.empty:
            return local_frame(self.spark, [], _TOPK_DDL)
        probe = np.zeros((len(self.centers), len(query_vectors)), dtype=bool)
        for j, (_qid, v) in enumerate(query_vectors):
            arr = np.asarray(v, dtype=np.float64)
            nrm = np.linalg.norm(arr)
            qu = arr / nrm if nrm > 0 else arr
            # probe by the SAME affinity the assignment uses
            # (unit-vector Euclidean: qu·c − |c|²/2) — ranking lists by
            # raw cosine here would probe a different neighborhood than
            # the one the quantizer filed the vectors under
            aff = qu @ self.centers.T - (self.cnorm ** 2) / 2.0
            probe[np.argsort(-aff)[:n_probe], j] = True
        probed = np.flatnonzero(probe.any(axis=1)).tolist()
        src = self.lists.filter(F.col("list_id").isin(probed))
        return _score_topk(
            src, query_vectors, k, score_round,
            lambda pdf, ok: probe[pdf["list_id"].to_numpy()[ok]],
        )
