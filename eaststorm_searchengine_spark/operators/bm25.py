"""BM25 top-k query engine over the compressed segment index.

Two executors, bitwise equal in tests, and no router between them:

* ``maxscore`` — block-max MaxScore (``maxscore.py``): candidates come
  only from the terms whose upper bounds can still reach the running
  threshold, and only the blocks whose doc fences hold a candidate are
  decoded.  It serves every chunk for ``method="auto"`` (the default),
  ``"maxscore"`` and its alias ``"wand"``.
* ``exhaustive`` — vectorized term-at-a-time: decode every matching
  block, accumulate per-doc scores with ``np.add.at``, take the
  chunk's top-k with one lexsort.  The equality oracle for MaxScore.

Distribution model: segment blocks are grouped by ``(gen, chunk)``
(a chunk key is unique only within a generation), one sorted block run
per term over a disjoint doc set; each group computes its local top-k
independently (scores use global broadcast stats, so local ranking is
globally consistent), and the global top-k is a tiny shuffle of
``n_chunks × k`` candidate rows — the same TakeOrdered pattern Spark plans for orderBy+limit
(SURVEY.md §2.5).  Replaces the reference's driver-side HashMap ranker
(``jobs/SearchServer.java:103-226``).
"""

from __future__ import annotations

import json
import math
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sqltok
from ..functions.frames import local_frame
from ..functions.hashing import term_bucket
from ..functions.topk import frame_topk, rank_topk
from . import codec
from .index_build import IndexPaths, _read_segments
from .maxscore import _TermPostings, maxscore_topk

# ``"wand"`` names the selective executor in older callers (bench
# leaves, the ``bm25_topk_wand`` oracle) and runs MaxScore
SEARCH_METHODS = ("auto", "exhaustive", "maxscore", "wand")
FINAL_RANKS = ("window", "driver")


def bm25_idf(df_: int, n_docs: int) -> float:
    """Lucene-style non-negative BM25 idf (see sqltok.idf_col)."""
    return math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))


def _round_half_up(x: float, digits: int) -> float:
    """Bit-parity with Spark's round(double, d): Spark goes through
    BigDecimal.valueOf(double) — i.e. the SHORTEST decimal repr of the
    double — then setScale(d, HALF_UP); Python's repr() produces the
    same shortest string, and Decimal.quantize(ROUND_HALF_UP) the same
    scaling."""
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


class BM25Index:
    """Handle on a built index directory (see index_build.build_index)."""

    def __init__(self, spark: SparkSession, root: str, pin: bool = False):
        """``pin=True`` persists the segment/stats DataFrames in the
        executor cache (MEMORY_AND_DISK) — a BATCH-path move for a
        long-lived query server: repeat batch queries scan the columnar
        cache instead of re-reading parquet.  Off by default (a pinned
        index holds cluster cache for the handle's lifetime; call
        :meth:`unpersist` when done).  The single-query driver-merge
        path deliberately ignores the pin: it scans parquet through the
        one-job serving session, and an A/B measured the cached
        columnar scan of binary posting blobs no faster than parquet +
        OS page cache (0.43-0.50 vs 0.36-0.48 s p50 @ 1M) while the
        extra AQE session would cost a second job barrier."""
        self.spark = spark
        self.paths = IndexPaths(root)
        self.pin = pin
        # guards the lazy one-time inits (serving session, df map) when
        # one handle serves concurrent threads — a long-lived query
        # server's natural shape: without it two racing first
        # queries each call spark.newSession(), leaking JVM
        # SessionState, or double-build the driver df map
        self._init_lock = threading.Lock()
        self._load()

    def _load(self) -> None:
        from pyspark.storagelevel import StorageLevel

        from ..sources import fsio

        self.stats = json.loads(fsio.read_text(self.spark, self.paths.stats))
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self.n_buckets = int(self.stats["n_buckets"])
        self.stem = bool(self.stats.get("stem", False))
        # hold the segment/stats DataFrames open: the parquet file index
        # (directory listing + schema) is built once per index handle,
        # not once per query — the serving-path latency win any
        # long-running query server gets for free
        self._segs_df = _read_segments(self.spark, self.paths.segments)
        self._stats_df = self.spark.read.parquet(self.paths.term_stats)
        self._df_map: dict | bool | None = None  # lazy driver-side df cache
        self._df_cache: dict = {}  # big-vocab per-term memo (reset on reload)
        self._serve_segs_df = None  # lazy non-AQE serving-session scan
        if self.pin:
            self._segs_df = self._segs_df.persist(StorageLevel.MEMORY_AND_DISK)
            self._stats_df = self._stats_df.persist(StorageLevel.MEMORY_AND_DISK)
        self._stats_mtime = self._current_mtime()

    def unpersist(self) -> None:
        if self.pin:
            self._segs_df.unpersist()
            self._stats_df.unpersist()

    def _current_mtime(self) -> float | None:
        try:
            return os.path.getmtime(self.paths.stats)
        except OSError:
            return None  # non-posix / remote FS: rebuild detection off

    def _refresh_if_rebuilt(self) -> None:
        """Rebuild detection: stats.json is written
        LAST by the builder, so its mtime changing under a live handle
        means the index directory was rebuilt — the cached file index
        would read stale or deleted segment files.  One os.stat per
        search; on change, invalidate Spark's file-index caches and
        re-read the handle state."""
        m = self._current_mtime()
        if m is not None and self._stats_mtime is not None and m != self._stats_mtime:
            self.unpersist()  # drop pinned copies of the dead files
            for p in (self.paths.segments, self.paths.term_stats, self.paths.doclens):
                try:
                    self.spark.catalog.refreshByPath(p)
                except Exception:
                    pass
            self._load()

    def _analyze(self, q: str) -> list[str]:
        """Query analyzer == index analyzer: the shared sqltok
        normalization (lowercase → URL strip → non-alnum → space →
        [a-z]+ ≤30) so punctuated queries ('hash-join') yield the same
        terms the index and the DuckDB oracle see; stemming follows the
        index's build-time setting recorded in stats.json."""
        from ..functions.sqltok import tokens_py

        toks = tokens_py(q)
        if self.stem:
            from ..stemmer import porter_stem

            toks = [porter_stem(t) for t in toks]
        return toks

    def _serve_segs(self):
        """Segment scan bound to a dedicated serving session with AQE
        OFF and static shuffle partitions (a serving-floor cut): under
        AQE a single-query search runs as TWO jobs (map-stage
        materialization, then the re-planned reduce) — two scheduling
        barriers for a query whose reduce side is a handful of chunk
        groups.  With AQE off the same plan is ONE job (profiled via
        statusTracker; interleaved A/B at 8 cores: p50 0.657 → 0.487 s
        in the clean round).  The batch/window path keeps the main
        session — AQE's coalescing and skew handling pay there.  Lazy:
        built on first driver-merge search, reset by _load/refresh."""
        if self._serve_segs_df is None:
            with self._init_lock:  # concurrent first queries: init once
                if self._serve_segs_df is not None:
                    return self._serve_segs_df
                s = getattr(self, "_serve_spark", None)
                if s is None:
                    # ONE serving session per handle lifetime: sessions
                    # have no per-session close API short of stopping
                    # the context, so creating one per rebuild would
                    # leak JVM SessionState in a long-lived server —
                    # reuse it and just refresh its file-index cache
                    s = self.spark.newSession()  # same ctx, own SQLConf
                    s.conf.set("spark.sql.adaptive.enabled", "false")
                    s.conf.set(
                        "spark.sql.shuffle.partitions",
                        str(self.spark.sparkContext.defaultParallelism),
                    )
                    self._serve_spark = s
                else:
                    try:
                        s.catalog.refreshByPath(self.paths.segments)
                    except Exception:
                        pass
                self._serve_segs_df = _read_segments(s, self.paths.segments)
        return self._serve_segs_df

    # Cap on loading the whole vocabulary's (term, df) driver-side: a
    # sandbox/1M-doc index's vocab is a few-MB dict (load once per
    # handle, ~60k terms); a 10^12-doc web vocab is 10^8+ terms and
    # must stay distributed — those fall back to a per-query filtered
    # collect (same bounded cost as the broadcast build it replaces).
    DRIVER_STATS_CAP = 2_000_000

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        """term → df for the query's terms, resolved driver-side.

        Serving-floor cut: the per-query ``join(broadcast(stats))``
        cost a whole extra Spark job per search (the broadcast build —
        profiled: 3 jobs/query, one of them this).  A long-lived handle
        resolves df from a one-time driver-side map instead, so the
        search plan is a pure pruned-scan → applyInPandas with idf
        shipped in the task closure.  Terms absent from the map don't
        exist in the index (term_stats covers every indexed term)."""
        if self._df_map is None:
            with self._init_lock:  # build the map once across threads
                if self._df_map is None:
                    n_terms = int(
                        self.stats.get("n_terms", self.DRIVER_STATS_CAP + 1)
                    )
                    if n_terms <= self.DRIVER_STATS_CAP:
                        pdf = self._stats_df.select("term", "df").toPandas()
                        self._df_map = dict(
                            zip(
                                pdf["term"].tolist(),
                                pdf["df"].astype(int).tolist(),
                            )
                        )
                    else:
                        self._df_map = False  # vocab too big for driver
                        self._df_cache = {}  # per-term memo (None = absent)
        if self._df_map is not False:
            return {t: self._df_map[t] for t in terms if t in self._df_map}
        # big-vocab path: memoize per-term results so a Zipf query log's
        # head terms resolve driver-side with NO job after first sight;
        # absent terms are negative-cached (they'd otherwise re-query
        # every time).  Bounded: cleared past DRIVER_STATS_CAP entries.
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            rows = (
                self._stats_df.filter(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t)
            if len(self._df_cache) > self.DRIVER_STATS_CAP:
                # Evict entries NOT in the current query (wiping the
                # whole memo before building the return dict dropped
                # the current query's already-cached terms — the query
                # was silently scored without indexed terms).
                self._df_cache = {
                    t: self._df_cache[t] for t in terms if t in self._df_cache
                }
        return {t: v for t in terms if (v := self._df_cache.get(t)) is not None}

    # -- search -----------------------------------------------------------
    def search(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        method: str = "auto",
        score_round: int | None = None,
        final_rank: str = "window",
        decode_acc: tuple | None = None,
        decision_acc: dict | None = None,
    ) -> DataFrame:
        """Top-k BM25 for a query batch → DataFrame(query_id, rank,
        doc_id, score).  Tie-break: score desc, doc_id asc (FIXTURES.md
        §3).  Query normalization matches the reference's
        ``q.toLowerCase().split("\\s+")`` (SearchServer.java:108) via the
        shared tokenizer; duplicate query terms are deduped (BM25 sums
        distinct terms, matching the DuckDB oracle).

        ``method`` (one of ``SEARCH_METHODS``, else ``ValueError``):
        ``"auto"`` (default), ``"maxscore"`` and its alias ``"wand"``
        run vectorized block-max MaxScore on every chunk (candidate
        waves from essential terms only, fence-pruned segmented
        decode).  ``"exhaustive"`` (vectorized term-at-a-time) scores
        every posting and is the equality oracle.  Both executors
        return identical results (bitwise-tested).

        Plan: segment scan (bucket directory pruning from the
        python-computable term hash + term predicate pushdown) →
        per-chunk top-k → global rank, with df resolved driver-side
        and idf shipped in the task closure.  Terms absent from the
        corpus simply never match (== the reference's silent per-term
        try/catch, SearchServer.java:117-148).

        ``final_rank`` (one of ``FINAL_RANKS``, else ``ValueError``):
        how the ≤ chunks×k candidate rows per query become the global
        top-k.  ``"window"`` (default) ranks with a
        per-query window — fully distributed, the right shape when the
        batch is large.  ``"driver"`` merges the candidates driver-side
        — the same TakeOrdered pattern Spark plans for
        orderBy+limit — collapsing the query to ONE job; identical
        results (pytest-gated), ~2× lower single-query latency since
        the second job's scheduling round-trip disappears.

        ``decode_acc``: optional (decoded, total[, logical]) Spark
        accumulators fed from the executors — block-decode evidence.
        ``decoded`` counts FRESH decodes (shared per-chunk handles mean
        a batch's later queries may hit cache); ``logical`` counts what
        a cold cache would decode per query — the batch-size-invariant
        skip-rate numerator.
        ``decision_acc``: optional dict of Spark accumulators keyed by
        ``DECISION_REASONS``; with ``method="auto"`` each (query,
        chunk-with-hits) adds one to ``"wand"`` (MaxScore served it)."""
        if method not in SEARCH_METHODS:
            raise ValueError(f"method must be one of {SEARCH_METHODS}, got {method!r}")
        if final_rank not in FINAL_RANKS:
            raise ValueError(
                f"final_rank must be one of {FINAL_RANKS}, got {final_rank!r}"
            )
        self._refresh_if_rebuilt()
        qterms: dict[int, list[str]] = {
            qid: sorted(set(self._analyze(q))) for qid, q in queries
        }
        all_terms = sorted({t for ts in qterms.values() for t in ts})

        out_schema = "query_id int, doc_id long, score double"
        if not all_terms:
            empty = local_frame(self.spark, [], out_schema)
            return self._rank(empty, k, score_round, final_rank)

        # df resolved driver-side (one-time cached map / bounded
        # filtered collect) — no per-query broadcast-join job
        dfs = self._term_dfs(all_terms)
        present_terms = [t for t in all_terms if t in dfs]
        if not present_terms:
            empty = local_frame(self.spark, [], out_schema)
            return self._rank(empty, k, score_round, final_rank)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in present_terms})
        # driver-merge queries run through the one-job serving session
        # (no AQE barrier); batch/window queries keep the AQE session
        segs_src = self._serve_segs() if final_rank == "driver" else self._segs_df
        segs = (
            segs_src
            .filter(F.col("bucket").isin(buckets))  # partition pruning
            .filter(F.col("term").isin(present_terms))
            .select("term", "gen", "chunk", "first_doc", "last_doc", "n",
                    "max_tf", "min_dl", "docs", "tfs", "dls")
        )

        avgdl, n_docs, qmap = self.avgdl, self.n_docs, qterms
        topk = _exhaustive_topk if method == "exhaustive" else maxscore_topk

        def score_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            counters: dict | None = {} if decode_acc is not None else None
            served = 0  # (query, chunk-with-hits) pairs
            by_term: dict[str, pd.DataFrame] = {
                t: g.sort_values("first_doc") for t, g in pdf.groupby("term")
            }
            idf = {t: bm25_idf(dfs[t], n_docs) for t in by_term}
            # shared decoded-postings handles: a term appearing in
            # several batch queries decodes its blocks once per CHUNK,
            # not once per query (lazy — maxscore still skips
            # non-essential blocks; exhaustive decodes on first use)
            tp_cache: dict[str, _TermPostings] = {}

            def tp_for(t: str) -> _TermPostings:
                if t not in tp_cache:
                    tp_cache[t] = _TermPostings(by_term[t], idf[t], avgdl)
                return tp_cache[t]

            out_rows = []
            for qid, terms in qmap.items():
                present = [t for t in terms if t in by_term]
                if not present:
                    continue
                served += 1
                # both executors share the per-chunk _TermPostings
                # handles: a term's blocks decode once per CHUNK across
                # the batch
                docs_a, scores_a = topk(
                    [tp_for(t) for t in present],
                    [idf[t] for t in present],
                    k,
                    avgdl,
                    counters=counters,
                )
                for d, s in zip(docs_a, scores_a):
                    out_rows.append({"query_id": qid, "doc_id": int(d), "score": float(s)})
            if decode_acc is not None and counters:
                # (decoded, total) Spark accumulators — executor-side
                # updates ship back with task results; evidence for the
                # block-max skip rate through the real segment store
                decode_acc[0].add(counters.get("blocks_decoded", 0))
                decode_acc[1].add(counters.get("blocks_total", 0))
                if len(decode_acc) > 2:
                    # logical (per-query cold-cache) decodes — the
                    # skip-rate numerator comparable across batch
                    # sizes; slot 0 stays fresh decodes
                    decode_acc[2].add(counters.get("blocks_logical", 0))
            if decision_acc is not None and method == "auto" and served:
                # "wand" is the reason key meaning MaxScore served the
                # chunk; bench records and perfbench read it
                decision_acc["wand"].add(served)
            return pd.DataFrame(out_rows, columns=["query_id", "doc_id", "score"])

        # A single-task variant (coalesce(1) + mapInPandas folding the
        # pruned scan — no chunk shuffle, one stage) was built,
        # equality-gated, and A/B'd at the 50k and 1M indexes: it LOST
        # or tied at every shape (1M p50 0.84-1.19 s vs 0.58-0.72
        # distributed; even the most selective single term, df 5.8k,
        # was a wash).  local[32] task scheduling is NOT the serving
        # floor — the 32-way parallel scan+decode is load-bearing — so
        # the two-stage distributed plan below is the measured optimum,
        # not an overhead to cut.
        candidates = segs.groupBy("gen", "chunk").applyInPandas(score_chunk, out_schema)
        return self._rank(candidates, k, score_round, final_rank)

    def phrase_search(
        self,
        phrases: list[tuple[int, str]],
        k: int = 10,
        score_round: int | None = None,
    ) -> DataFrame:
        """Exact-phrase top-k: documents containing the query tokens at
        consecutive positions, ranked by BM25 over the phrase terms.
        This is what the positions stored in every posting
        (north_star: "(docID, tf, positions)") buy: the check decodes
        position lists only for documents that contain all terms.
        Same distribution model as ``search``.
        """
        self._refresh_if_rebuilt()
        pterms: dict[int, list[str]] = {
            qid: self._analyze(p) for qid, p in phrases
        }
        all_terms = sorted({t for ts in pterms.values() for t in ts})
        out_schema = "query_id int, doc_id long, score double"
        if not all_terms:
            return self._rank(local_frame(self.spark, [], out_schema), k, score_round)

        # df resolved driver-side, same as search(): no per-query
        # broadcast-join job on the phrase path either
        dfs = self._term_dfs(all_terms)
        present_terms = [t for t in all_terms if t in dfs]
        if not present_terms:
            return self._rank(local_frame(self.spark, [], out_schema), k, score_round)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in present_terms})
        segs = (
            self._segs_df
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(present_terms))
            .select("term", "gen", "chunk", "first_doc", "n", "docs", "tfs", "dls", "pos")
        )
        avgdl, n_docs, k1, b = self.avgdl, self.n_docs, sqltok.K1, sqltok.B

        def match_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            # decode each term's postings once per chunk — one
            # concatenated codec pass per stream; positions are
            # encoded with a per-POSTING delta reset, so block
            # boundaries vanish under concatenation too
            decoded: dict[str, tuple] = {}
            for t, g in pdf.groupby("term"):
                g = g.sort_values("first_doc")
                tf = codec.vb_decode_concat(g["tfs"].tolist()).astype(np.int64)
                decoded[t] = (
                    codec.delta_decode_concat(
                        g["docs"].tolist(), g["n"].to_numpy(dtype=np.int64)
                    ).astype(np.int64),
                    tf,
                    codec.vb_decode_concat(g["dls"].tolist()).astype(np.int64),
                    codec.decode_positions(b"".join(g["pos"]), tf),
                )
            out_rows = []
            for qid, terms in pterms.items():
                if not terms or any(t not in decoded for t in terms):
                    continue
                # docs containing every term
                cand = decoded[terms[0]][0]
                for t in terms[1:]:
                    cand = np.intersect1d(cand, decoded[t][0], assume_unique=True)
                if cand.size == 0:
                    continue
                per_term_idx = {
                    t: {int(d): i for i, d in enumerate(decoded[t][0])} for t in set(terms)
                }
                idf = {t: bm25_idf(dfs[t], n_docs) for t in set(terms)}
                for d in cand:
                    d = int(d)
                    # positional check: positions(term_i) - i must intersect
                    ok = np.asarray(decoded[terms[0]][3][per_term_idx[terms[0]][d]], dtype=np.int64)
                    for i, t in enumerate(terms[1:], 1):
                        nxt = np.asarray(decoded[t][3][per_term_idx[t][d]], dtype=np.int64) - i
                        ok = np.intersect1d(ok, nxt, assume_unique=True)
                        if ok.size == 0:
                            break
                    if ok.size == 0:
                        continue
                    score = 0.0
                    for t in sorted(set(terms)):
                        i = per_term_idx[t][d]
                        tf = float(decoded[t][1][i])
                        dl = float(decoded[t][2][i])
                        score += idf[t] * (tf * (k1 + 1.0)) / (
                            tf + k1 * (1.0 - b + b * dl / avgdl)
                        )
                    out_rows.append({"query_id": qid, "doc_id": d, "score": score})
            df_out = pd.DataFrame(out_rows, columns=["query_id", "doc_id", "score"])
            if len(df_out) > k:  # local top-k per chunk
                df_out = frame_topk(df_out, "query_id", ["score", "doc_id"], [False, True], k)
            return df_out

        candidates = segs.groupBy("gen", "chunk").applyInPandas(match_chunk, out_schema)
        return self._rank(candidates, k, score_round)

    def _rank(
        self,
        candidates: DataFrame,
        k: int,
        score_round: int | None,
        final_rank: str = "window",
    ) -> DataFrame:
        if final_rank == "driver":
            # TakeOrdered-style driver merge: each chunk already emitted
            # its local top-k, so at most n_chunks × k rows per query
            # arrive here — bounded regardless of corpus size.  Rounding
            # happens in Python too (exact F.round HALF_UP parity via
            # Decimal on the shortest double repr — same as Spark's
            # BigDecimal.valueOf path), so the caller's collect() on the
            # returned frame is a local parallelize with NO further
            # shuffle/python stages: the whole query is one Spark job.
            rows = candidates.collect()
            rows.sort(key=lambda r: (r["query_id"], -r["score"], r["doc_id"]))
            out, last_q, rk = [], None, 0
            for r in rows:
                if r["query_id"] != last_q:
                    last_q, rk = r["query_id"], 0
                rk += 1
                if rk <= k:
                    s = float(r["score"])
                    if score_round is not None:
                        s = _round_half_up(s, score_round)
                    out.append((r["query_id"], rk, int(r["doc_id"]), s))
            # NaN/inf would not sort correctly above — unreachable with
            # BM25 math, but fail loudly if a future scorer produces one
            assert all(math.isfinite(s) for _, _, _, s in out), (
                "non-finite score in driver-side rank merge"
            )
            # LocalRelation: the caller's collect() is served from the
            # driver, NO job — a parallelize here would fan the
            # ≤ queries×k rows into defaultParallelism near-empty tasks
            # and task scheduling would dwarf the data
            return local_frame(
                self.spark, out, "query_id int, rank long, doc_id long, score double"
            )
        # ≤ n_chunks × k candidates per query arrive: no prune needed
        ranked = (
            rank_topk(candidates, "query_id", ["score", "doc_id"], [False, True], k, prune=False)
            .select("query_id", "rank", "doc_id", "score")
            .orderBy("query_id", "rank")
        )
        if score_round is not None:
            ranked = ranked.withColumn("score", F.round("score", score_round))
        return ranked


# Per-(query, chunk) reason keys for ``search``'s ``decision_acc``.
# Only "wand" (MaxScore served the chunk) is ever counted; the
# other keys stay because bench records and perfbench's
# ``bm25.route.<reason>`` metrics read all five.
DECISION_REASONS = (
    "wand", "single_term", "no_selective", "anchor_thin", "dense_long_run",
)


def _exhaustive_topk(
    term_blocks: list[pd.DataFrame],
    idfs: list[float],
    k: int,
    avgdl: float,
    counters: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized term-at-a-time scoring of one chunk.  Deterministic:
    terms arrive sorted, accumulation order fixed.

    Each term decodes with one concatenated codec pass per stream
    (``_TermPostings.full``) instead of one per BLOCK — the wire format
    is self-delimiting, so bytes decode identically
    (codec.vb_decode_concat / delta_decode_concat, both equality
    pytest-gated) while the fixed per-call numpy overhead is paid ~128×
    less often at serving spans.  ``search`` passes shared per-chunk
    handles, so a term's blocks decode once per CHUNK across a batch and
    ``blocks_decoded`` counts fresh decodes only; bare block frames get
    a fresh handle, which decodes (and counts) every block."""
    doc_parts, score_parts = [], []
    for blocks, w in zip(term_blocks, idfs):
        if not isinstance(blocks, _TermPostings):
            blocks = _TermPostings(blocks, w, avgdl)
        if counters is not None:
            counters["blocks_total"] = counters.get("blocks_total", 0) + len(blocks.n)
            # full() records blocks_decoded (fresh) and blocks_logical
            # (every block: what a cold cache would decode this query);
            # reset the handle's per-query logical-dedup tag first
            blocks.begin_query()
        d, tfn = blocks.full(counters)
        doc_parts.append(d)
        score_parts.append(w * tfn)
    all_docs = np.concatenate(doc_parts)
    all_scores = np.concatenate(score_parts)
    uniq, inv = np.unique(all_docs, return_inverse=True)
    agg = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(agg, inv, all_scores)
    # full lexsort, not argpartition: a partition breaks score-ties at
    # the k-boundary arbitrarily, violating the doc_id-asc tie-break
    order = np.lexsort((uniq, -agg))[:k]
    return uniq[order], agg[order]


def bm25_score_dataframe(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_round: int | None = 4,
) -> DataFrame:
    """Pure-DataFrame BM25 — no segments, plain Catalyst plan (the
    minimum end-to-end slice of SURVEY.md §7 step 1, kept as a built-in
    cross-check of the segment engine).  The query-term set is tiny, so
    Spark broadcasts it into the tf join (SearchServer's point-reads →
    broadcast join, SURVEY.md §3.2)."""
    tok = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        sqltok.tokens_col(F.col(text_col)).alias("tokens"),
    )
    doclen = tok.select("doc_id", F.size("tokens").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])

    tf = (
        tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))

    qrows = []
    for qid, q in queries:
        # the index's analyzer (``tokens_col``'s Python mirror), so
        # punctuated queries ("hash-join") keep the terms documents keep
        for t in sorted(set(sqltok.tokens_py(q))):
            qrows.append((qid, t))
    if not qrows:
        return local_frame(spark, [], "query_id int, rank long, doc_id long, score double")
    qdf = local_frame(spark, qrows, "query_id int, term string")

    scored = (
        F.broadcast(qdf)
        .join(dfc, "term")
        .join(tf, "term")
        .join(doclen, "doc_id")
        .withColumn(
            "contrib",
            sqltok.idf_col(F.col("df"), F.lit(n_docs))
            * sqltok.tf_norm_col(F.col("tf"), F.col("dl"), F.lit(avgdl)),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )

    # TakeOrdered shape: per-partition per-query top-k prune before the
    # global rank window (any global top-k row is in its partition's
    # top-k under the same total order) — the window then ranks
    # ≤ k × n_partitions rows per query, not every matching doc
    ranked = (
        rank_topk(scored, "query_id", ["score", "doc_id"], [False, True], k)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )
    if score_round is not None:
        ranked = ranked.withColumn("score", F.round("score", score_round))
    return ranked
