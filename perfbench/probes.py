"""Per-layer measurements taken in the traced run, outside the timed
operations: driver-side timings of textproc and codec on the workload's
own data, index facts read back from a built index, and a query sample
served from it."""

from __future__ import annotations

import time

import numpy as np

from harness import dir_bytes


def textproc_layer(htmls: list[bytes]) -> dict[str, float]:
    """Time ``extract_text`` and ``tokenize`` separately over a sample."""
    from eaststorm_searchengine_spark import textproc

    docs = [h.decode("utf-8") for h in htmls]
    t = time.perf_counter()
    texts = [textproc.extract_text(d) for d in docs]
    t_ext = time.perf_counter() - t
    t = time.perf_counter()
    toks = [textproc.tokenize(x) for x in texts]
    t_tok = time.perf_counter() - t
    n = max(1, len(docs))
    return {
        "textproc.extract_us_per_doc": 1e6 * t_ext / n,
        "textproc.tokenize_us_per_doc": 1e6 * t_tok / n,
        "textproc.tokens_per_doc": sum(map(len, toks)) / n,
    }


def codec_layer(spark, index_dir: str, max_blocks: int = 3000) -> dict[str, float]:
    """Decode then re-encode posting blocks read back from the segments
    (doc-id gaps and term frequencies); rates are encoded MB per second."""
    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.operators import codec, index_build as ib

    segs = spark.read.parquet(ib.IndexPaths(index_dir).segments).filter(
        F.col("term") != ib.DOCLEN_TERM
    )
    tot = segs.agg(F.sum("n").alias("n"), F.sum("bytes").alias("b")).collect()[0]
    rows = segs.select("docs", "tfs").limit(max_blocks).collect()
    blobs = [(bytes(r["docs"]), bytes(r["tfs"])) for r in rows]
    nbytes = sum(len(d) + len(t) for d, t in blobs) / (1024.0 * 1024.0)
    t = time.perf_counter()
    decoded = [(codec.delta_decode(d), codec.vb_decode(tf)) for d, tf in blobs]
    t_dec = time.perf_counter() - t
    t = time.perf_counter()
    re = [(codec.delta_encode(ids), codec.vb_encode(tfs)) for ids, tfs in decoded]
    t_enc = time.perf_counter() - t
    if re != blobs:
        raise RuntimeError("codec round trip changed the posting blobs")
    return {
        "codec.encode_mb_per_s": nbytes / max(t_enc, 1e-9),
        "codec.decode_mb_per_s": nbytes / max(t_dec, 1e-9),
        "codec.bytes_per_posting": float(tot["b"] or 0) / max(1, int(tot["n"] or 0)),
    }


def index_layer(spark, index_dir: str, stats: dict, build_s: list[float]) -> dict[str, float]:
    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.operators import index_build as ib

    paths = ib.IndexPaths(index_dir)
    postings = spark.read.parquet(paths.lineage).agg(F.sum("postings")).collect()[0][0]
    blocks = spark.read.parquet(paths.segments).filter(F.col("term") != ib.DOCLEN_TERM).count()
    files, size = dir_bytes(paths.segments)
    return {
        "index_build.build_s": float(np.median(build_s)) if build_s else 0.0,
        "index_build.postings": float(postings or 0),
        "index_build.n_terms": float(stats.get("n_terms", 0)),
        "index_build.blocks": float(blocks),
        "index_build.segment_files": float(files),
        "index_build.segment_bytes": float(size),
    }


def _rows(df) -> list[tuple]:
    return [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def incremental_layer(run, batches: list[tuple[str, int]], queries: list[tuple[int, str]],
                      live_queries: int = 1, k: int = 10) -> tuple[dict, dict]:
    """One streaming-ingest cycle into an empty store: each staged
    parquet file of ``batches`` (path, rows) lands in the input
    directory and goes through ``start_incremental_index(available_now=True)``, then
    ``refresh_metadata``; ``live_queries`` single queries follow on a
    live ``BM25Index``. Then the ``auto_compact`` the policy triggers (one
    more batch than ``MAX_FRAGMENTS``) and the first query after the swap.

    No batch is appended after the compaction: that makes
    ``refresh_metadata`` fail with CONFLICTING_PARTITION_COLUMN_NAMES (the
    compacted store is partitioned by ``bucket``, streamed batches by
    ``stream_batch, bucket``). Returns the per-layer metrics and the
    cycle's named end-to-end figures."""
    import os
    import shutil

    from eaststorm_searchengine_spark.operators.bm25 import BM25Index
    from eaststorm_searchengine_spark.streaming import incremental as inc

    cdir = run.path("ingest_cycle")
    in_dir, idx_dir = os.path.join(cdir, "in"), os.path.join(cdir, "idx")
    os.makedirs(in_dir)
    schema = "doc_id long, url string, html binary"
    s: dict[str, list[float]] = {"visible": [], "append": [], "refresh": [], "live": []}
    live = None
    n_in = 0
    qpos = 0
    compacted = None
    for b, (src, rows) in enumerate(batches):
        # land atomically: the file source ignores names starting with "."
        tmp = os.path.join(in_dir, f".batch{b}.parquet")
        shutil.copyfile(src, tmp)
        os.rename(tmp, os.path.join(in_dir, f"batch{b}.parquet"))
        n_in += rows
        with run.op("ingest"):
            t = time.perf_counter()
            with run.span("incremental.start_incremental_index"):
                inc.start_incremental_index(run.spark, in_dir, idx_dir, os.path.join(cdir, "ckpt"),
                                            schema, text_col="html", from_html=True,
                                            available_now=True)
            t2 = time.perf_counter()
            with run.span("incremental.refresh_metadata"):
                stats = inc.refresh_metadata(run.spark, idx_dir)
            t3 = time.perf_counter()
            s["visible"] += [t3 - t]
            s["append"] += [t2 - t]
            s["refresh"] += [t3 - t2]
            run.check("ingest.n_docs", stats["n_docs"] == n_in, f"{stats['n_docs']} != {n_in}")
        if live is None:
            with run.span("bm25.BM25Index"):
                live = BM25Index(run.spark, idx_dir)
        for _ in range(live_queries):
            q = queries[qpos % len(queries)]
            qpos += 1
            with run.op("live_query"):
                t = time.perf_counter()
                with run.span("bm25.BM25Index.search"):
                    _rows(live.search([q], k=k, final_rank="driver"))
                s["live"].append(time.perf_counter() - t)
    frag = inc.fragment_stats(idx_dir)
    ingested = dir_bytes(os.path.join(idx_dir, "segments"))[1]
    sample = queries[:2]
    before = {q[0]: _rows(live.search([q], k=k, final_rank="driver")) for q in sample}
    rewrite = 0.0
    with run.op("compact"):
        t = time.perf_counter()
        with run.span("incremental.auto_compact"):
            compacted = inc.auto_compact(run.spark, idx_dir)
        compact_s = time.perf_counter() - t
        if run.check("ingest.compacted", compacted is not None, f"policy idle at {frag}"):
            rewrite = dir_bytes(os.path.join(idx_dir, "segments"))[1] / max(1, ingested)
            run.check("ingest.compacted_n_docs", compacted["n_docs"] == n_in)
    with run.op("post_swap_query"):
        t = time.perf_counter()
        with run.span("bm25.BM25Index.search"):
            after = {sample[0][0]: _rows(live.search([sample[0]], k=k, final_rank="driver"))}
        post_swap = time.perf_counter() - t
    after.update({q[0]: _rows(live.search([q], k=k, final_rank="driver")) for q in sample[1:]})
    run.check("ingest.compaction_keeps_results", after == before)
    layers = {
        "incremental.append_s": float(np.median(s["append"])),
        "incremental.refresh_s": float(np.median(s["refresh"])),
        "incremental.fragments": float(frag["n_fragments"]),
        "incremental.segment_files": float(frag["n_files"]),
        "incremental.compactions": 1.0 if compacted is not None else 0.0,
        "incremental.rewrite_ratio": rewrite,
        "incremental.post_swap_query_ms": 1e3 * post_swap,
    }
    named = {
        "ingest_visible_s": float(np.median(s["visible"])),
        "compact_s": compact_s,
        "live_query_p50_ms": 1e3 * float(np.median(s["live"])),
        "live_queries": len(s["live"]),
        "ingest_batches": len(batches),
    }
    shutil.rmtree(cdir, ignore_errors=True)
    return layers, named


def bm25_methods(idx, sample: list[tuple[int, str]], k: int) -> tuple[dict[str, float], bool]:
    """Median latency of the same single queries forced through each
    executor (``method=``), and whether the skipping executors returned
    exactly the exhaustive top-k."""
    out = {}
    served: dict[str, list] = {}
    for method in ("exhaustive", "maxscore", "wand"):
        ms = []
        for q in sample:
            t = time.perf_counter()
            served.setdefault(method, []).append(
                _rows(idx.search([q], k=k, method=method, final_rank="driver")))
            ms.append(1e3 * (time.perf_counter() - t))
        out[f"bm25.{method}_ms"] = float(np.median(ms))
    return out, served["maxscore"] == served["exhaustive"] == served["wand"]


def bm25_layer(spark, index_dir: str, queries: list[tuple[int, str]], k: int = 10,
               n_methods: int = 2) -> tuple[dict[str, float], bool]:
    """Open a handle on a built index and serve ``queries`` from it, one
    at a time and then as one batch, with the executor-side block-decode
    and route accumulators of ``BM25Index.search``. Also returns whether
    every executor gave the exhaustive top-k (see ``bm25_methods``)."""
    from eaststorm_searchengine_spark.operators.bm25 import DECISION_REASONS, BM25Index

    sc = spark.sparkContext
    dec = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0))
    routes = {r: sc.accumulator(0) for r in DECISION_REASONS}
    t = time.perf_counter()
    idx = BM25Index(spark, index_dir)
    idx.search(queries[:1], k=k, final_rank="driver").collect()
    out = {"bm25.handle_open_s": time.perf_counter() - t}
    single = []
    for q in queries:
        t = time.perf_counter()
        idx.search([q], k=k, final_rank="driver", decode_acc=dec, decision_acc=routes).collect()
        single.append(1e3 * (time.perf_counter() - t))
    t = time.perf_counter()
    idx.search(queries, k=k, decode_acc=dec, decision_acc=routes).collect()
    out["bm25.batch_ms"] = 1e3 * (time.perf_counter() - t)
    out["bm25.search_ms"] = float(np.median(single))
    out["bm25.blocks_decoded_fraction"] = dec[0].value / max(1, dec[1].value)
    out["bm25.blocks_logical_fraction"] = dec[2].value / max(1, dec[1].value)
    n_dec = sum(a.value for a in routes.values())
    out.update({f"bm25.route.{r}": routes[r].value / max(1, n_dec) for r in DECISION_REASONS})
    methods, agree = bm25_methods(idx, queries[:n_methods], k)
    out.update(methods)
    return out, agree
