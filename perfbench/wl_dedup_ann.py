"""dedup_ann: near-duplicate grouping and IVF approximate nearest neighbours.

The only workload that runs ``operators/dedup.py`` and
``operators/similarity.py``. Each round of the closed loop groups the
documents with ``near_dup_groups`` (exact n-gram Jaccard), then sends
one batch of query vectors to a built ``IVFIndex``. After the loop the
last batch also goes through the exact ``cosine_topk``, which gives its
recall and is itself checked against a numpy brute force.
``minhash_dup_groups`` (MinHash-LSH) is timed in the traced run only:
in every round it would leave a run too few rounds within the
benchmark's time budget.

``ngram_jaccard_pairs`` picks its join by the size of the gram
self-join, Σ df·(df−1)/2 over the 3-grams; after the run the benchmark
computes that sum in the driver and records which route the package's
rule selects."""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np

import inputs
from harness import Run, p50

N_DOCS = 400
N_VECS = 2_000
DIM = 64
THRESHOLD = 0.5
N_GRAM = 3
K = 10
ANN_BATCH = 8
MIN_ROUNDS = 1
N_PROBE = 16
N_CENTROIDS = 64
CHECK_GROUPS = 20
CHECK_QUERIES = 4


def _rows(df) -> list[tuple]:
    return [(r["query_id"], r["rank"], r["vec_id"], r["cosine"]) for r in df.collect()]


def _grams(text: str) -> set[str]:
    """Word n-grams as ``dedup`` forms them: split on single spaces, and
    a text of at most ``N_GRAM`` words is one gram."""
    w = text.split(" ")
    if len(w) <= N_GRAM:
        return {" ".join(w)}
    return {" ".join(w[i : i + N_GRAM]) for i in range(len(w) - N_GRAM + 1)}


def _jaccard(a: str, b: str) -> float:
    ga, gb = _grams(a), _grams(b)
    return len(ga & gb) / len(ga | gb)


def gram_join_rows(texts) -> int:
    """Σ df·(df−1)/2 over the documents' distinct word n-grams: the row
    count of the direct n-gram self-join."""
    df = Counter()
    for t in texts:
        df.update(_grams(t))
    return sum(d * (d - 1) // 2 for d in df.values())


def ngram_route(join_rows: int, cores: int) -> str:
    """The join ``ngram_jaccard_pairs`` chooses, by the rule it
    documents: direct when the self-join fits 8M rows per core (or
    ``NGRAM_DIRECT_ROWS_PER_CORE``), else the prefix filter."""
    budget = int(os.environ.get("NGRAM_DIRECT_ROWS_PER_CORE", "8000000")) * cores
    return "direct" if join_rows <= budget else "prefix"


def exact_topk(vecs: np.ndarray, ids: np.ndarray, queries, k: int) -> dict[int, list[tuple]]:
    """Brute-force cosine top-k in the driver: cosine rounded to 6
    places, ties broken by vec_id ascending."""
    Q = np.asarray([v for _, v in queries], dtype=np.float64)
    cos = (vecs @ Q.T) / np.outer(np.linalg.norm(vecs, axis=1), np.linalg.norm(Q, axis=1))
    out = {}
    for j, (qid, _v) in enumerate(queries):
        c = np.round(cos[:, j], 6)
        order = np.lexsort((ids, -c))[:k]
        out[qid] = [(int(ids[i]), float(c[i])) for i in order]
    return out


def same_topk(got: list[tuple], want: list[tuple], tol: float = 2e-6) -> bool:
    """Equal top-k lists, allowing the order of ids whose cosines tie
    within ``tol`` (the last bit of a float matmul may differ)."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    cut = want[-1][1] + tol
    return {i for i, c in got if c > cut} == {i for i, c in want if c > cut}


class DedupAnn:
    name = "dedup_ann"
    headline = "round"

    def setup(self, run: Run) -> None:
        """Generate and stage the documents and vectors, build the IVF
        index with the code under test and run its first query."""
        from eaststorm_searchengine_spark.operators import similarity

        ivf = getattr(self, "ivf", None)
        if ivf is not None and ivf.spark is run.spark:  # not one of a stopped session
            ivf.unpersist()
        docs = inputs.near_dup_docs(run.seed, N_DOCS)
        docs.to_parquet(run.path("documents.parquet"), index=False)
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        emb = inputs.embeddings(run.seed, N_VECS, DIM)
        emb.to_parquet(run.path("embeddings.parquet"), index=False)
        self.vec_ids = emb["vec_id"].to_numpy()
        self.vecs = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
        self.query_log = inputs.query_vectors(run.seed, self.vecs, 4096)
        self.docs = run.spark.read.parquet(run.path("documents.parquet"))
        self.emb = run.spark.read.parquet(run.path("embeddings.parquet"))
        t = time.perf_counter()
        with run.span("similarity.IVFIndex"):
            self.ivf = similarity.IVFIndex(self.emb, n_centroids=N_CENTROIDS, seed=run.seed)
            _rows(self.ivf.topk(self.query_log[:1], k=K, n_probe=N_PROBE))
        self.ivf_build_s = time.perf_counter() - t
        self.samples: dict[str, list[float]] = {
            "round": [], "near": [], "ann": [], "exact": [], "recall": []}
        self.near_groups: list[tuple] = []
        self.approx: tuple[list, list[tuple]] = ([], [])
        self.pos = 1

    def warmup(self, run: Run) -> None:
        """One untimed grouping: the first of a session runs about half
        again as long as the next ones. The set-up already queried the
        IVF index."""
        from eaststorm_searchengine_spark.operators import dedup

        dedup.near_dup_groups(self.docs, threshold=THRESHOLD, n=N_GRAM).collect()

    def _round(self, run: Run) -> None:
        from eaststorm_searchengine_spark.operators import dedup

        batch = [self.query_log[(self.pos + i) % len(self.query_log)] for i in range(ANN_BATCH)]
        self.pos += ANN_BATCH
        with run.op("round"):
            t = time.perf_counter()
            with run.span("dedup.near_dup_groups"):
                near = dedup.near_dup_groups(self.docs, threshold=THRESHOLD, n=N_GRAM).collect()
            t2 = time.perf_counter()
            with run.span("similarity.IVFIndex.topk"):
                approx = _rows(self.ivf.topk(batch, k=K, n_probe=N_PROBE))
            t3 = time.perf_counter()
            self.samples["near"].append(t2 - t)
            self.samples["ann"].append(t3 - t2)
            self.samples["round"].append(t3 - t)
            self.near_groups = [tuple(r) for r in near]
            self.approx = (batch, approx)

    def loop(self, run: Run, seconds: float, min_ops: int = MIN_ROUNDS) -> None:
        deadline = time.time() + seconds
        done = len(self.samples["round"])
        while True:
            self._round(run)
            if time.time() >= deadline and len(self.samples["round"]) - done >= min_ops:
                return

    def check(self, run: Run) -> None:
        """The last IVF batch through the exact ``cosine_topk`` (its
        recall); ``cosine_topk`` equals a numpy brute force for sampled
        queries; every pair inside sampled near-dup groups meets the
        threshold."""
        import random

        from eaststorm_searchengine_spark.operators import similarity

        batch, approx = self.approx
        rows: list[tuple] = []
        with run.op("exact"):
            t = time.perf_counter()
            with run.span("similarity.cosine_topk"):
                rows = _rows(similarity.cosine_topk(self.emb, batch, k=K))
            self.samples["exact"].append(time.perf_counter() - t)
        want_ids: dict[int, set] = {}
        for q, _r, v, _c in rows:
            want_ids.setdefault(q, set()).add(v)
        got_ids: dict[int, set] = {}
        for q, _r, v, _c in approx:
            got_ids.setdefault(q, set()).add(v)
        self.samples["recall"] = [float(np.mean(
            [len(got_ids.get(q, set()) & w) / len(w) for q, w in want_ids.items()]))]
        rnd = random.Random(run.seed)
        want = exact_topk(self.vecs, self.vec_ids, batch, K)
        for qid, _v in rnd.sample(batch, min(CHECK_QUERIES, len(batch))):
            got = [(v, c) for q, _r, v, c in rows if q == qid]
            run.check("ann.cosine_topk_vs_numpy", same_topk(got, want[qid]), f"query {qid}")
        members: dict[int, list[int]] = {}
        for doc_id, group_id, _n in self.near_groups:
            members.setdefault(group_id, []).append(doc_id)
        run.check("dedup.groups_found", len(members) > 0)
        for gid in rnd.sample(sorted(members), min(CHECK_GROUPS, len(members))):
            ids = members[gid]
            ok = all(round(_jaccard(self.texts[a], self.texts[b]), 6) >= THRESHOLD
                     for i, a in enumerate(ids) for b in ids[i + 1:])
            run.check("dedup.group_pairs_meet_threshold", ok, f"group {gid}")

    def named(self) -> dict[str, tuple[float, str]]:
        s = self.samples
        return {
            "dedup_s": (p50(s["near"]), "s"),
            "ann_query_p50_ms": (1e3 * p50(s["ann"]), "ms"),
            "ann_queries_per_s": (ANN_BATCH * len(s["ann"]) / max(sum(s["ann"]), 1e-9),
                                  "queries/s"),
            "ann_recall_at_10": (p50(s["recall"]), "fraction"),
            "exact_query_ms": (1e3 * p50(s["exact"]), "ms"),
            "rounds": (float(len(s["round"])), "count"),
        }

    def info(self, run: Run) -> dict:
        rows = gram_join_rows(self.texts.values())
        return {"gram_join_rows": rows, "ngram_route": ngram_route(rows, run.cores)}

    def layers(self, run: Run) -> dict[str, float]:
        from eaststorm_searchengine_spark.operators import dedup

        s = self.samples
        dedup.minhash_dup_groups(self.docs).collect()  # the first of a session is slower
        t = time.perf_counter()
        with run.span("dedup.minhash_dup_groups"):
            dedup.minhash_dup_groups(self.docs).collect()
        minhash_s = time.perf_counter() - t
        with run.span("dedup.ngram_jaccard_pairs"):
            pairs = dedup.ngram_jaccard_pairs(self.docs, threshold=THRESHOLD, n=N_GRAM).count()
        return {
            "dedup.near_dup_groups_s": p50(s["near"]),
            "dedup.minhash_dup_groups_s": minhash_s,
            "dedup.pairs": float(pairs),
            "dedup.groups": float(len({g for _d, g, _n in self.near_groups})),
            "similarity.cosine_topk_ms": 1e3 * p50(s["exact"]),
            "similarity.ivf_build_s": self.ivf_build_s,
            "similarity.ivf_topk_ms": 1e3 * p50(s["ann"]),
        }
