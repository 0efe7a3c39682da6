"""build_html: repeated full index builds from raw HTML pages.

The only workload where HTML extraction and tokenizing (textproc),
fragment encoding (codec) and the two build shuffles do most of the
work. No query runs, so a serving change should leave it flat.

The traced run also measures the layers the timed loop does not run:
it serves a query sample from the last built index (bm25) and runs one
streaming-ingest cycle over slices of the same pages (incremental)."""

from __future__ import annotations

import os
import shutil
import time

import inputs
import probes
from harness import Run, dir_bytes, p50

N_PAGES = 4_000
WARMUP_PAGES = 500
MIN_BUILDS = 1
DL_SAMPLE = 40
BM25_QUERIES = 8
INGEST_BATCHES = 5  # one more than the compaction policy's MAX_FRAGMENTS
INGEST_PAGES = 200


class BuildHtml:
    name = "build_html"
    headline = "build"

    def setup(self, run: Run) -> None:
        """Generate and stage the pages. There is no index to serve."""
        pdf = inputs.pages(run.seed, "build_html", N_PAGES)
        pdf.to_parquet(run.path("pages.parquet"), index=False)
        self.pdf = pdf
        self.sample = pdf.sample(DL_SAMPLE, random_state=run.seed % (2**32))
        self.docs = run.spark.read.parquet(run.path("pages.parquet"))
        self.n_rows = self.docs.count()
        self.samples: dict[str, list[float]] = {"build": []}
        self.n_builds = 0
        self.last = None
        self.ingest: dict = {}

    def warmup(self, run: Run) -> None:
        """One small untimed build, so that the first timed one does not
        pay for loading and compiling the build path."""
        from eaststorm_searchengine_spark.operators.index_build import build_index

        with run.span("index_build.build_index"):
            build_index(run.spark, self.docs.limit(WARMUP_PAGES), run.path("warm_idx"),
                        text_col="html", from_html=True)

    def loop(self, run: Run, seconds: float, min_ops: int = MIN_BUILDS) -> None:
        from eaststorm_searchengine_spark.operators.index_build import build_index

        deadline = time.time() + seconds
        done = len(self.samples["build"])
        while True:
            out = run.path(f"idx{self.n_builds}")
            with run.op("build"):
                t = time.perf_counter()
                with run.span("index_build.build_index"):
                    stats = build_index(run.spark, self.docs, out, text_col="html", from_html=True)
                wall = time.perf_counter() - t
                run.check("build.n_docs", stats["n_docs"] == self.n_rows,
                          f"{stats['n_docs']} != {self.n_rows}")
                self.samples["build"].append(wall)
                if self.last is not None:
                    shutil.rmtree(self.last[0], ignore_errors=True)
                self.last = (out, stats)
            self.n_builds += 1
            if time.time() >= deadline and len(self.samples["build"]) - done >= min_ops:
                return

    def check(self, run: Run) -> None:
        """doclens.dl equals the textproc token count for sampled pages."""
        from pyspark.sql import functions as F

        from eaststorm_searchengine_spark import textproc
        from eaststorm_searchengine_spark.operators.index_build import IndexPaths

        if self.last is None:
            run.check("build.dl_sample", False, "no build finished")
            return
        ids = [int(x) for x in self.sample["doc_id"]]
        got = {
            r["doc_id"]: r["dl"]
            for r in run.spark.read.parquet(IndexPaths(self.last[0]).doclens)
            .filter(F.col("doc_id").isin(ids)).collect()
        }
        want = {
            int(d): len(textproc.extract_and_tokenize(h.decode("utf-8")))
            for d, h in zip(self.sample["doc_id"], self.sample["html"])
        }
        run.check("build.dl_sample", got == want, f"{len(got)} rows read back")

    def bytes_per_doc(self) -> float:
        if self.last is None:
            return 0.0
        return dir_bytes(self.last[0] + "/segments")[1] / max(1, self.n_rows)

    def named(self) -> dict[str, tuple[float, str]]:
        b = self.samples["build"]
        return {
            "build_docs_per_s": (self.n_rows / max(p50(b), 1e-9), "docs/s"),
            "index_bytes_per_doc": (self.bytes_per_doc(), "B/doc"),
            "builds": (float(len(b)), "count"),
            "pages": (float(self.n_rows), "count"),
        }

    def info(self, run: Run) -> dict:
        return {"ingest_cycle": self.ingest} if self.ingest else {}

    def layers(self, run: Run) -> dict[str, float]:
        out = probes.textproc_layer(list(self.sample["html"]) * 5)
        out.update(probes.codec_layer(run.spark, self.last[0]))
        out.update(probes.index_layer(run.spark, self.last[0], self.last[1],
                                      [s.dur for s in run.tracer.named("index_build.build_index") if s.op]))
        queries = inputs.page_queries(run.seed, self.name, BM25_QUERIES)
        bm25, agree = probes.bm25_layer(run.spark, self.last[0], queries)
        out.update(bm25)
        run.check("bm25.methods_equal_exhaustive", agree)
        batches = []
        for b in range(INGEST_BATCHES):
            path = run.path(f"ingest{b}.parquet")
            self.pdf.iloc[b * INGEST_PAGES : (b + 1) * INGEST_PAGES].to_parquet(path, index=False)
            batches.append((path, INGEST_PAGES))
        with run.op("ingest_cycle"):
            layers, self.ingest = probes.incremental_layer(run, batches, queries)
            out.update(layers)
        for path, _n in batches:
            os.remove(path)
        return out
