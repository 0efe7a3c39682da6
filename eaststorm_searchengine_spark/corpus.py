"""Deterministic synthetic web-page corpus (FIXTURES.md §1).

Synthesizes the ``pages`` input table with the exact BASELINE.json
``input_hint`` schema — ``(url string, warc_ts timestamp, html binary,
text string, lang string)`` — from the driver-provided
``documents.parquet`` raw-text feedstock.  Modeled on the reference's
checked-in fixtures (``/root/reference/examples/pt-crawl/``: small
synthetic text pages with relative links).

Every page is a *pure function of (doc_id, text, lang, n_docs)* — no
RNG state — so any row can be recomputed independently by a test, an
executor, or the DuckDB oracle-prep step.  The HTML deliberately
exercises every extraction path of ``jobs/Indexer.java:83-141``:
script/style noise, blocks above and below the 50-char keep threshold,
a <80-char-total fallback page every 37th doc, entities, absolute +
relative + junk links (≤500/page, ``Crawler.java:284``), and
``<img alt>`` attributes.

The ``text`` column is the golden value: ``textproc.extract_text(html)``
— the engine's UDF must reproduce it byte-identically per url.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd

from . import textproc
from .functions.frames import ensure_parallelism

# Host pool (~50 hosts) incl. wiki-family and social hosts so the
# PageRank adjustments (PageRank.java:14-37) have signal.
HOSTS: list[str] = (
    [f"site{i:02d}.example.com" for i in range(38)]
    + [
        "en.wikipedia.org",
        "de.wikipedia.org",
        "en.wiktionary.org",
        "commons.wikimedia.org",
        "www.facebook.com",
        "twitter.com",
        "www.youtube.com",
        "reddit.com",
        "news.example.org",
        "blog.example.org",
        "shop.example.net",
        "docs.example.io",
    ]
)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _h(doc_id: int, salt: str) -> int:
    d = hashlib.blake2b(f"{salt}:{doc_id}".encode(), digest_size=8).digest()
    return int.from_bytes(d, "big")


def page_url(doc_id: int) -> str:
    """Canonical ``scheme://host:port/path`` (reference normalization,
    ``Crawler.java:651-661``)."""
    host = HOSTS[_h(doc_id, "host") % len(HOSTS)]
    scheme = "https" if _h(doc_id, "scheme") % 4 else "http"
    port = 443 if scheme == "https" else 80
    seg_pool = ["articles", "topics", "research", "archive", "notes",
                "library", "papers", "guide", "wiki", "story"]
    seg = seg_pool[_h(doc_id, "seg") % len(seg_pool)]
    return f"{scheme}://{host}:{port}/{seg}/doc-{doc_id}.html"


def _words(text: str) -> list[str]:
    return [w for w in text.split() if w]


def page_html(doc_id: int, text: str, lang: str, n_docs: int) -> str:
    """Deterministic HTML for one document."""
    words = _words(text)
    title_words = words[:6] if words else [f"untitled {doc_id}"]
    title = " ".join(title_words)
    h = _h(doc_id, "layout")

    parts: list[str] = []
    lang_attr = f' lang="{lang}"' if lang else ""
    parts.append(f"<!DOCTYPE html><html{lang_attr}><head>")
    parts.append(f"<title>{title} &amp; notes &#39;{doc_id % 97}&#39;</title>")
    parts.append("<style>body { color: #222; ignored-token-xyzzy }</style>")
    parts.append("</head><body>")
    parts.append("<script>var tracker_noise_token = 12345; /* must vanish */</script>")

    # fallback page: almost no block text (Indexer.java:109-112 path)
    if doc_id % 37 == 0:
        parts.append(f"<span>tiny {title_words[0]}</span>")
    else:
        # body blocks: split words into chunks; alternate tags; some
        # chunks are made short (≤50 chars) to exercise the block filter.
        tags = ["p", "div", "article", "section"]
        n_blocks = 3 + (h % 4)
        chunk = max(1, len(words) // max(n_blocks, 1))
        for b in range(n_blocks):
            seg = words[b * chunk : (b + 1) * chunk]
            if not seg:
                break
            tag = tags[(h + b) % 4]
            if b == n_blocks - 1 and _h(doc_id, f"short{b}") % 3 == 0:
                seg = seg[:3]  # likely ≤50 chars → dropped by block filter
            body = " ".join(seg)
            if b == 1:
                body += f' see https://ref{doc_id % 7}.example.com/x?id={doc_id}'
            attr = f' class="c{b}"' if b % 2 else ""
            parts.append(f"<{tag}{attr}>{body} <b>edition {doc_id % 13}</b></{tag}>")

    # links: absolute (deterministic targets), relative, junk schemes
    k = 2 + (h % 4)
    for j in range(k):
        tgt = (doc_id * 31 + j * 7 + 1) % max(n_docs, 1)
        parts.append(
            f'<a href="{page_url(tgt)}">{" ".join(_words(text)[j : j + 3]) or "link"}</a>'
        )
    parts.append(f'<a href="related-{doc_id % 11}.html">related {title_words[0]}</a>')
    parts.append('<a href="javascript:void(0)">click</a>')
    parts.append('<a href="mailto:x@example.com">mail</a>')

    alt_pool = ["mountain landscape photo", "city skyline at night",
                "portrait of a scientist", "logo", "diagram of the method",
                "1234"]
    parts.append(f'<img src="i{doc_id % 5}.png" alt="{alt_pool[h % len(alt_pool)]}">')
    parts.append("</body></html>")
    return "".join(parts)


def page_record(doc_id: int, text: str, lang: str, n_docs: int) -> dict:
    html = page_html(doc_id, text, lang, n_docs)
    return {
        "url": page_url(doc_id),
        "warc_ts": _EPOCH + timedelta(seconds=int(doc_id)),
        "html": html.encode("utf-8"),
        "text": textproc.extract_text(html),
        "lang": lang,
    }


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def synthesize_pages(spark, sf_dir: str):
    """documents.parquet → pages DataFrame, distributed via mapInPandas
    (each executor synthesizes its split independently — scales to any
    corpus size; no driver-side materialization)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    docs = ensure_parallelism(docs)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                page_record(int(r.doc_id), r.text or "", r.lang or "", n_docs)
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return docs.select("doc_id", "text", "lang").mapInPandas(gen, PAGES_SCHEMA)


def pages_with_ids(spark, sf_dir: str):
    """pages + the stable int64 doc_id (same id space as documents)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    docs = ensure_parallelism(docs)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                rec = page_record(int(r.doc_id), r.text or "", r.lang or "", n_docs)
                rec["doc_id"] = int(r.doc_id)
                rows.append(rec)
            yield pd.DataFrame(
                rows, columns=["doc_id", "url", "warc_ts", "html", "text", "lang"]
            )

    return docs.select("doc_id", "text", "lang").mapInPandas(
        gen, "doc_id long, " + PAGES_SCHEMA
    )


def zipf_word(rank: int) -> str:
    """Alphabetic token for Zipf rank (the body tokenizer keeps only
    ``[a-z]+`` full matches, so digits would be silently dropped)."""
    s = []
    r = int(rank)
    while True:
        s.append(chr(ord("a") + r % 26))
        r //= 26
        if r == 0:
            break
    return "q" + "".join(s)


def synthesize_zipf_docs(spark, n_docs: int, vocab: int = 50_000,
                         min_len: int = 40, max_len: int = 120, seed: int = 7):
    """Deterministic Zipf-vocabulary corpus → (doc_id, text).

    The driver's synthetic documents have a 31-term vocabulary where
    every term matches most documents — the structural worst case for
    block-max WAND (uniform idf, nothing skippable).  Real webtext is
    Zipf-distributed; this corpus reproduces that shape so the engine's
    decode-skip behavior can be measured through the real segment store.
    Token ``zipf_word(r)`` has Zipf(1.5) rank r; each
    doc is seeded by its doc_id, so the corpus is identical at any
    partitioning/parallelism.
    """
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["id"]:
                rng = np.random.RandomState((seed * 1_000_003 + int(did)) % (2**31))
                length = int(rng.randint(min_len, max_len + 1))
                ranks = np.clip(rng.zipf(1.5, size=length), 1, vocab)
                rows.append((int(did), " ".join(zipf_word(r) for r in ranks)))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    base = spark.range(n_docs).repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    return base.mapInPandas(gen, "doc_id long, text string")


def synthesize_skew_docs(spark, n_docs: int, vocab: int = 10_000,
                         tokens_per_doc: int = 60, hot_fraction: float = 0.0,
                         seed: int = 11):
    """Deterministic uniform-vocabulary corpus for the skew flood bench
    → (doc_id, text).  Every doc carries exactly
    ``tokens_per_doc`` tokens drawn uniformly from an alphabetic vocab
    (doc_id-seeded — identical at any partitioning).  With
    ``hot_fraction`` > 0, that fraction of documents get the single hot
    term ``zipf_word(0)`` (outside the uniform rank range 1..vocab) as
    their FIRST token — one term's posting list then spans
    ``hot_fraction`` of the corpus, the stopword flood the salted
    (bucket, chunk) shuffle must bound.  Replacement, not
    insertion: total token mass is identical between ``hot_fraction=0``
    and ``>0``, so any build-time delta is pure skew handling."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hot = zipf_word(0)
        for pdf in batches:
            rows = []
            for did in pdf["id"]:
                rng = np.random.RandomState((seed * 1_000_003 + int(did)) % (2**31))
                ranks = rng.randint(1, vocab + 1, size=tokens_per_doc)
                toks = [zipf_word(r) for r in ranks]
                if rng.rand() < hot_fraction:
                    toks[0] = hot
                rows.append((int(did), " ".join(toks)))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    base = spark.range(n_docs).repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    return base.mapInPandas(gen, "doc_id long, text string")


# Shared Zipf bench query sets (single source for every Zipf bench, so
# their decode-fraction numbers stay comparable).
# Anchored: one selective term with per-chunk df >= k (the block-
# skipping-favorable shape); dense controls: common-terms-only (the
# shape where MaxScore has the least to skip).
ZIPF_ANCHORED_RANKS = [
    (2, 40, 500), (1, 55, 620), (3, 33, 410), (5, 70, 777),
    (4, 48, 555), (6, 90, 840), (8, 61, 465), (10, 77, 905),
    (13, 85, 700), (15, 99, 1000),
]
ZIPF_DENSE_RANKS = [(1, 2, 3), (4, 5, 6)]


def zipf_queries(rank_sets, start_id: int = 1) -> list:
    return [
        (start_id + i, " ".join(zipf_word(r) for r in ranks))
        for i, ranks in enumerate(rank_sets)
    ]


def replicate_with_ids(df, replicas: int, n_rows: int, id_col: str = "doc_id"):
    """Replicate a corpus with disjoint id ranges in ONE pass: a
    broadcast cross-join against the replica index, instead of an
    N-arm union whose every branch re-runs the upstream synthesis
    (the loop was once copy-pasted in bench.py and scaling.py and
    re-synthesized the base corpus once per replica)."""
    from pyspark.sql import functions as F

    reps = df.sparkSession.range(replicas).select(F.col("id").alias("__rep"))
    return (
        df.crossJoin(F.broadcast(reps))
        .withColumn(id_col, F.col(id_col) + F.col("__rep") * F.lit(n_rows))
        .drop("__rep")
    )
