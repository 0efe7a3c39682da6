"""Vectorized pandas UDFs — the only Python/JVM boundary in the engine.

Each UDF is a thin Arrow-batched wrapper over the pure-Python parity
functions in ``textproc`` (per BASELINE.json input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python)").  Keeping the logic in
``textproc`` and only the batching here is what lets pytest verify the
byte-identical invariant against the very same code the cluster runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from .. import textproc


def _as_str(s: pd.Series) -> pd.Series:
    """binary/str column → str (html arrives as BinaryType per input_hint)."""
    return s.map(
        lambda v: v.decode("utf-8", errors="replace") if isinstance(v, (bytes, bytearray)) else v
    )


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(text: pd.Series) -> pd.Series:
    """Normalized text → body tokens (Indexer.java:129-140)."""
    return text.map(textproc.tokenize)


@pandas_udf(StringType())
def extract_title_udf(html: pd.Series) -> pd.Series:
    """<title> extraction (Crawler.java:823-846)."""
    return _as_str(html).map(textproc.extract_title)


@pandas_udf(StringType())
def extract_title_nonblank_udf(html: pd.Series) -> pd.Series:
    """<title> extraction with the ranker's blank test: titles that are
    empty or all Java whitespace become NULL, so a downstream coalesce
    falls back to the url exactly like the reference's ``t.isBlank()``
    (SearchServer.java) — including Unicode separators F.trim misses."""

    def f(h):
        t = textproc.extract_title(h)
        return None if t is None or textproc.java_is_blank(t) else t

    return _as_str(html).map(f)


@pandas_udf(ArrayType(StringType()))
def title_tokens_udf(title: pd.Series) -> pd.Series:
    """Title tokens (TitleIndexer.java:82-103); unique per title
    handled downstream via array_distinct."""
    return title.map(textproc.clean_title_tokens)


@pandas_udf(ArrayType(StringType()))
def url_tokens_udf(url: pd.Series) -> pd.Series:
    """URL path tokens minus stoplist (URLIndexer.java:80-107)."""
    return url.map(textproc.extract_tokens_from_url)


@pandas_udf(ArrayType(StringType()))
def alt_tokens_udf(html: pd.Series) -> pd.Series:
    """<img alt> tokens minus stoplist (ImageAltSelfIndexer.java:44-125)."""
    return _as_str(html).map(textproc.extract_alt_tokens)


@pandas_udf(ArrayType(StringType()))
def pagerank_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """PageRank link extraction+normalization, ≤500/page
    (PageRank.java:284-355)."""
    return pd.Series(
        [
            textproc.extract_links_for_pagerank(
                h.decode("utf-8", errors="replace") if isinstance(h, (bytes, bytearray)) else h, u
            )
            for h, u in zip(html, base_url)
        ]
    )


@pandas_udf(ArrayType(StringType()))
def pagerank_link_hosts_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """Fused link-extraction + target-host parse for the PageRank
    adjacency (PageRank.java:284-355 + :53-63): one Arrow pass emitting
    the deduped target-host list directly, instead of shipping full
    normalized URLs across the boundary and re-parsing them in a second
    UDF (the two-pass shape that regressed the bench).  Host grammar
    is the same URI.getHost-parity ``extract_host`` the page's own host
    uses.  Output order: first-seen (downstream sorts)."""

    def f(h, u):
        if isinstance(h, (bytes, bytearray)):
            h = h.decode("utf-8", errors="replace")
        out: list[str] = []
        seen: set[str] = set()
        for link in textproc.extract_links_for_pagerank(h, u):
            hh = textproc.extract_host(link)
            if hh and hh not in seen:
                seen.add(hh)
                out.append(hh)
        return out

    return pd.Series([f(h, u) for h, u in zip(html, base_url)])


@pandas_udf(StringType())
def host_udf(url: pd.Series) -> pd.Series:
    """Lowercased host (SearchServer.java:160-163, PageRank.java:53-63)."""
    return url.map(textproc.extract_host)


# Anchor-text extraction needs (target_url, position-indexed tokens) per
# <a> tag — returned as an array of structs for downstream explode.
from pyspark.sql.types import IntegerType, StructField, StructType  # noqa: E402

_ANCHOR_HIT = ArrayType(
    StructType(
        [
            StructField("target", StringType()),
            StructField("word", StringType()),
            StructField("position", IntegerType()),
        ]
    )
)

import re  # noqa: E402

_ANCHOR_RE = re.compile(r'(?i)<a\s+[^>]*href\s*=\s*"([^"]+)"[^>]*>(.*?)</a>')


def _anchor_hits(html) -> list[dict]:
    """(word, target, position) triples per page.
    Reference: AnchorTextIndexer.java:41-70 — regex
    ``(?i)<a\\s+[^>]*href\\s*=\\s*"([^"]+)"[^>]*>(.*?)</a>`` (no DOTALL,
    matching the Java pattern exactly); positions are 1-based token
    indexes within each anchor (AnchorTextIndexer.java:57-66)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    if not html:
        return []
    out = []
    for m in _ANCHOR_RE.finditer(html):
        target = textproc.java_trim(m.group(1))
        words = textproc.cleanup_anchor(m.group(2))
        for i, w in enumerate(words):
            if w:
                out.append({"target": target, "word": w, "position": i + 1})
    return out


@pandas_udf(_ANCHOR_HIT)
def anchor_hits_udf(html: pd.Series) -> pd.Series:
    return html.map(_anchor_hits)


# Combined per-page field terms: all four url-set index tokenizers in
# ONE pass over the corpus — the union-of-four-indexes shape reads the
# pages table four times (four UDF evaluations of the same rows); at
# 10^12 pages that is four full scans for one logical product.
_FIELD_TERMS_TYPE = ArrayType(
    StructType([StructField("field", StringType()), StructField("term", StringType())])
)


def _field_terms_row(html: str | None, url: str | None, text: str | None) -> list[dict]:
    out = []
    for t in set(textproc.tokenize(text)):
        out.append({"field": "body", "term": t})
    title = textproc.extract_title(html)
    if title is not None:
        for t in set(textproc.clean_title_tokens(title)):
            out.append({"field": "title", "term": t})
    for t in set(textproc.extract_tokens_from_url(url)):
        out.append({"field": "url", "term": t})
    for t in set(textproc.extract_alt_tokens(html)):
        out.append({"field": "imagealt", "term": t})
    return out


@pandas_udf(_FIELD_TERMS_TYPE)
def field_terms_udf(html: pd.Series, url: pd.Series, text: pd.Series) -> pd.Series:
    return pd.Series(
        [_field_terms_row(h, u, t) for h, u, t in zip(_as_str(html), url, text)]
    )


@pandas_udf(ArrayType(StringType()))
def link_hosts_udf(links: pd.Series) -> pd.Series:
    """Per-link-array host extraction with the SAME URI.getHost-parity
    parser the page's own host uses (textproc.extract_host) — the
    PageRank adjacency must not mix two host grammars
    (F.parse_url keeps e.g. underscore reg-names that URI.getHost
    rejects, silently changing out-degrees).  Null/empty hosts are
    dropped here."""
    # `arr if arr is not None else []`, NOT `arr or []`: Arrow delivers
    # array<string> elements as numpy arrays in some plans (e.g. after
    # a checkpoint/cache boundary), and bool(ndarray) with 2+ elements
    # raises — confirmed by execution
    return links.map(
        lambda arr: [
            h
            for h in (
                textproc.extract_host(u)
                for u in (arr if arr is not None else [])
            )
            if h
        ]
    )
