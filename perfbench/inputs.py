"""Seeded input generators. The same seed gives the same inputs.

Everything here is numpy and plain Python: no code of the package under
test runs while inputs are made, so a change to the package cannot
change what it is measured on. Inputs are regenerated in every run and
never cached across runs, so set-up time never depends on cache state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def rng_for(seed: int, tag: str) -> np.random.Generator:
    """An independent stream per (seed, purpose), so adding a draw for
    one purpose never shifts the inputs of another."""
    return np.random.default_rng([seed & 0xFFFFFFFF, sum(tag.encode()) * 7919 + len(tag)])


def vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words of 3-10 letters, in random order:
    index 0 is the most frequent word of a Zipf draw."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 11, size=n)
        idx = rng.integers(0, 26, size=(n, 10))
        for ln, row in zip(lens, idx):
            w = "".join(LETTERS[row[:ln]])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words, dtype=object)


def zipf_texts(rng: np.random.Generator, vocab: np.ndarray, n_docs: int,
               min_len: int, max_len: int, a: float) -> list[str]:
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    ranks = np.minimum(rng.zipf(a, size=int(lens.sum())), len(vocab)) - 1
    toks = vocab[ranks]
    ends = np.cumsum(lens)
    starts = ends - lens
    return [" ".join(toks[s:e]) for s, e in zip(starts, ends)]


HOSTS = [f"site{i:02d}.example.com" for i in range(40)] + [
    "en.wikipedia.org", "news.example.org", "blog.example.org", "docs.example.io",
]


def _page(doc_id: int, text: str, r: np.ndarray) -> str:
    """One HTML page around ``text``. ``r`` holds 4 random ints that pick
    the layout: script/style noise that extraction must drop, 3-6 block
    elements (a short one below the 50-character keep threshold), an
    entity, links and an image alt text."""
    words = text.split(" ")
    n_blocks = 3 + int(r[0]) % 4
    chunk = max(1, len(words) // n_blocks)
    tags = ("p", "div", "article", "section")
    host = HOSTS[int(r[1]) % len(HOSTS)]
    parts = [
        f"<!DOCTYPE html><html><head><title>{' '.join(words[:5])} &amp; more</title>",
        "<style>body { color: #333 } .noise { display: none }</style></head><body>",
        "<script>var trackerNoise = 42; /* dropped by extraction */</script>",
    ]
    for b in range(n_blocks):
        seg = words[b * chunk : (b + 1) * chunk] if b < n_blocks - 1 else words[b * chunk :]
        if not seg:
            break
        tag = tags[(int(r[2]) + b) % 4]
        body = " ".join(seg)
        if b == 1:
            body += f" see https://ref.example.com/x?id={doc_id}"
        parts.append(f'<{tag} class="c{b}">{body} <b>edition {doc_id % 13}</b></{tag}>')
    if int(r[3]) % 3 == 0:
        parts.append("<div>short block</div>")
    for j in range(2 + int(r[3]) % 3):
        parts.append(f'<a href="https://{host}/doc-{(doc_id * 31 + j) % 100003}.html">'
                     f"{' '.join(words[j:j + 2])}</a>")
    parts.append(f'<img src="i{doc_id % 5}.png" alt="photo of {words[-1]}"></body></html>')
    return "".join(parts)


def pages(seed: int, tag: str, n_pages: int, vocab_size: int = 20_000) -> pd.DataFrame:
    """(doc_id long, url string, html binary): web pages whose body text
    is Zipf(1.2) over a ``vocab_size`` vocabulary, 40-300 words each.
    The seed also permutes which doc id each page gets."""
    rng = rng_for(seed, tag)
    vocab = vocabulary(rng, vocab_size)
    texts = zipf_texts(rng, vocab, n_pages, 40, 300, 1.2)
    ids = rng.permutation(n_pages).astype(np.int64)
    layout = rng.integers(0, 1 << 30, size=(n_pages, 4))
    html = [_page(int(d), t, r).encode() for d, t, r in zip(ids, texts, layout)]
    urls = [f"https://{HOSTS[int(r[1]) % len(HOSTS)]}/doc-{int(d)}.html"
            for d, r in zip(ids, layout)]
    return pd.DataFrame({"doc_id": ids, "url": urls, "html": html})


def page_queries(seed: int, tag: str, n: int, vocab_size: int = 20_000) -> list[tuple[int, str]]:
    """Two-word queries over the vocabulary of ``pages(seed, tag)``: one
    word of middling frequency and one rarer word."""
    vocab = vocabulary(rng_for(seed, tag), vocab_size)  # the same draw pages() makes first
    rng = rng_for(seed, tag + ":queries")
    mid = rng.integers(20, 200, size=n)
    rare = rng.integers(200, 2000, size=n)
    return [(i + 1, f"{vocab[a]} {vocab[b]}") for i, (a, b) in enumerate(zip(mid, rare))]


def near_dup_docs(seed: int, n_docs: int, vocab_size: int = 20_000) -> pd.DataFrame:
    """(doc_id, text): documents with the body text of ``pages`` (Zipf(1.2)
    words, 40-300 per document), of which three in twenty form
    near-duplicate clusters: an original and two copies, each copy with
    2 % of its words (at least one) replaced. Copies of one original
    share well over half of their word 3-grams. The frequent words make
    hot 3-grams shared by a large part of the collection, as web text
    does, so the n-gram self-join is dominated by a few grams."""
    rng = rng_for(seed, "near_dup_docs")
    vocab = vocabulary(rng, vocab_size)
    texts = zipf_texts(rng, vocab, n_docs, 40, 300, 1.2)
    for c in range(n_docs // 20):
        words = texts[3 * c].split(" ")
        for j in (1, 2):
            copy = list(words)
            n_sub = max(1, len(copy) // 50)
            for pos in rng.choice(len(copy), n_sub, replace=False):
                copy[pos] = vocab[int(rng.integers(0, vocab_size))]
            texts[3 * c + j] = " ".join(copy)
    ids = rng.permutation(n_docs).astype(np.int64)
    return pd.DataFrame({"doc_id": ids, "text": texts})


def embeddings(seed: int, n: int, dim: int, n_clusters: int = 40) -> pd.DataFrame:
    """(vec_id long, embedding array<double>): ``n`` vectors around
    ``n_clusters`` Gaussian centres, so a coarse quantizer has structure
    to find."""
    rng = rng_for(seed, "embeddings")
    centres = rng.normal(size=(n_clusters, dim))
    X = centres[rng.integers(0, n_clusters, size=n)] + 0.35 * rng.normal(size=(n, dim))
    ids = rng.permutation(n).astype(np.int64)
    return pd.DataFrame({"vec_id": ids, "embedding": [row.tolist() for row in X]})


def query_vectors(seed: int, vecs: np.ndarray, n: int) -> list[tuple[int, list[float]]]:
    """``n`` query vectors (query_id, vector): corpus vectors with a
    little noise, so each query has true neighbours to recall."""
    rng = rng_for(seed, "query_vectors")
    picks = rng.integers(0, len(vecs), size=n)
    Q = vecs[picks] + 0.1 * rng.normal(size=(n, vecs.shape[1]))
    return [(i + 1, row.tolist()) for i, row in enumerate(Q)]
