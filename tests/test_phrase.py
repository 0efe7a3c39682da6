"""Phrase search vs a pure-Python oracle: exact consecutive-position
matching + BM25 ranking over the phrase terms."""

import math
import os
import shutil

import pytest

from eaststorm_searchengine_spark import textproc
from eaststorm_searchengine_spark.functions import sqltok
from eaststorm_searchengine_spark.operators.bm25 import BM25Index, bm25_idf
from eaststorm_searchengine_spark.operators.index_build import build_index_fast

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, "_tmp", "t_phrase_idx")


@pytest.fixture(scope="module")
def rows(spark):
    return [
        (int(r["doc_id"]), r["text"] or "")
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    ]


@pytest.fixture(scope="module")
def idx(spark):
    shutil.rmtree(TMP, ignore_errors=True)
    build_index_fast(spark, spark.read.parquet(f"{SF}/documents.parquet"), TMP)
    return BM25Index(spark, TMP)


def _python_phrase(rows, phrase, k=10):
    terms = textproc.tokenize(phrase.lower())
    toks = {d: textproc.tokenize(t) for d, t in rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in set(terms)}
    out = {}
    for d, v in toks.items():
        hit = any(
            v[i : i + len(terms)] == terms for i in range(len(v) - len(terms) + 1)
        )
        if not hit:
            continue
        s = 0.0
        for t in sorted(set(terms)):
            tf = v.count(t)
            s += bm25_idf(df[t], n) * (tf * (sqltok.K1 + 1)) / (
                tf + sqltok.K1 * (1 - sqltok.B + sqltok.B * len(v) / avgdl)
            )
        out[d] = s
    ranked = sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, round(s, 4)) for d, s in ranked]


def _pick_phrases(rows):
    """Bigrams/trigrams that actually occur, plus one that doesn't."""
    toks0 = textproc.tokenize(rows[0][1])
    toks1 = textproc.tokenize(rows[1][1])
    return [
        " ".join(toks0[:2]),
        " ".join(toks1[3:6]),
        " ".join(toks0[:1]),  # single-term phrase == term query
        "zz yy xx",  # absent
    ]


def test_phrase_search_matches_python_oracle(spark, rows, idx):
    phrases = _pick_phrases(rows)
    qs = list(enumerate(phrases, 1))
    got_df = idx.phrase_search(qs, k=10, score_round=4).collect()
    got = {}
    for r in got_df:
        got.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
    for qid, phrase in qs:
        want = _python_phrase(rows, phrase, k=10)
        assert got.get(qid, []) == want, f"phrase {phrase!r}"
    # the occurring phrases must actually match something
    assert got.get(1), "first bigram should hit"
