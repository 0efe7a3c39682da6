"""Parity jobs vs pure-Python oracles over the synthetic pages corpus:
the five indexers, host-level PageRank (fixpoint incl. per-iteration
8-dp quantization, dangling mass, social/wiki report) and the composite
SearchServer ranker.  The oracles are independent reimplementations on
top of textproc (which is itself golden-tested against the reference
binary), so these checks close the loop: Spark job == reference
semantics.
"""

import collections
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest

from eaststorm_searchengine_spark import corpus, textproc
from eaststorm_searchengine_spark.operators import indexers, pagerank, search

SF = "/root/testdata/sf0.001"
N_DOCS = 500


@pytest.fixture(scope="module")
def page_rows(spark):
    import duckdb

    rows = duckdb.sql(
        f"select doc_id, text, lang from '{SF}/documents.parquet' order by doc_id"
    ).fetchall()
    return [
        corpus.page_record(int(d), t or "", l or "", N_DOCS) | {"doc_id": int(d)}
        for d, t, l in rows
    ]


@pytest.fixture(scope="module")
def pages_df(spark):
    return corpus.synthesize_pages(spark, SF).cache()


def test_title_index(spark, page_rows, pages_df):
    want = collections.defaultdict(set)
    for r in page_rows:
        title = textproc.extract_title(r["html"].decode())
        if title is None:
            continue
        for t in set(textproc.clean_title_tokens(title)):
            want[t].add(r["url"])
    got = {
        r["term"]: list(r["urls"]) for r in indexers.title_index(pages_df).collect()
    }
    assert got == {t: sorted(v) for t, v in want.items()}


def test_url_index(spark, page_rows, pages_df):
    want = collections.defaultdict(set)
    for r in page_rows:
        for t in textproc.extract_tokens_from_url(r["url"]):
            want[t].add(r["url"])
    got = {r["term"]: list(r["urls"]) for r in indexers.url_index(pages_df).collect()}
    assert got == {t: sorted(v) for t, v in want.items()}


def test_body_index(spark, page_rows, pages_df):
    want = collections.defaultdict(set)
    for r in page_rows:
        for t in set(textproc.tokenize(r["text"])):
            want[t].add(r["url"])
    got = {r["term"]: list(r["urls"]) for r in indexers.body_index(pages_df).collect()}
    assert got == {t: sorted(v) for t, v in want.items()}


def test_imagealt_index(spark, page_rows, pages_df):
    want = collections.defaultdict(set)
    for r in page_rows:
        for t in set(textproc.extract_alt_tokens(r["html"].decode())):
            want[t].add(r["url"])
    got = {
        r["term"]: list(r["urls"]) for r in indexers.imagealt_index(pages_df).collect()
    }
    assert got == {t: sorted(v) for t, v in want.items()}


def test_anchor_index(spark, page_rows, pages_df):
    from eaststorm_searchengine_spark.functions.udfs import _anchor_hits

    per_term = collections.defaultdict(lambda: collections.defaultdict(set))
    for r in page_rows:
        for h in _anchor_hits(r["html"]):
            per_term[h["word"]][h["target"]].add(h["position"])
    want = {}
    for term, urls in per_term.items():
        ordered = sorted(urls.items(), key=lambda kv: (-len(kv[1]), kv[0]))
        want[term] = [(u, sorted(ps)) for u, ps in ordered]
    got = {
        r["term"]: [(p["url"], list(p["positions"])) for p in r["postings"]]
        for r in indexers.anchor_index(pages_df).collect()
    }
    assert got == want


# ---- pagerank ------------------------------------------------------------

def _round8(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP))


def _python_pagerank(page_rows):
    adj = collections.defaultdict(set)
    for r in page_rows:
        host = textproc.extract_host(r["url"])
        if host is None:
            continue
        links = textproc.extract_links_for_pagerank(r["html"].decode(), r["url"])
        dsts = {textproc.extract_host(u) for u in links}
        dsts.discard(None)
        dsts.discard("")
        adj[host] |= dsts
    n = len(adj)
    init = 1.0 / n
    ranks = {h: init for h in adj}
    for it in range(pagerank.MAX_ITERATIONS):
        joined = {h: ranks[h] for h in adj if h in ranks}
        dangling = sum(r for h, r in joined.items() if not adj[h])
        dc = dangling / n
        incoming = collections.defaultdict(float)
        for h in joined:
            incoming[h] += 0.0
            if adj[h]:
                c = joined[h] / len(adj[h])
                for d in sorted(adj[h]):
                    incoming[d] += c
        new_ranks = {
            h: _round8((1 - pagerank.DECAY) / n + pagerank.DECAY * (inc + dc))
            for h, inc in incoming.items()
        }
        # reference convergence: consecutive iterations (the transition
        # just computed), returning the NEW ranks (PageRank.java:213-236).
        # Checked on EVERY delta including the first — the engine tests
        # diff(r1, r0) before its second update, so guarding with
        # `it > 0` here would diverge on first-delta convergence
        # (code-review r04 off-by-one)
        diff = sum(abs(new_ranks[h] - ranks[h]) for h in ranks if h in new_ranks)
        if diff < pagerank.CONVERGENCE_THRESHOLD * n:
            return new_ranks
        ranks = new_ranks
    return ranks


def test_pagerank_fixpoint(spark, page_rows, pages_df):
    want = _python_pagerank(page_rows)
    got = {
        r["host"]: float(r["rank"])
        for r in pagerank.pagerank(pagerank.build_host_graph(pages_df)).collect()
    }
    assert set(got) == set(want)
    for h in want:
        assert abs(got[h] - want[h]) < 1e-9, h


def test_pagerank_report(spark, page_rows, pages_df):
    ranks = _python_pagerank(page_rows)
    adjusted = {}
    wiki_sum = 0.0
    for h, v in ranks.items():
        if h in set(pagerank.SOCIAL_MEDIA):
            v *= 0.10
        if any(h.endswith(s) for s in pagerank.WIKI_SUFFIXES):
            wiki_sum += v
        else:
            adjusted[h] = v
    adjusted["WikiFamily(all)"] = wiki_sum
    got = {
        r["host"]: float(r["rank"])
        for r in pagerank.pagerank_pipeline(pages_df).collect()
    }
    assert set(got) == set(adjusted)
    for h in adjusted:
        assert abs(got[h] - adjusted[h]) < 1e-9, h


# ---- composite ranker ------------------------------------------------------

def _python_composite(page_rows, queries, ranks):
    title_idx = collections.defaultdict(set)
    url_idx = collections.defaultdict(set)
    titles = {}
    for r in page_rows:
        title = textproc.extract_title(r["html"].decode())
        if title is not None:
            titles[r["url"]] = title
            for t in set(textproc.clean_title_tokens(title)):
                title_idx[t].add(r["url"])
        for t in textproc.extract_tokens_from_url(r["url"]):
            url_idx[t].add(r["url"])

    out = []
    for qid, q in queries:
        import re

        terms = re.split(r"[ \t\n\x0b\f\r]+", q.lower())
        while terms and terms[-1] == "":
            terms.pop()
        scores = collections.defaultdict(float)
        for t in terms:
            for idx, w in [(title_idx, search.WEIGHT_TITLE), (url_idx, search.WEIGHT_URL)]:
                urls = idx.get(t)
                if not urls:
                    continue
                idf = math.log(search.TOTAL_DOCS_ESTIMATE / (1.0 + len(urls)))
                for u in urls:
                    scores[u] += w * idf
        for u in list(scores):
            host = textproc.extract_host(u)
            if host in ranks:
                scores[u] += ranks[host] * search.WEIGHT_PAGERANK
        top60 = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:60]
        ql = textproc.java_trim(q).lower()
        boosted = []
        for u, s in top60:
            title = titles.get(u, u)
            tl = title.lower()
            if tl == ql:
                s += 50.0
            elif tl.startswith(ql):
                s += 25.0
            boosted.append((u, s, title))
        boosted.sort(key=lambda x: (-x[1], x[0]))
        for rank, (u, s, title) in enumerate(boosted[:50], 1):
            out.append((qid, rank, u, round(s, 6), title))
    return out


def test_composite_search(spark, page_rows, pages_df):
    ranks = _python_pagerank(page_rows)
    queries = [(1, "research"), (2, "articles guide"), (3, "Wiki Story"), (4, "zzz")]
    t_idx = indexers.title_index(pages_df)
    u_idx = indexers.url_index(pages_df)
    ranks_df = pagerank.pagerank(pagerank.build_host_graph(pages_df))
    got = [
        (r["query_id"], int(r["rank"]), r["url"], round(float(r["score"]), 6), r["title"])
        for r in search.composite_search(
            spark, queries, t_idx, u_idx, ranks_df, pages_df
        ).collect()
    ]
    want = _python_composite(page_rows, queries, ranks)
    assert got == want


def test_field_indexes_single_pass_equals_union_of_four(spark, pages_df):
    """The one-pass combined builder must equal the union of the four
    individual index builders exactly (field, term, sorted urls)."""
    from pyspark.sql import functions as F

    pages = pages_df.cache()
    combined = {
        (r.field, r.term): list(r.urls)
        for r in indexers.field_indexes(pages).collect()
    }
    union = {}
    for name, idx in [
        ("body", indexers.body_index(pages)),
        ("title", indexers.title_index(pages)),
        ("url", indexers.url_index(pages)),
        ("imagealt", indexers.imagealt_index(pages)),
    ]:
        for r in idx.collect():
            union[(name, r.term)] = list(r.urls)
    assert combined == union and len(combined) > 0


def test_host_graph_survives_checkpoint_barrier(spark, pages_df):
    """link_hosts_udf must accept links delivered as numpy arrays (the
    Arrow form behind a checkpoint/cache boundary), not just the
    freshly-chained Python lists (code-review r04b: `arr or []` raised
    on 2+-element ndarrays)."""
    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.functions.udfs import (
        host_udf,
        link_hosts_udf,
        pagerank_links_udf,
    )

    per_page = pages_df.select(
        host_udf("url").alias("host"),
        pagerank_links_udf("html", "url").alias("links"),
    ).localCheckpoint()  # forces links through an Arrow materialization
    out = per_page.select(F.array_distinct(link_hosts_udf("links")).alias("dsts"))
    n = out.filter(F.size("dsts") >= 2).count()
    assert n > 0  # multi-link pages exercised the ndarray path


def test_fused_link_hosts_udf_equals_two_pass(spark, pages_df):
    """The r5 fused pagerank_link_hosts_udf (one Arrow pass) must equal
    the r4 two-UDF chain (extract links, then parse hosts) up to
    ordering — build_host_graph sorts downstream, so compare as sets."""
    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.functions.udfs import (
        link_hosts_udf,
        pagerank_link_hosts_udf,
        pagerank_links_udf,
    )

    fused = pages_df.select(
        "url", F.array_sort(pagerank_link_hosts_udf("html", "url")).alias("dsts")
    )
    two_pass = pages_df.select(
        "url",
        F.array_sort(
            F.array_distinct(link_hosts_udf(pagerank_links_udf("html", "url")))
        ).alias("dsts"),
    )
    a = {r["url"]: list(r["dsts"]) for r in fused.collect()}
    b = {r["url"]: list(r["dsts"]) for r in two_pass.collect()}
    assert a == b and len(a) > 0


def test_pagerank_driver_gate_matches_distributed(spark, pages_df):
    """r10: the small-graph driver fixpoint (size gate) must equal the
    distributed iteration exactly — force each path via
    driver_edge_threshold on the same host graph."""
    links = pagerank.build_host_graph(pages_df)
    drv = sorted(
        (r["host"], float(r["rank"]))
        for r in pagerank.pagerank(links, driver_edge_threshold=1 << 40).collect()
    )
    dist = sorted(
        (r["host"], float(r["rank"]))
        for r in pagerank.pagerank(links, driver_edge_threshold=0).collect()
    )
    assert drv == dist and len(drv) > 0


def test_pagerank_many_hosts_few_edges_takes_distributed_loop(spark, monkeypatch):
    """The driver gate bounds hosts as well as edges: a graph with few
    edges but more hosts than ``driver_edge_threshold`` runs the
    distributed loop, and its ranks equal the driver fixpoint's."""
    from eaststorm_searchengine_spark.functions.frames import local_frame

    rows = [(f"h{i:02d}.example", []) for i in range(30)]
    rows[0] = ("h00.example", ["h01.example", "h02.example"])
    rows[5] = ("h05.example", ["h00.example"])
    links = local_frame(spark, rows, "host string, dsts array<string>")
    drv = sorted(
        (r["host"], float(r["rank"]))
        for r in pagerank.pagerank(links, driver_edge_threshold=1 << 40).collect()
    )
    calls = []
    real = pagerank._pagerank_driver
    monkeypatch.setattr(
        pagerank, "_pagerank_driver", lambda *a, **kw: calls.append(a) or real(*a, **kw)
    )
    dist = sorted(
        (r["host"], float(r["rank"]))
        for r in pagerank.pagerank(links, driver_edge_threshold=10).collect()
    )
    assert calls == []
    assert dist == drv and len(drv) == 30
