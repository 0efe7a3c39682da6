"""Host-level PageRank — DataFrame-iterative rewrite of
``jobs/PageRank.java:39-278`` with the reference's exact semantics:

* damping 0.85, ≤ 20 iterations, stop when Σ|Δ| < 1e-4·N
  (``PageRank.java:10-12, 230-233``)
* graph: host → set of linked hosts per crawled page, link extraction
  capped at 500/page (``:46-99, 284``); nodes = hosts with crawled
  pages (link *targets* receive rank but are not nodes)
* dangling mass redistributed uniformly (``:140-167``)
* per-iteration ranks quantized to 8 decimals — the reference stores
  ranks as ``String.format("%.8f")`` strings between iterations
  (``:206``), so the quantization is part of the fixpoint semantics;
  we reproduce it with HALF_UP rounding (= Java's format behavior)
* final report: social hosts ×0.10, wiki-family ranks summed into one
  ``WikiFamily(all)`` entry (``:243-277``)

Scale notes: each iteration is one shuffle join (links ⋈ ranks) + one
aggregation; ``localCheckpoint`` cuts lineage so 20 iterations don't
stack a 20-deep plan; the links table is computed once and cached.
Ranks quantization keeps the loop deterministic across partitionings
(sum order differences vanish below 1e-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from ..functions.udfs import host_udf

DECAY = 0.85
MAX_ITERATIONS = 20
CONVERGENCE_THRESHOLD = 0.0001

# Reference: PageRank.java:14-23
SOCIAL_MEDIA = [
    "facebook.com", "www.facebook.com",
    "twitter.com", "www.twitter.com", "x.com",
    "instagram.com", "www.instagram.com",
    "youtube.com", "www.youtube.com",
    "tiktok.com", "www.tiktok.com",
    "linkedin.com", "www.linkedin.com",
    "reddit.com", "www.reddit.com",
    "pinterest.com", "www.pinterest.com",
]

# Reference: PageRank.java:25-37
WIKI_SUFFIXES = [
    ".wikipedia.org", ".wiktionary.org", ".wikibooks.org", ".wikiquote.org",
    ".wikinews.org", ".wikivoyage.org", ".wikiversity.org", ".wikidata.org",
    ".wikimedia.org",
]


def build_host_graph(pages: DataFrame) -> DataFrame:
    """pages → adjacency (host, dsts array<string>).  Reference:
    ``PageRank.java:46-99``: per page, the set of target hosts; per
    host, the union over its pages.  Self-loops are kept (the reference
    keeps them).  Canonical order: sorted dsts.

    Source AND target hosts come from the same URI.getHost-parity
    parser (``extract_host``, fused into ``pagerank_link_hosts_udf``) —
    an earlier version parsed targets with ``F.parse_url(.., 'HOST')``,
    which accepts reg-names URI.getHost rejects (e.g. underscores),
    silently changing out-degrees vs the reference.
    Extraction and host-parse are ONE Arrow pass (an earlier two-UDF
    chain shipped full URL strings between passes and regressed the
    bench 1.97→5.7 s)."""
    from ..functions.udfs import pagerank_link_hosts_udf

    link_hosts = pages.select(
        host_udf("url").alias("host"),
        pagerank_link_hosts_udf("html", "url").alias("dsts"),
    ).filter(F.col("host").isNotNull())
    return link_hosts.groupBy("host").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("dsts")))).alias("dsts")
    )


def _pagerank_driver(
    spark, links: DataFrame, n_hosts: int, max_iterations: int
) -> DataFrame:
    """Driver-side fixpoint for SMALL graphs — the same small-side
    escape hatch as connected_components' union-find: a handful
    of hosts pays ~2 Spark jobs per iteration in pure scheduling
    latency, while the identical arithmetic runs in microseconds
    driver-side.  Semantics replicated exactly: per-iteration HALF_UP
    quantization to 8 decimals (``_round_half_up`` — bit-parity with
    Spark's round(double, 8)), dangling over zero-out-degree graph
    nodes only, L1 convergence against the previous iteration, and
    the contribution sum order differences vanish below the
    quantization exactly as they do across partitionings (module
    doc); equality with the distributed loop is pytest-gated."""
    from .bm25 import _round_half_up

    adj = {r["host"]: list(r["dsts"]) for r in links.collect()}
    init = 1.0 / n_hosts
    nd = {h: len(d) for h, d in adj.items()}
    ranks: dict[str, float] = {h: init for h in adj}
    old: dict[str, float] | None = None
    for it in range(max_iterations):
        dangling = sum(r for h, r in ranks.items() if nd.get(h, -1) == 0)
        if it > 0 and old is not None:
            diff = sum(abs(r - old[h]) for h, r in ranks.items() if h in old)
            if diff < CONVERGENCE_THRESHOLD * n_hosts:
                break
        dc = dangling / n_hosts
        incoming: dict[str, float] = {}
        for h, dsts in adj.items():
            r = ranks[h]
            incoming.setdefault(h, 0.0)  # the 0.0 self-struct
            if dsts:
                c = r / len(dsts)
                for d in dsts:
                    incoming[d] = incoming.get(d, 0.0) + c
        base = (1 - DECAY) / n_hosts
        old = ranks
        ranks = {
            h: _round_half_up(base + DECAY * (inc + dc), 8)
            for h, inc in incoming.items()
        }
    return local_frame(spark, sorted(ranks.items()), "host string, rank double")


def pagerank(
    links: DataFrame,
    max_iterations: int = MAX_ITERATIONS,
    driver_edge_threshold: int = 100_000,
) -> DataFrame:
    """Iterate to the reference fixpoint → (host, rank).  Includes
    link-target-only hosts in the final rank table, as the reference's
    last aggregation does (``PageRank.java:198-207``).

    Driver-round-trip economy (the 10^12-edge shape): exactly two jobs
    per iteration — one ``localCheckpoint`` materializing the new ranks
    (cuts lineage so 20 iterations don't stack a 20-deep plan) and ONE
    fused aggregation that returns both scalars the loop needs: the
    dangling mass of the *current* ranks and the L1 delta vs the
    previous iteration.  The static out-degree rides in the rank frame
    (``nd``), so the dangling sum needs no join.

    Size gate: graphs of at most ``driver_edge_threshold`` edges
    AND at most ``driver_edge_threshold`` hosts resolve driver-side
    (:func:`_pagerank_driver`) — identical fixpoint, no per-iteration
    job latency.  The host bound matters because the driver holds one
    rank per host: a graph with many hosts but few edges is big, not
    small.  Bigger graphs take the distributed loop."""
    spark = links.sparkSession
    links = links.localCheckpoint()
    agg = links.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size("dsts")), F.lit(0)).alias("e"),
    ).collect()[0]
    n_hosts, n_edges = int(agg["n"]), int(agg["e"])
    if n_hosts == 0:
        return local_frame(spark, [], "host string, rank double")
    if n_edges <= driver_edge_threshold and n_hosts <= driver_edge_threshold:
        return _pagerank_driver(spark, links, n_hosts, max_iterations)
    init = 1.0 / n_hosts

    # nd = out-degree (static per host); -1 marks link-target-only hosts
    # that receive rank but are not graph nodes
    ranks = links.select("host", F.lit(init).alias("rank"), F.size("dsts").alias("nd"))
    old_ranks = None

    def fused_stats(cur: DataFrame, prev: DataFrame | None) -> tuple[float, float | None]:
        """One job → (dangling mass of cur, L1 diff vs prev or None).
        Dangling counts only graph nodes (nd >= 0), matching the
        reference's join-then-filter (PageRank.java:140-156)."""
        dang = cur.select(
            F.lit("dang").alias("k"),
            F.when(F.col("nd") == 0, F.col("rank")).otherwise(F.lit(0.0)).alias("v"),
        )
        if prev is None:
            rows = dang.groupBy("k").agg(F.sum("v").alias("s")).collect()
            m = {r["k"]: r["s"] for r in rows}
            return float(m.get("dang") or 0.0), None
        diff = (
            prev.select("host", F.col("rank").alias("old"))
            .join(cur.select("host", "rank"), "host", "inner")
            .select(F.lit("diff").alias("k"), F.abs(F.col("rank") - F.col("old")).alias("v"))
        )
        rows = dang.unionByName(diff).groupBy("k").agg(F.sum("v").alias("s")).collect()
        m = {r["k"]: r["s"] for r in rows}
        return float(m.get("dang") or 0.0), float(m.get("diff") or 0.0)

    out_degrees = links.select("host", F.size("dsts").alias("nd2"))

    for it in range(max_iterations):
        dangling, diff = fused_stats(ranks, old_ranks)
        if it > 0 and diff is not None and diff < CONVERGENCE_THRESHOLD * n_hosts:
            return ranks.select("host", "rank")
        dangling_contribution = dangling / n_hosts

        joined = links.join(ranks.select("host", "rank"), "host", "inner")
        contribs = joined.select(
            F.explode(
                F.concat(
                    F.array(F.struct(F.col("host").alias("dst"), F.lit(0.0).alias("c"))),
                    F.transform(
                        "dsts",
                        lambda d: F.struct(
                            d.alias("dst"),
                            (F.col("rank") / F.size("dsts")).alias("c"),
                        ),
                    ),
                )
            ).alias("e")
        ).select(F.col("e.dst").alias("host"), F.col("e.c").alias("c"))

        new_ranks = (
            contribs.groupBy("host")
            .agg(F.sum("c").alias("incoming"))
            .select(
                "host",
                F.round(
                    F.lit((1 - DECAY) / n_hosts)
                    + F.lit(DECAY) * (F.col("incoming") + F.lit(dangling_contribution)),
                    8,
                ).alias("rank"),
            )
            .join(out_degrees, "host", "left")
            .select("host", "rank", F.coalesce("nd2", F.lit(-1)).alias("nd"))
            .localCheckpoint()
        )
        old_ranks = ranks
        ranks = new_ranks
    return ranks.select("host", "rank")


def final_report(ranks: DataFrame) -> DataFrame:
    """Social ×0.10 down-weight + wiki-family merge → (host, rank)
    ordered rank desc (reference's top-1000 report,
    ``PageRank.java:243-277``)."""
    adjusted = ranks.select(
        F.lower("host").alias("host"),
        F.when(F.lower("host").isin(SOCIAL_MEDIA), F.col("rank") * 0.10)
        .otherwise(F.col("rank"))
        .alias("rank"),
    )
    is_wiki = None
    for suf in WIKI_SUFFIXES:
        cond = F.col("host").endswith(suf)
        is_wiki = cond if is_wiki is None else (is_wiki | cond)
    wiki_sum = adjusted.filter(is_wiki).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("rank")
    ).select(F.lit("WikiFamily(all)").alias("host"), "rank")
    non_wiki = adjusted.filter(~is_wiki)
    return non_wiki.unionByName(wiki_sum).orderBy(F.desc("rank"), F.asc("host"))


def pagerank_pipeline(pages: DataFrame, max_iterations: int = MAX_ITERATIONS) -> DataFrame:
    return final_report(pagerank(build_host_graph(pages), max_iterations))
