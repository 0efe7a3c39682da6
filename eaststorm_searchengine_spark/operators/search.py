"""Composite search ranker — capability-parity rewrite of the deployed
reference ranker ``jobs/SearchServer.java:103-226`` (weighted-IDF +
PageRank blend + title boosts; the BM25 engine in ``bm25.py`` is the
north-star primary — this one reproduces the reference's actual
formula):

* query terms: ``q.toLowerCase().split("\\s+")`` — *not* deduped
  (``:108``; a repeated term scores twice)
* per term: title-index hit → ``1.5 · ln(30000/(1+df))``, url-index
  hit → ``1.0 · ln(30000/(1+df))`` (``:14-17, 114-148``); df = length
  of the term's url list in that index
* PageRank blend: ``+ rank(host) · 5000`` using the *raw* saved ranks
  (the social/wiki adjustments only affect the report, not the ranker —
  ``PageRank.java:243`` saves before adjusting) (``:158-180``)
* top 60 by score, then title boosts vs the trimmed lowercase query:
  exact match +50, prefix +25 (``:183-220``), re-sort, top 50 (``:226``)
* title = extracted <title> of the page, else the url (``:196-207``)

The reference's per-term KVS point reads become a broadcast join of the
tiny query-term set against the index tables (SURVEY.md §3.2); ties are
canonicalized (score desc, url asc) where the reference inherits
HashMap iteration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import textproc
from ..functions.frames import local_frame
from ..functions.topk import rank_topk
from ..functions.udfs import extract_title_udf, host_udf

WEIGHT_TITLE = 1.5
WEIGHT_URL = 1.0
WEIGHT_PAGERANK = 5000.0
TOTAL_DOCS_ESTIMATE = 30000.0
LIMIT_INTERMEDIATE = 60  # top 60 before the title boosts (``:183``)
LIMIT_FINAL = 50  # top 50 after them (``:226``)
_JWS = " \t\n\x0b\f\r"


def _query_terms(q: str) -> list[str]:
    """``q.toLowerCase().split("\\s+")`` with Java semantics: runs of
    ASCII whitespace separate; a leading run yields one empty leading
    token (kept — it then hits no index, like the reference); trailing
    empties are dropped (Java split contract)."""
    import re

    parts = re.split(r"[ \t\n\x0b\f\r]+", q.lower())
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def composite_search(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    title_idx: DataFrame,
    url_idx: DataFrame,
    pageranks: DataFrame,
    pages: DataFrame,
) -> DataFrame:
    """→ (query_id, rank, url, score, title)."""
    qrows = []
    for qid, q in queries:
        for t in _query_terms(q):
            if t:
                qrows.append((qid, t))
    if not qrows:
        return local_frame(
            spark, [], "query_id int, rank long, url string, score double, title string"
        )
    qdf = F.broadcast(local_frame(spark, qrows, "query_id int, term string"))

    def hits(idx: DataFrame, weight: float) -> DataFrame:
        h = qdf.join(idx, "term")
        return h.select(
            "query_id",
            F.explode("urls").alias("url"),
            (
                F.lit(weight)
                * F.log(F.lit(TOTAL_DOCS_ESTIMATE) / (F.lit(1.0) + F.size("urls")))
            ).alias("contrib"),
        )

    text_scores = (
        hits(title_idx, WEIGHT_TITLE)
        .unionByName(hits(url_idx, WEIGHT_URL))
        .groupBy("query_id", "url")
        .agg(F.sum("contrib").alias("score"))
    )

    pr = pageranks.select(F.col("host"), (F.col("rank") * WEIGHT_PAGERANK).alias("pr"))
    scored = (
        text_scores.withColumn("host", host_udf("url"))
        .join(pr, "host", "left")
        .withColumn("score", F.col("score") + F.coalesce(F.col("pr"), F.lit(0.0)))
        .drop("pr", "host")
    )

    # TakeOrdered shape: every Spark partition keeps its local top-60
    # per query (mapInPandas, no shuffle), so the global rank window
    # sees ≤ 60 × n_partitions candidate rows per query instead of the
    # full scored set — the per-query single-reducer sort stops scaling
    # with the corpus (same pattern as the BM25 chunk top-k)
    top60 = rank_topk(
        scored, "query_id", ["score", "url"], [False, True], LIMIT_INTERMEDIATE
    ).drop("rank")

    # blank titles (empty OR all Java whitespace, incl. Unicode
    # separators) fall back to the url like the reference's t.isBlank()
    from ..functions.udfs import extract_title_nonblank_udf

    titles = pages.select(
        "url",
        F.coalesce(extract_title_nonblank_udf("html"), F.col("url")).alias("title"),
    )
    qmeta = F.broadcast(
        local_frame(
            spark,
            [(qid, textproc.java_trim(q).lower()) for qid, q in queries],
            "query_id int, qlower string",
        )
    )
    boosted = (
        top60.join(titles, "url", "left")
        .withColumn("title", F.coalesce(F.col("title"), F.col("url")))
        .join(qmeta, "query_id")
        .withColumn(
            "score",
            F.col("score")
            + F.when(F.lower("title") == F.col("qlower"), F.lit(50.0))
            .when(F.lower("title").startswith(F.col("qlower")), F.lit(25.0))
            .otherwise(F.lit(0.0)),
        )
    )
    # ≤ 60 rows per query arrive: no prune needed
    return (
        rank_topk(boosted, "query_id", ["score", "url"], [False, True], LIMIT_FINAL, prune=False)
        .select("query_id", "rank", "url", "score", "title")
        .orderBy("query_id", "rank")
    )
