"""Batch crawl-frontier simulation — the reference crawler's frontier
loop re-expressed as iterative DataFrame jobs over a closed corpus
(the ``pages`` table IS the web; "fetch" = an equi-join on url).

Reference: ``jobs/Crawler.java:56-476`` (frontier loop),
``:848-861`` + ``:663-…`` (link extraction + normalizeURL),
``:639-643`` (isCrawlable), ``:645-649`` (filteredByExt),
``:790-814`` (isNonEnglishWikipedia), ``:279-298`` (anti-join against
already-crawled rows), ``:509-596`` (robots.txt rules, via
``robots.parse_robots`` — golden-tested against the reference class).
HTTP transport and per-host timing are network concerns outside the
engine scope (SURVEY.md §2.1; the politeness arithmetic itself is
mirrored in ``robots.politeness_ready``); the static host blacklist
(``:120-250``) is configuration data, not logic — pass extra
predicates via ``url_filter``.

Scale shape: each iteration is one equi-join of the frontier against
the corpus plus one anti-join keyed on url; ``localCheckpoint``
truncates lineage per iteration exactly like the PageRank loop
(pagerank.py).  The frontier side is broadcast only while it is small
(a real BFS frontier grows to tens of millions of
urls within a few hops — a forced broadcast would OOM the executors;
past the threshold the join falls back to a plain shuffle join and
AQE re-plans from runtime sizes).  Crawled-set growth is the only
accumulating state, partitioned by url.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from .. import textproc
from ..functions.frames import local_frame


def _candidates(html: str | None, base_url: str) -> list[str]:
    """One page's crawl candidates: extracted hrefs, normalized against
    the page url, passed through the crawlability filter chain; deduped
    (the reference's HashSet, Crawler.java:455) and canonicalized to
    sorted order."""
    out = set()
    for href in textproc.extract_links(html):
        absu = textproc.normalize_url(base_url, href)
        if not absu:
            continue
        if not textproc.is_crawlable(absu):
            continue
        if textproc.filtered_by_ext(absu):
            continue
        if textproc.is_non_english_wikipedia(absu):
            continue
        out.add(absu)
    return sorted(out)


@pandas_udf(ArrayType(StringType()))
def crawl_candidates_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    from ..functions.udfs import _as_str

    return pd.Series(
        [_candidates(h, b) for h, b in zip(_as_str(html), base_url)]
    )


def _robots_gate(spark, robots_map: dict[str, str]):
    """Broadcast parsed per-host robots rules → boolean Column filter
    over candidate urls (Crawler.java:361-363: disallowed urls are
    never attempted).  Hosts without a robots entry allow everything
    (the reference's 'missing' state)."""
    from pyspark.sql.types import BooleanType

    from ..robots import parse_robots

    parsed = {h.lower(): parse_robots(t) for h, t in robots_map.items()}
    bc = spark.sparkContext.broadcast(parsed)

    @pandas_udf(BooleanType())
    def allowed(urls: pd.Series) -> pd.Series:
        def ok(u: str) -> bool:
            try:
                _, host, _, pathq = textproc.parse_url(u)
            except Exception:
                return True
            r = bc.value.get((host or "").lower())
            return r.allows(pathq) if r is not None else True

        return urls.map(ok)

    return allowed


def _fetch_join(
    web: DataFrame, frontier: DataFrame, frontier_rows: int, broadcast_threshold: int
) -> DataFrame:
    """The per-iteration "fetch": equi-join frontier × corpus on url.
    Broadcast the frontier only while it is provably small (the caller
    already counted it off the eager localCheckpoint — no extra job);
    a wide frontier takes the plain join and lets AQE pick the
    strategy from runtime statistics."""
    if frontier_rows <= broadcast_threshold:
        return web.join(F.broadcast(frontier), "url")
    return web.join(frontier, "url")


def crawl_frontier(
    pages: DataFrame,
    seeds: list[str],
    max_iters: int = 8,
    url_filter=None,
    robots_map: dict[str, str] | None = None,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """BFS crawl over the corpus link graph → (url, depth, fetched).

    ``depth`` is the first-reach BFS depth (seeds = 0); ``fetched``
    marks urls that exist in the corpus (the reference's 200-response
    rows) vs dangling attempts (its responseCode-only rows,
    Crawler.java:417-420).  ``url_filter``: optional extra Column
    predicate over ``url`` (the blacklist seam).  ``robots_map``:
    optional {host: robots.txt text}; disallowed candidate urls are
    dropped before the fetch, like the reference's pre-HEAD robots
    gate (Crawler.java:361-363).  ``broadcast_threshold``: max frontier
    rows that may be broadcast into the fetch join (see
    :func:`_fetch_join`)."""
    spark = pages.sparkSession
    web = pages.select("url", "html")
    robots_allowed = _robots_gate(spark, robots_map) if robots_map else None
    frontier = local_frame(
        spark, [(textproc.normalize_seed(s),) for s in seeds], "url string"
    ).distinct()
    crawled = local_frame(spark, [], "url string, depth int")
    for depth in range(max_iters):
        # the gate applies to EVERY url before it is attempted — seeds
        # included, like the reference's pre-HEAD check (Crawler.java:361)
        if url_filter is not None:
            frontier = frontier.filter(url_filter)
        if robots_allowed is not None:
            frontier = frontier.filter(robots_allowed("url"))
        frontier = frontier.localCheckpoint(eager=True)
        frontier_rows = frontier.count()
        if frontier_rows == 0:
            break
        crawled = crawled.unionByName(
            frontier.withColumn("depth", F.lit(depth))
        ).localCheckpoint(eager=True)
        fetched = _fetch_join(web, frontier, frontier_rows, broadcast_threshold)
        links = fetched.select(
            F.explode(crawl_candidates_udf("html", "url")).alias("url")
        ).distinct()
        frontier = links.join(crawled.select("url"), "url", "left_anti")
    return (
        crawled.join(web.select("url", F.lit(True).alias("fetched")), "url", "left")
        .fillna(False, subset=["fetched"])
        .select("url", "depth", "fetched")
        .orderBy("depth", "url")
    )
