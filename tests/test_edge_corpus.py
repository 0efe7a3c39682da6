"""Edge corpora: empty/punctuation-only/null texts must still be
counted in corpus stats (n_docs, avgdl) and serve correct BM25 — every
build path, checked against the DuckDB oracle — and every builder must
produce the same index tables row for row."""

import os
import shutil

import duckdb
import pytest

from eaststorm_searchengine_spark.functions.sqltok import B, K1, duckdb_bm25_topk_sql
from eaststorm_searchengine_spark.operators.bm25 import BM25Index
from eaststorm_searchengine_spark.operators.index_build import (
    SEGMENT_COLS,
    build_index,
    build_index_fast,
    build_index_resumable,
    compact_index,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, "_tmp", "t_edge")
SF = "/root/testdata/sf0.001"

ROWS = [
    (0, "alpha beta gamma alpha"),
    (1, ""),  # token-less
    (2, "!!! ??? ..."),  # punctuation-only → token-less
    (3, None),  # null text
    (4, "beta beta beta delta"),
    (5, "alpha delta"),
    (6, "x" * 40 + " epsilon"),  # >30-char token dropped
    (7, "gamma"),
]


@pytest.mark.parametrize(
    "builder,tag",
    [(build_index, "term"), (build_index_fast, "fast"), (build_index_resumable, "resumable")],
)
def test_edge_corpus_stats_and_bm25(spark, builder, tag):
    root = f"{TMP}_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    stats = builder(spark, docs, root)
    assert stats["n_docs"] == len(ROWS), "token-less docs must count"

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({d}, {'NULL' if t is None else repr(t)})" for d, t in ROWS
        )
        + ") AS t(doc_id, text)"
    )
    queries = [(1, "alpha"), (2, "beta delta"), (3, "epsilon"), (4, "nothere")]
    want = [
        (int(a), int(b), int(c), float(s))
        for a, b, c, s in con.sql(duckdb_bm25_topk_sql(queries, 5)).fetchall()
    ]
    idx = BM25Index(spark, root)
    for method in ["exhaustive", "wand"]:
        got = [
            (r["query_id"], int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            for r in idx.search(queries, k=5, method=method, score_round=4).collect()
        ]
        assert got == want, (tag, method)


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize("corpus", ["edge", "sf0.001"])
def test_builders_agree_row_for_row(spark, tmp_path, corpus):
    """One index-build pipeline: build_index, build_index_resumable
    (fresh, and resumed after a simulated crash) and compact_index over
    a build_index_fast store write the same segments/ rows; all four
    builders agree on doclens/, term_stats/ and the corpus stats, and
    every stats.json has one key set with the scorer's k1 and b."""
    if corpus == "edge":
        docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    else:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
    root = {k: str(tmp_path / k) for k in ("term", "resumable", "resumed", "fast", "compacted")}
    stats = {
        "term": build_index(spark, docs, root["term"]),
        "resumable": build_index_resumable(spark, docs, root["resumable"]),
    }
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index_resumable(spark, docs, root["resumed"], fail_after=2)
    stats["resumed"] = build_index_resumable(spark, docs, root["resumed"])
    stats["fast"] = build_index_fast(spark, docs, root["fast"])
    stats["compacted"] = compact_index(spark, [root["fast"]], root["compacted"])

    def table(name, sub):
        df = spark.read.parquet(f"{root[name]}/{sub}")
        return df.select(*SEGMENT_COLS) if sub == "segments" else df

    every = ["resumable", "resumed", "fast", "compacted"]
    for sub, names in [
        ("segments", ["resumable", "resumed", "compacted"]),
        ("doclens", every),
        ("term_stats", every),
    ]:
        want = table("term", sub)
        assert not want.isEmpty(), sub
        for name in names:
            assert _same_rows(want, table(name, sub)), (corpus, sub, name)
    for key in ("n_docs", "avgdl", "total_tokens"):
        assert len({st[key] for st in stats.values()}) == 1, (key, stats)
    assert stats["term"]["n_docs"] == docs.count()
    assert len({frozenset(st) for st in stats.values()}) == 1, stats
    assert {(st["k1"], st["b"]) for st in stats.values()} == {(K1, B)}


@pytest.mark.parametrize(
    "corpus,chunk_bits,ids,single_rows,rechunk_rows",
    [
        ("edge", None, "doc_id", 10000, 2),
        ("sf0.001", None, "doc_id", 10000, 64),
        # 50 chunks of 10 docs (64-id span) whose ids all send them to
        # one partition: 64-row batches split chunks and carry several
        ("sf0.001", 6, "doc_id div 10 * 512 + doc_id % 10", 64, 16),
    ],
)
def test_build_routes_agree(
    spark, tmp_path, monkeypatch, arrow_batch_rows,
    corpus, chunk_bits, ids, single_rows, rechunk_rows,
):
    """build_index's two routes — the chunk-aligned single pass (a chunk
    fits one Arrow batch) and fragments → re-chunk (it does not) — write
    row-equal segments/, doclens/, term_stats/ and lineage/ and the
    same stats.json but build_sec.  A spy on the re-chunk proves which
    route ran."""
    import json

    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.operators import index_build as ib

    if corpus == "edge":
        docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    else:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs = docs.withColumn("doc_id", F.expr(ids))
    calls = []
    compact = ib._compact_segments
    monkeypatch.setattr(
        ib, "_compact_segments", lambda *a, **kw: calls.append(1) or compact(*a, **kw)
    )
    root = {k: str(tmp_path / k) for k in ("single", "rechunk")}
    stats = {}
    for name, rows in (("single", single_rows), ("rechunk", rechunk_rows)):
        with arrow_batch_rows(rows):
            stats[name] = build_index(spark, docs, root[name], chunk_bits=chunk_bits)
        assert len(calls) == (name == "rechunk"), name

    for sub in ("segments", "doclens", "term_stats", "lineage"):
        a, b = (spark.read.parquet(f"{root[k]}/{sub}") for k in ("single", "rechunk"))
        if sub == "segments":
            a, b = a.select(*SEGMENT_COLS, "gen"), b.select(*SEGMENT_COLS, "gen")
        assert not a.isEmpty() and _same_rows(a, b), (corpus, sub)
    for st in stats.values():
        del st["build_sec"]
    assert stats["single"] == stats["rechunk"]
    on_disk = [json.load(open(f"{root[k]}/stats.json")) for k in ("single", "rechunk")]
    assert [{k: v for k, v in st.items() if k != "build_sec"} for st in on_disk] == [
        stats["single"], stats["rechunk"]
    ]


META_DTYPES = {
    "doclens": [("doc_id", "bigint"), ("dl", "bigint")],
    "term_stats": [("term", "string"), ("df", "bigint"), ("bucket", "int")],
    "lineage": [
        ("gen", "int"), ("chunk", "bigint"), ("postings", "bigint"),
        ("terms", "bigint"), ("bytes", "bigint"), ("status", "string"),
    ],
}


@pytest.mark.parametrize("corpus", ["edge", "sf0.001"])
@pytest.mark.parametrize(
    "writer", ["single", "rechunk", "resumable", "fast", "compacted", "refresh"]
)
def test_metadata_tails_agree(
    spark, tmp_path, monkeypatch, arrow_batch_rows, corpus, writer
):
    """Every writer, run once with ``_META_DRIVER_ROWS`` at 0 and once
    far above the store's row count, writes row-equal doclens/,
    term_stats/ and lineage/ with the same schemas, and the same
    stats.json but build_sec.  A spy on the two tails proves which one
    ran: the driver tail under the large bound, the Spark tail under
    0, and always the Spark tail for refresh_metadata, which has no
    row count."""
    import json

    from eaststorm_searchengine_spark.operators import index_build as ib
    from eaststorm_searchengine_spark.streaming import incremental

    if corpus == "edge":
        docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    else:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
    fast_src = str(tmp_path / "fast_src")
    if writer == "compacted":
        build_index_fast(spark, docs, fast_src)

    def write(root):
        if writer == "single":
            return build_index(spark, docs, root)
        if writer == "rechunk":
            with arrow_batch_rows(2):
                return build_index(spark, docs, root)
        if writer == "resumable":
            return build_index_resumable(spark, docs, root)
        if writer == "fast":
            return build_index_fast(spark, docs, root)
        if writer == "compacted":
            return compact_index(spark, [fast_src], root)
        for b in range(2):
            incremental._append_batch(
                docs.filter(docs.doc_id % 2 == b), b, root, "doc_id", "text", False, 16
            )
        return incremental.refresh_metadata(spark, root)

    ran = []
    for tail in ("_driver_tail", "_spark_tail"):
        fn = getattr(ib, tail)
        monkeypatch.setattr(
            ib, tail, lambda *a, _t=tail, _f=fn, **kw: ran.append(_t) or _f(*a, **kw)
        )
    stats = {}
    for route, bound in (("spark", 0), ("driver", 10**9)):
        monkeypatch.setattr(ib, "_META_DRIVER_ROWS", bound)
        ran.clear()
        stats[route] = write(str(tmp_path / route))
        want = "spark" if writer == "refresh" else route
        assert ran == [f"_{want}_tail"], (route, ran)

    for sub, dtypes in META_DTYPES.items():
        a, b = (spark.read.parquet(str(tmp_path / r / sub)) for r in ("spark", "driver"))
        assert a.dtypes == b.dtypes == dtypes, sub
        assert not a.isEmpty() and _same_rows(a, b), sub
    on_disk = [json.load(open(tmp_path / r / "stats.json")) for r in ("spark", "driver")]
    for st in [*stats.values(), *on_disk]:
        del st["build_sec"]
    assert stats["spark"] == stats["driver"] == on_disk[0] == on_disk[1]


def test_rebuild_in_place_leaves_no_stale_metadata(spark, tmp_path, monkeypatch):
    """A build into an existing index directory with fewer documents
    replaces doclens/, term_stats/ and lineage/: the driver tail's one
    file per table leaves none of the Spark tail's part files beside
    it, and a live BM25Index serves the rebuild."""
    from eaststorm_searchengine_spark.operators import index_build as ib

    root = str(tmp_path / "idx")
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    with monkeypatch.context() as m:
        m.setattr(ib, "_META_DRIVER_ROWS", 0)
        build_index(spark, docs, root)
    idx = BM25Index(spark, root)
    query = [(1, "alpha delta")]
    assert {r.doc_id for r in idx.search(query, k=10).collect()} == {0, 4, 5}

    fewer = docs.filter(docs.doc_id >= 5)
    assert build_index(spark, fewer, root)["n_docs"] == 3
    dl = {(r.doc_id, r.dl) for r in spark.read.parquet(f"{root}/doclens").collect()}
    assert dl == {(5, 2), (6, 1), (7, 1)}
    terms = {r.term for r in spark.read.parquet(f"{root}/term_stats").collect()}
    assert terms == {"alpha", "delta", "epsilon", "gamma"}
    assert {r.doc_id for r in idx.search(query, k=10).collect()} == {5}
    assert idx.n_docs == 3


def test_resumable_honours_from_html_and_stem(spark, tmp_path):
    """build_index_resumable extracts and stems like build_index: on
    HTML pages with from_html=True and stem=True its segment rows equal
    build_index's, no markup token is indexed, and its stats.json has
    build_index's keys."""
    from eaststorm_searchengine_spark import corpus

    pages = spark.createDataFrame(
        [
            (d, corpus.page_html(d, t or "", "en", len(ROWS)).encode())
            for d, t in ROWS
        ],
        "doc_id long, html binary",
    )
    a, b = str(tmp_path / "term"), str(tmp_path / "resumable")
    kw = dict(text_col="html", from_html=True, stem=True)
    st_a = build_index(spark, pages, a, **kw)
    st_b = build_index_resumable(spark, pages, b, **kw)
    seg = lambda r: spark.read.parquet(f"{r}/segments").select(*SEGMENT_COLS)
    assert _same_rows(seg(a), seg(b))
    terms = {r["term"] for r in spark.read.parquet(f"{b}/term_stats").collect()}
    # link text is extracted; the <script> comment "must vanish" is not
    assert {"alpha", "click"} <= terms and "vanish" not in terms
    assert set(st_a) == set(st_b) and st_b["stem"] is True
    assert {k: st_b[k] for k in ("n_docs", "avgdl", "total_tokens")} == {
        k: st_a[k] for k in ("n_docs", "avgdl", "total_tokens")
    }


def test_streaming_doclens_match_builders(spark, tmp_path):
    """The streaming ingest path keeps the builders' doclens contract:
    token-less and NULL documents are counted, row-equal to
    build_index's doclens, and its stats.json has the builders' keys."""
    from eaststorm_searchengine_spark.streaming import incremental

    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "in"))
    incremental.start_incremental_index(
        spark,
        input_dir=str(tmp_path / "in"),
        index_dir=str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema="doc_id long, text string",
    )
    st_s = incremental.refresh_metadata(spark, str(tmp_path / "stream"))
    st_b = build_index(spark, docs, str(tmp_path / "term"))
    dl = lambda r: spark.read.parquet(str(tmp_path / r / "doclens"))
    assert _same_rows(dl("term"), dl("stream"))
    assert (st_s["n_docs"], st_s["avgdl"]) == (st_b["n_docs"], st_b["avgdl"]) == (len(ROWS), 1.5)
    assert set(st_s) == set(st_b)


def test_every_writer_lands_one_generation(spark, tmp_path):
    """Every writer's segment files sit under
    ``segments/gen=<g>/bucket=<b>/``: builds and compactions write
    generation 0, streamed micro-batch b writes generation b + 1."""
    import os
    import re

    from eaststorm_searchengine_spark.streaming import incremental

    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    root = {k: str(tmp_path / k) for k in ("term", "resumable", "fast", "compacted", "stream")}
    build_index(spark, docs, root["term"])
    build_index_resumable(spark, docs, root["resumable"])
    build_index_fast(spark, docs, root["fast"])
    compact_index(spark, [root["fast"]], root["compacted"])
    for b in range(2):
        incremental._append_batch(
            docs.filter(docs.doc_id % 2 == b), b, root["stream"], "doc_id", "text", False, 16
        )

    def generations(name):
        seg = os.path.join(root[name], "segments")
        gens = set()
        for d, _dirs, files in os.walk(seg):
            if any(f.endswith(".parquet") for f in files):
                rel = os.path.relpath(d, seg)
                assert re.fullmatch(r"gen=\d+/bucket=\d+", rel), (name, rel)
                gens.add(rel.split("/")[0])
        return gens

    for name in ("term", "resumable", "fast", "compacted"):
        assert generations(name) == {"gen=0"}, name
    assert generations("stream") == {"gen=1", "gen=2"}
