"""Porter stemmer: classic vectors from the 1980 paper + a stemmed
index end-to-end check (north-star analyzer option)."""

import os
import shutil

import pytest

from eaststorm_searchengine_spark.stemmer import porter_stem

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# examples straight from Porter (1980), "An algorithm for suffix stripping"
VECTORS = [
    ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
    ("caress", "caress"), ("cats", "cat"),
    ("feed", "feed"), ("agreed", "agre"), ("plastered", "plaster"),
    ("bled", "bled"), ("motoring", "motor"), ("sing", "sing"),
    ("conflated", "conflat"), ("troubled", "troubl"), ("sized", "size"),
    ("hopping", "hop"), ("tanned", "tan"), ("falling", "fall"),
    ("hissing", "hiss"), ("fizzed", "fizz"), ("failing", "fail"),
    ("filing", "file"),
    ("happy", "happi"), ("sky", "sky"),
    ("relational", "relat"), ("conditional", "condit"), ("rational", "ration"),
    ("valenci", "valenc"), ("hesitanci", "hesit"), ("digitizer", "digit"),
    ("conformabli", "conform"), ("radicalli", "radic"), ("differentli", "differ"),
    ("vileli", "vile"), ("analogousli", "analog"), ("vietnamization", "vietnam"),
    ("predication", "predic"), ("operator", "oper"), ("feudalism", "feudal"),
    ("decisiveness", "decis"), ("hopefulness", "hope"), ("callousness", "callous"),
    ("formaliti", "formal"), ("sensitiviti", "sensit"), ("sensibiliti", "sensibl"),
    ("triplicate", "triplic"), ("formative", "form"), ("formalize", "formal"),
    ("electriciti", "electr"), ("electrical", "electr"), ("hopeful", "hope"),
    ("goodness", "good"),
    ("revival", "reviv"), ("allowance", "allow"), ("inference", "infer"),
    ("airliner", "airlin"), ("gyroscopic", "gyroscop"), ("adjustable", "adjust"),
    ("defensible", "defens"), ("irritant", "irrit"), ("replacement", "replac"),
    ("adjustment", "adjust"), ("dependent", "depend"), ("adoption", "adopt"),
    ("homologou", "homolog"), ("communism", "commun"), ("activate", "activ"),
    ("angulariti", "angular"), ("homologous", "homolog"), ("effective", "effect"),
    ("bowdlerize", "bowdler"),
    ("probate", "probat"), ("rate", "rate"), ("cease", "ceas"),
    ("controll", "control"), ("roll", "roll"),
]


@pytest.mark.parametrize("word,stem", VECTORS)
def test_porter_vectors(word, stem):
    assert porter_stem(word) == stem


def test_stemmed_index_end_to_end(spark):
    """Stemmed build: 'joins'/'joining'/'joined' all retrieve via 'join'."""
    from eaststorm_searchengine_spark.operators.bm25 import BM25Index
    from eaststorm_searchengine_spark.operators.index_build import build_index_fast

    rows = [
        (0, "joins the tables quickly"),
        (1, "joining streams is fun"),
        (2, "joined yesterday"),
        (3, "nothing relevant here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = os.path.join(REPO, "_tmp", "t_stem_idx")
    shutil.rmtree(root, ignore_errors=True)
    stats = build_index_fast(spark, docs, root, stem=True)
    assert stats["stem"] is True
    idx = BM25Index(spark, root)
    assert idx.stem is True
    # the query analyzer follows the index analyzer: 'joins' stems to
    # 'join' and hits docs 0,1,2 but not 3
    got = idx.search([(1, "joins")], k=10).collect()
    hit_docs = {int(r["doc_id"]) for r in got}
    assert hit_docs == {0, 1, 2}
