"""Engine vs pure-Python oracle: rank identity (urls AND scores) across all
four retrieval models and every structured operator, on the deterministic
synthetic corpus. This is the engine's core correctness gate (the analog of
the reference's golden-output regression, which we cannot regenerate since
its Lucene index isn't shipped)."""

import math

import pytest

from searchengines_spark.corpus import FIELDS, extract_fields, make_page
from searchengines_spark.engine import Engine
from searchengines_spark.oracle import OracleIndex, search as oracle_search
from searchengines_spark.tokenizer import tokenize_full

N_DOCS = 300
K = 30


@pytest.fixture(scope="module")
def oracle_idx():
    docs = []
    for i in range(N_DOCS):
        url, _, html, _, lang = make_page(i, seed=42)
        if lang != "en":
            continue
        f = extract_fields(url, html)
        docs.append((url, {k: tokenize_full(f[k]) for k in FIELDS}))
    return OracleIndex.from_docs(docs)


@pytest.fixture(scope="module")
def engine(tiny_index):
    return Engine(tiny_index)


QUERIES = [
    ("bow", "cebaba1 dibaba2 fobaba3"),
    ("and", "#AND( cebaba1 dibaba2 )"),
    ("or", "#OR( dibaba2 fobaba3 )"),
    ("sum", "#SUM( cebaba1 dibaba2 fobaba3 )"),
    ("wand", "#WAND( 0.7 cebaba1 0.3 dibaba2 )"),
    ("wsum", "#WSUM( 0.6 dibaba2 0.4 fobaba3 )"),
    ("near", "#NEAR/4( cebaba1 dibaba2 )"),
    ("window", "#WINDOW/8( cebaba1 dibaba2 )"),
    ("syn", "#SYN( dibaba2 fobaba3 )"),
    ("fields", "#AND( cebaba1.title dibaba2 )"),
    ("nested", "#AND( #OR( cebaba1 dibaba2 ) fobaba3 )"),
    ("stop", "the cebaba1 of dibaba2"),
    ("near_nested", "#SUM( #NEAR/6( cebaba1 dibaba2 ) fobaba3 )"),
]

MODELS = [
    ("bm25", {}),
    ("indri", {"mu": 1500.0, "lam": 0.4}),
    ("rankedboolean", {}),
    ("unrankedboolean", {}),
]


def _check(engine, oracle_idx, query, model, kw):
    got = [(r["url"], r["score"]) for r in engine.search(query, model, K, **kw).collect()]
    want = oracle_search(oracle_idx, query, model, K, **kw)
    assert [u for u, _ in got] == [u for u, _ in want], f"{model} {query}"
    for (gu, gs), (wu, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (model, query, gu, gs, ws)


@pytest.mark.parametrize("qname,query", QUERIES)
def test_bm25(engine, oracle_idx, qname, query):
    _check(engine, oracle_idx, query, "bm25", {})


@pytest.mark.parametrize("qname,query", QUERIES)
def test_indri(engine, oracle_idx, qname, query):
    _check(engine, oracle_idx, query, "indri", {"mu": 1500.0, "lam": 0.4})


@pytest.mark.parametrize("qname,query", [QUERIES[1], QUERIES[2], QUERIES[6], QUERIES[8]])
def test_boolean(engine, oracle_idx, qname, query):
    _check(engine, oracle_idx, query, "rankedboolean", {})
    _check(engine, oracle_idx, query, "unrankedboolean", {})


def test_all_stopword_query(engine):
    assert engine.search("the of and", "bm25", 10).count() == 0


@pytest.fixture(scope="module")
def striped_engine(spark, tmp_path_factory):
    """tiny_index's corpus rebuilt with salt_min_df=4: terms with df >= 4
    are striped (served from the serve cache, positions read in-task from
    the block files), the rarer ones stay cold blocks."""
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import IndexReader, build_index

    d = str(tmp_path_factory.mktemp("striped"))
    build_index(spark, generate_pages(spark, N_DOCS, seed=42, partitions=4),
                d, n_salts=4, salt_min_df=4)
    return Engine(IndexReader(spark, d))


def test_rank_identity_striped_blocks(striped_engine, oracle_idx):
    """Every query x model of this module over striped posting blocks."""
    reader = striped_engine.reader
    stats = reader.term_stats([("body", t) for t in
                               ("cebaba1", "dibaba2", "fobaba3")])
    assert min(df for df, _ in stats.values()) >= reader.salt_min_df
    for _, query in QUERIES:
        for model, kw in MODELS:
            _check(striped_engine, oracle_idx, query, model, kw)
