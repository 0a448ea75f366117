"""Edge cases: absent terms, tiny corpora, empty fields."""

import math

import pyspark.sql.functions as F

from searchengines_spark.engine import Engine
from searchengines_spark.index import IndexReader, build_index


def test_absent_term_in_bow_query(tiny_index, tiny_oracle):
    """A term missing from the index contributes nothing — the flat WAND
    kernel and Engine.search must agree with the query without it, and
    with the oracle."""
    from searchengines_spark.oracle import search as oracle_search
    from searchengines_spark.query.wand import wand_topk

    e = Engine(tiny_index)
    q = "haceba4 zzzneverseen badiba5"
    wand = [(r["url"], round(r["score"], 9)) for r in
            wand_topk(tiny_index, q.split(), k=20).collect()]
    plan = [(r["url"], round(r["score"], 9)) for r in e.search(q, k=20).collect()]
    base = [(r["url"], round(r["score"], 9)) for r in
            e.search("haceba4 badiba5", k=20).collect()]
    assert wand == plan == base
    want = [(u, round(sc, 9)) for u, sc in
            oracle_search(tiny_oracle, "haceba4 badiba5", "bm25", 20)]
    assert [u for u, _ in plan] == [u for u, _ in want]
    for (_, gs), (_, ws) in zip(plan, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-9)


def test_all_absent_terms(tiny_index):
    e = Engine(tiny_index)
    assert e.search("zzza zzzb", k=10).collect() == []
    assert e.search("#AND( zzza zzzb )", k=10).collect() == []


def test_single_doc_build(spark, tmp_path):
    from searchengines_spark.corpus import generate_pages

    pages = generate_pages(spark, 40, seed=9, partitions=2).filter(
        F.col("lang") == "en").limit(1)
    d = str(tmp_path / "one")
    m = build_index(spark, pages, d, n_salts=2)
    assert m["n_docs"] == 1
    r = IndexReader(spark, d)
    e = Engine(r)
    # every body term of the single doc scores it; idf is 0 (df == N == 1)
    term = r._term_stats.filter("field='body'").limit(1).collect()[0]["term"]
    rows = e.search(term, k=5).collect()
    assert len(rows) == 1 and rows[0]["score"] == 0.0


def test_empty_field_docs(spark, tmp_path):
    """Docs with an empty field (no title) index fine; field stats skip
    zero-length docs (doc_count counts docs with len > 0)."""
    import pandas as pd

    from searchengines_spark.corpus import PAGES_SCHEMA

    rows = []
    for i in range(6):
        title = "" if i % 2 == 0 else f"tword{i}"
        html = (f"<html><head><title>{title}</title></head>"
                f"<body>alpha beta w{i}</body></html>").encode()
        rows.append((f"https://x.org/p{i}", pd.Timestamp("2020-01-01"),
                     html, "alpha beta", "en"))
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    d = str(tmp_path / "ef")
    build_index(spark, pages, d, n_salts=2)
    r = IndexReader(spark, d)
    assert r.n_docs == 6
    assert r.field_stats["title"][0] == 3  # only docs with a real title
    e = Engine(r)
    assert len(e.search("alpha", k=10).collect()) == 6
    assert len(e.search("tword1.title", k=10).collect()) == 1
