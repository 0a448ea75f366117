"""Cold (unstriped, low-df) block lookups on the WAND serve path:

- provably-empty lookups are SKIPPED (zero Spark jobs) when the stats
  prove no cold blocks can exist — all query terms' df >= salt_min_df on
  an append-free index, or a term absent from the vocabulary;
- real cold blocks are fetched once and memoized per reader (like the
  reference's ctf memoization, QryEval.java:644-651);
- appends void the df inference (a term can cross the threshold leaving
  older unstriped blocks behind), so an appended index still scans —
  and serves the crossed term from BOTH its old cold and new striped
  blocks, score-identical to the oracle;
- a stripe spanning an append's segment cut keeps the reference tie rule
  (score desc, url asc);
- a warm repeat of every benchmark query form starts one Spark job, two
  when a derived list's df/ctf feeds BM25 or Indri;
- closing a superseded reader leaves the newer reader's serve cache
  registered and persisted.
"""

import math
import os

import pandas as pd
import pytest
from pyspark import StorageLevel

from searchengines_spark.corpus import FIELDS, PAGES_SCHEMA, extract_fields
from searchengines_spark.engine import Engine
from searchengines_spark.index import IndexReader, build_index
from searchengines_spark.index.incremental import append_pages
from searchengines_spark.oracle import OracleIndex, search as oracle_search
from searchengines_spark.query.wand import wand_topk
from searchengines_spark.tokenizer import tokenize_full


def _rows(bodies: list[str], prefix: str = "https://cm.org/p"):
    return [(f"{prefix}{i:03d}", pd.Timestamp("2020-01-01"),
             (f"<html><head><title>t{i}</title></head>"
              f"<body>{b}</body></html>").encode(), b, "en")
            for i, b in enumerate(bodies)]


def _pages(spark, bodies: list[str], prefix: str = "https://cm.org/p"):
    pdf = pd.DataFrame(_rows(bodies, prefix),
                       columns=["url", "warc_ts", "html", "text", "lang"])
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)


def _oracle(*batches: tuple[list[str], str]) -> OracleIndex:
    """Oracle over the pages _pages builds from each (bodies, prefix)."""
    docs = []
    for bodies, prefix in batches:
        for url, _, html, _, _ in _rows(bodies, prefix):
            f = extract_fields(url, html)
            docs.append((url, {k: tokenize_full(f[k]) for k in FIELDS}))
    return OracleIndex.from_docs(docs)


def _assert_same(got, want):
    assert [u for u, _ in got] == [u for u, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)


def _jobs(spark, fn):
    tracker = spark.sparkContext.statusTracker
    before = len(tracker().getJobIdsForGroup(None) or [])
    out = fn()
    return out, len(tracker().getJobIdsForGroup(None) or []) - before


@pytest.fixture(scope="module")
def cold_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("coldmemo")
    # "hotone" in every doc (df 12 >= salt_min_df 4 -> striped);
    # "coldtail" in two docs (df 2 < 4 -> unstriped cold blocks)
    bodies = [f"hotone filler{i} extra{i % 3}" for i in range(12)]
    bodies[0] += " coldtail"
    bodies[1] += " coldtail"
    d = str(root / "idx")
    build_index(spark, _pages(spark, bodies), d, n_salts=4, salt_min_df=4)
    return d


def test_hot_query_skips_cold_scan(spark, cold_index):
    reader = IndexReader(spark, cold_index)
    pairs = [("body", "hotone")]
    reader.term_stats(pairs)  # the kernel fetches stats first; memoized
    got, n = _jobs(spark, lambda: reader.cold_blocks(pairs))
    assert got == {} and n == 0


def test_absent_term_skips_cold_scan(spark, cold_index):
    reader = IndexReader(spark, cold_index)
    pairs = [("body", "nosuchterm")]
    reader.term_stats(pairs)
    got, n = _jobs(spark, lambda: reader.cold_blocks(pairs))
    assert got == {} and n == 0


def test_cold_lookup_fetched_once_then_memoized(spark, cold_index):
    reader = IndexReader(spark, cold_index)
    pairs = [("body", "coldtail"), ("body", "hotone")]
    reader.term_stats(pairs)
    got, n1 = _jobs(spark, lambda: reader.cold_blocks(pairs))
    assert n1 >= 1  # the one pruned scan for the genuinely-cold pair
    assert set(got) == {("body", "coldtail")} and len(got[("body", "coldtail")]) >= 1
    got2, n2 = _jobs(spark, lambda: reader.cold_blocks(pairs))
    assert got2 == got and n2 == 0  # memo hit: zero jobs on repeat


def test_wand_identity_with_cold_terms(spark, cold_index):
    """Mixed hot+cold query: the flat WAND kernel and Engine.search must
    both equal the oracle."""
    reader = IndexReader(spark, cold_index)
    eng = Engine(reader)
    q = "hotone coldtail"
    bodies = [f"hotone filler{i} extra{i % 3}" for i in range(12)]
    bodies[0] += " coldtail"
    bodies[1] += " coldtail"
    want = oracle_search(_oracle((bodies, "https://cm.org/p")), q, "bm25", 12)
    got = [(r["url"], r["score"])
           for r in eng.search(q, "bm25", k=12).collect()]
    _assert_same(got, want)
    flat = [(r["url"], r["score"])
            for r in wand_topk(reader, q.split(), k=12).collect()]
    _assert_same(flat, want)


def test_append_crossed_term_serves_old_cold_blocks(spark, tmp_path):
    """A term below salt_min_df at build (cold blocks) that crosses the
    threshold via an append (new striped blocks): the df-based skip must
    NOT apply (appends recorded), and WAND must surface matches from both
    the old cold and the new striped blocks."""
    bodies = [f"common filler{i}" for i in range(8)]
    bodies[0] += " crosser"
    bodies[1] += " crosser"  # df 2 < 4 at build -> cold
    d = str(tmp_path / "idx")
    build_index(spark, _pages(spark, bodies), d, n_salts=4, salt_min_df=4)

    new_bodies = [f"common extra{i} crosser" for i in range(4)]
    append_pages(spark, d, _pages(spark, new_bodies,
                                  prefix="https://cm.org/new"))

    reader = IndexReader(spark, d)  # fresh reader: post-append version
    assert reader.manifest.get("appends")
    df = reader.term_stats([("body", "crosser")])[("body", "crosser")][0]
    assert df == 6  # crossed the salt_min_df=4 threshold
    got = [(r["url"], r["score"])
           for r in wand_topk(reader, ["crosser"], k=10).collect()]
    assert len(got) == 6  # 2 old (cold blocks) + 4 appended (striped)
    eng = Engine(reader)
    want = oracle_search(
        _oracle((bodies, "https://cm.org/p"), (new_bodies, "https://cm.org/new")),
        "crosser common", "bm25", 10)
    got2 = [(r["url"], r["score"])
            for r in eng.search("crosser common", "bm25", k=10).collect()]
    _assert_same(got2, want)
    flat = [(r["url"], r["score"]) for r in
            wand_topk(reader, ["crosser", "common"], k=10).collect()]
    _assert_same(flat, want)


def test_cold_memo_lru_eviction(spark, tmp_path, monkeypatch):
    """The cold memo is LRU-bounded (entries hold compressed posting
    bytes): with the cap shrunk to 2, querying 3 distinct cold terms must
    keep the memo at <= 2 entries, and a re-query of the evicted term
    must refetch (>= 1 job) and return the identical blocks."""
    from searchengines_spark.index import build

    # 3 cold terms (df 2 each < salt_min_df 4), one hot term
    bodies = [f"hotone filler{i}" for i in range(12)]
    bodies[0] += " colda coldb coldc"
    bodies[1] += " colda coldb coldc"
    d = str(tmp_path / "idx")
    build_index(spark, _pages(spark, bodies), d, n_salts=4, salt_min_df=4)

    monkeypatch.setattr(build, "COLD_MEMO_CAP", 2)
    reader = IndexReader(spark, d)
    pairs = [("body", t) for t in ("colda", "coldb", "coldc")]
    reader.term_stats(pairs)

    first = {}
    for p in pairs:  # sequential queries -> eviction pressure
        got = reader.cold_blocks([p])
        assert set(got) == {p} and got[p]
        first[p] = got[p]
    assert len(reader._cold_memo) <= 2
    assert pairs[0] not in reader._cold_memo  # oldest evicted

    # evicted pair refetches (jobs > 0) and is block-identical
    got, n = _jobs(spark, lambda: reader.cold_blocks([pairs[0]]))
    assert n >= 1 and got[pairs[0]] == first[pairs[0]]
    # most-recent pair is still a 0-job memo hit
    got2, n2 = _jobs(spark, lambda: reader.cold_blocks([pairs[2]]))
    assert n2 == 0 and got2[pairs[2]] == first[pairs[2]]


def test_close_keeps_newer_readers_serve_cache(spark, cold_index):
    a = IndexReader(spark, cold_index)
    b = IndexReader(spark, cold_index)
    a.serve_blocks()
    b_df = b.serve_blocks()  # supersedes a's registry entry
    a.close()
    key = os.path.realpath(cold_index)
    reg = IndexReader._SERVE_CACHE_REGISTRY
    assert reg.get(key) is b_df
    assert b.serve_blocks() is b_df
    # storageLevel asks the cache manager, not the frame's persist flag
    assert b_df.storageLevel == StorageLevel.MEMORY_AND_DISK
    b.close()
    assert key not in reg
    assert b_df.storageLevel == StorageLevel.NONE


def test_segment_tie_rule_across_append(spark, tmp_path):
    """Docids are url ranks only within a segment. Stripe 3 of this index
    spans docids 9-11 across the append's cut at 10, so a per-stripe
    (score desc, docid asc) cut keeps p009 and drops a000 — but a000 sorts
    first by url among the equal scores (ScoreList.java:90-105)."""
    bodies = ["tieword x" if i in (0, 9) else f"filler{i} x" for i in range(10)]
    d = str(tmp_path / "idx")
    build_index(spark, _pages(spark, bodies), d, n_salts=4)
    new_bodies = ["tieword x", "other x"]
    append_pages(spark, d, _pages(spark, new_bodies, prefix="https://cm.org/a"))
    reader = IndexReader(spark, d)
    want = oracle_search(
        _oracle((bodies, "https://cm.org/p"), (new_bodies, "https://cm.org/a")),
        "tieword zzzabsent", "bm25", 3)
    assert want[0][0] == "https://cm.org/a000"
    assert want[0][1] == want[1][1]
    for k in (1, 3):
        got = [(r["url"], r["score"]) for r in
               Engine(reader).search("tieword zzzabsent", "bm25", k).collect()]
        _assert_same(got, want[:k])
        for strategy in ("bulk", "wand"):
            flat = [(r["url"], r["score"]) for r in wand_topk(
                reader, ["tieword", "zzzabsent"], k=k, strategy=strategy,
                recompute_bounds=True).collect()]
            _assert_same(flat, want[:k])


def _forms():
    """perfbench/gen.py FORMS: (query template, model) of every class."""
    import importlib.util
    import sys

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "perfbench", "gen.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    gen = sys.modules.setdefault(spec.name, importlib.util.module_from_spec(spec))
    spec.loader.exec_module(gen)
    return [f for forms in gen.FORMS.values() for f in forms], gen.INDRI_KW


def test_warm_query_forms_start_one_stripe_job(spark, tiny_index):
    """Every query form of the serve benchmark runs as the one stripe job
    once the reader's metadata memos are warm; a #NEAR/#WINDOW list whose
    df feeds BM25 idf adds its one pre-pass job."""
    forms, indri_kw = _forms()
    assert len(forms) == 7
    eng = Engine(tiny_index)
    for text, model in forms:
        q = text.format("cebaba1", "dibaba2", "fobaba3", w=0.3, v=0.7)
        kw = indri_kw if model == "indri" else {}
        first = eng.search(q, model, 10, **kw).collect()
        again, n = _jobs(spark, lambda: eng.search(q, model, 10, **kw).collect())
        assert again == first
        derived = model in ("bm25", "indri") and ("#NEAR" in q or "#WINDOW" in q
                                                  or "#SYN" in q)
        assert n == (2 if derived else 1), (q, model, n)
