"""Anchor-text / link-graph layer: href extraction vs an independent
HTMLParser-based oracle, anchor aggregation (host votes, spam caps,
determinism) vs a pure-Python replica, the anchor-built ``inlink`` field
serving rank-identical to the oracle index, and the real-href host graph
feeding pagerank.

Reference parity: the ``inlink`` field is ClueWeb's anchor-text field
(/root/reference/QryEval/QryParser.java:159-163); the reference consumes it
pre-computed, our engine computes it from the crawl (links.py module doc).
"""

import math
from collections import defaultdict
from html.parser import HTMLParser
from urllib.parse import urljoin, urlparse

import pytest

from searchengines_spark.corpus import (FIELDS, extract_fields, generate_pages,
                                        make_page)
from searchengines_spark.engine import Engine
from searchengines_spark.links import (PR_DAMP, PR_ITERS, anchor_texts,
                                       extract_links, host_graph, pagerank)
from searchengines_spark.oracle import OracleIndex, search as oracle_search
from searchengines_spark.tokenizer import tokenize_full

N_DOCS = 240
FANOUT = 3
K = 20


class _LinkParser(HTMLParser):
    """Independent link extractor (stdlib HTMLParser, not the regex)."""

    def __init__(self, src):
        super().__init__()
        self.src = src
        self.out = []
        self._href = None
        self._buf = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._href = dict(attrs).get("href")
            self._buf = []

    def handle_data(self, data):
        if self._href is not None:
            self._buf.append(data)

    def handle_endtag(self, tag):
        if tag == "a" and self._href is not None:
            dst = urljoin(self.src, self._href).split("#")[0]
            anchor = " ".join(" ".join(self._buf).split())
            if (dst.startswith(("http://", "https://")) and dst != self.src
                    and anchor):
                self.out.append((self.src, dst, anchor))
            self._href = None


def _py_links():
    out = []
    for i in range(N_DOCS):
        url, _, html, _, _ = make_page(i, seed=42, link_fanout=FANOUT,
                                       n_docs=N_DOCS)
        p = _LinkParser(url)
        p.feed(html.decode("utf-8"))
        out.extend(p.out)
    return out


def _py_anchor_texts(links, max_anchors=32, per_host_cap=4):
    """Pure-Python replica of links.anchor_texts."""
    votes = sorted({(d, urlparse(s).hostname, a) for s, d, a in links})
    per_host = defaultdict(list)
    for d, h, a in votes:
        per_host[(d, h)].append(a)
    weights = defaultdict(int)
    for (d, h), anchors in per_host.items():
        for a in sorted(anchors)[:per_host_cap]:
            weights[(d, a)] += 1
    by_dst = defaultdict(list)
    for (d, a), w in weights.items():
        by_dst[d].append((-w, a))
    return {d: " ".join(a for _, a in sorted(rows)[:max_anchors])
            for d, rows in by_dst.items()}


@pytest.fixture(scope="module")
def linked_pages(spark):
    return generate_pages(spark, N_DOCS, seed=42, partitions=4,
                          link_fanout=FANOUT)


@pytest.fixture(scope="module")
def spark_links(linked_pages):
    return extract_links(linked_pages)


def test_extract_links_matches_independent_parser(spark_links):
    got = sorted((r["src"], r["dst"], r["anchor"])
                 for r in spark_links.collect())
    want = sorted(_py_links())
    assert got == want
    assert len(got) > N_DOCS  # fanout actually produced links
    # relative hrefs resolved to absolute page urls
    assert all(d.startswith("https://www") and "/p" in d for _, d, _ in got)


def test_extract_links_quote_forms(spark):
    """Real crawl html: single-quoted and bare hrefs must parse; data-href
    must not (the href token requires a preceding whitespace)."""
    html = (b"<html><body>"
            b'<a href="https://a.example/x">dq</a>'
            b"<a href='https://a.example/y'>sq</a>"
            b"<a href=https://a.example/z class=c>bare</a>"
            b'<a data-href="https://a.example/no">notlink</a>'
            b'<a class="k" href="/rel">rel</a>'
            b"</body></html>")
    pages = spark.createDataFrame(
        [("https://src.example/p", bytearray(html))], ["url", "html"])
    got = {(r["dst"], r["anchor"]) for r in extract_links(pages).collect()}
    assert got == {("https://a.example/x", "dq"),
                   ("https://a.example/y", "sq"),
                   ("https://a.example/z", "bare"),
                   ("https://src.example/rel", "rel")}


def test_upsert_refreshes_anchor_inlink(spark, linked_pages, spark_links,
                                        tmp_path_factory):
    """Re-crawling a page in an anchor-built index must keep its inlink
    field anchor-built (the periodic-anchor-refresh path), not revert to
    the in-page stand-in."""
    from pyspark.sql import functions as F

    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.index.incremental import upsert_pages
    from searchengines_spark.tokenizer import tokenize_full

    anc_map = _py_anchor_texts(_py_links())
    # an en page with inbound anchors
    target = None
    for i in range(N_DOCS):
        url, _, _, _, lang = make_page(i, seed=42, link_fanout=FANOUT,
                                       n_docs=N_DOCS)
        if lang == "en" and anc_map.get(url):
            toks = [t for t in tokenize_full(anc_map[url]) if t]
            if toks:
                target, term, ti = url, toks[0], i
                break
    assert target is not None

    anc = anchor_texts(spark_links)
    idx_col = F.regexp_extract("url", r"p(\d{10})\.html", 1).cast("int")
    subset = linked_pages.filter((idx_col < 120) | (idx_col == ti))
    d = str(tmp_path_factory.mktemp("anchor_upsert"))
    build_index(spark, subset, d, n_salts=4, anchors=anc)
    upsert_pages(spark, d, linked_pages.filter(idx_col == ti), anchors=anc)
    got = [r["url"] for r in Engine(IndexReader(spark, d))
           .search(f"{term}.inlink", "bm25", 50).collect()]
    assert target in got


def test_nofollow_and_canonical(spark):
    """Crawl semantics: rel=nofollow links (leading or trailing attr) pass
    no vote; a meta-robots-nofollow page passes none at all; canonical
    declarations redirect votes to the canonical url."""
    from searchengines_spark.links import canonical_map, resolve_canonical

    h1 = (b'<html><body>'
          b'<a rel="nofollow" href="https://a.example/x">no1</a>'
          b'<a href="https://a.example/x" rel="ugc nofollow">no2</a>'
          b'<a href="https://a.example/y">yes</a>'
          b'<a href="https://m.example/alias">als</a>'
          b'</body></html>')
    h2 = (b'<html><head><meta name="robots" content="noindex, nofollow">'
          b'</head><body><a href="https://a.example/z">blocked</a>'
          b'</body></html>')
    h3 = (b'<html><head>'
          b'<link rel="canonical" href="https://a.example/y">'
          b'</head><body>ok</body></html>')
    pages = spark.createDataFrame(
        [("https://s1.example/p", bytearray(h1)),
         ("https://s2.example/p", bytearray(h2)),
         ("https://m.example/alias", bytearray(h3))], ["url", "html"])
    links = extract_links(pages)
    got = {(r["src"], r["dst"], r["anchor"]) for r in links.collect()}
    assert got == {("https://s1.example/p", "https://a.example/y", "yes"),
                   ("https://s1.example/p", "https://m.example/alias", "als")}

    cmap = canonical_map(pages)
    assert [(r["alias"], r["canonical"]) for r in cmap.collect()] == [
        ("https://m.example/alias", "https://a.example/y")]
    resolved = {(r["src"], r["dst"], r["anchor"])
                for r in resolve_canonical(links, cmap).collect()}
    assert resolved == {
        ("https://s1.example/p", "https://a.example/y", "yes"),
        ("https://s1.example/p", "https://a.example/y", "als")}


def test_anchor_texts_matches_replica(spark_links):
    got = {r["url"]: r["inlink"] for r in anchor_texts(spark_links).collect()}
    want = _py_anchor_texts(_py_links())
    assert got == want


def test_anchor_caps(spark):
    # one spam host repeating 10 distinct anchors at dst, one honest host
    # 3x-duplicating anchor "good": spam capped at per_host_cap alphabetical,
    # dup votes collapse to one per host, ties break anchor-ascending
    rows = ([("http://spam.example/a%d" % i, "http://t.example/x",
              "z%02d spammy" % i) for i in range(10)]
            + [("http://honest.example/p%d" % i, "http://t.example/x", "good")
               for i in range(3)])
    links = spark.createDataFrame(rows, ["src", "dst", "anchor"])
    out = anchor_texts(links, max_anchors=3, per_host_cap=4).collect()
    assert len(out) == 1
    # weights: good=3 hosts? no — 3 links from ONE host dedup to 1 vote;
    # spam anchors each 1 vote. good ties at w=1, anchor asc wins
    assert out[0]["inlink"] == "good z00 spammy z01 spammy"


@pytest.fixture(scope="module")
def anchor_reader(spark, linked_pages, spark_links, tmp_path_factory):
    from searchengines_spark.index import IndexReader, build_index

    d = str(tmp_path_factory.mktemp("anchor_idx"))
    m = build_index(spark, linked_pages, d, n_salts=4,
                    anchors=anchor_texts(spark_links))
    assert m.get("anchor_inlinks") is True
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def anchor_oracle():
    anc = _py_anchor_texts(_py_links())
    docs = []
    for i in range(N_DOCS):
        url, _, html, _, lang = make_page(i, seed=42, link_fanout=FANOUT,
                                          n_docs=N_DOCS)
        if lang != "en":
            continue
        f = extract_fields(url, html)
        f["inlink"] = anc.get(url, "")
        docs.append((url, {k: tokenize_full(f[k]) for k in FIELDS}))
    return OracleIndex.from_docs(docs)


def _pick_inlink_terms(oracle_idx):
    """Deterministic query terms actually present in the anchor field."""
    cands = sorted(t for (f, t), pl in oracle_idx.postings.items()
                   if f == "inlink" and 3 <= len(pl) <= 120)
    assert len(cands) >= 2, "anchor corpus produced too few usable terms"
    return cands[0], cands[len(cands) // 2]


@pytest.mark.parametrize("model,kw", [("bm25", {}),
                                      ("indri", {"mu": 1500.0, "lam": 0.4})])
def test_inlink_rank_identity(anchor_reader, anchor_oracle, model, kw):
    t1, t2 = _pick_inlink_terms(anchor_oracle)
    eng = Engine(anchor_reader)
    for q in (f"{t1}.inlink",
              f"#AND( {t1}.inlink cebaba1 )",
              f"#OR( {t1}.inlink {t2}.inlink )"):
        got = [(r["url"], r["score"]) for r in
               eng.search(q, model, K, **kw).collect()]
        want = oracle_search(anchor_oracle, q, model, K, **kw)
        assert [u for u, _ in got] == [u for u, _ in want], (model, q)
        for (gu, gs), (wu, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (
                model, q, gu, gs, ws)


def test_inlink_field_stats_match_oracle(anchor_reader, anchor_oracle):
    t1, _ = _pick_inlink_terms(anchor_oracle)
    stats = anchor_reader.term_stats([("inlink", t1)])
    df, ctf = stats[("inlink", t1)]
    assert df == anchor_oracle.df("inlink", t1)
    assert ctf == anchor_oracle.ctf("inlink", t1)
    assert (anchor_reader.avg_doclen("inlink")
            == pytest.approx(anchor_oracle.avg_len("inlink"), rel=1e-9))


def test_append_with_anchors_matches_full_build(spark, linked_pages,
                                                spark_links, anchor_oracle,
                                                tmp_path_factory):
    """An anchor-built index stays consistent across appends: build on the
    first 200 pages + append the rest (same global anchor state both
    times) must serve inlink-field queries identically to a fresh build of
    the whole corpus — and identically to the oracle."""
    from pyspark.sql import functions as F

    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.index.incremental import append_pages

    anc = anchor_texts(spark_links)
    idx_col = F.regexp_extract("url", r"p(\d{10})\.html", 1).cast("int")
    first = linked_pages.filter(idx_col < 200)
    rest = linked_pages.filter(idx_col >= 200)

    d1 = str(tmp_path_factory.mktemp("anchor_append"))
    build_index(spark, first, d1, n_salts=4, anchors=anc)
    append_pages(spark, d1, rest, anchors=anc)
    r1 = IndexReader(spark, d1)

    t1, t2 = _pick_inlink_terms(anchor_oracle)
    assert (r1.term_stats([("inlink", t1)])[("inlink", t1)]
            == (anchor_oracle.df("inlink", t1), anchor_oracle.ctf("inlink", t1)))
    got = [(r["url"], r["score"]) for r in
           Engine(r1).search(f"#OR( {t1}.inlink {t2}.inlink )",
                             "bm25", K).collect()]
    want = oracle_search(anchor_oracle, f"#OR( {t1}.inlink {t2}.inlink )",
                         "bm25", K)
    assert [u for u, _ in got] == [u for u, _ in want]
    for (gu, gs), (wu, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)


def test_refresh_anchors_delta(spark, linked_pages, spark_links,
                               tmp_path_factory):
    """A new inbound link appears -> refresh_anchors re-indexes ONLY the
    affected target (delta pass, no full rebuild), the new anchor term
    serves from its inlink field, and a second refresh is a no-op."""
    from pyspark.sql import functions as F

    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.index.incremental import refresh_anchors

    anc_map = _py_anchor_texts(_py_links())
    tgt = next(u for i in range(N_DOCS)
               for u, _, _, _, lang in [make_page(i, seed=42,
                                                  link_fanout=FANOUT,
                                                  n_docs=N_DOCS)]
               if lang == "en" and anc_map.get(u))

    d = str(tmp_path_factory.mktemp("anchor_refresh"))
    build_index(spark, linked_pages, d, n_salts=4,
                anchors=anchor_texts(spark_links))

    extra = spark.createDataFrame(
        [(f"https://ext{i}.example/p", tgt, "zzznewa zzznewa")
         for i in range(5)], ["src", "dst", "anchor"])
    anc2 = anchor_texts(spark_links.unionByName(extra))
    m = refresh_anchors(spark, d, linked_pages, anc2)
    assert m["refreshed"] == 1

    got = [r["url"] for r in Engine(IndexReader(spark, d))
           .search("zzznewa.inlink", "bm25", 10).collect()]
    assert got == [tgt]
    assert refresh_anchors(spark, d, linked_pages, anc2)["refreshed"] == 0

    # cycle 2 on an index that now HAS tombstones (cycle 1's upsert): the
    # same target changes again — it must re-index, not just tombstone
    # (regression: a lazy `changed` re-evaluated empty inside append after
    # delete_pages re-listed the tombstones)
    extra2 = spark.createDataFrame(
        [(f"https://ext{i}.example/q", tgt, "zzznewb zzznewb")
         for i in range(5)], ["src", "dst", "anchor"])
    anc3 = anchor_texts(spark_links.unionByName(extra).unionByName(extra2))
    assert refresh_anchors(spark, d, linked_pages, anc3)["refreshed"] == 1
    got = [r["url"] for r in Engine(IndexReader(spark, d))
           .search("#OR( zzznewa.inlink zzznewb.inlink )", "bm25", 10)
           .collect()]
    assert got == [tgt]  # serves ONCE, with both anchors, under the new docid


def test_url_priors_into_index_attrs(spark, linked_pages, spark_links,
                                     tmp_path_factory):
    """Real crawl-graph PageRank flows into the per-doc attribute table
    (the reference's Idx.getAttribute / LTR f4 source): urls covered by
    the priors frame carry host-PageRank x1000, the rest keep the
    deterministic stand-in."""
    import hashlib

    from pyspark.sql import functions as F

    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.links import url_priors

    pri = url_priors(linked_pages, spark_links)
    idx_col = F.regexp_extract("url", r"p(\d{10})\.html", 1).cast("int")
    pri_half = pri.join(linked_pages.filter(idx_col < 120).select("url"),
                        "url")
    d = str(tmp_path_factory.mktemp("prior_idx"))
    build_index(spark, linked_pages, d, n_salts=4, page_ranks=pri_half)

    got = {r["raw_url"]: r["page_rank"]
           for r in IndexReader(spark, d).attrs().collect()}
    want = {r["url"]: r["page_rank"] for r in pri.collect()}
    n_prior = 0
    for url, pr in got.items():
        i = int(url.rsplit("p", 1)[1].split(".")[0])
        if i < 120:
            assert pr == pytest.approx(want[url], rel=1e-12), url
            n_prior += 1
        else:  # stand-in preserved for uncovered urls
            standin = int(hashlib.md5(url.encode()).hexdigest()[4:8],
                          16) % 10000 / 100.0
            assert pr == pytest.approx(standin, rel=1e-12), url
    assert n_prior > 50
    # mass conservation: the 7 hosts' per-host priors (x1000-scaled
    # PageRank) sum back to 1000 — a pagerank mass-loss regression fails here
    per_host = {u.split("/")[2]: v for u, v in want.items()}
    assert sum(per_host.values()) == pytest.approx(1000.0, abs=1e-6)


def test_one_anchor_row_per_url(spark):
    """Multi-epoch streaming-delta reads collapse to one row per url with
    the latest epoch winning; epoch-less frames stay deterministic."""
    from searchengines_spark.links import one_anchor_row_per_url

    multi = spark.createDataFrame(
        [("http://a", "old text", 0), ("http://a", "new text", 1),
         ("http://b", "only", 0)],
        "url string, inlink string, epoch long")
    got = {r["url"]: r["inlink"]
           for r in one_anchor_row_per_url(multi).collect()}
    assert got == {"http://a": "new text", "http://b": "only"}

    dup = spark.createDataFrame(
        [("http://a", "x"), ("http://a", "z"), ("http://b", "only")],
        "url string, inlink string")
    got = {r["url"]: r["inlink"]
           for r in one_anchor_row_per_url(dup).collect()}
    assert got == {"http://a": "z", "http://b": "only"}  # inlink desc


def test_anchors_ignored_on_resume_surfaced(spark, linked_pages, spark_links,
                                            tmp_path_factory):
    """build_index(resume=True, anchors=...) with the doc_terms stage
    already complete must surface the no-op like the page_ranks branch."""
    from searchengines_spark.index import build_index

    d = str(tmp_path_factory.mktemp("resume_anchor"))
    build_index(spark, linked_pages, d, n_salts=4)
    anc = anchor_texts(spark_links)
    m = build_index(spark, linked_pages, d, n_salts=4, resume=True,
                    anchors=anc)
    assert m.get("anchors_ignored_on_resume") is True
    assert "anchor_inlinks" not in m


def test_url_priors_url_granularity_hand_solved(spark):
    """Per-url PageRank (url_priors granularity='url'): hand-solved one
    power iteration on a 3-node url graph with a dangling node, duplicate
    (src, dst) links collapsing to w=1, TOTAL coverage (a page outside the
    graph gets the teleport floor), and mass conservation."""
    from searchengines_spark.links import url_graph, url_priors

    a, b, c = ("http://h1.org/a", "http://h1.org/b", "http://h2.org/c")
    links = spark.createDataFrame(
        [(a, b, "x"), (a, b, "y"),   # duplicate pair: one vote after distinct
         (b, a, "x"), (b, c, "x")],
        "src string, dst string, anchor string")
    # edges w=1: a->b, b->a, b->c; c dangling. n=3, init 1/3, damp=.85:
    #   a: .05 + .85*(1/6 + 1/9) = 0.28611...; b: .05 + .85*(1/3 + 1/9)
    #   = 0.42777...; c: like a. Sum = 1.
    got = {r["node"]: r["pr"]
           for r in pagerank(url_graph(links), iters=1).collect()}
    assert got[a] == pytest.approx(0.05 + 0.85 * (1 / 6 + 1 / 9), abs=1e-12)
    assert got[b] == pytest.approx(0.05 + 0.85 * (1 / 3 + 1 / 9), abs=1e-12)
    assert got[c] == pytest.approx(got[a], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)

    pages = spark.createDataFrame(
        [(u,) for u in (a, b, c, "http://h3.org/outside")], "url string")
    pri = {r["url"]: r["page_rank"]
           for r in url_priors(pages, links, iters=1,
                               granularity="url").collect()}
    assert pri[a] == pytest.approx(got[a] * 1000.0, abs=1e-9)
    assert pri[b] == pytest.approx(got[b] * 1000.0, abs=1e-9)
    # TOTAL: never-linked page gets the teleport floor (1-damp)/n, x1000
    assert pri["http://h3.org/outside"] == pytest.approx(50.0, abs=1e-9)
    with pytest.raises(ValueError):
        url_priors(pages, links, granularity="page")


def test_url_priors_url_granularity_real_corpus(linked_pages, spark_links):
    """granularity='url' on the real crawl corpus matches a pure-Python
    per-url PageRank replica over the independently parsed links; graph
    mass conserved."""
    from searchengines_spark.links import url_priors

    edges = sorted({(s, d) for s, d, _ in _py_links() if s != d})
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n, damp = len(nodes), 0.85
    ow = defaultdict(float)
    for s, _ in edges:
        ow[s] += 1.0
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        dang = sum(p for v, p in pr.items() if v not in ow)
        contrib = defaultdict(float)
        for s, d in edges:
            contrib[d] += pr[s] / ow[s]
        pr = {v: (1 - damp) / n + damp * (contrib.get(v, 0.0) + dang / n)
              for v in nodes}
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-9)

    got = {r["url"]: r["page_rank"]
           for r in url_priors(linked_pages, spark_links, iters=3,
                               granularity="url").collect()}
    assert len(got) == N_DOCS  # TOTAL over pages
    floor = (1 - damp) / n
    for url, v in got.items():
        assert v == pytest.approx(pr.get(url, floor) * 1000.0, rel=1e-9), url


def test_host_graph_feeds_pagerank(spark_links):

    hg = host_graph(spark_links)
    edges = hg.collect()
    hosts = {e["src"] for e in edges} | {e["dst"] for e in edges}
    assert hosts == {f"www{i}.example.org" for i in range(7)}
    # weights replicate the independent parse (cross-host edges only)
    want = defaultdict(int)
    for s, d, _ in _py_links():
        hs, hd = urlparse(s).hostname, urlparse(d).hostname
        if hs != hd:
            want[(hs, hd)] += 1
    assert {(e["src"], e["dst"]): int(e["w"]) for e in edges} == dict(want)
    pr = pagerank(hg, iters=3).collect()
    assert sum(r["pr"] for r in pr) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_hand_computed_and_stochastic(spark):
    """PageRank on a hand-solvable 3-node graph: A->B, B->C, C->A (uniform
    cycle => uniform ranks = 1/3 at every iteration), then a weighted
    asymmetric graph checked against a 5-step numpy power iteration; ranks
    always sum to 1 (dangling mass redistributed, nothing leaks)."""
    cyc = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        ["src", "dst", "w"])
    out = {r.node: r.pr for r in pagerank(cyc).collect()}
    for v in out.values():
        assert v == pytest.approx(1 / 3, abs=1e-12)

    # weighted + a dangling node d (in-links only)
    edges = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
             ("c", "a", 1.0), ("a", "d", 1.0), ("b", "d", 3.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {r.node: r.pr for r in pagerank(df).collect()}

    import numpy as np
    nodes = ["a", "b", "c", "d"]
    idx = {n: i for i, n in enumerate(nodes)}
    n, d = len(nodes), PR_DAMP
    M = np.zeros((n, n))
    outw = {}
    for s, t, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    for s, t, w in edges:
        M[idx[t], idx[s]] += w / outw[s]
    r = np.full(n, 1.0 / n)
    for _ in range(PR_ITERS):
        dang = sum(r[idx[u]] for u in nodes if u not in outw)
        r = (1 - d) / n + d * (M @ r + dang / n)
    for u in nodes:
        assert got[u] == pytest.approx(round(r[idx[u]], 6), abs=2e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_reliable_checkpoint_identical(spark, tmp_path):
    """reliable_checkpoint=True (the real-cluster setting: materialized
    ranks survive executor loss) swaps localCheckpoint for checkpoint()
    without changing a single rank value."""
    edges = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
             ("c", "a", 1.0), ("a", "d", 1.0), ("b", "d", 3.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    base = {r.node: r.pr for r in pagerank(df).collect()}
    old_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        rel = pagerank(df, reliable_checkpoint=True)
        got = {r.node: r.pr for r in rel.collect()}
    finally:
        if old_dir.isDefined():
            spark.sparkContext.setCheckpointDir(old_dir.get())
    assert got == base
    assert rel._pagerank_n_nodes == 4


def test_pagerank_empty_graph(spark):
    """An empty edge set (a crawl slice with no extractable links) returns
    the empty rank frame instead of a ZeroDivisionError, and url_priors
    still yields a TOTAL frame (every page at the teleport floor)."""
    from searchengines_spark.links import url_priors
    empty = spark.createDataFrame([], "src string, dst string, w double")
    out = pagerank(empty)
    assert out.count() == 0
    assert out.columns == ["node", "pr"]
    pages = spark.createDataFrame(
        [("https://h0.example.org/a.html",), ("https://h1.example.org/b.html",)],
        ["url"])
    pri = {r.url: r.page_rank for r in url_priors(pages, empty).collect()}
    assert len(pri) == 2
    floor = (1.0 - PR_DAMP) * 1000.0
    for v in pri.values():
        assert v == pytest.approx(floor, rel=1e-9)
