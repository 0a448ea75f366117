"""PageRank (links.pagerank, the power iteration behind the LTR url prior):
hand-solvable graphs, a numpy power-iteration replica, the reliable
checkpoint setting and the empty edge set."""

import pytest

from searchengines_spark.links import PR_DAMP, PR_ITERS, pagerank


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
