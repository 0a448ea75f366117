"""Incremental append + streaming ingestion: an appended index must answer
planner-path queries identically to a full rebuild over the same corpus, and
WAND with recomputed bounds must stay exact."""

import math
import os

import pytest

from searchengines_spark.corpus import generate_pages
from searchengines_spark.engine import Engine
from searchengines_spark.index import IndexReader, build_index
from searchengines_spark.index.incremental import append_pages
from searchengines_spark.query.wand import wand_topk

QUERY_TERMS = ["cebaba1", "dibaba2", "fobaba3"]


@pytest.fixture(scope="module")
def appended_and_full(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("incr")
    pages_all = generate_pages(spark, 300, seed=42, partitions=4)
    pages_all.write.parquet(str(root / "pages_all"))
    all_df = spark.read.parquet(str(root / "pages_all"))
    first = all_df.filter("url < 'https://www5'")
    rest = all_df.filter("url >= 'https://www5'")

    d_full = str(root / "full")
    build_index(spark, all_df, d_full, n_salts=4)

    d_inc = str(root / "inc")
    build_index(spark, first, d_inc, n_salts=4)
    m = append_pages(spark, d_inc, rest)
    assert m["appended"] > 0
    return d_inc, d_full


def test_append_matches_full_rebuild(spark, appended_and_full):
    d_inc, d_full = appended_and_full
    e_inc, e_full = Engine(IndexReader(spark, d_inc)), Engine(IndexReader(spark, d_full))
    for q, model in [
        (" ".join(QUERY_TERMS), "bm25"),
        ("#AND( cebaba1 dibaba2 )", "indri"),
        ("#NEAR/4( cebaba1 dibaba2 )", "bm25"),
    ]:
        got = [(r["url"], r["score"]) for r in e_inc.search(q, model, 20).collect()]
        want = [(r["url"], r["score"]) for r in e_full.search(q, model, 20).collect()]
        assert [u for u, _ in got] == [u for u, _ in want], (q, model)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)


def test_manifest_tracks_appends(spark, appended_and_full):
    import json

    d_inc, _ = appended_and_full
    with open(os.path.join(d_inc, "MANIFEST.json")) as f:
        m = json.load(f)
    assert m["stale_block_bounds"] is True
    assert len(m["appends"]) == 1 and m["appends"][0]["n_new"] > 0


def test_append_docid_assignment_parallel(spark):
    """The append path's docid assignment must be the two-pass
    range-partitioned rank — dense, offset-correct, and with NO global-sort
    window funneling every url through one task."""
    import inspect as _inspect

    import pyspark.sql.functions as F

    from searchengines_spark.corpus import assign_docids
    from searchengines_spark.index import incremental

    src = _inspect.getsource(incremental)
    assert "Window.orderBy" not in src  # the single-task anti-pattern is gone

    pages = generate_pages(spark, 80, seed=7, partitions=2)
    ids = assign_docids(pages.select("url", "html")).withColumn(
        "docid", F.col("docid") + F.lit(101))
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = ids.collect()
    n = pages.select("url").distinct().count()
    got = sorted(int(r["docid"]) for r in rows)
    assert got == list(range(101, 101 + n))  # dense rank + offset
    by_url = sorted(rows, key=lambda r: r["url"])
    assert [int(r["docid"]) for r in by_url] == list(range(101, 101 + n))


def test_resume_preserves_encode_params(spark, tmp_path):
    """build_index(resume=True) with different k1/b but a completed segments
    stage must NOT record the new params as the encode params — it keeps the
    old ones and flags stale bounds, so WAND pruning stays sound."""
    import json

    pages = generate_pages(spark, 60, seed=3, partitions=2)
    d = str(tmp_path / "idx")
    m1 = build_index(spark, pages, d, n_salts=2, bm25_k1=2.0, bm25_b=0.5)
    assert (m1["bm25_k1"], m1["bm25_b"]) == (2.0, 0.5)
    # resume with different params; every stage is done so nothing re-encodes
    m2 = build_index(spark, pages, d, n_salts=2, resume=True,
                     bm25_k1=1.2, bm25_b=0.75)
    assert (m2["bm25_k1"], m2["bm25_b"]) == (2.0, 0.5)
    assert m2.get("stale_block_bounds") is True
    with open(os.path.join(d, "MANIFEST.json")) as f:
        man = json.load(f)
    assert (man["bm25_k1"], man["bm25_b"]) == (2.0, 0.5)
    assert man["stale_block_bounds"] is True
    # same params -> no stale flag
    m3 = build_index(spark, pages, d, n_salts=2, resume=True,
                     bm25_k1=2.0, bm25_b=0.5)
    assert (m3["bm25_k1"], m3["bm25_b"]) == (2.0, 0.5)
    assert not m3.get("stale_block_bounds")


def test_streaming_ingestion(spark, tmp_path):
    from searchengines_spark.streaming import stream_index

    watch = str(tmp_path / "drops")
    os.makedirs(watch)
    pages = generate_pages(spark, 120, seed=9, partitions=2)
    pages.filter("url < 'https://www4'").write.parquet(os.path.join(watch, "b0"))

    base = str(tmp_path / "sidx")
    build_index(spark, spark.read.parquet(os.path.join(watch, "b0")), base, n_salts=4)
    n0 = IndexReader(spark, base).n_docs

    pages.filter("url >= 'https://www4'").write.parquet(os.path.join(watch, "b1"))
    q = stream_index(spark, watch + "/b1", base, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    r = IndexReader(spark, base)
    assert r.n_docs > n0
    eng = Engine(r)
    assert eng.search("cebaba1", "bm25", 5).count() > 0


def test_compact_after_append(spark, tmp_path):
    """compact(): fresh bounds (WAND exact without conservative recompute),
    identical query results, stale flag cleared."""
    import json
    import os

    import pyspark.sql.functions as F

    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.index.incremental import append_pages, compact
    from searchengines_spark.query.wand import wand_topk

    pages = generate_pages(spark, 150, seed=21, partitions=3)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, n_salts=4)
    extra = generate_pages(spark, 220, seed=21, partitions=3).filter(
        F.col("url").isNotNull()).limit(220)
    append_pages(spark, d, extra.subtract(pages))

    def results(q="robaba5 subaba6 taveba0"):
        r = IndexReader(spark, d)
        e = Engine(r)
        return [(x["url"], round(x["score"], 9))
                for x in e.search(q, k=50).collect()]

    before = results()
    m = compact(spark, d, n_salts=4)
    assert m["n_docs"] > 150
    with open(os.path.join(d, "MANIFEST.json")) as f:
        man = json.load(f)
    assert man["stale_block_bounds"] is False
    after = results()
    assert before == after
    # WAND with build-time bounds (no conservative recompute) == exhaustive
    r = IndexReader(spark, d)
    w = [(x["url"], round(x["score"], 9)) for x in
         wand_topk(r, ["robaba5", "subaba6", "taveba0"], k=50).collect()]
    assert w == after
