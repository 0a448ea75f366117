"""Incremental append + streaming ingestion: an appended index must answer
queries identically to a full rebuild over the same corpus, compaction must
leave results unchanged, and indexes written with the older block row
(which also carried three per-block score-bound columns) must keep working."""

import glob
import json
import math
import os
import shutil

import pyarrow.parquet as pq
import pytest

from searchengines_spark.corpus import generate_pages
from searchengines_spark.engine import Engine
from searchengines_spark.index import IndexReader, build_index
from searchengines_spark.index.build import BLOCKS_SCHEMA
from searchengines_spark.index.incremental import (append_pages, compact,
                                                   compact_buckets)

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


def _assert_current_format(d):
    """Every blocks/ file holds exactly the BLOCKS_SCHEMA columns, and the
    manifest carries no BM25 encode params or stale-bounds flags."""
    files = glob.glob(os.path.join(d, "blocks", "bucket=*", "*.parquet"))
    assert files
    for f in files:
        assert pq.read_schema(f).names == BLOCKS_SCHEMA.fieldNames(), f
    with open(os.path.join(d, "MANIFEST.json")) as f:
        man = json.load(f)
    assert not [k for k in man if k.startswith(("bm25_", "stale_"))]


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
    d_inc, _ = appended_and_full
    with open(os.path.join(d_inc, "MANIFEST.json")) as f:
        m = json.load(f)
    assert len(m["appends"]) == 1 and m["appends"][0]["n_new"] > 0
    _assert_current_format(d_inc)


def test_append_stats_match_full_rebuild(appended_and_full):
    """The append's stats merge (old + delta) yields exactly the full
    build's term_stats and field_stats rows, __docs__ row included."""
    def rows(d, table, cols):
        t = pq.read_table(os.path.join(d, table), columns=cols)
        return sorted(zip(*(t.column(c).to_pylist() for c in cols)))

    d_inc, d_full = appended_and_full
    for table, cols in [("term_stats", ["field", "term", "df", "ctf"]),
                        ("field_stats", ["field", "doc_count", "sum_len"])]:
        got, want = rows(d_inc, table, cols), rows(d_full, table, cols)
        assert want and got == want, table


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
    """compact() after an append: identical query results from
    Engine.search and from wand_topk."""
    import pyspark.sql.functions as F

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
    _assert_current_format(d)
    after = results()
    assert before == after
    # the flat BM25 bag of words over the compacted blocks agrees too
    r = IndexReader(spark, d)
    w = [(x["url"], round(x["score"], 9)) for x in
         wand_topk(r, ["robaba5", "subaba6", "taveba0"], k=50).collect()]
    assert w == after


# columns and manifest keys of the block row this format replaced
LEGACY_BLOCK_COLUMNS = {"max_score": "double", "max_tf": "int",
                        "min_doclen": "int"}
LEGACY_MANIFEST_KEYS = {"bm25_k1": 1.2, "bm25_b": 0.75}


def _add_legacy_columns(spark, d):
    """Rewrite blocks_segments/ and blocks/ in the older block row: the
    three bound columns after max_docid, constant values."""
    import pyspark.sql.functions as F

    for tbl, part in (("blocks_segments", []), ("blocks", ["bucket"])):
        path = os.path.join(d, tbl)
        df = spark.read.parquet(path)
        cols = []
        for c in df.columns:
            cols.append(c)
            if c == "max_docid":
                cols += [F.lit(1).cast(t).alias(n)
                         for n, t in LEGACY_BLOCK_COLUMNS.items()]
        df.select(*cols).write.partitionBy(*part).parquet(path + "_legacy")
        shutil.rmtree(path)
        os.rename(path + "_legacy", path)
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        assert files and all(set(LEGACY_BLOCK_COLUMNS) <= set(pq.read_schema(f).names)
                             for f in files)
    man_path = os.path.join(d, "MANIFEST.json")
    with open(man_path) as f:
        man = json.load(f)
    with open(man_path, "w") as f:
        json.dump({**man, **LEGACY_MANIFEST_KEYS}, f)


@pytest.mark.slow
def test_legacy_block_format_lifecycle(spark, tmp_path):
    """An index whose segment and block files still carry the bound
    columns serves, appends, compacts by bucket and compacts in full, with
    results after each step equal to those of an untouched copy."""
    pages = generate_pages(spark, 160, seed=5, partitions=2)
    pages.write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    d_new = str(tmp_path / "new")
    # a low striping threshold gives both striped and unstriped blocks
    build_index(spark, pages.filter("url < 'https://www5'"), d_new,
                n_salts=4, salt_min_df=16)
    d_old = str(tmp_path / "old")
    shutil.copytree(d_new, d_old)
    _add_legacy_columns(spark, d_old)

    def results(d):
        e = Engine(IndexReader(spark, d))
        return [[(r["url"], r["score"]) for r in e.search(q, m, 20).collect()]
                for q, m in [(" ".join(QUERY_TERMS), "bm25"),
                             ("#AND( cebaba1 dibaba2 )", "indri"),
                             ("#NEAR/4( cebaba1 dibaba2 )", "bm25")]]

    assert results(d_old) == results(d_new)
    steps = [
        lambda d: append_pages(spark, d, pages.filter("url >= 'https://www5'")),
        lambda d: compact_buckets(spark, d),
        lambda d: compact(spark, d, n_salts=4),
    ]
    for step in steps:
        step(d_new)
        step(d_old)
        want = results(d_new)
        assert any(want)
        assert results(d_old) == want
