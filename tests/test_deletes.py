"""Document deletes, Lucene/Iceberg model: tombstones exclude docs from
results immediately (merge-on-read; corpus stats stay as-built), compaction
removes them physically (copy-on-write) after which results are
bit-identical to a fresh build over the surviving corpus."""

import math
import os

import pytest

from searchengines_spark.corpus import generate_pages
from searchengines_spark.engine import Engine
from searchengines_spark.index import IndexReader, build_index
from searchengines_spark.index.incremental import compact, delete_pages
from searchengines_spark.index.snapshots import list_snapshots

QUERY = "haceba4 badiba5 dibaba2"  # Zipf-tail terms: nonzero idf


def _topk(spark, d, k, snapshot=None):
    e = Engine(IndexReader(spark, d, snapshot=snapshot))
    return [(r["url"], r["score"])
            for r in e.search(QUERY, "bm25", k).collect()]


@pytest.fixture(scope="module")
def deleted_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dels")
    generate_pages(spark, 300, seed=42, partitions=4).write.parquet(
        str(root / "pages"))
    all_df = spark.read.parquet(str(root / "pages"))
    d = str(root / "idx")
    build_index(spark, all_df, d, n_salts=4)
    pre = _topk(spark, d, 100)  # deep pre-delete ranking
    del_urls = all_df.filter("url like 'https://www3%'")
    m = delete_pages(spark, d, del_urls.select("url"))
    assert m["n_deleted_total"] > 0
    deleted = {r["url"] for r in del_urls.select("url").distinct().collect()}
    return d, root, pre, deleted, m


def test_merge_on_read_excludes_tombstones(spark, deleted_index):
    """Post-delete, both serving paths drop tombstoned docs while every
    other doc keeps its as-built score (Lucene semantics: stats reflect
    deleted docs until merge)."""
    d, _root, pre, deleted, _m = deleted_index
    assert any(u in deleted for u, _ in pre)  # the delete hits the top-100
    expect = [(u, s) for u, s in pre if u not in deleted][:20]
    got = _topk(spark, d, 20)
    assert [u for u, _ in got] == [u for u, _ in expect]
    for (_, gs), (_, ws) in zip(got, expect):
        assert math.isclose(gs, ws, rel_tol=1e-9)


def test_delete_is_idempotent_and_snapshotted(spark, deleted_index):
    d, root, _pre, deleted, m = deleted_index
    again = delete_pages(
        spark, d,
        spark.read.parquet(str(root / "pages")).filter(
            "url like 'https://www3%'").select("url"))
    assert again["n_deleted_total"] == m["n_deleted_total"]
    ops = [s["operation"] for s in list_snapshots(d)]
    assert "delete" in ops
    # time travel to the build commit still sees the deleted docs
    v1 = _topk(spark, d, 100, snapshot=1)
    assert any(u in deleted for u, _ in v1)


def test_compact_purges_physically(spark, deleted_index):
    d, root, _pre, deleted, _m = deleted_index
    all_df = spark.read.parquet(str(root / "pages"))
    compact(spark, d, n_salts=4)
    assert not os.path.isdir(os.path.join(d, "deletes"))
    import json

    with open(os.path.join(d, "MANIFEST.json")) as f:
        man = json.load(f)
    assert man["n_deleted"] == 0 and man["purges"][0]["n_purged"] > 0

    d_fresh = str(root / "fresh")
    build_index(spark, all_df.filter("url not like 'https://www3%'"),
                d_fresh, n_salts=4)
    want = _topk(spark, d_fresh, 20)
    got = _topk(spark, d, 20)
    assert [u for u, _ in got] == [u for u, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)
    # forward/stat tables no longer reference any tombstoned doc
    r = IndexReader(spark, d)
    assert r.deletes_df() is None
    left = r.docid_url_map().filter(
        r.docid_url_map()["url"].startswith("https://www3")).count()
    assert left == 0


def test_streaming_delete_feed(spark, tmp_path):
    """Continuous delete feed: parquet url drops tombstone per micro-batch
    (exactly-once via the streaming checkpoint), excluded from serving."""
    from pyspark.sql import functions as F

    from searchengines_spark.streaming import stream_deletes

    pages = generate_pages(spark, 120, seed=9, partitions=2)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, n_salts=4)
    n0 = IndexReader(spark, d).n_docs

    feed = str(tmp_path / "delfeed")
    os.makedirs(feed)
    pages.filter("url like 'https://www2%'").select("url").write.parquet(
        os.path.join(feed, "drop0"))
    # each takedown drop is its own parquet dir under the feed -> glob
    q = stream_deletes(spark, feed + "/*", d, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    r = IndexReader(spark, d)
    assert r.deletes_df() is not None and r.deletes_df().count() > 0
    assert r.n_docs == n0  # tombstones: count unchanged until compact
    e = Engine(r)
    hits = e.search("cebaba1 dibaba2", "bm25", 100).collect()
    assert hits and all(not h["url"].startswith("https://www2") for h in hits)


def test_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """Kill compact mid-rewrite (after the purge swaps, before the block
    re-encode): readers fall back to the last committed snapshot and keep
    excluding tombstoned docs; a compact() re-run repairs the live tree."""
    import searchengines_spark.index.incremental as inc

    pages = generate_pages(spark, 120, seed=9, partitions=2)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, n_salts=4)
    delete_pages(spark, d, pages.filter("url like 'https://www2%'").select("url"))
    pre_crash = _topk(spark, d, 20)
    assert pre_crash and all(not u.startswith("https://www2") for u, _ in pre_crash)

    def boom(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(inc, "encode_blocks", boom, raising=False)
    real_encode = __import__(
        "searchengines_spark.index.build", fromlist=["encode_blocks"]).encode_blocks
    monkeypatch.setattr("searchengines_spark.index.build.encode_blocks", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact(spark, d, n_salts=4)
    assert os.path.exists(os.path.join(d, "COMPACTING"))
    assert os.path.isdir(os.path.join(d, "deletes"))  # tombstones survive

    # reader redirects to the last committed snapshot: still correct
    during = _topk(spark, d, 20)
    assert [u for u, _ in during] == [u for u, _ in pre_crash]

    monkeypatch.setattr("searchengines_spark.index.build.encode_blocks",
                        real_encode)
    monkeypatch.setattr(inc, "encode_blocks", real_encode, raising=False)
    compact(spark, d, n_salts=4)
    assert not os.path.exists(os.path.join(d, "COMPACTING"))
    assert not os.path.isdir(os.path.join(d, "deletes"))
    d_fresh = str(tmp_path / "fresh")
    build_index(spark, pages.filter("url not like 'https://www2%'"),
                d_fresh, n_salts=4)
    want = _topk(spark, d_fresh, 20)
    got = _topk(spark, d, 20)
    assert [u for u, _ in got] == [u for u, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)


def test_upsert_replaces_recrawled_content(spark, tmp_path):
    """Re-crawl upsert: incoming pages replace same-url content (new docid,
    old tombstoned), new urls append; post-compact == fresh build over the
    updated corpus."""
    from pyspark.sql import functions as F

    from searchengines_spark.index.incremental import upsert_pages

    pages = generate_pages(spark, 200, seed=42, partitions=4)
    first = pages.filter("url < 'https://www6'")
    d = str(tmp_path / "idx")
    build_index(spark, first, d, n_salts=4)

    # the recrawl: every www2 page re-arrives with CHANGED content (remap
    # html/text deterministically by swapping in a marker token), plus the
    # never-seen tail urls
    changed = (
        pages.filter("url like 'https://www2%'")
        .withColumn("html", F.to_binary(
            F.concat(F.lit("<html><body> recrawlmarker recrawlmarker "
                           "recrawlmarker </body></html>")), F.lit("utf-8")))
        .withColumn("text", F.lit("recrawlmarker recrawlmarker recrawlmarker"))
    )
    batch = changed.unionByName(pages.filter("url >= 'https://www6'"))
    m = upsert_pages(spark, d, batch)
    assert m["replaced_tombstones"] > 0 and m["appended"] > 0

    e = Engine(IndexReader(spark, d))
    # new content serves for the re-crawled urls...
    hits = e.search("recrawlmarker", "bm25", 50).collect()
    assert hits and all(h["url"].startswith("https://www2") for h in hits)
    n_www2 = pages.filter(
        "url like 'https://www2%' and lang = 'en'").count()
    assert len(hits) == n_www2
    # ...and each re-crawled url serves exactly once (old docid tombstoned)
    urls = [h["url"] for h in hits]
    assert len(urls) == len(set(urls))

    # more_like_this on an upserted url must read the NEW doc vector: the
    # url maps to both the tombstoned and the live docid until compact, and
    # the stale vector would select pre-recrawl terms. The recrawled docs'
    # only discriminative term is the marker, so MLT's expansion hits
    # exactly the www2 set.
    mlt = [r["url"] for r in
           e.more_like_this(urls[0], top_terms=5, k=50).collect()]
    assert mlt and all(u.startswith("https://www2") for u in mlt)
    assert urls[0] in mlt

    compact(spark, d, n_salts=4)
    d_fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        first.filter("url not like 'https://www2%'").unionByName(batch),
        d_fresh, n_salts=4)
    got = _topk(spark, d, 20)
    want = _topk(spark, d_fresh, 20)
    assert [u for u, _ in got] == [u for u, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)

    # a deleted-but-uncompacted url must ERROR from more_like_this, not
    # silently serve the tombstoned doc vector
    delete_pages(spark, d, spark.createDataFrame([(urls[0],)], ["url"]))
    with pytest.raises(KeyError):
        Engine(IndexReader(spark, d)).more_like_this(urls[0])
