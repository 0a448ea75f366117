"""Streaming anchor maintenance (stream_anchor_votes): per-epoch deltas
are byte-identical to a batch anchor_texts rebuild over the cumulative
votes, only AFFECTED targets recompute, state survives across stream
restarts, and the delta feeds refresh_anchors(delta=True) end-to-end into
a served inlink field."""

import glob
import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from searchengines_spark.streaming import stream_anchor_votes

B1 = [("https://h1.example/a", "https://t.example/x", "alpha beta"),
      ("https://h2.example/b", "https://t.example/x", "alpha beta"),
      ("https://h1.example/c", "https://t.example/y", "gamma")]
B2 = [("https://h3.example/d", "https://t.example/x", "alpha beta"),   # new host vote
      ("https://h1.example/a", "https://t.example/x", "alpha beta")]   # pure replay


def _latest_deltas(out: str) -> dict[str, str]:
    files = glob.glob(out + "/epoch=*/*.parquet")
    rows = []
    for f in files:
        ep = int(f.split("epoch=")[1].split("/")[0])
        pdf = pd.read_parquet(f)
        pdf["epoch"] = ep
        rows.append(pdf)
    if not rows:
        return {}
    allr = pd.concat(rows).sort_values("epoch")
    return dict(zip(allr["url"], allr["inlink"]))  # last epoch wins


def test_stream_anchor_votes(spark, tmp_path, conf_spy):
    with conf_spy() as conf_keys:
        src = str(tmp_path / "links_in")
        out = str(tmp_path / "deltas")
        ck = str(tmp_path / "ck")
        st = str(tmp_path / "state")
        os.makedirs(src)

        spark.createDataFrame(B1, ["src", "dst", "anchor"]).coalesce(1) \
            .write.mode("append").parquet(src)
        q = stream_anchor_votes(spark, src, out, ck, st)
        q.awaitTermination(180)

        d1 = _latest_deltas(out)
        # both targets affected in epoch 1; aggregates match the batch rule
        assert d1 == {"https://t.example/x": "alpha beta",
                      "https://t.example/y": "gamma"}

        # batch 2: one genuinely new host vote for x, one pure replay
        spark.createDataFrame(B2, ["src", "dst", "anchor"]).coalesce(1) \
            .write.mode("append").parquet(src)
        q2 = stream_anchor_votes(spark, src, out, ck, st)
        q2.awaitTermination(180)

        # only x recomputes (y's votes unchanged -> absent from the new delta)
        files2 = glob.glob(out + "/epoch=*")
        assert len(files2) == 2
        last = max(files2, key=lambda p: int(p.split("epoch=")[1]))
        pdf = pd.read_parquet(glob.glob(last + "/*.parquet")[0])
        assert list(pdf["url"]) == ["https://t.example/x"]
        assert list(pdf["inlink"]) == ["alpha beta"]  # 3 hosts, same top anchor

    # vote store: the replayed vote did NOT duplicate
    votes = spark.read.parquet(st + "/votes")
    assert votes.count() == votes.select("dst", "src_host", "anchor").distinct().count() == 4
    # the epoch sinks' dynamic overwrite is a per-write option, never a
    # session-wide toggle
    assert not any("partitionOverwriteMode" in k for k in conf_keys)


def test_stream_delta_feeds_refresh(spark, tmp_path):
    """End to end: anchor-built index + streamed new-link delta ->
    refresh_anchors(delta=True) -> the new anchor serves from inlink."""
    from searchengines_spark.corpus import generate_pages, page_url
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.index.incremental import refresh_anchors
    from searchengines_spark.links import anchor_texts, extract_links

    pages = generate_pages(spark, 160, seed=42, partitions=4, link_fanout=2)
    links = extract_links(pages)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, n_salts=4, anchors=anchor_texts(links))

    # target must be an indexed (en) page
    tgt = next(u for u, in pages.filter(F.col("lang") == "en")
               .select("url").limit(1).collect())
    src = str(tmp_path / "links_in")
    out = str(tmp_path / "deltas")
    os.makedirs(src)
    # seed the vote store with the corpus's own links, then stream the new one
    links.coalesce(2).write.mode("append").parquet(src)
    q = stream_anchor_votes(spark, src, out,
                            str(tmp_path / "ck"), str(tmp_path / "state"))
    q.awaitTermination(180)
    spark.createDataFrame(
        [(f"https://ext{i}.example/p", tgt, "zzstream") for i in range(3)],
        ["src", "dst", "anchor"]).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_anchor_votes(spark, src, out,
                             str(tmp_path / "ck"), str(tmp_path / "state"))
    q2.awaitTermination(180)

    delta = spark.createDataFrame(
        list(_latest_deltas(out).items()), ["url", "inlink"])
    m = refresh_anchors(spark, d, pages, delta, delta=True)
    assert m["refreshed"] >= 1
    got = [r["url"] for r in Engine(IndexReader(spark, d))
           .search("zzstream.inlink", "bm25", 10).collect()]
    assert got == [tgt]
    # second application of the same delta is a no-op
    assert refresh_anchors(spark, d, pages, delta, delta=True)["refreshed"] == 0
