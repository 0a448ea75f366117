"""WARC source connector: byte-exact round-trip of the pages table through
Common-Crawl-style .warc.gz shards, record-codec unit coverage, and the
read path's indexability."""

import gzip
from datetime import datetime

import pytest

from searchengines_spark.corpus import generate_pages
from searchengines_spark.sources import read_warc, write_warc
from searchengines_spark.sources.warc import (
    _gunzip_members,
    encode_response_record,
    encode_warcinfo,
    iter_warc_records,
    parse_warc_shard,
)
from searchengines_spark.tokenizer import extract_text


def _collect_pages(df):
    return sorted(
        (r["url"], r["warc_ts"], bytes(r["html"]), r["text"], r["lang"])
        for r in df.collect())


# --- pure record codec (no Spark) ------------------------------------------

def test_record_roundtrip_single():
    html = b"<html><head><title>t one</title></head><body><p>hi x</p></body></html>"
    ts = datetime(2020, 9, 13, 12, 26, 40, 123456)
    rec = encode_response_record("https://e.org/a", ts, html, "fr")
    rows = list(parse_warc_shard(rec, is_gzip=False))
    assert rows == [("https://e.org/a", ts, html, extract_text(html), "fr")]


def test_record_id_deterministic():
    ts = datetime(2021, 1, 1)
    a = encode_response_record("https://e.org/a", ts, b"<p>x</p>", "en")
    b = encode_response_record("https://e.org/a", ts, b"<p>x</p>", "en")
    assert a == b
    c = encode_response_record("https://e.org/b", ts, b"<p>x</p>", "en")
    assert a != c


def test_non_response_records_skipped():
    ts = datetime(2021, 1, 1)
    shard = (encode_warcinfo("f.warc")
             + encode_response_record("https://e.org/a", ts, b"<p>q</p>", "en"))
    rows = list(parse_warc_shard(shard, is_gzip=False))
    assert [r[0] for r in rows] == ["https://e.org/a"]
    # the warcinfo record IS visible to the raw record iterator
    kinds = [h["warc-type"] for h, _ in iter_warc_records(shard)]
    assert kinds == ["warcinfo", "response"]


def test_gzip_member_concatenation():
    ts = datetime(2021, 1, 1)
    recs = [encode_response_record(f"https://e.org/{i}", ts,
                                   f"<p>d{i}</p>".encode(), "en")
            for i in range(3)]
    gz = b"".join(gzip.compress(r, mtime=0) for r in recs)
    assert _gunzip_members(gz) == b"".join(recs)
    rows = list(parse_warc_shard(gz, is_gzip=True))
    assert [r[0] for r in rows] == [f"https://e.org/{i}" for i in range(3)]


def test_unknown_language_passthrough():
    ts = datetime(2021, 1, 1)
    rec = encode_response_record("https://e.org/a", ts, b"<p>x</p>", "zz")
    assert next(parse_warc_shard(rec, is_gzip=False))[4] == "zz"


# --- Spark round-trip -------------------------------------------------------

@pytest.mark.parametrize("compress", [True, False])
def test_pages_roundtrip(spark, tmp_path, compress):
    src = generate_pages(spark, 120, seed=7, partitions=3)
    out = str(tmp_path / ("gz" if compress else "plain"))
    manifest = write_warc(src, out, compress=compress)
    assert len(manifest) == 3 and sum(m["n_records"] for m in manifest) == 120
    back = read_warc(spark, out)
    assert _collect_pages(back) == _collect_pages(src)


def test_write_deterministic_shards(spark, tmp_path):
    src = generate_pages(spark, 60, seed=7, partitions=2)
    m1 = write_warc(src, str(tmp_path / "a"))
    m2 = write_warc(src, str(tmp_path / "b"))
    for r1, r2 in zip(sorted(m1, key=lambda m: m["path"]),
                      sorted(m2, key=lambda m: m["path"])):
        with open(r1["path"], "rb") as f1, open(r2["path"], "rb") as f2:
            assert f1.read() == f2.read()


def test_warc_feeds_index_build(spark, tmp_path):
    """The ingestion edge: warc shards -> pages -> a queryable index whose
    results match the same build from the parquet-born frame."""
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader, build_index

    src = generate_pages(spark, 200, seed=11, partitions=2)
    out = str(tmp_path / "warc")
    write_warc(src, out)
    pages = read_warc(spark, out)

    d1, d2 = str(tmp_path / "i_warc"), str(tmp_path / "i_direct")
    build_index(spark, pages, d1, n_salts=2)
    build_index(spark, src, d2, n_salts=2)
    q = "cebaba1 dibaba2"
    r1 = [(r["url"], round(r["score"], 9))
          for r in Engine(IndexReader(spark, d1)).search(q, model="bm25", k=20).collect()]
    r2 = [(r["url"], round(r["score"], 9))
          for r in Engine(IndexReader(spark, d2)).search(q, model="bm25", k=20).collect()]
    assert r1 == r2 and len(r1) > 0


# --- WET (extracted-text conversion records) --------------------------------

def test_wet_roundtrip(spark, tmp_path):
    from searchengines_spark.sources import read_wet, write_wet

    src = generate_pages(spark, 80, seed=9, partitions=2)
    out = str(tmp_path / "wet")
    manifest = write_wet(src, out)
    assert sum(m["n_records"] for m in manifest) == 80
    back = read_wet(spark, out)
    want = sorted((r["url"], r["warc_ts"], r["text"], r["lang"])
                  for r in src.select("url", "warc_ts", "text", "lang").collect())
    got = sorted((r["url"], r["warc_ts"], r["text"], r["lang"])
                 for r in back.collect())
    assert got == want


def test_wet_and_warc_records_disjoint(spark, tmp_path):
    """A WET reader over a WARC shard yields nothing, and vice versa
    (record-type filters do not cross)."""
    from searchengines_spark.sources import read_warc, read_wet, write_warc, write_wet

    src = generate_pages(spark, 20, seed=3, partitions=1)
    warc_dir, wet_dir = str(tmp_path / "warc"), str(tmp_path / "wet")
    write_warc(src, warc_dir)
    write_wet(src, wet_dir)
    assert read_wet(spark, warc_dir).count() == 0
    assert read_warc(spark, wet_dir).count() == 0


def test_unicode_and_invalid_bytes_round_trip():
    """Real crawls are not ASCII: multi-byte urls/content must survive the
    byte-oriented WARC framing (Content-Length is BYTES, not chars), and
    invalid UTF-8 in html must degrade deterministically, never raise."""
    from datetime import datetime, timezone

    from searchengines_spark.sources import warc
    from searchengines_spark.tokenizer import extract_text

    ts = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    html = "<html><body>héllo wörld 東京 &amp; ☃</body></html>".encode()
    url = "https://ex.com/ü?q=Ω"
    rec = warc.encode_response_record(url, ts, html, "en")
    (got_url, _, got_html, got_text, _), = list(warc.parse_warc_shard(rec, is_gzip=False))
    assert (got_url, got_html) == (url, html)
    assert got_text == "héllo wörld 東京 & ☃"

    txt = "héllo wörld 東京 ☃"
    wet = warc.encode_conversion_record("https://ex.com/ü", ts, txt, "en")
    assert next(warc.parse_wet_shard(wet, is_gzip=False))[2] == txt

    # invalid UTF-8: replacement char, same output on every call (the
    # byte-identical-text-per-url invariant still holds)
    bad = b"<p>ok \xff\xfe broken</p>"
    assert extract_text(bad) == extract_text(bad)
    assert "ok" in extract_text(bad) and "broken" in extract_text(bad)


def test_chunk_bound_covers_legacy_encoded_pages():
    """The in-flight chunk estimate must bound html plus UTF-8 text bytes
    for a GBK page: extraction decodes html as UTF-8 with replacement, so
    each high byte of a 2-byte GBK character becomes a 3-byte U+FFFD in
    the text — more than the 2x-html estimate allowed."""
    from datetime import datetime, timezone

    from searchengines_spark.sources import warc

    html = ("<html><body>" + "中文网页的正文内容" * 50
            + "</body></html>").encode("gbk")
    ts = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    rec = warc.encode_response_record("https://ex.cn/p", ts, html, "zh")
    row, = list(warc.parse_warc_shard(rec, is_gzip=False))
    actual = len(row[2]) + len(row[3].encode("utf-8"))
    assert actual > 2 * len(html)
    assert warc.page_row_nbytes(row) >= actual
