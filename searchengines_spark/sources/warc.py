"""WARC source connector: Common-Crawl-style ``.warc.gz`` shards <-> the
canonical ``pages(url, warc_ts, html, text, lang)`` table.

Format is public ISO 28500 (WARC/1.1) with Common Crawl's storage
conventions:

- each WARC *record* is its own gzip member, and a shard is the plain
  concatenation of members — so a reader can stream records without
  decompressing the whole file, and a writer can parallelize per record;
- ``response`` records carry ``WARC-Target-URI`` / ``WARC-Date`` headers and
  an HTTP/1.1 response (status line + headers + CRLF CRLF + html payload)
  as the record body;
- Common Crawl's language annotation header
  ``WARC-Identified-Content-Language`` carries the page language.

Scale shape (the part that matters at 10^12 docs):

- **read**: ``spark.read.format("binaryFile")`` assigns ONE WHOLE FILE per
  task (binaryFile never splits), which matches how Common Crawl shards its
  corpus: ~1 GiB .warc.gz files, ~64k of them per crawl. Parallelism = file
  count, per-task memory = one shard — both bounded by the upstream layout,
  no shuffle at all: the parse is a pure ``mapInPandas`` map stage feeding
  straight into tokenize/index. ``text`` is recomputed from ``html`` with
  the engine's own frozen ``extract_text`` (tokenizer.py), preserving the
  byte-identical-text-per-url invariant rather than trusting sidecar data.
- **write**: one .warc.gz shard per input partition, written from the
  executor to a shared filesystem path (same contract as any Spark file
  sink). Record bytes are a pure function of the row (record IDs are
  blake2b(url), timestamps from warc_ts), so a rewrite of the same frame is
  byte-identical shard-for-shard regardless of executor placement —
  the same determinism contract as the index build.

No counterpart in the reference (it reads a pre-built Lucene index); this
is the ingestion edge the north rule's Common-Crawl-style corpus needs.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import zlib
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import PAGES_SCHEMA
from ..tokenizer import extract_text

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"

# per-yield byte bound for ingest kernels (see corpus.pages_to_tokenized's
# direct-memory note): one whole CC shard must never become one Arrow batch
_CHUNK_BYTES = 32 << 20


def _chunked_frames(row_iter, cols: list[str], row_nbytes) -> "Iterator[pd.DataFrame]":
    """Flush rows as DataFrames whenever the accumulated payload reaches
    _CHUNK_BYTES. row_nbytes must count the bytes Arrow will SERIALIZE —
    UTF-8 length for str columns, not len() code points (CJK text is up to
    4 bytes/code point; counting code points would overshoot the bound 4x)."""
    rows: list[tuple] = []
    nbytes = 0
    for row in row_iter:
        rows.append(row)
        nbytes += row_nbytes(row)
        if nbytes >= _CHUNK_BYTES:
            yield pd.DataFrame(rows, columns=cols)
            rows, nbytes = [], 0
    if rows:
        yield pd.DataFrame(rows, columns=cols)

def page_row_nbytes(row: tuple) -> int:
    """Byte ESTIMATE of one parsed page row, not a re-encode: 4x the html
    bytes. html counts once (len exact). Extraction decodes html as UTF-8
    with replacement, so every html byte yields at most one code point of
    text, and a byte that is not valid UTF-8 — both bytes of a GBK,
    Shift-JIS or Big5 character — yields a 3-byte U+FFFD: the text's UTF-8
    is at most 3x the html bytes (measured 2.7x on a GBK page; markup
    removal and entity decoding only shrink it). url/lang are noise next
    to it. The chunk bound only shapes in-flight batch size; an early
    flush costs nothing."""
    return 4 * len(row[2])


# ISO-639-1 <-> the ISO-639-3 codes Common Crawl writes in
# WARC-Identified-Content-Language. Only the languages the corpus model
# emits; unknown codes round-trip verbatim.
_LANG_TO_639_3 = {"en": "eng", "fr": "fra", "de": "deu", "es": "spa"}
_LANG_FROM_639_3 = {v: k for k, v in _LANG_TO_639_3.items()}


# --------------------------------------------------------------------------
# record codec (pure bytes <-> dict functions; unit-testable without Spark)
# --------------------------------------------------------------------------

def _warc_date(ts: datetime) -> str:
    """WARC/1.1 date: RFC3339 UTC with microseconds (WARC/1.0 allows only
    second precision; 1.1 allows fractional — we need it for byte-exact
    warc_ts round-trips)."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _parse_warc_date(s: str) -> datetime:
    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1]
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in s else "%Y-%m-%dT%H:%M:%S"
    return datetime.strptime(s, fmt)


def encode_response_record(url: str, ts: datetime, html: bytes,
                           lang: str | None) -> bytes:
    """One WARC/1.1 response record (uncompressed bytes). Deterministic:
    the record ID is blake2b(url) formatted as a urn:uuid."""
    h = hashlib.blake2b(url.encode("utf-8"), digest_size=16).hexdigest()
    rec_id = f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=UTF-8\r\n"
            + b"Content-Length: " + str(len(html)).encode() + _CRLF
            + _CRLF + html)
    headers = [
        b"WARC/1.1",
        b"WARC-Type: response",
        b"WARC-Record-ID: " + rec_id.encode(),
        b"WARC-Date: " + _warc_date(ts).encode(),
        b"WARC-Target-URI: " + url.encode("utf-8"),
    ]
    if lang:
        headers.append(b"WARC-Identified-Content-Language: "
                       + _LANG_TO_639_3.get(lang, lang).encode())
    headers += [
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode(),
    ]
    return _CRLF.join(headers) + _HDR_END + http + _CRLF + _CRLF


def encode_warcinfo(filename: str) -> bytes:
    body = (b"software: searchengines-spark\r\n"
            b"format: WARC File Format 1.1\r\n")
    headers = [
        b"WARC/1.1",
        b"WARC-Type: warcinfo",
        b"WARC-Filename: " + filename.encode(),
        b"Content-Type: application/warc-fields",
        b"Content-Length: " + str(len(body)).encode(),
    ]
    return _CRLF.join(headers) + _HDR_END + body + _CRLF + _CRLF


def _gzip_member(record: bytes) -> bytes:
    """One gzip member per record (mtime=0 so shard bytes are deterministic)."""
    return gzip.compress(record, compresslevel=6, mtime=0)


def iter_warc_records(buf: bytes) -> Iterator[tuple[dict, bytes]]:
    """Parse concatenated (already-decompressed) WARC records ->
    (headers, content) pairs. Tolerates arbitrary CRLF padding between
    records, skips malformed tails."""
    i, n = 0, len(buf)
    while i < n:
        while i < n and buf[i:i + 2] == _CRLF:
            i += 2
        if i >= n:
            break
        if not buf.startswith(b"WARC/", i):
            break  # not a record boundary: stop rather than misparse
        hdr_end = buf.find(_HDR_END, i)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in buf[i:hdr_end].split(_CRLF)[1:]:
            k, _, v = line.decode("utf-8", errors="replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = hdr_end + len(_HDR_END)
        yield headers, buf[body_start:body_start + clen]
        i = body_start + clen


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a concatenation of gzip members (the .warc.gz layout)."""
    out, i = [], 0
    while i < len(data):
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(data[i:]))
        tail = d.unused_data
        if not tail:
            break
        i = len(data) - len(tail)
    return b"".join(out)


def parse_warc_shard(data: bytes, is_gzip: bool) -> Iterator[tuple]:
    """Shard bytes -> (url, warc_ts, html, text, lang) tuples for response
    records (warcinfo/request/metadata records are skipped). A generator so
    the Spark ingest never holds a second shard-sized copy of the rows on
    the Python worker heap (the raw shard bytes are already materialized by
    the binaryFile source contract)."""
    raw = _gunzip_members(data) if is_gzip else data
    for headers, content in iter_warc_records(raw):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", "1970-01-01T00:00:00Z"))
        sep = content.find(_HDR_END)  # end of the HTTP response headers
        html = content[sep + len(_HDR_END):] if sep >= 0 else content
        lang3 = headers.get("warc-identified-content-language", "")
        lang = _LANG_FROM_639_3.get(lang3, lang3 or "und")
        yield (url, ts, html, extract_text(html), lang)


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------

def read_warc(spark: SparkSession, path: str,
              glob: str | None = None) -> DataFrame:
    """``.warc`` / ``.warc.gz`` shards -> pages DataFrame.

    One whole shard per task (binaryFile contract — matches Common Crawl's
    ~1 GiB shard layout); zero shuffles; ``text`` recomputed from ``html``
    via the frozen extract_text."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # flush page rows in byte-bounded chunks: a real Common Crawl shard
        # is ~1 GiB, and one pandas frame holding every page of it would be
        # a multi-GB Arrow batch on the writer side (the same direct-memory
        # hazard fixed in corpus.pages_to_tokenized, 40x worse). Chunk
        # boundaries only affect in-flight batch size, not output rows.
        for pdf in batches:
            yield from _chunked_frames(
                (row for p, data in zip(pdf["path"], pdf["content"])
                 for row in parse_warc_shard(bytes(data),
                                             str(p).endswith(".gz"))),
                ["url", "warc_ts", "html", "text", "lang"],
                page_row_nbytes)

    return files.mapInPandas(parse, PAGES_SCHEMA)


_WRITE_RESULT = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("n_records", T.LongType(), False),
    T.StructField("bytes", T.LongType(), False),
])


def write_warc(pages: DataFrame, out_dir: str, compress: bool = True,
               sort_within: bool = True) -> list[dict]:
    """pages DataFrame -> one ``part-NNNNN.warc[.gz]`` shard per partition
    under ``out_dir`` (a shared-filesystem path, like any Spark sink).

    Shard contents are deterministic given the frame's partitioning:
    records are url-sorted within the shard (``sort_within``), record IDs
    derive from the url, gzip mtime is zeroed. Returns per-shard manifest
    dicts (path, n_records, bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    ext = ".warc.gz" if compress else ".warc"

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}{ext}"
        path = os.path.join(out_dir, name)
        n = 0
        with open(path, "wb") as f:
            info = encode_warcinfo(name)
            f.write(_gzip_member(info) if compress else info)
            for pdf in batches:
                if sort_within and len(pdf):
                    pdf = pdf.sort_values("url")
                for url, ts, html, lang in zip(
                        pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]):
                    rec = encode_response_record(
                        str(url), ts.to_pydatetime(), bytes(html), str(lang))
                    f.write(_gzip_member(rec) if compress else rec)
                    n += 1
        yield pd.DataFrame([(path, n, os.path.getsize(path))],
                           columns=["path", "n_records", "bytes"])

    out = (pages.select("url", "warc_ts", "html", "lang")
           .mapInPandas(dump, _WRITE_RESULT).collect())
    return [r.asDict() for r in out]


def pages_from_warc_entry(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Convenience: read + en-filter, the indexing front door."""
    return read_warc(spark, warc_dir).filter(F.col("lang") == "en")


# --------------------------------------------------------------------------
# WET (extracted-text conversion records) — the Common Crawl sidecar format
# --------------------------------------------------------------------------

WET_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])


def encode_conversion_record(url: str, ts: datetime, text: str,
                             lang: str | None) -> bytes:
    """One WARC/1.1 ``conversion`` record (the WET shape): text/plain
    payload, WARC-Refers-To pointing at the response record the same url
    would produce in the sibling .warc shard."""
    h = hashlib.blake2b(url.encode("utf-8"), digest_size=16).hexdigest()
    refers = f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    h2 = hashlib.blake2b(b"wet:" + url.encode("utf-8"), digest_size=16).hexdigest()
    rec_id = f"<urn:uuid:{h2[:8]}-{h2[8:12]}-{h2[12:16]}-{h2[16:20]}-{h2[20:32]}>"
    body = text.encode("utf-8")
    headers = [
        b"WARC/1.1",
        b"WARC-Type: conversion",
        b"WARC-Record-ID: " + rec_id.encode(),
        b"WARC-Refers-To: " + refers.encode(),
        b"WARC-Date: " + _warc_date(ts).encode(),
        b"WARC-Target-URI: " + url.encode("utf-8"),
    ]
    if lang:
        headers.append(b"WARC-Identified-Content-Language: "
                       + _LANG_TO_639_3.get(lang, lang).encode())
    headers += [
        b"Content-Type: text/plain",
        b"Content-Length: " + str(len(body)).encode(),
    ]
    return _CRLF.join(headers) + _HDR_END + body + _CRLF + _CRLF


def parse_wet_shard(data: bytes, is_gzip: bool) -> Iterator[tuple]:
    """Shard bytes -> (url, warc_ts, text, lang) tuples for conversion
    records. Generator, for the same worker-heap reason as
    parse_warc_shard."""
    raw = _gunzip_members(data) if is_gzip else data
    for headers, content in iter_warc_records(raw):
        if headers.get("warc-type") != "conversion":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", "1970-01-01T00:00:00Z"))
        lang3 = headers.get("warc-identified-content-language", "")
        lang = _LANG_FROM_639_3.get(lang3, lang3 or "und")
        yield (url, ts, content.decode("utf-8", errors="replace"), lang)


def read_wet(spark: SparkSession, path: str,
             glob: str | None = None) -> DataFrame:
    """``.wet`` / ``.wet.gz`` shards -> (url, warc_ts, text, lang). The
    text-only ingest path: at crawl scale the WET sidecar is ~1/5 the bytes
    of the WARC and skips the html->text recompute entirely."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from _chunked_frames(
                (row for p, data in zip(pdf["path"], pdf["content"])
                 for row in parse_wet_shard(bytes(data),
                                            str(p).endswith(".gz"))),
                # estimate without a re-encode pass: len(str) counts code
                # points; UTF-8 is at most 4 bytes per code point, so 4x
                # is a hard upper bound on serialized text bytes for ANY
                # script (2x would under-bound CJK at ~3 bytes/cp). Chunks
                # flush earlier than strictly needed on ASCII text — the
                # bound exists to cap in-flight memory, so erring small is
                # the safe direction.
                ["url", "warc_ts", "text", "lang"],
                lambda r: 4 * len(r[2]))

    return files.mapInPandas(parse, WET_SCHEMA)


def write_wet(pages: DataFrame, out_dir: str, compress: bool = True,
              sort_within: bool = True) -> list[dict]:
    """pages -> one ``part-NNNNN.wet[.gz]`` shard per partition (conversion
    records carrying the frozen-extract_text payload). Same determinism
    contract as write_warc."""
    os.makedirs(out_dir, exist_ok=True)
    ext = ".wet.gz" if compress else ".wet"

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}{ext}"
        path = os.path.join(out_dir, name)
        n = 0
        with open(path, "wb") as f:
            info = encode_warcinfo(name)
            f.write(_gzip_member(info) if compress else info)
            for pdf in batches:
                if sort_within and len(pdf):
                    pdf = pdf.sort_values("url")
                for url, ts, text, lang in zip(
                        pdf["url"], pdf["warc_ts"], pdf["text"], pdf["lang"]):
                    rec = encode_conversion_record(
                        str(url), ts.to_pydatetime(), str(text), str(lang))
                    f.write(_gzip_member(rec) if compress else rec)
                    n += 1
        yield pd.DataFrame([(path, n, os.path.getsize(path))],
                           columns=["path", "n_records", "bytes"])

    out = (pages.select("url", "warc_ts", "text", "lang")
           .mapInPandas(dump, _WRITE_RESULT).collect())
    return [r.asDict() for r in out]
