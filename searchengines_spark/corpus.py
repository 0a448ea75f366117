"""Deterministic synthetic Common-Crawl-style ``pages`` corpus.

Schema is exactly BASELINE.json's input_hint:
``pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Generation is distributed (``spark.range`` + ``mapInPandas``) and seeded *per
docid*, so the corpus is byte-identical regardless of partitioning or
parallelism — which is what makes the local[8]-vs-local[32] scaling runs and
the resumable-build test meaningful. ``text`` is produced by running the same
``extract_text`` function the engine uses on ``html`` (the
byte-identical-per-url invariant).

The vocabulary is Zipfian (~10k terms) so hot-term skew is real: the top term
appears in nearly every document, exercising the salted build path.

Field model mirrors the reference's five fields body/title/url/keywords/inlink
(/root/reference/QryEval/QryParser.java:159-163): title and keywords/inlink
are embedded in the HTML head, body in <body>, and the url field is tokenized
from the url string.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tokenizer import extract_text


def positions_col(col: str = "positions_z"):
    """Column decoding a per-posting position payload (positions_z) back to
    array<int> — for the few consumers that need materialized positions from
    the forward table (LTR f19, index inspection, tests). Serving decodes
    block payloads wholesale in postings.py; this per-row path is for
    candidate-bounded frames only."""
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _dec(pz: pd.Series) -> pd.Series:
        from .index import codec  # lazy: corpus <-> index.build cycle

        return pd.Series(
            [codec.decode_positions_payload(bytes(b)).astype(int).tolist()
             if b is not None else [] for b in pz])

    return _dec(F.col(col))

VOCAB_SIZE = 10_000
_SYL = ["ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne",
        "pa", "qi", "ro", "su", "ta", "ve", "wo", "xu", "ya", "zo"]


def _vocab() -> list[str]:
    """Deterministic pronounceable vocabulary, id -> word."""
    words = []
    n = len(_SYL)
    for i in range(VOCAB_SIZE):
        a, b, c = i % n, (i // n) % n, (i // (n * n)) % n
        words.append(_SYL[a] + _SYL[b] + _SYL[c] + str(i % 7))
    return words

VOCAB = _vocab()

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])

_ZIPF_S = 1.1  # exponent; head term lands in most docs

# output-batch row bound for generate_pages (~2.5 KB/page -> ~20 MB frames)
_GEN_CHUNK_ROWS = 8192


def _zipf_cdf() -> np.ndarray:
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    w = ranks ** (-_ZIPF_S)
    return np.cumsum(w / w.sum())


def page_url(doc_i: int) -> str:
    """Deterministic url of page doc_i (link targets are computable)."""
    return (f"https://www{doc_i % 7}.example.org/"
            f"{VOCAB[doc_i % VOCAB_SIZE]}/p{doc_i:010d}.html")


def make_page(doc_i: int, seed: int = 42, link_fanout: int = 0,
              n_docs: int = 0) -> tuple[str, int, bytes, str, str]:
    """Build one page deterministically from (doc_i, seed).
    Returns (url, warc_ts_epoch_us, html, text, lang).

    link_fanout > 0 appends that many ``<a href>`` anchors to the body,
    pointing at other pages of the same corpus (targets skewed toward low
    docids so popular pages exist, mirroring web in-degree skew). Default 0
    keeps the corpus byte-identical to every frozen golden/bench."""
    rng = np.random.default_rng(np.uint64(seed) * np.uint64(1_000_003) + np.uint64(doc_i))
    cdf = _ZIPF_CDF
    def sample(n: int) -> list[str]:
        idx = np.searchsorted(cdf, rng.random(n))
        return [VOCAB[i] for i in idx]

    title = " ".join(sample(int(rng.integers(3, 9))))
    n_body = int(rng.integers(40, 260))
    body_tokens = sample(n_body)
    # sprinkle stopwords so stopword-position semantics are exercised
    stop_picks = ["the", "of", "and", "to", "in", "a"]
    for j in range(0, len(body_tokens), 7):
        body_tokens[j] = stop_picks[int(rng.integers(0, len(stop_picks)))]
    body = " ".join(body_tokens)
    keywords = " ".join(sample(5))
    inlink = " ".join(sample(int(rng.integers(2, 6))))
    url = page_url(doc_i)
    anchors_html = ""
    if link_fanout and n_docs > 1:
        parts = []
        for _ in range(link_fanout):
            # Zipf-skewed target: low docids are celebrity pages
            tgt = int((n_docs - 1) * (rng.random() ** 3))
            if tgt >= doc_i:
                tgt += 1
            if tgt >= n_docs:
                continue
            rel = rng.random() < 0.5  # exercise relative-url resolution
            href = (f"/{VOCAB[tgt % VOCAB_SIZE]}/p{tgt:010d}.html"
                    if rel and tgt % 7 == doc_i % 7 else page_url(tgt))
            anchor = " ".join(sample(2))
            parts.append(f'<a href="{href}">{anchor}</a>')
        anchors_html = "<p>" + " ".join(parts) + "</p>"
    lang = "en" if rng.random() < 0.95 else ["fr", "de", "es"][int(rng.integers(0, 3))]
    html = (
        "<html><head>"
        f"<title>{title}</title>"
        f'<meta name="keywords" content="{keywords}">'
        f'<meta name="inlink" content="{inlink}">'
        "<style>body{margin:0}</style>"
        "</head><body>"
        f"<p>{body}</p>"
        f"{anchors_html}"
        "<script>var x=1;</script>"
        "</body></html>"
    ).encode("utf-8")
    text = extract_text(html)
    warc_us = 1_600_000_000_000_000 + doc_i * 1_000_000  # deterministic micros
    return url, warc_us, html, text, lang

_ZIPF_CDF = _zipf_cdf()


def generate_pages(spark: SparkSession, n_docs: int, seed: int = 42,
                   partitions: int | None = None,
                   link_fanout: int = 0) -> DataFrame:
    """Distributed deterministic pages corpus. link_fanout > 0 embeds real
    ``<a href>`` anchors (see make_page) for the link/anchor-text layer."""
    import pandas as pd

    if partitions is None:
        partitions = max(8, n_docs // 20_000)

    def gen(batches):
        # chunked emit: input rows are 8-byte ids but output rows are ~2.5 KB
        # pages, so a large input batch would become a ~165 MB output Arrow
        # batch (same direct-memory hazard as pages_to_tokenized). This is
        # an OUTPUT-side bound, deliberately independent of the session's
        # arrow.maxRecordsPerBatch (which governs INPUT slicing).
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            for s in range(0, len(ids), _GEN_CHUNK_ROWS):
                rows = [make_page(i, seed, link_fanout, n_docs)
                        for i in ids[s:s + _GEN_CHUNK_ROWS]]
                out = pd.DataFrame(
                    rows, columns=["url", "warc_us", "html", "text", "lang"])
                out["warc_ts"] = pd.to_datetime(out.pop("warc_us"), unit="us")
                yield out[["url", "warc_ts", "html", "text", "lang"]]

    return spark.range(0, n_docs, numPartitions=partitions).mapInPandas(gen, PAGES_SCHEMA)


# --- field extraction (deterministic, html -> five reference fields) -------

_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.S)
_META_RE = {
    "keywords": re.compile(r'<meta name="keywords" content="(.*?)"'),
    "inlink": re.compile(r'<meta name="inlink" content="(.*?)"'),
}
_BODY_RE = re.compile(r"<body>(.*?)</body>", re.S)

FIELDS = ["body", "title", "url", "keywords", "inlink"]


def extract_fields(url: str, html_bytes: bytes) -> dict[str, str]:
    """html -> the reference's five fields (QryParser.java:159-163)."""
    s = html_bytes.decode("utf-8", errors="replace")
    m = _TITLE_RE.search(s)
    title = m.group(1) if m else ""
    out = {"title": title, "url": re.sub(r"[^a-zA-Z0-9]+", " ", url)}
    for f, rx in _META_RE.items():
        m = rx.search(s)
        out[f] = m.group(1) if m else ""
    m = _BODY_RE.search(s)
    out["body"] = extract_text((m.group(1) if m else "").encode("utf-8"))
    return out


TOKENIZED_SCHEMA = T.StructType([
    T.StructField("docid", T.LongType(), False),
    T.StructField("field", T.StringType(), False),
    T.StructField("term", T.StringType(), False),  # '' = doclen sentinel row
    T.StructField("tf", T.IntegerType(), False),
    # per-posting pre-encoded position payload: varint(count) + delta+varint
    # positions (first absolute) — the exact per-doc section of the index
    # block format (codec.encode_positions_flat_buf), so the block encoder
    # assembles positions_z payloads by byte concatenation. Shuffling these
    # compact bytes instead of int arrays is a ~3-4x cut of the dominant
    # shuffle payload in both the tokenize write and the encode shuffle.
    T.StructField("positions_z", T.BinaryType(), False),
    T.StructField("doclen", T.IntegerType(), False),
])


def pages_to_tokenized(pages_with_docid: DataFrame, stemmer: str = "s") -> DataFrame:
    """One tokenize pass -> per-(doc, field, term) postings rows WITH
    positions, tf and inline doclen, aggregated doc-locally inside the Arrow
    batch (a document's postings never cross a partition boundary, so the
    (docid, field, term) groupBy needs NO shuffle — the scale win over
    explode->groupBy at 10^12 docs). One sentinel row per (doc, field) with
    term='' carries the field length (incl. stopword slots) even when every
    token is a stopword.

    mapInArrow, not mapInPandas: the output is ~150 posting rows per page,
    and materializing the positions column as per-row Python list objects
    made the pandas->Arrow conversion the stage bottleneck (it anti-scaled —
    32 concurrent workers thrashed the allocator). The kernel interns every
    raw token once per worker (dict: raw -> stem id, -1 = stopword; one dict
    hit per token, frozen-spec stop/stem runs only on first sight), then the
    per-(doc, field, term) grouping is a single numpy stable argsort over
    (segment, term-id) keys — positions, tfs and the Arrow ListArray all
    come out of flat array slices with zero per-token Python objects."""
    import pyarrow as pa

    from .index import codec  # lazy: corpus <-> index.build cycle
    from .tokenizer import _TOKEN_RE, STOPWORDS, get_stemmer

    stem_fn = get_stemmer(stemmer)  # resolve once; ships in the closure

    # Bound the BYTES flowing through one Arrow batch, not just the rows:
    # Spark slices input to maxRecordsPerBatch ROWS, but 65536 html pages is
    # ~165 MB in and the exploded postings batch out of it is several
    # hundred MB — at 3M pages x 32 concurrent writer tasks that overran the
    # JVM's 8 GB direct-memory pool (io.netty OutOfDirectMemoryError in the
    # parquet writer's Arrow reader). A page is one row, so slicing at row
    # boundaries never splits a document and emits the same rows in the
    # same order — the built index is content-identical (fingerprint-
    # verified; see tests/test_resume.py index_fingerprint); only the
    # in-flight batch size shrinks. Sized from the INPUT slice bytes; the
    # positions+terms output runs ~2-4x input on small pages, so 16 MB in
    # keeps every in-flight buffer well under 100 MB at any page size.
    # The row floor is 8, not a bigger round number: the slice count only
    # matters for giant pages (10 MB html x 64 rows would be a ~640 MB
    # slice; x 8 keeps the worst case under ~100 MB). The JVM->Python
    # INPUT batch is still row-bounded (spark.sql.execution.arrow
    # .maxRecordsPerBatch, session default 8192) — for corpora of very
    # large pages tune SPARK_GRAFT_ARROW_ROWS down as well (README).
    TOKENIZE_SLICE_BYTES = 16 << 20

    def explode(batches):
        stem_ids: dict[str, int] = {}   # raw token -> term id (-1 = stopword)
        vocab_ids: dict[str, int] = {}  # stemmed term -> term id
        vocab: list[str] = []           # term id -> stemmed term
        for rb_full in batches:
            if rb_full.num_rows == 0:
                continue
            avg_row = max(1, rb_full.nbytes // rb_full.num_rows)
            slice_rows = max(8, TOKENIZE_SLICE_BYTES // avg_row)
            for rb in (rb_full.slice(s, slice_rows)
                       for s in range(0, rb_full.num_rows, slice_rows)):
                ix = {n: i for i, n in enumerate(rb.schema.names)}
                urls = rb.column(ix["url"]).to_pylist()
                htmls = rb.column(ix["html"]).to_pylist()
                docids = rb.column(ix["docid"]).to_pylist()
                # anchor-text inlink field (links.anchor_texts, joined on url by
                # build_index): overrides any in-page stand-in when present
                inls = (rb.column(ix["inlink_override"]).to_pylist()
                        if "inlink_override" in ix else None)

                texts: list[str] = []
                seg_docid = np.empty(len(urls) * len(FIELDS), dtype=np.int64)
                seg_field: list[str] = []
                k = 0
                for row_i, (url, html, docid) in enumerate(zip(urls, htmls, docids)):
                    fields = extract_fields(url, bytes(html))
                    if inls is not None:
                        fields["inlink"] = inls[row_i] or ""
                    for f in FIELDS:
                        texts.append(fields[f])
                        seg_docid[k] = int(docid)
                        seg_field.append(f)
                        k += 1
                n_seg = k

                tok_lists = [_TOKEN_RE.findall(t.lower()) for t in texts]
                seg_lens = np.array([len(l) for l in tok_lists], dtype=np.int64)
                total = int(seg_lens.sum())
                tok_id = np.empty(total, dtype=np.int64)
                j = 0
                get = stem_ids.get
                for lst in tok_lists:
                    for t in lst:
                        v = get(t)
                        if v is None:
                            if t in STOPWORDS:
                                v = -1
                            else:
                                m = stem_fn(t)
                                v = vocab_ids.get(m)
                                if v is None:
                                    v = len(vocab)
                                    vocab_ids[m] = v
                                    vocab.append(m)
                            stem_ids[t] = v
                        tok_id[j] = v
                        j += 1

                seg_starts = np.zeros(n_seg, dtype=np.int64)
                np.cumsum(seg_lens[:-1], out=seg_starts[1:])
                seg_of = np.repeat(np.arange(n_seg, dtype=np.int64), seg_lens)
                pos_in_seg = (np.arange(total, dtype=np.int64) - seg_starts[seg_of])

                keep = tok_id >= 0
                k_seg, k_id, k_pos = seg_of[keep], tok_id[keep], pos_in_seg[keep]
                V = max(1, len(vocab))
                key = k_seg * V + k_id
                order = np.argsort(key, kind="stable")  # stable: positions ascend
                sk, sp = key[order], k_pos[order].astype(np.int32)
                if len(sk):
                    run_starts = np.flatnonzero(
                        np.concatenate([[True], sk[1:] != sk[:-1]]))
                else:
                    run_starts = np.empty(0, dtype=np.int64)
                run_ends = np.append(run_starts[1:], len(sk))
                run_seg = sk[run_starts] // V
                run_term = sk[run_starts] % V
                tfs = (run_ends - run_starts).astype(np.int32)

                vocab_np = np.array(vocab, dtype=object) if vocab else np.empty(0, object)
                field_np = np.array(seg_field, dtype=object)
                o_docid = np.concatenate([seg_docid[:n_seg], seg_docid[run_seg]])
                o_field = np.concatenate([field_np, field_np[run_seg]])
                o_term = np.concatenate(
                    [np.full(n_seg, "", dtype=object), vocab_np[run_term]])
                o_tf = np.concatenate([np.zeros(n_seg, np.int32), tfs])
                o_dlen = np.concatenate(
                    [seg_lens, seg_lens[run_seg]]).astype(np.int32)
                # pre-encode every posting's position payload in one vectorized
                # pass; the binary column is built straight from (offsets, data)
                # buffers — zero per-row Python objects
                n_runs = len(run_starts)
                pbuf, pcuts = codec.encode_positions_flat_buf(
                    sp.astype(np.int64),
                    np.concatenate([run_starts, [len(sk)]]).astype(np.int64))
                bin_offs = np.concatenate(
                    [np.zeros(n_seg, np.int64), pcuts]).astype(np.int32)
                positions_z = pa.Array.from_buffers(
                    pa.binary(), n_seg + n_runs,
                    [None, pa.py_buffer(bin_offs.tobytes()),
                     pa.py_buffer(pbuf.tobytes())])
                yield pa.RecordBatch.from_arrays(
                    [pa.array(o_docid, type=pa.int64()),
                     pa.array(o_field, type=pa.string()),
                     pa.array(o_term, type=pa.string()),
                     pa.array(o_tf, type=pa.int32()),
                     positions_z,
                     pa.array(o_dlen, type=pa.int32())],
                    names=["docid", "field", "term", "tf", "positions_z", "doclen"],
                )

    cols = ["url", "html", "docid"]
    if "inlink_override" in pages_with_docid.columns:
        cols.append("inlink_override")
    return pages_with_docid.select(*cols).mapInArrow(
        explode, TOKENIZED_SCHEMA
    )


def assign_docids(pages: DataFrame) -> DataFrame:
    """Deterministic dense docid: rank of url in sorted order (url IS the
    external id, as in the reference's internal/external docid split,
    Idx.java:87-144). Zero-based.

    Scale note: a row_number window over an un-partitioned ORDER BY would
    funnel every url through ONE task. Instead the classic two-pass dense
    rank, all Arrow-vectorized: range-partitioned sort of the narrow url
    column (persisted so both passes see identical partitioning), a tiny
    per-partition count collect, then a mapInPandas that adds the broadcast
    partition offset to a local running index. Fully parallel at any scale.
    """
    spark = pages.sparkSession
    n = max(spark.sparkContext.defaultParallelism, 8)
    # no pre-shuffle distinct: range partitioning sends equal urls to one
    # partition and the sort makes them adjacent, so the id kernel dedups
    # for free and the per-partition counts use countDistinct — one shuffle
    # of the narrow url column instead of two
    sorted_urls = (
        pages.select("url")
        .repartitionByRange(n, "url")
        .sortWithinPartitions("url")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {int(r["pid"]): int(r["n"]) for r in
              sorted_urls.groupBy("pid").agg(F.countDistinct("url").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_off = spark.sparkContext.broadcast(offsets)
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("docid", T.LongType(), False),
    ])

    def add_ids(batches):
        seen, base, prev = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            if base is None:
                base = b_off.value[int(pdf["pid"].iloc[0])]
            urls = pdf["url"].to_numpy()
            keep = np.ones(len(urls), dtype=bool)
            keep[1:] = urls[1:] != urls[:-1]  # adjacent dups (sorted input)
            if prev is not None and urls[0] == prev:
                keep[0] = False
            prev = urls[-1]
            urls = urls[keep]
            yield pd.DataFrame({
                "url": urls,
                "docid": np.arange(base + seen, base + seen + len(urls), dtype=np.int64),
            })
            seen += len(urls)

    return sorted_urls.mapInPandas(add_ids, schema)
