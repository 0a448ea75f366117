from searchengines_spark.tokenizer import (
    STOPWORDS,
    extract_text,
    s_stem,
    tokenize_full,
    tokenize_query_term,
)


def test_extract_text_deterministic_and_clean():
    html = b"<html><head><title>Hi &amp; Bye</title><style>x{}</style></head><body><p>Hello   <b>World</b></p><script>var a=1;</script></body></html>"
    out = extract_text(html)
    assert out == extract_text(html)  # pure
    assert "var a" not in out and "<" not in out
    assert "Hello World" in out and "Hi & Bye" in out


def test_stemmer_rules():
    assert s_stem("classes") == "class"
    assert s_stem("cities") == "city"
    assert s_stem("dogs") == "dog"
    assert s_stem("boss") == "boss"
    assert s_stem("bus") == "bus"
    assert s_stem("its") == "its"  # len < 4 untouched
    assert s_stem("a") == "a"


def test_tokenize_full_stopword_positions():
    toks = tokenize_full("The quick dogs and the lazy foxes")
    # stopwords hold a slot (None) -> field length includes them
    assert len(toks) == 7
    assert toks[0] is None and toks[3] is None and toks[4] is None
    assert toks[1] == "quick" and toks[2] == "dog" and toks[6] == "foxe"


def test_tokenize_query_term():
    assert tokenize_query_term("Dogs") == "dog"
    assert tokenize_query_term("the") is None


def test_stopwords_frozen():
    assert "the" in STOPWORDS and len(STOPWORDS) == 33


def test_arrow_tokenize_kernel_matches_naive(spark):
    """The interned/argsort Arrow kernel in pages_to_tokenized must equal a
    naive per-page tokenize_full accumulation (same spec, two impls)."""
    import pyspark.sql.functions as F

    from searchengines_spark.corpus import (FIELDS, assign_docids,
                                            extract_fields, generate_pages,
                                            pages_to_tokenized)
    from searchengines_spark.tokenizer import tokenize_full

    from searchengines_spark.index import codec

    pages_df = generate_pages(spark, 60, seed=11, partitions=3)
    en = pages_df.filter("lang='en'")
    ids = assign_docids(en)
    got = {}
    for r in pages_to_tokenized(en.join(F.broadcast(ids), "url")).collect():
        got[(r["docid"], r["field"], r["term"])] = (
            r["tf"],
            codec.decode_positions_payload(bytes(r["positions_z"])).astype(int).tolist(),
            r["doclen"])

    id_map = {r["url"]: r["docid"] for r in ids.collect()}
    want = {}
    for p in en.collect():
        d = id_map[p["url"]]
        fl = extract_fields(p["url"], bytes(p["html"]))
        for f in FIELDS:
            toks = tokenize_full(fl[f])
            want[(d, f, "")] = (0, [], len(toks))
            acc = {}
            for i, t in enumerate(toks):
                if t is not None:
                    acc.setdefault(t, []).append(i)
            for t, ps in acc.items():
                want[(d, f, t)] = (len(ps), ps, len(toks))
    assert got == want


def test_assign_docids_dedups_duplicate_urls(spark):
    """assign_docids must produce one dense id per DISTINCT url even when
    the input repeats urls (re-crawled pages), with ids following url sort
    order — the in-kernel adjacent-dedup replacing the old distinct()."""
    import pyspark.sql.functions as F

    from searchengines_spark.corpus import assign_docids

    urls = [f"https://site{i % 7}.example/p{i % 13}" for i in range(200)]
    df = spark.createDataFrame([(u, bytearray(b"x")) for u in urls], ["url", "html"])
    ids = assign_docids(df).collect()
    want = sorted({u for u in urls})
    assert sorted(r["url"] for r in ids) == want
    by_url = {r["url"]: r["docid"] for r in ids}
    assert [by_url[u] for u in want] == list(range(len(want)))
