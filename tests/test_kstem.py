"""Krovetz-scope "kstem" stemmer mode: frozen-spec rules, index pinning,
query-side consistency, resume/append discipline.

The reference stems with Lucene's KStem (QryParser.java:40-49). Our kstem is
a dictionary-free frozen spec of the same SCOPE (inflectional only: plural,
past tense, aspect — one transformation per word) with Porter step-1b
orthographic repairs in place of the lexicon guards; see tokenizer.py. What
matters for retrieval correctness is that the index and query sides resolve
the SAME function from the manifest — these tests gate that end to end.
"""

import datetime
import json
import math
import os

import pytest

from searchengines_spark.tokenizer import (
    STEMMERS,
    get_stemmer,
    kstem,
    s_stem,
    tokenize_full,
    tokenize_query_term,
)


# -- unit rules --------------------------------------------------------------

def test_kstem_plural():
    assert kstem("cities") == "city"
    assert kstem("boxes") == "box"
    assert kstem("churches") == "church"
    assert kstem("dishes") == "dish"
    assert kstem("dogs") == "dog"
    assert kstem("tables") == "table"
    assert kstem("ties") == "tie"
    # -ss / -us / -is are not plural markers
    assert kstem("boss") == "boss"
    assert kstem("focus") == "focus"
    assert kstem("basis") == "basis"


def test_kstem_past_tense():
    assert kstem("carried") == "carry"
    assert kstem("agreed") == "agree"
    assert kstem("feed") == "feed"          # m(w[:-3]) == 0 -> untouched
    assert kstem("hopped") == "hop"         # undouble
    assert kstem("hoped") == "hope"         # cvc -> restore e
    assert kstem("stated") == "state"       # -at -> +e
    assert kstem("talked") == "talk"


def test_kstem_ing():
    assert kstem("running") == "run"
    assert kstem("hoping") == "hope"
    assert kstem("talking") == "talk"
    assert kstem("sizing") == "size"        # -iz -> +e
    # too short to strip safely: -ing needs len >= 6
    assert kstem("sing") == "sing"
    assert kstem("bring") == "bring"
    # no vowel left after stripping -> not a suffix
    assert kstem("string") == "string"


def test_kstem_guards():
    # one transformation per word: "carriedes" is not double-stemmed
    assert kstem("its") == "its"            # len < 4 untouched (s_stem rule)
    assert kstem("b2bs") == "b2bs"          # digits -> untouched
    assert kstem("run") == "run"            # nothing to do


def test_kstem_deterministic_pure():
    words = ["cities", "running", "hoped", "boxes", "feed", "xyzzys"]
    assert [kstem(w) for w in words] == [kstem(w) for w in words]


def test_stemmer_registry():
    assert get_stemmer("s") is s_stem
    assert get_stemmer("kstem") is kstem
    assert set(STEMMERS) == {"s", "kstem"}
    with pytest.raises(ValueError, match="unknown stemmer"):
        get_stemmer("porter")


def test_tokenize_full_kstem_mode():
    toks = tokenize_full("The cats were running", stemmer="kstem")
    # stopword slots stay None; content words stem with kstem
    assert toks[0] is None
    assert "cat" in toks and "run" in toks
    # default mode unchanged (frozen s-stem): running stays running
    assert "running" in tokenize_full("The cats were running")
    assert tokenize_query_term("Carried", stemmer="kstem") == "carry"
    assert tokenize_query_term("Carried") == "carried"


# -- end-to-end: kstem-pinned index ------------------------------------------

_DOCS = [
    ("runs", "the cat runs quickly past green gardens"),
    ("running", "cats running around the park with friends"),
    ("carried", "workers carried heavy boxes yesterday evening"),
    ("carries", "she carries a box across town today"),
    ("hoping", "hoping and hopping along the narrow road"),
    ("hoped", "they hoped to hop home before dark"),
    ("agreed", "the agreed churches stand near old cities"),
    ("cities", "cities and towns grow along rivers"),
    ("filler1", "quiet mountain weather patterns remain stable"),
    ("filler2", "bright yellow flowers bloom under warm light"),
    ("filler3", "river stones shift slowly downstream forever"),
]

_TS = datetime.datetime(2020, 9, 13, 12, 26, 40)


def _page_rows(docs):
    from searchengines_spark.tokenizer import extract_text

    rows = []
    for i, (slug, body) in enumerate(docs):
        url = f"https://kstem.example.org/{slug}/p{i:04d}.html"
        html = (
            "<html><head>"
            f"<title>{slug} page</title>"
            '<meta name="keywords" content="test corpus">'
            '<meta name="inlink" content="inbound anchor">'
            "</head><body>"
            f"<p>{body}</p>"
            "</body></html>"
        ).encode()
        rows.append((url, _TS, html, extract_text(html), "en"))
    return rows


@pytest.fixture(scope="module")
def kstem_index(spark, tmp_path_factory):
    from searchengines_spark.corpus import PAGES_SCHEMA
    from searchengines_spark.index import IndexReader, build_index

    d = str(tmp_path_factory.mktemp("kidx"))
    pages = spark.createDataFrame(_page_rows(_DOCS), PAGES_SCHEMA)
    metrics = build_index(spark, pages, d, n_salts=2, stemmer="kstem")
    assert metrics["stemmer"] == "kstem"
    return IndexReader(spark, d)


def test_manifest_pins_stemmer(kstem_index):
    with open(os.path.join(kstem_index.index_dir, "MANIFEST.json")) as f:
        assert json.load(f)["stemmer"] == "kstem"
    assert kstem_index.stemmer == "kstem"


def test_inflected_query_matches_inflected_docs(kstem_index):
    """'running' (query) must hit docs containing runs/running — both sides
    collapse to 'run' because the engine resolves the PINNED stemmer."""
    from searchengines_spark.engine import Engine

    eng = Engine(kstem_index)
    urls = [r["url"] for r in eng.search("running", "bm25", 10).collect()]
    assert any("/runs/" in u for u in urls)
    assert any("/running/" in u for u in urls)

    urls = [r["url"] for r in eng.search("carry", "bm25", 10).collect()]
    assert any("/carried/" in u for u in urls)
    assert any("/carries/" in u for u in urls)


def test_rank_identity_vs_oracle_kstem(spark, kstem_index):
    """Engine on a kstem index is rank- AND score-identical to the pure
    oracle over kstem-tokenized docs (same gate as test_rank_identity)."""
    from searchengines_spark.corpus import FIELDS, extract_fields
    from searchengines_spark.engine import Engine
    from searchengines_spark.oracle import OracleIndex
    from searchengines_spark.oracle import search as oracle_search

    docs = []
    for url, ts, html, text, lang in _page_rows(_DOCS):
        f = extract_fields(url, html)
        docs.append((url, {k: tokenize_full(f[k], stemmer="kstem")
                           for k in FIELDS}))
    oidx = OracleIndex.from_docs(docs)
    eng = Engine(kstem_index)
    for model, q in [("bm25", "running boxes"),
                     ("bm25", "#AND( carried cities )"),
                     ("indri", "#AND( hoping agreed )"),
                     ("rankedboolean", "#OR( carries churches )")]:
        got = [(r["url"], r["score"])
               for r in eng.search(q, model, 10).collect()]
        want = oracle_search(oidx, q, model, 10, stemmer="kstem")
        assert [u for u, _ in got] == [u for u, _ in want], (model, q)
        for (gu, gs), (wu, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (model, q, gu)


def test_resume_keeps_encoded_stemmer(spark, kstem_index):
    """Resuming a kstem index with stemmer='s' must keep 'kstem' (the value
    the doc_terms were ACTUALLY tokenized with) and surface the conflict —
    same discipline as salt_min_df pinning for resumed segments."""
    from searchengines_spark.corpus import PAGES_SCHEMA
    from searchengines_spark.index import build_index

    pages = spark.createDataFrame(_page_rows(_DOCS), PAGES_SCHEMA)
    m = build_index(spark, pages, kstem_index.index_dir, n_salts=2,
                    resume=True, stemmer="s")
    assert m["stemmer"] == "kstem"
    assert m.get("stemmer_ignored_on_resume") is True
    with open(os.path.join(kstem_index.index_dir, "MANIFEST.json")) as f:
        assert json.load(f)["stemmer"] == "kstem"


def test_append_uses_pinned_stemmer(spark, tmp_path):
    """append_pages on a kstem index must tokenize the NEW docs with kstem
    (manifest-pinned), not the default — otherwise one logical term splits
    across two stems and the appended doc is unfindable."""
    from searchengines_spark.corpus import PAGES_SCHEMA
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.index.incremental import append_pages

    d = str(tmp_path / "kidx_append")
    pages = spark.createDataFrame(_page_rows(_DOCS), PAGES_SCHEMA)
    build_index(spark, pages, d, n_salts=2, stemmer="kstem")

    new = spark.createDataFrame(
        _page_rows([("appended", "gardeners watered wilting roses")]),
        PAGES_SCHEMA)
    r = append_pages(spark, d, new)
    assert r["appended"] == 1

    eng = Engine(IndexReader(spark, d))
    urls = [x["url"] for x in eng.search("watering rose", "bm25", 10).collect()]
    assert any("/appended/" in u for u in urls)


def test_compact_preserves_pinned_stemmer(spark, tmp_path):
    """compact() re-encodes blocks from doc_terms without re-tokenizing, so
    it must carry the stemmer pin forward — and inflected retrieval must
    still work on the compacted index."""
    from searchengines_spark.corpus import PAGES_SCHEMA
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.index.incremental import append_pages, compact

    d = str(tmp_path / "kidx_compact")
    pages = spark.createDataFrame(_page_rows(_DOCS), PAGES_SCHEMA)
    build_index(spark, pages, d, n_salts=2, stemmer="kstem")
    new = spark.createDataFrame(
        _page_rows([("late", "dancers danced while singers sang")]),
        PAGES_SCHEMA)
    append_pages(spark, d, new)
    compact(spark, d)

    r = IndexReader(spark, d)
    assert r.stemmer == "kstem"
    with open(os.path.join(d, "MANIFEST.json")) as f:
        assert json.load(f)["stemmer"] == "kstem"
    urls = [x["url"]
            for x in Engine(r).search("dancing", "bm25", 10).collect()]
    assert any("/late/" in u for u in urls)


def test_invalid_stemmer_rejected_on_driver(spark, tmp_path):
    from searchengines_spark.corpus import PAGES_SCHEMA
    from searchengines_spark.index import build_index

    pages = spark.createDataFrame(_page_rows(_DOCS[:2]), PAGES_SCHEMA)
    with pytest.raises(ValueError, match="unknown stemmer"):
        build_index(spark, pages, str(tmp_path / "bad"), stemmer="porter")


def test_known_divergence_from_lexicon_guarded_kstem_is_pinned():
    """The frozen kstem spec is lexicon-FREE by design (no dictionary in
    the tokenize kernel; index and query sides can never disagree), which
    makes it diverge from the reference's lexicon-guarded Lucene KStem
    (QryParser.java:428-445) on a measured 5/217 (2.3%) of the reference
    query vocabulary — 4.15% counting lexicon-dependent cases
    (tools/stemmer_divergence.py; BENCH/STEMMER.md "Divergence" section).
    These outputs are a CONTRACT: changing any of them silently re-buckets
    postings between index versions, so a change here must be a deliberate
    spec revision with a reindex, never a drive-by fix."""
    from searchengines_spark.tokenizer import kstem

    pinned = {
        # confirmed divergences (lexicon-guarded KStem would differ)
        "houses": "hous",       # KStem: house (headword restore)
        "raised": "rais",       # KStem: raise (e-restoration)
        "hooves": "hoove",      # KStem: hoof (irregular -ves plural)
        "asbestos": "asbesto",  # KStem: asbestos (headword protection)
        "diabetes": "diabete",  # KStem: diabetes (headword protection)
        # lexicon-dependent divergences
        "becoming": "becom",    # KStem: become, or unchanged if listed
        "living": "live",       # KStem: unchanged if 'living' is listed
        "united": "unit",       # KStem: unchanged if 'united' is listed
        "texas": "texa",        # KStem: protected iff lexicon has it
    }
    for w, expect in pinned.items():
        assert kstem(w) == expect, (w, kstem(w), expect)


def test_divergence_tool_measures_current_spec():
    """tools/stemmer_divergence.py's verdicts must track the live kstem
    function (the vendored table describes the REFERENCE side; ours is
    computed) and the reference vocabulary must still be reachable."""
    import json
    import os
    import subprocess
    import sys

    if not os.path.isdir("/root/reference/TEST_DIR"):
        pytest.skip("reference TEST_DIR not present")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "stemmer_divergence.py")],
        capture_output=True, text=True, check=True)
    res = json.loads(out.stdout)
    assert res["vocab_terms"] >= 200
    assert res["divergent_confirmed"] == 5
    assert res["divergence_pct_lower"] < 3.0
    assert all(c["diverges_now"] for c in res["cases"]
               if c["class"] == "confirmed")
