"""Resumable build: interrupting after any stage and re-running with
resume=True must produce a logically identical index (content, not bytes)."""

import json
import os
import re
import shutil

import pytest

from conftest import index_fingerprint
from searchengines_spark.corpus import generate_pages
from searchengines_spark.index import IndexReader, build_index


@pytest.mark.slow
def test_resume_preserves_encode_salt_min_df(spark, tmp_path):
    """cold_blocks' skip-gate ("df >= salt_min_df implies all blocks
    striped") is only sound against the threshold the blocks were ENCODED
    with. A resume that skips the segments stage but records the new
    call's (lower) threshold would make the reader skip the cold scan for
    every term with new_thr <= df < old_thr — whose blocks are all
    UNSTRIPED — silently dropping those postings from every query."""
    import pandas as pd

    from searchengines_spark.corpus import PAGES_SCHEMA
    from searchengines_spark.index import IndexReader

    bodies = [f"hotone filler{i}" for i in range(12)]
    rows = [(f"https://rs.org/p{i:03d}", pd.Timestamp("2020-01-01"),
             (f"<html><head><title>t{i}</title></head>"
              f"<body>{b}</body></html>").encode(), b, "en")
            for i, b in enumerate(bodies)]
    pages = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)

    d = str(tmp_path / "idx")
    # encode threshold 100: "hotone" (df=12) gets only UNSTRIPED blocks
    build_index(spark, pages, d, n_salts=4, salt_min_df=100)
    pairs = [("body", "hotone")]
    baseline = IndexReader(spark, d).cold_blocks(pairs)
    assert pairs[0] in baseline  # sanity: served from the cold path

    # resume with the threshold LOWERED to 4: every stage is already done,
    # so no block is re-encoded — the manifest must keep 100
    build_index(spark, pages, d, n_salts=4, salt_min_df=4, resume=True)
    with open(os.path.join(d, "MANIFEST.json")) as f:
        m = json.load(f)
    assert m["salt_min_df"] == 100

    r2 = IndexReader(spark, d)
    assert r2.cold_blocks(pairs) == baseline  # postings still reachable

    # legacy manifest without the key -> the gate must go conservative
    m.pop("salt_min_df")
    with open(os.path.join(d, "MANIFEST.json"), "w") as f:
        json.dump(m, f)
    r3 = IndexReader(spark, d)
    assert not r3.salt_min_df_known
    assert r3.cold_blocks(pairs) == baseline


def _tiny_pages(spark, n=12, with_hot=8, prefix="p"):
    import pandas as pd

    from searchengines_spark.corpus import PAGES_SCHEMA

    bodies = [("hotone " if i < with_hot else "") + f"filler{i}"
              for i in range(n)]
    rows = [(f"https://rs.org/{prefix}{i:03d}", pd.Timestamp("2020-01-01"),
             (f"<html><head><title>t{i}</title></head>"
              f"<body>{b}</body></html>").encode(), b, "en")
            for i, b in enumerate(bodies)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=PAGES_SCHEMA)


@pytest.mark.slow
def test_resume_keeps_lifecycle_manifest_keys(spark, tmp_path):
    """A resume re-run over an APPENDED index re-ran no stage, so it must
    carry the incremental-lifecycle manifest state forward: `appends`
    drives segment_cuts' url-rank tie segments (dropping it collapses the
    multi-segment tie rule), `docid_space` covers docid holes."""
    from searchengines_spark.index.incremental import append_pages

    pages = _tiny_pages(spark)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, n_salts=4)
    append_pages(spark, d, _tiny_pages(spark, n=6, with_hot=3, prefix="q"))
    with open(os.path.join(d, "MANIFEST.json")) as f:
        m0 = json.load(f)
    assert m0.get("appends")

    build_index(spark, pages, d, n_salts=4, resume=True)
    with open(os.path.join(d, "MANIFEST.json")) as f:
        m1 = json.load(f)
    assert m1["appends"] == m0["appends"]
    assert m1["docid_space"] == m0["docid_space"]
    assert IndexReader(spark, d).segment_cuts() == [0, 12]


@pytest.mark.slow
def test_resume_pins_stemmer_without_manifest(spark, tmp_path):
    """A build that crashed before its final MANIFEST write must still
    resume with the stemmer the docs were ACTUALLY tokenized with — the
    doc_terms stage marker stamps it. A hardcoded 's' fallback would serve
    kstem-stemmed postings with s-stemmed queries: silent zero hits."""
    pages = _tiny_pages(spark)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, n_salts=4, stemmer="kstem")

    # crash case: every stage done, MANIFEST never written
    os.remove(os.path.join(d, "MANIFEST.json"))
    m = build_index(spark, pages, d, n_salts=4, stemmer="kstem", resume=True)
    assert m["stemmer"] == "kstem"
    assert "stemmer_ignored_on_resume" not in m

    # a re-run that passes a DIFFERENT stemmer cannot re-pin tokenized docs
    os.remove(os.path.join(d, "MANIFEST.json"))
    m = build_index(spark, pages, d, n_salts=4, stemmer="s", resume=True)
    assert m["stemmer"] == "kstem"
    assert m["stemmer_ignored_on_resume"] is True
    assert IndexReader(spark, d).stemmer == "kstem"


@pytest.mark.slow
def test_resume_restores_stripe_geometry(spark, tmp_path):
    """segments-stage resume invoked with a different n_salts must keep the
    geometry the blocks were ENCODED with: the reader derives each stripe's
    docid window from manifest salt_range, so recording the new call's
    value would silently misalign every striped decode."""
    from searchengines_spark.engine import Engine

    pages = _tiny_pages(spark)
    d = str(tmp_path / "idx")
    # salt_min_df=4 stripes "hotone" (df=8) across 4 salts
    build_index(spark, pages, d, n_salts=4, salt_min_df=4)
    with open(os.path.join(d, "MANIFEST.json")) as f:
        m0 = json.load(f)
    baseline = [(r["url"], r["score"]) for r in
                Engine(IndexReader(spark, d))
                .search("hotone", model="bm25", k=10).collect()]
    assert baseline  # sanity: the striped term is servable

    # resume with HALF the salts: blocks are not re-encoded, so the
    # manifest must keep the encode-time geometry
    build_index(spark, pages, d, n_salts=2, salt_min_df=4, resume=True)
    with open(os.path.join(d, "MANIFEST.json")) as f:
        m1 = json.load(f)
    assert (m1["salt_range"], m1["n_salts"]) == (m0["salt_range"], m0["n_salts"])

    # crash flavor: no MANIFEST at all -> the segments stage marker pins it
    os.remove(os.path.join(d, "MANIFEST.json"))
    build_index(spark, pages, d, n_salts=2, salt_min_df=4, resume=True)
    with open(os.path.join(d, "MANIFEST.json")) as f:
        m2 = json.load(f)
    assert (m2["salt_range"], m2["n_salts"]) == (m0["salt_range"], m0["n_salts"])
    assert m2["salt_min_df"] == 4

    after = [(r["url"], r["score"]) for r in
             Engine(IndexReader(spark, d))
             .search("hotone", model="bm25", k=10).collect()]
    assert after == baseline

    # precedence: compact() re-encodes with NEW geometry and rewrites the
    # manifest but never stage markers — a later resume must trust the
    # fresher manifest, not resurrect the stale marker's geometry
    from searchengines_spark.index.incremental import compact

    compact(spark, d, n_salts=2)
    build_index(spark, pages, d, n_salts=4, salt_min_df=4, resume=True)
    with open(os.path.join(d, "MANIFEST.json")) as f:
        m3 = json.load(f)
    assert m3["n_salts"] == 2


@pytest.mark.slow
def test_resume_identical(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    generate_pages(spark, 200, seed=7, partitions=4).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)

    d_full = str(tmp_path / "full")
    build_index(spark, pages, d_full, n_salts=4)
    fp_full = index_fingerprint(spark, d_full)

    # simulate a crash after the doc_terms stage: copy the completed stages,
    # drop everything later, resume
    d_part = str(tmp_path / "partial")
    os.makedirs(os.path.join(d_part, "_stages"))
    for stage, artifacts in [("docids", ["docids"]),
                             ("doc_terms", ["tokenized", "doc_lens",
                                            "doc_lens_wide"])]:
        for a in artifacts:
            shutil.copytree(os.path.join(d_full, a), os.path.join(d_part, a))
        shutil.copy(os.path.join(d_full, "_stages", stage + ".json"),
                    os.path.join(d_part, "_stages", stage + ".json"))

    build_index(spark, pages, d_part, n_salts=4, resume=True)
    fp_part = index_fingerprint(spark, d_part)
    assert fp_part == fp_full

    # resumed index must answer queries identically
    r1, r2 = IndexReader(spark, d_full), IndexReader(spark, d_part)
    assert r1.n_docs == r2.n_docs and r1.field_stats == r2.field_stats
    with open(os.path.join(d_part, "MANIFEST.json")) as f:
        m = json.load(f)
    assert m["postings"] > 0 and m["docs_per_sec"] > 0


def test_smj_join_regime_identical_and_conf_restored(spark, tmp_path, monkeypatch,
                                                     conf_spy):
    """Above SE_BROADCAST_CAP_BYTES the docids join falls back from
    broadcast to a sort-merge shuffle of the html corpus, and build_index
    repartitions the pages side by url to a data-scaled width so join-task
    input stays bounded (the 10M-page heap-OOM fix — BENCH/STRESS_10M.md).
    Gate it: the SMJ-regime index is content-identical to the
    broadcast-regime one, the join shuffles both sides once at that width,
    and neither build sets a session conf key (the width is the join's
    own, so the session's shuffle setting is unchanged afterward)."""
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import build as build_mod
    from searchengines_spark.index import build_index

    pages = generate_pages(spark, 800, seed=42, partitions=4)
    pages.write.parquet(str(tmp_path / "pages"))
    p = spark.read.parquet(str(tmp_path / "pages"))

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with conf_spy() as bcast_keys:
        build_index(spark, p, str(tmp_path / "bcast"), n_salts=4)
    joined = []
    real_tokenize = build_mod.pages_to_tokenized
    monkeypatch.setattr(build_mod, "pages_to_tokenized",
                        lambda df, **kw: joined.append(df) or real_tokenize(df, **kw))
    monkeypatch.setenv("SE_BROADCAST_CAP_BYTES", "1")
    # this docids table is far below Spark's own size-based broadcast
    # threshold; switch that off so the join really sort-merges
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    old_threshold = spark.conf.get(bcast_key)
    spark.conf.set(bcast_key, "-1")
    try:
        with conf_spy() as smj_keys:
            build_index(spark, p, str(tmp_path / "smj"), n_salts=4)
        plan = joined[-1]._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(bcast_key, old_threshold)
    assert bcast_keys == [] and smj_keys == []
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    # the pages side and the docids side, no third exchange
    widths = re.findall(r"Exchange \w+\((?:[^()]*, )?(\d+)\)", plan)
    assert len(widths) == 2 and widths[0] == widths[1], plan
    assert int(widths[0]) >= 2 * spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert (index_fingerprint(spark, str(tmp_path / "bcast"))
            == index_fingerprint(spark, str(tmp_path / "smj")))
