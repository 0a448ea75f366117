"""Bucket-scoped (incremental) compaction: after an append that touches a
strict subset of the 64 term buckets, compact_buckets() must

- re-encode ONLY the touched buckets, leaving every untouched
  ``blocks/bucket=N`` directory's files byte-identical (hash check);
- produce, for the touched buckets, rows identical to a FULL compact() run
  at the same salt_range (same codec, same stripe cuts, current stats);
- keep serving exact (partial-compacted engine == full-compacted engine);
- record the compacted buckets in the manifest and clear them from
  ``uncompacted_buckets``.

Deletes are copy-on-write across all buckets, so pending tombstones must
force the full compact (ValueError).
"""

import glob
import hashlib
import json
import math
import os
import shutil

import pyarrow.parquet as pq
import pytest

from searchengines_spark.corpus import generate_pages
from searchengines_spark.engine import Engine
from searchengines_spark.index import IndexReader, build_index
from searchengines_spark.index.build import BLOCKS_SCHEMA, N_BUCKETS
from searchengines_spark.index.incremental import (
    append_pages,
    compact,
    compact_buckets,
    delete_pages,
)

DELTA_WORDS = ["glarbule", "fnordex", "quibblet"]  # tiny delta vocab


def _delta_pages(spark, n=6):
    rows = []
    for i in range(n):
        body = " ".join(DELTA_WORDS * 3)
        html = (
            f"<html><head><title>{DELTA_WORDS[0]}</title>"
            f'<meta name="keywords" content="{DELTA_WORDS[1]}">'
            f'<meta name="inlink" content="{DELTA_WORDS[2]}">'
            f"</head><body>{body}</body></html>"
        )
        rows.append((f"https://qq.qq/q{i}", bytearray(html.encode()), "en"))
    return spark.createDataFrame(rows, ["url", "html", "lang"])


def _bucket_digest(index_dir, bucket):
    h = hashlib.sha256()
    for p in sorted(
        glob.glob(os.path.join(index_dir, "blocks", f"bucket={bucket}", "*"))
    ):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _present_buckets(index_dir):
    root = os.path.join(index_dir, "blocks")
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("bucket=")
    )


@pytest.fixture(scope="module")
def partial_vs_full(spark, tmp_path_factory, conf_spy):
    root = tmp_path_factory.mktemp("cbkt")
    pages = generate_pages(spark, 200, seed=7, partitions=4)
    d = str(root / "idx")
    with conf_spy() as conf_keys:
        build_index(spark, pages, d, n_salts=4)
        append_pages(spark, d, _delta_pages(spark))

        with open(os.path.join(d, "MANIFEST.json")) as f:
            man = json.load(f)
        touched = man["uncompacted_buckets"]
        present = _present_buckets(d)
        untouched = [b for b in present if b not in touched]
        pre_digests = {b: _bucket_digest(d, b) for b in untouched}

        d_full = str(root / "idx_full")
        shutil.copytree(d, d_full)
        compact(spark, d_full, salt_range=int(man["salt_range"]))

        res = compact_buckets(spark, d)
    return d, d_full, touched, untouched, pre_digests, {**res, "conf_keys": conf_keys}


def test_touched_is_strict_subset(partial_vs_full):
    _, _, touched, untouched, _, res = partial_vs_full
    assert 0 < len(touched) < N_BUCKETS
    assert untouched, "delta vocab unexpectedly touched every bucket"
    assert res["buckets"] == sorted(touched)


def test_untouched_bucket_files_byte_identical(partial_vs_full):
    d, _, _, untouched, pre_digests, res = partial_vs_full
    # dynamic overwrite is a per-write option, never a session-wide toggle;
    # build, append and compact set no session conf either
    assert res["conf_keys"] == []
    for b in untouched:
        assert _bucket_digest(d, b) == pre_digests[b], f"bucket={b} rewritten"


def test_touched_buckets_row_identical_to_full_compact(spark, partial_vs_full):
    d, d_full, touched, _, _, _ = partial_vs_full
    cols = ["bucket", "field", "term", "salt", "blk"]

    def rows(path):
        df = spark.read.parquet(os.path.join(path, "blocks"))
        recs = df.filter(df["bucket"].isin(touched)).collect()
        out = []
        for r in recs:
            rd = r.asDict()
            key = tuple(rd[c] for c in cols)
            rest = tuple(
                bytes(v) if isinstance(v, (bytearray, bytes)) else v
                for k, v in sorted(rd.items())
                if k not in cols
            )
            out.append((key, rest))
        return sorted(out)

    got, want = rows(d), rows(d_full)
    assert len(got) == len(want) and got == want


def test_serving_matches_full_compact(spark, partial_vs_full):
    d, d_full, _, _, _, _ = partial_vs_full
    e_p = Engine(IndexReader(spark, d))
    e_f = Engine(IndexReader(spark, d_full))
    for q, model in [
        ("glarbule fnordex", "bm25"),
        ("#AND( glarbule quibblet )", "indri"),
        ("babababa glarbule", "bm25"),  # old + delta vocab together
    ]:
        got = [(r["url"], r["score"]) for r in e_p.search(q, model, 20).collect()]
        want = [(r["url"], r["score"]) for r in e_f.search(q, model, 20).collect()]
        assert [u for u, _ in got] == [u for u, _ in want], (q, model)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)


def test_manifest_bounds_bookkeeping(partial_vs_full):
    d, _, touched, _, _, _ = partial_vs_full
    with open(os.path.join(d, "MANIFEST.json")) as f:
        man = json.load(f)
    assert man["uncompacted_buckets"] == []
    assert man["partial_compactions"][-1]["buckets"] == sorted(touched)
    # blocks hold exactly the block row; no BM25 params or bounds flags
    files = glob.glob(os.path.join(d, "blocks", "bucket=*", "*.parquet"))
    assert files
    for f in files:
        assert pq.read_schema(f).names == BLOCKS_SCHEMA.fieldNames(), f
    assert not [k for k in man if k.startswith(("bm25_", "stale_"))]


def test_second_partial_compact_is_noop(spark, partial_vs_full):
    d = partial_vs_full[0]
    res = compact_buckets(spark, d)
    assert res.get("noop") is True and res["buckets"] == []


def test_pending_deletes_force_full_compact(spark, partial_vs_full):
    d = partial_vs_full[0]
    reader = IndexReader(spark, d)
    one_url = reader.docid_url_map().limit(1)
    delete_pages(spark, d, one_url.select("url"))
    with pytest.raises(ValueError, match="full compact"):
        compact_buckets(spark, d, buckets=[0])
