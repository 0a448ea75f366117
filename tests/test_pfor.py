"""PForDelta payload codec: round-trips, width choice, and end-to-end
equivalence of a pfor-built index with the varint default.

PFOR (patched frame-of-reference) is the north star's named alternative to
LEB128 for posting blocks: bit-pack at a cost-minimizing width, patch
outliers through an exception list. The codec choice is recorded in
MANIFEST.json and honored by every decode path (planner scan, WAND
cursors, cold-term clip, incremental append, compaction).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengines_spark.index import codec


# ------------------------------------------------------------------ codec
@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_pfor_roundtrip(vals):
    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.decode_pfor(codec.encode_pfor(v)), v)


def test_pfor_sliced_matches_per_slice():
    rng = np.random.default_rng(11)
    v = np.concatenate([
        rng.integers(0, 2**7, 400),
        rng.integers(0, 2**30, 100),
        rng.integers(2**50, 2**60, 12),
    ]).astype(np.uint64)
    cuts = np.arange(0, v.size, codec.BLOCK_SIZE)
    sl = codec.encode_pfor_sliced(v, cuts)
    bounds = np.append(cuts, v.size)
    for j, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
        assert sl[j] == codec.encode_pfor(v[s:e])
        assert np.array_equal(codec.decode_pfor(sl[j]), v[s:e])


def test_pfor_sliced_matches_per_slice_edge_cases():
    """The sliced encoder vectorizes ACROSS slices (grouped packbits, shared
    exception varint pass); it must stay byte-identical to per-slice
    encode_pfor on ragged tails, empty slices, all-zero slices,
    exception-heavy mixes, and 64-bit values."""
    rng = np.random.default_rng(7)
    for trial in range(40):
        n = int(rng.integers(0, 1500))
        kind = trial % 5
        if kind == 0:
            v = rng.integers(0, 2 ** int(rng.integers(1, 63)), n).astype(np.uint64)
        elif kind == 1:
            v = np.zeros(n, np.uint64)
        elif kind == 2:
            v = rng.integers(0, 5, n).astype(np.uint64)
        elif kind == 3:  # mostly small with scattered huge exceptions
            v = rng.integers(0, 100, n).astype(np.uint64)
            if n:
                k = max(1, n // 40)
                v[rng.integers(0, n, k)] = rng.integers(0, 2 ** 63, k).astype(np.uint64)
        else:  # near-max 64-bit
            v = np.uint64(0xFFFFFFFFFFFFFFFF) - rng.integers(0, 3, n).astype(np.uint64)
        if n == 0:
            cuts = np.array([0, 0], np.int64)
        else:
            extra = np.unique(rng.integers(0, n, int(rng.integers(0, 8))))
            cuts = np.unique(np.concatenate(
                [[0], np.arange(0, n, codec.BLOCK_SIZE), extra]))
            if trial % 3 == 0 and len(cuts) > 1:  # duplicate cut -> empty slice
                cuts = np.sort(np.concatenate([cuts, cuts[len(cuts) // 2:len(cuts) // 2 + 1]]))
        sl = codec.encode_pfor_sliced(v, cuts)
        bounds = np.append(cuts, n)
        for j, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
            assert sl[j] == codec.encode_pfor(v[s:e]), (trial, j)
            assert np.array_equal(codec.decode_pfor(sl[j]), v[s:e]), (trial, j)


def test_pfor_beats_varint_on_uniform_blocks():
    # the case pfor exists for: 128 small uniform deltas pack at a few bits
    # each, while varint pays a whole byte per value
    rng = np.random.default_rng(3)
    v = rng.integers(1, 60, 128).astype(np.uint64)
    assert len(codec.encode_pfor(v)) < len(codec.encode_varint(v))


def test_decode_block_dispatch():
    d = np.array([3, 9, 40], dtype=np.uint64)
    tf = np.array([1, 2, 1], dtype=np.uint64)
    dd = codec.delta_encode(d)
    for pc, enc in (("varint", codec.encode_varint), ("pfor", codec.encode_pfor)):
        out_d, out_t = codec.decode_block(enc(dd), enc(tf), payload_codec=pc)
        assert np.array_equal(out_d, d)
        assert np.array_equal(out_t, tf)


# ------------------------------------------------------------- end-to-end
@pytest.fixture(scope="module")
def varint_index(spark, tmp_path_factory):
    # pfor is the build default (and what tiny_index uses); this fixture is
    # the cross-codec counterpart on the same corpus
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import IndexReader, build_index

    d = str(tmp_path_factory.mktemp("varintidx"))
    pages = generate_pages(spark, 300, seed=42, partitions=4)
    m = build_index(spark, pages, d, n_salts=4, payload_codec="varint")
    assert m["payload_codec"] == "varint"
    return IndexReader(spark, d)


QUERIES = [
    ("cebaba1 dibaba2 fobaba3", "bm25", {}),
    ("cebaba1 dibaba2 fobaba3", "bm25", dict(k1=0.9, b=0.4)),
    ("#NEAR/4( cebaba1 dibaba2 )", "bm25", {}),
    ("#AND( cebaba1 #SYN( dibaba2 fobaba3 ) )", "indri", {}),
]


@pytest.mark.parametrize("q,model,kw", QUERIES)
def test_codecs_serve_identically(spark, tiny_index, varint_index, q, model, kw):
    """Same corpus, same query — the pfor (default) and varint indexes must
    return exactly the same results (urls, scores) on every serving path."""
    import math

    from searchengines_spark.engine import Engine

    assert tiny_index.payload_codec == "pfor"
    assert varint_index.payload_codec == "varint"
    want = [(r["url"], r["score"]) for r in
            Engine(varint_index).search(q, model, 20, **kw).collect()]
    got = [(r["url"], r["score"]) for r in
           Engine(tiny_index).search(q, model, 20, **kw).collect()]
    assert [u for u, _ in got] == [u for u, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=0, abs_tol=1e-12)


def test_append_keeps_manifest_codec(spark, varint_index):
    """Incremental append encodes its delta blocks with the codec recorded
    in MANIFEST — a varint index appended under a pfor-default build stays
    varint (old indexes never get mixed-codec blocks)."""
    import json
    import os

    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import IndexReader
    from searchengines_spark.index.incremental import append_pages

    idx_dir = varint_index.index_dir
    extra = generate_pages(spark, 30, seed=99, partitions=1)
    append_pages(spark, idx_dir, extra)
    with open(os.path.join(idx_dir, "MANIFEST.json")) as f:
        man = json.load(f)
    assert man.get("payload_codec") == "varint"
    r2 = IndexReader(spark, idx_dir)
    n = r2.blocks_for([("body", "cebaba1")]).count()
    assert n > 0
    from searchengines_spark.engine import Engine
    res = Engine(r2).search("cebaba1 dibaba2", "bm25", 10).collect()
    assert len(res) > 0
