import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengines_spark.index import codec


def test_varint_roundtrip_basic():
    for arr in ([0], [1], [127], [128], [2**32], [2**63], [0, 1, 300, 2**40, 5]):
        a = np.array(arr, dtype=np.uint64)
        assert codec.decode_varint(codec.encode_varint(a)).tolist() == arr


def test_varint_empty():
    assert codec.encode_varint(np.empty(0, dtype=np.uint64)) == b""
    assert codec.decode_varint(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
def test_varint_roundtrip_hypothesis(vals):
    a = np.array(vals, dtype=np.uint64)
    out = codec.decode_varint(codec.encode_varint(a))
    assert out.tolist() == vals


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True))
def test_block_roundtrip(docs):
    docids = np.array(sorted(docs), dtype=np.uint64)
    tfs = (docids % 7 + 1).astype(np.uint64)
    dz, tz = codec.encode_block(docids, tfs)
    d, t = codec.decode_block(dz, tz)
    assert d.tolist() == docids.tolist()
    assert t.tolist() == tfs.tolist()


def test_positions_roundtrip():
    pls = [np.array([0, 5, 9], dtype=np.uint64), np.array([], dtype=np.uint64),
           np.array([3], dtype=np.uint64), np.array([1, 2, 3, 1000], dtype=np.uint64)]
    buf = codec.encode_positions(pls)
    out = codec.decode_positions(buf, len(pls))
    assert [o.tolist() for o in out] == [p.tolist() for p in pls]


def test_encode_positions_flat_equivalence():
    import numpy as np

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from searchengines_spark.index import codec

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.lists(st.integers(0, 5000), max_size=20).map(sorted),
                    max_size=30))
    def check(rows):
        arrs = [np.asarray(r, dtype=np.uint64) for r in rows]
        flat = (np.concatenate(arrs) if rows else np.empty(0, np.uint64))
        counts = np.asarray([len(r) for r in rows], dtype=np.int64)
        assert codec.encode_positions_flat(flat, counts) == codec.encode_positions(arrs)

    check()


def test_sliced_encoders_match_per_block():
    import numpy as np

    from searchengines_spark.index import codec

    rng = np.random.default_rng(7)
    n = 1000
    docids = np.cumsum(rng.integers(1, 50, n)).astype(np.uint64)
    tfs = rng.integers(1, 9, n).astype(np.uint64)
    dls = rng.integers(10, 300, n).astype(np.uint64)
    counts = rng.integers(1, 6, n)
    pvals = np.concatenate([np.sort(rng.integers(0, 300, c)) for c in counts]).astype(np.uint64)
    poffs = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)

    BS = codec.BLOCK_SIZE
    bstarts = np.arange(0, n, BS, dtype=np.int64)
    dd = docids.copy(); dd[1:] -= docids[:-1]; dd[bstarts] = docids[bstarts]
    d_sl = codec.encode_varint_sliced(dd, bstarts)
    t_sl = codec.encode_varint_sliced(tfs, bstarts)
    l_sl = codec.encode_varint_sliced(dls, bstarts)
    p_sl = codec.encode_positions_flat_sliced(pvals, poffs, bstarts)

    for i, s in enumerate(bstarts):
        e = min(int(s) + BS, n)
        dz, tz = codec.encode_block(docids[s:e], tfs[s:e])
        lz = codec.encode_varint(dls[s:e])
        assert (d_sl[i], t_sl[i], l_sl[i]) == (dz, tz, lz)
        pz = codec.encode_positions_flat(pvals[poffs[s]:poffs[e]], np.diff(poffs[s:e + 1]))
        assert p_sl[i] == pz
        # and the decode round-trip
        d2, t2 = codec.decode_block(d_sl[i], t_sl[i])
        dl2 = codec.decode_varint(l_sl[i])
        assert (d2 == docids[s:e]).all() and (t2 == tfs[s:e]).all() and (dl2 == dls[s:e]).all()
        ps = codec.decode_positions(p_sl[i], e - int(s))
        flat = np.concatenate(ps) if ps else np.empty(0)
        assert (flat == pvals[poffs[s]:poffs[e]]).all()


def test_decode_positions_flat_equivalence():
    import numpy as np

    from searchengines_spark.index import codec

    rng = np.random.default_rng(3)
    rows = [np.sort(rng.integers(0, 1000, rng.integers(0, 8))).astype(np.uint64)
            for _ in range(100)]
    buf = codec.encode_positions(rows)
    vals, counts = codec.decode_positions_flat(buf, len(rows))
    lists = codec.decode_positions(buf, len(rows))
    assert (counts == [len(r) for r in rows]).all()
    flat = np.concatenate(lists) if lists else np.empty(0)
    assert (vals == flat.astype(np.int64)).all()
    assert (vals == np.concatenate(rows).astype(np.int64)).all() if len(vals) else True


def test_positions_flat_buf_slices_match_per_doc_encode():
    """Slicing encode_positions_flat_buf's buffer at its per-doc offsets must
    be byte-identical to encode_positions_flat per doc — the contract that
    lets the tokenize kernel pre-encode payloads the block encoder merely
    concatenates."""
    import numpy as np

    from searchengines_spark.index import codec

    rng = np.random.default_rng(3)
    cnt = rng.integers(0, 9, 200)
    offs = np.zeros(len(cnt) + 1, np.int64)
    np.cumsum(cnt, out=offs[1:])
    vals = np.sort(rng.integers(0, 5000, int(cnt.sum())))
    # re-sort within each doc
    parts = [np.sort(vals[offs[i]:offs[i+1]]) for i in range(len(cnt))]
    flat = np.concatenate(parts) if parts else np.empty(0, np.int64)
    buf, cuts = codec.encode_positions_flat_buf(flat.astype(np.int64), offs)
    assert len(cuts) == len(cnt) + 1
    whole = buf.tobytes()
    for i in range(len(cnt)):
        want = codec.encode_positions_flat(
            parts[i].astype(np.uint64), np.array([cnt[i]], np.int64))
        got = whole[cuts[i]:cuts[i+1]]
        assert got == want, i
        back = codec.decode_positions_payload(got)
        assert back.tolist() == parts[i].astype(int).tolist()
