"""Delta + varint block codec for posting lists (numpy-vectorized).

The reference keeps postings as uncompressed boxed ``Vector<Integer>`` in RAM
(/root/reference/QryEval/InvList.java:44-85). At 10^12-doc scale that is not
viable; per the north rule we add classic delta + LEB128-varint block
compression with per-block metadata (min and max docid).

Everything here is pure numpy (no Python-per-int loops): encode/decode run a
small fixed number of vectorized passes (<= 10, one per varint byte width),
so they are safe to call inside Arrow-batched pandas UDFs on the hot path.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # postings per block (docids/tfs/doclens arrays)


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128 encode a uint64 array. Vectorized: one pass per output byte
    position (max 10 for 64-bit)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value
    sizes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        sizes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    offsets = np.zeros(v.size, dtype=np.int64)
    np.cumsum(sizes[:-1], out=offsets[1:])
    out = np.zeros(int(sizes.sum()), dtype=np.uint8)
    maxs = int(sizes.max())
    for k in range(maxs):
        mask = sizes > k
        byte = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (sizes[mask] - 1 > k).astype(np.uint8) << 7
        out[offsets[mask] + k] = byte | cont
    return out.tobytes()


def decode_varint(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array. Vectorized via reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    starts = np.empty(int(is_end.sum()), dtype=np.int64)
    starts[0] = 0
    if starts.size > 1:
        starts[1:] = np.flatnonzero(is_end)[:-1] + 1
    # position of each byte within its value
    idx = np.arange(b.size, dtype=np.int64)
    group = np.cumsum(is_end) - is_end  # group id per byte
    pos = idx - starts[group]
    vals = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.add.reduceat(vals, starts)


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    v = np.ascontiguousarray(sorted_vals, dtype=np.uint64)
    if v.size == 0:
        return v
    d = np.empty_like(v)
    d[0] = v[0]
    np.subtract(v[1:], v[:-1], out=d[1:])
    return d


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas, dtype=np.uint64)


def encode_positions(positions_per_doc: list[np.ndarray]) -> bytes:
    """Encode per-doc position lists as: varint(count), then delta+varint
    positions — concatenated across docs in docid order."""
    parts: list[np.ndarray] = []
    for p in positions_per_doc:
        p = np.ascontiguousarray(p, dtype=np.uint64)
        parts.append(np.array([p.size], dtype=np.uint64))
        if p.size:
            parts.append(delta_encode(p))
    if not parts:
        return b""
    return encode_varint(np.concatenate(parts))


def encode_positions_flat(values: np.ndarray, counts: np.ndarray) -> bytes:
    """Byte-identical to ``encode_positions``, but takes the positions of all
    docs as ONE flat array plus per-doc counts — no per-doc Python slice
    objects, so the build kernel can call it straight off Arrow ListArray
    (values, offsets) buffers."""
    m = int(counts.size)
    if m == 0:
        return b""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    cnt = np.ascontiguousarray(counts, dtype=np.int64)
    starts = np.zeros(m, dtype=np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    d = v.copy()
    if v.size > 1:
        d[1:] -= v[:-1]
    nz = starts[cnt > 0]
    d[nz] = v[nz]  # first position of each doc stays absolute
    out = np.empty(m + v.size, dtype=np.uint64)
    cpos = starts + np.arange(m, dtype=np.int64)  # slot of each count
    out[cpos] = cnt.astype(np.uint64)
    mask = np.ones(m + v.size, dtype=bool)
    mask[cpos] = False
    out[mask] = d
    return encode_varint(out)


def encode_varint_sliced(values: np.ndarray, cut_idx: np.ndarray) -> list[bytes]:
    """Varint-encode ONE array and return the per-slice bytes, cutting
    immediately before each value index in ``cut_idx`` (cut_idx[0] == 0).
    Byte-identical to calling ``encode_varint`` per slice (LEB128 is
    per-value independent), but one vectorized pass for a whole posting run
    instead of one call per block."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b"" for _ in range(len(cut_idx))]
    sizes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        sizes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    heads = offsets[:-1]
    maxs = int(sizes.max())
    for k in range(maxs):
        mask = sizes > k
        byte = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (sizes[mask] - 1 > k).astype(np.uint8) << 7
        out[heads[mask] + k] = byte | cont
    buf = out.tobytes()
    bounds = offsets[np.asarray(cut_idx, dtype=np.int64)]
    ends = np.append(bounds[1:], len(buf))
    return [buf[s:e] for s, e in zip(bounds, ends)]


def encode_positions_flat_buf(values: np.ndarray, offs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode EVERY doc's (count, delta-positions) payload in one pass and
    return (flat uint8 buffer, per-doc byte offsets, len m+1). Slicing the
    buffer at consecutive offsets is byte-identical to
    ``encode_positions_flat`` per doc — this is what lets the tokenize
    kernel pre-encode per-posting payloads that the block encoder later
    assembles by pure byte concatenation (no re-encode, no int shuffle)."""
    m = len(offs) - 1
    if m == 0:
        return np.empty(0, np.uint8), np.zeros(1, np.int64)
    v = np.ascontiguousarray(values, dtype=np.uint64)
    offs = np.asarray(offs, dtype=np.int64)
    cnt = np.diff(offs)
    starts = offs[:-1]
    d = v.copy()
    if v.size > 1:
        d[1:] -= v[:-1]
    nz = starts[cnt > 0]
    d[nz] = v[nz]
    out = np.empty(m + v.size, dtype=np.uint64)
    cpos = starts + np.arange(m, dtype=np.int64)
    out[cpos] = cnt.astype(np.uint64)
    mask = np.ones(m + v.size, dtype=bool)
    mask[cpos] = False
    out[mask] = d
    sizes = np.ones(out.size, dtype=np.int64)
    tmp = out >> np.uint64(7)
    while tmp.any():
        sizes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    boffs = np.zeros(out.size + 1, dtype=np.int64)
    np.cumsum(sizes, out=boffs[1:])
    buf = np.zeros(int(boffs[-1]), dtype=np.uint8)
    heads = boffs[:-1]
    for k in range(int(sizes.max())):
        msk = sizes > k
        byte = ((out[msk] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (sizes[msk] - 1 > k).astype(np.uint8) << 7
        buf[heads[msk] + k] = byte | cont
    # byte offset of each doc's first slot (slot of doc j = offs[j] + j)
    doc_cuts = boffs[offs + np.arange(m + 1, dtype=np.int64)]
    return buf, doc_cuts


def decode_positions_payload(buf: bytes) -> np.ndarray:
    """Decode ONE posting's (count, first, deltas...) payload -> absolute
    positions. Inverse of a single slice of encode_positions_flat_buf."""
    flat = decode_varint(buf)
    if flat.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(flat[1:].astype(np.int64))


def encode_positions_flat_sliced(values: np.ndarray, offs: np.ndarray,
                                 bstarts: np.ndarray) -> list[bytes]:
    """Per-block position payloads for a whole run in one pass: ``values`` is
    the run's flat positions, ``offs`` the per-doc offsets (len n_docs+1),
    ``bstarts`` the doc index starting each block. Byte-identical to calling
    ``encode_positions_flat`` per block (delta restarts at every doc, and
    blocks cut on doc boundaries)."""
    m = len(offs) - 1
    if m == 0:
        return [b"" for _ in range(len(bstarts))]
    v = np.ascontiguousarray(values, dtype=np.uint64)
    offs = np.asarray(offs, dtype=np.int64)
    cnt = np.diff(offs)
    starts = offs[:-1]
    d = v.copy()
    if v.size > 1:
        d[1:] -= v[:-1]
    nz = starts[cnt > 0]
    d[nz] = v[nz]
    out = np.empty(m + v.size, dtype=np.uint64)
    cpos = starts + np.arange(m, dtype=np.int64)
    out[cpos] = cnt.astype(np.uint64)
    mask = np.ones(m + v.size, dtype=bool)
    mask[cpos] = False
    out[mask] = d
    cut = offs[np.asarray(bstarts, dtype=np.int64)] + np.asarray(bstarts, dtype=np.int64)
    return encode_varint_sliced(out, cut)


def decode_positions(buf: bytes, n_docs: int) -> list[np.ndarray]:
    flat = decode_varint(buf)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(n_docs):
        n = int(flat[i]); i += 1
        out.append(np.cumsum(flat[i : i + n], dtype=np.uint64))
        i += n
    return out


def decode_positions_flat(buf: bytes, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode a block's position payload to (flat positions, per-doc counts)
    without building per-doc Python lists. Inverse of
    ``encode_positions_flat``; the only Python loop is over the <= BLOCK_SIZE
    doc count slots."""
    flat = decode_varint(buf).astype(np.int64)
    counts = np.empty(n_docs, dtype=np.int64)
    i = 0
    for j in range(n_docs):
        c = int(flat[i])
        counts[j] = c
        i += 1 + c
    cidx = np.zeros(n_docs, dtype=np.int64)
    if n_docs > 1:
        np.cumsum(counts[:-1] + 1, out=cidx[1:])
    mask = np.ones(len(flat), dtype=bool)
    mask[cidx] = False
    d = flat[mask]
    # per-doc cumsum with reset: subtract the running total at each doc start
    abs_all = np.cumsum(d)
    doc_starts = np.zeros(n_docs, np.int64)
    if n_docs > 1:
        np.cumsum(counts[:-1], out=doc_starts[1:])
    bases = np.zeros(n_docs, np.int64)
    nz = doc_starts > 0
    bases[nz] = abs_all[doc_starts[nz] - 1]
    vals = abs_all - np.repeat(bases, counts)
    return vals, counts


def encode_block(docids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """One posting block: docids delta+varint; tfs varint. Doclens are NOT
    in the payload: one doc's field length was previously duplicated into
    every posting of every term (~19% of all block bytes); it now lives
    once per doc in the norms sidecar (index/norms.py — Lucene's norms-file
    model, and the same lookup shape as the reference's per-doc
    Idx.getFieldLength, Idx.java:99-115)."""
    return (
        encode_varint(delta_encode(docids)),
        encode_varint(np.ascontiguousarray(tfs, dtype=np.uint64)),
    )


# --------------------------------------------------------------------------
# PForDelta (patched frame-of-reference) block codec — the classic
# alternative to LEB128 for posting blocks [Zukowski et al., ICDE 2006;
# public algorithm]. Values are bit-packed at a width b chosen to minimize
# block bytes; the few values that need more than b bits keep their low b
# bits in the lanes and patch their high bits through an exception list.
# Selected per index via build_index(payload_codec="pfor") and recorded in
# MANIFEST.json; position payloads stay varint (they are pre-encoded per
# posting by the tokenize kernel and byte-sliced at block assembly).
#
# Block layout (little-endian):
#   byte 0: lane bit width b (0..64)
#   varint: n values
#   varint: n exceptions
#   ceil(n*b/8) bytes: low-b bits of every value, bitorder='little'
#   exceptions: per exception varint(position), varint(value >> b)
# --------------------------------------------------------------------------


def encode_pfor(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    # bit length of each value (0 for value 0)
    bl = np.zeros(n, dtype=np.int64)
    tmp = v.copy()
    while tmp.any():
        nz = tmp > 0
        bl[nz] += 1
        tmp >>= np.uint64(1)
    maxb = int(bl.max())
    # deterministic width choice: minimize lane bytes + exception bytes
    # (exception cost ~ 1-2 bytes position + high-bits varint)
    hist = np.bincount(bl, minlength=maxb + 1)
    n_exc_at = n - np.cumsum(hist)  # n_exc_at[b] = #values with bl > b
    best_b, best_cost = maxb, (n * maxb + 7) // 8
    for b in range(maxb + 1):
        cost = (n * b + 7) // 8 + int(n_exc_at[b]) * (2 + max(0, maxb - b + 6) // 7)
        if cost < best_cost:
            best_b, best_cost = b, cost
    b = best_b
    exc_pos = np.flatnonzero(bl > b)
    out = bytearray()
    out.append(b)
    out += encode_varint(np.array([n], dtype=np.uint64))
    out += encode_varint(np.array([exc_pos.size], dtype=np.uint64))
    if b:
        out += _pack_low_bits(v, b)
    if exc_pos.size:
        inter = np.empty(2 * exc_pos.size, dtype=np.uint64)
        inter[0::2] = exc_pos.astype(np.uint64)
        inter[1::2] = v[exc_pos] >> np.uint64(b)
        out += encode_varint(inter)
    return bytes(out)


def decode_pfor(buf: bytes) -> np.ndarray:
    if not buf:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    b = int(raw[0])
    # header varints: n, n_exc (walk them scalar — two tiny values)
    pos = 1
    hdr = []
    for _ in range(2):
        val, shift = 0, 0
        while True:
            byte = int(raw[pos]); pos += 1
            val |= (byte & 0x7F) << shift
            shift += 7
            if not byte & 0x80:
                break
        hdr.append(val)
    n, n_exc = hdr
    if b:
        nbytes = (n * b + 7) // 8
        bits = np.unpackbits(raw[pos:pos + nbytes], bitorder="little")[:n * b]
        weights = np.uint64(1) << np.arange(b, dtype=np.uint64)
        vals = (bits.reshape(n, b).astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64)
        pos += nbytes
    else:
        vals = np.zeros(n, dtype=np.uint64)
    if n_exc:
        inter = decode_varint(raw[pos:].tobytes())
        epos = inter[0::2].astype(np.int64)
        vals[epos] |= inter[1::2] << np.uint64(b)
    return vals


def _pack_low_bits(vals: np.ndarray, w: int) -> bytes:
    """Little-endian bit-pack the low ``w`` bits of each uint64 value
    (value-major, LSB first) — same bit layout as
    ``packbits(((v[:,None] >> arange(w)) & 1), bitorder='little')`` but via
    per-bit uint8 column ops over the values' little-endian byte view: no
    (n x w) uint64 temporaries, ~8x less memory traffic."""
    n = vals.size
    vb = np.ascontiguousarray(vals, dtype="<u8").view(np.uint8).reshape(n, 8)
    bits = np.empty((n, w), dtype=np.uint8)
    for t in range(w):
        bits[:, t] = (vb[:, t >> 3] >> (t & 7)) & 1
    return np.packbits(bits.reshape(-1), bitorder="little").tobytes()


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    """Vectorized bit_length per uint64 value (0 for value 0): 6 shift
    passes instead of one pass per bit."""
    bl = np.zeros(v.size, dtype=np.int64)
    x = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = x >= np.uint64(1) << np.uint64(shift)
        bl[m] += shift
        x[m] >>= np.uint64(shift)
    bl[v > np.uint64(0)] += 1
    return bl


def encode_pfor_sliced(values: np.ndarray, cut_idx: np.ndarray) -> list[bytes]:
    """Per-slice PFOR blocks, vectorized ACROSS slices (analog of
    encode_varint_sliced). Byte-identical to calling ``encode_pfor`` per
    slice, but: one bit-length pass, one (slice x width) cost matrix for
    width selection, one packbits per distinct width (a 128-value block's
    lane area is always byte-aligned: 128*b % 8 == 0), and one
    encode_varint_sliced call for all exception payloads — the per-slice
    Python work is reduced to assembling three byte strings."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    cuts = np.asarray(cut_idx, dtype=np.int64)
    bounds = np.append(cuts, v.size)
    ns = np.diff(bounds)
    S = int(ns.size)
    if v.size == 0 or S == 0:
        return [b"" for _ in range(S)]

    bl = _bit_lengths(v)
    slice_id = np.repeat(np.arange(S, dtype=np.int64), ns)

    # per-slice bit-length histogram -> exception counts at every width
    hist = np.bincount(slice_id * 65 + bl, minlength=S * 65).reshape(S, 65)
    widths = np.arange(65, dtype=np.int64)[None, :]
    maxb = np.where(hist > 0, widths, 0).max(axis=1)  # per-slice max bl
    n_exc_at = ns[:, None] - np.cumsum(hist, axis=1)  # #values with bl > b

    # replicate encode_pfor's width rule exactly: start from (maxb,
    # lane-only cost), scan b ascending, take strictly-better costs only
    exc_cost = 2 + np.maximum(0, maxb[:, None] - widths + 6) // 7
    cost = (ns[:, None] * widths + 7) // 8 + n_exc_at * exc_cost
    cost = np.where(widths <= maxb[:, None], cost, np.iinfo(np.int64).max)
    amin = cost.min(axis=1)
    lane_maxb = (ns * maxb + 7) // 8
    best_b = np.where(amin < lane_maxb, cost.argmin(axis=1), maxb).astype(np.int64)

    b_of_val = best_b[slice_id]
    exc_mask = bl > b_of_val

    # headers: byte(b) + varint(n) + varint(n_exc), all slices in one call
    hdr_vals = np.empty(2 * S, dtype=np.uint64)
    hdr_vals[0::2] = ns.astype(np.uint64)
    hdr_vals[1::2] = n_exc_at[np.arange(S), best_b].astype(np.uint64)
    hdr_parts = encode_varint_sliced(hdr_vals, np.arange(0, 2 * S, 2))

    # lanes: group slices by width; byte-aligned slices (n*b % 8 == 0,
    # which includes every full 128-value block) pack together in one
    # packbits; ragged ones pack individually
    lanes: list[bytes] = [b""] * S
    starts = bounds[:-1]
    for w in np.unique(best_b):
        w = int(w)
        if w == 0:
            continue
        sel = np.flatnonzero(best_b == w)
        aligned = sel[(ns[sel] * w) % 8 == 0]
        ragged = sel[(ns[sel] * w) % 8 != 0]
        if aligned.size:
            idx = np.concatenate([np.arange(starts[s], bounds[s + 1]) for s in aligned])
            packed = _pack_low_bits(v[idx], w)
            szs = ns[aligned] * w // 8
            offs = np.zeros(aligned.size + 1, dtype=np.int64)
            np.cumsum(szs, out=offs[1:])
            for j, s in enumerate(aligned):
                lanes[s] = packed[offs[j]:offs[j + 1]]
        for s in ragged:
            lanes[s] = _pack_low_bits(v[starts[s]:bounds[s + 1]], w)

    # exceptions: slice-local (position, high-bits) pairs, varint-encoded
    # for all slices in one call
    excs: list[bytes] = [b""] * S
    if exc_mask.any():
        eidx = np.flatnonzero(exc_mask)
        esl = slice_id[eidx]
        inter = np.empty(2 * eidx.size, dtype=np.uint64)
        inter[0::2] = (eidx - starts[esl]).astype(np.uint64)
        inter[1::2] = v[eidx] >> b_of_val[eidx].astype(np.uint64)
        # cut before the first pair of each slice that has exceptions
        has = np.flatnonzero(np.bincount(esl, minlength=S))
        first_pair = np.searchsorted(esl, has)
        parts = encode_varint_sliced(inter, 2 * first_pair)
        for j, s in enumerate(has):
            excs[int(s)] = parts[j]

    out: list[bytes] = []
    for s in range(S):
        if ns[s] == 0:
            out.append(b"")
        else:
            out.append(bytes([int(best_b[s])]) + hdr_parts[s] + lanes[s] + excs[s])
    return out


PAYLOAD_CODECS = ("varint", "pfor")


def decode_block(docids_b: bytes, tfs_b: bytes,
                 payload_codec: str = "varint") -> tuple[np.ndarray, np.ndarray]:
    """(docids, tfs) of one block. Doclens are NOT in the block payload —
    they live once per doc in the norms sidecar (index/norms.py), not
    duplicated into every posting (Lucene's norms-file model)."""
    dec = decode_varint if payload_codec == "varint" else decode_pfor
    return (
        delta_decode(dec(docids_b)),
        dec(tfs_b),
    )

