"""Per-document positional operators: #NEAR/n and #WINDOW/n matching.

Pointer-walk algorithms mirroring the reference's location iterators
(QryIopNear.java:60-110 for ordered proximity, QryIopWindow.java:64-166 for
unordered windows). The stripe kernel (query/planner.py) runs them over the
docs of one stripe that contain ALL argument lists, in flat numpy form.
"""

from __future__ import annotations

import numpy as np

_BIG = np.int64(1) << np.int64(24)  # > any field position + any window n


def _flat(col: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Object array of per-doc position arrays -> (flat int64, offsets)."""
    m = len(col)
    lens = np.fromiter((len(a) for a in col), np.int64, m)
    offs = np.zeros(m + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    flat = (np.concatenate(col).astype(np.int64) if offs[-1]
            else np.empty(0, np.int64))
    return flat, offs


def _pair_any(A: np.ndarray, offsA: np.ndarray, B: np.ndarray,
              offsB: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """Per-row bool: exists (a in A_row, b in B_row) with lo <= b-a <= hi.
    One global searchsorted over row-offset-shifted values — no per-row
    Python. Necessary-condition prefilter for the pointer walks."""
    m = len(offsA) - 1
    lensA = np.diff(offsA)
    lensB = np.diff(offsB)
    rowA = np.repeat(np.arange(m, dtype=np.int64), lensA)
    rowB = np.repeat(np.arange(m, dtype=np.int64), lensB)
    Ab = A + rowA * _BIG
    Bb = B + rowB * _BIG
    # clamp the probe at the row base so a+lo<0 can't reach the previous row
    probe = rowA * _BIG + np.maximum(A + lo, 0)
    idx = np.searchsorted(Bb, probe, side="left")
    ok = np.zeros(len(Ab), dtype=bool)
    valid = idx < len(Bb)
    ok[valid] = Bb[idx[valid]] <= Ab[valid] + hi
    res = np.zeros(m, dtype=bool)
    nz = lensA > 0
    if ok.size and nz.any():
        res[nz] = np.logical_or.reduceat(ok, offsA[:-1][nz])
    return res


def match_flat(flats: list[tuple[np.ndarray, np.ndarray]], n: int,
               ordered: bool) -> tuple[np.ndarray, np.ndarray]:
    """NEAR (ordered) / WINDOW (unordered) matches over aligned rows.

    flats: one (flat positions, row offsets) pair per argument, every
    argument holding the same rows (docs that contain all arguments). A
    numpy adjacent-pair prefilter drops the rows with no possible match,
    the exact pointer walk runs only on the survivors. Returns (row,
    emitted position) pairs, each row's positions in emission order."""
    m = len(flats[0][1]) - 1
    cand = np.ones(m, dtype=bool)
    # the prefilter's row-shift packing needs every position + n < _BIG; a
    # pathological >16M-token field would break searchsorted's global
    # sortedness and silently drop matches — bypass to the exact walk instead
    lim = int(_BIG) - int(n) - 1
    safe = all(f[0].size == 0 or int(f[0].max()) <= lim for f in flats)
    if not safe:
        # >16M-token field: row-shift packing unsound -> exact scalar walk
        fn = near_positions if ordered else window_positions
        rows: list[int] = []
        vals: list[int] = []
        for r in range(m):
            res = fn([f[0][f[1][r]:f[1][r + 1]].tolist() for f in flats], n)
            rows.extend([r] * len(res))
            vals.extend(int(x) for x in res)
        return np.asarray(rows, np.int64), np.asarray(vals, np.int64)
    for i in range(len(flats) - 1):
        A, offsA = flats[i]
        B, offsB = flats[i + 1]
        if ordered:
            cand &= _pair_any(A, offsA, B, offsB, 1, n)
        else:
            cand &= _pair_any(A, offsA, B, offsB, -(n - 1), n - 1)
    # vectorized pointer walk over ALL surviving docs at once: per round,
    # every active doc advances its pointers with numpy gathers /
    # searchsorted — rounds are bounded by the max occurrence count of a
    # doc, so the Python-interpreter cost is O(rounds), not O(survivor docs)
    surv = np.flatnonzero(cand)
    if not surv.size:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    walk = _near_walk_batch if ordered else _window_walk_batch
    rows, vals = walk(flats, surv, n)
    # rounds interleave rows; a stable sort groups them, keeping each row's
    # emission order
    order = np.argsort(rows, kind="stable")
    return rows[order], vals[order]


def batch_positions(arg_cols: list[np.ndarray], n: int, ordered: bool) -> np.ndarray:
    """match_flat over object arrays of per-doc position arrays. Returns an
    object array of Python int lists, one per row."""
    m = len(arg_cols[0])
    rows, vals = match_flat([_flat(c) for c in arg_cols], n, ordered)
    out = np.empty(m, dtype=object)
    empty: list[int] = []
    out[:] = [empty] * m
    if rows.size:
        bounds = np.flatnonzero(np.diff(rows)) + 1
        starts = np.append(0, bounds)
        stops = np.append(bounds, rows.size)
        for u, s, e in zip(rows[starts].tolist(), starts.tolist(), stops.tolist()):
            out[u] = vals[s:e].tolist()
    return out


def _near_walk_batch(flats: list[tuple[np.ndarray, np.ndarray]],
                     surv: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized consuming ordered-proximity walk (same semantics as
    ``near_positions``) over the surviving doc rows. Returns (doc-row,
    emitted position) pairs in per-doc emission order.

    Per doc the scalar walk probes arg i with a non-decreasing ``prev``, so
    "advance ptr i while pls[i][ptr] <= prev" equals a searchsorted from the
    row start clamped below by the consuming pointer — which is what lets
    every active doc advance in one numpy pass per round. Each round either
    emits a match (all pointers consume) or advances ptr0, so rounds are
    bounded by the doc's arg0 occurrence count."""
    k = len(flats)
    shifted = []
    for A, offs in flats:
        lens = np.diff(offs)
        rowid = np.repeat(np.arange(len(offs) - 1, dtype=np.int64), lens)
        shifted.append(A + rowid * _BIG)
    act = surv.astype(np.int64)
    ptrs = [f[1][act].copy() for f in flats]  # absolute index into flat_i
    ends = [f[1][act + 1] for f in flats]
    out_rows: list[np.ndarray] = []
    out_vals: list[np.ndarray] = []
    while act.size:
        alive = ptrs[0] < ends[0]
        if not alive.all():
            act = act[alive]
            ptrs = [p[alive] for p in ptrs]
            ends = [e[alive] for e in ends]
            if not act.size:
                break
        prev = flats[0][0][ptrs[0]]
        tmp = [ptrs[0]]
        ok = np.ones(act.size, dtype=bool)
        dead = np.zeros(act.size, dtype=bool)
        for i in range(1, k):
            idx = np.searchsorted(shifted[i], prev + act * _BIG, side="right")
            np.maximum(idx, ptrs[i], out=idx)
            exh = ok & (idx >= ends[i])
            dead |= exh
            ok &= ~exh
            safe_idx = np.minimum(idx, len(flats[i][0]) - 1) if len(flats[i][0]) else idx
            cur = flats[i][0][safe_idx] if len(flats[i][0]) else prev
            far = ok & (cur - prev > n)
            ok &= ~far
            prev = np.where(ok, cur, prev)
            tmp.append(idx)
        if ok.any():
            out_rows.append(act[ok])
            out_vals.append(prev[ok])
            for i in range(k):
                ptrs[i][ok] = tmp[i][ok] + 1
        fail = ~ok & ~dead
        ptrs[0][fail] += 1
        if dead.any():
            keep = ~dead
            act = act[keep]
            ptrs = [p[keep] for p in ptrs]
            ends = [e[keep] for e in ends]
    if not out_rows:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_rows), np.concatenate(out_vals)


def _window_walk_batch(flats: list[tuple[np.ndarray, np.ndarray]],
                       surv: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized consuming unordered-window walk (same semantics as
    ``window_positions``): per round gather every arg's current position,
    match when max-min < n (emit max, consume all), else advance the min
    pointer. Rounds bounded by the doc's total occurrence count."""
    k = len(flats)
    act = surv.astype(np.int64)
    ptrs = [f[1][act].copy() for f in flats]
    ends = [f[1][act + 1] for f in flats]
    out_rows: list[np.ndarray] = []
    out_vals: list[np.ndarray] = []
    while act.size:
        alive = np.ones(act.size, dtype=bool)
        for i in range(k):
            alive &= ptrs[i] < ends[i]
        if not alive.all():
            act = act[alive]
            ptrs = [p[alive] for p in ptrs]
            ends = [e[alive] for e in ends]
            if not act.size:
                break
        cur = np.stack([flats[i][0][ptrs[i]] for i in range(k)])
        lo = cur.min(axis=0)
        hi = cur.max(axis=0)
        ok = hi - lo < n
        if ok.any():
            out_rows.append(act[ok])
            out_vals.append(hi[ok])
        amin = cur.argmin(axis=0)
        for i in range(k):
            adv = ok | (~ok & (amin == i))
            ptrs[i][adv] += 1
    if not out_rows:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_rows), np.concatenate(out_vals)


def near_positions(pls: list[list[int]], n: int) -> list[int]:
    """Ordered: one occurrence of each arg, positions strictly increasing,
    each adjacent gap <= n. Emits the LAST arg's position; consumes all
    matched positions (QryIopNear.java:60-110)."""
    k = len(pls)
    ptrs = [0] * k
    out: list[int] = []
    while ptrs[0] < len(pls[0]):
        prev = pls[0][ptrs[0]]
        matched = True
        for i in range(1, k):
            while ptrs[i] < len(pls[i]) and pls[i][ptrs[i]] <= prev:
                ptrs[i] += 1
            if ptrs[i] >= len(pls[i]):
                return out
            cur = pls[i][ptrs[i]]
            if cur - prev > n:
                matched = False
                ptrs[0] += 1
                break
            prev = cur
        if matched:
            out.append(prev)
            for i in range(k):
                ptrs[i] += 1
    return out


def window_positions(pls: list[list[int]], n: int) -> list[int]:
    """Unordered: one occurrence of each arg with max-min < n. Emits the max
    position; on failure advances the min iterator; consumes all on match
    (QryIopWindow.java:64-166)."""
    k = len(pls)
    ptrs = [0] * k
    out: list[int] = []
    while all(ptrs[i] < len(pls[i]) for i in range(k)):
        cur = [pls[i][ptrs[i]] for i in range(k)]
        lo, hi = min(cur), max(cur)
        if hi - lo < n:
            out.append(hi)
            for i in range(k):
                ptrs[i] += 1
        else:
            ptrs[cur.index(lo)] += 1
    return out
