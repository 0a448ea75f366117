"""Vectorized pointer-walk kernel == scalar reference walk.

The scalar walks (near_positions / window_positions) mirror the reference's
location iterators line-for-line (QryIopNear.java:60-110,
QryIopWindow.java:64-166) and are themselves gated by the rank-identity
suite. The vectorized batch walks must reproduce them exactly — including
consuming semantics, emission order, and the >16M-position fallback.
No Spark session needed: pure numpy.
"""

import random

import numpy as np

from searchengines_spark.query.positional import (
    _BIG,
    batch_positions,
    near_positions,
    window_positions,
)


def _rand_cols(rng, m, k, universe=200):
    cols = []
    for _ in range(k):
        col = np.empty(m, dtype=object)
        for r in range(m):
            ln = rng.choice([0, 0, 1, 1, 2, 3, 5, 8, 15])
            col[r] = np.array(sorted(rng.sample(range(universe), ln)),
                              dtype=np.int64)
        cols.append(col)
    return cols


def test_batch_walk_matches_scalar_fuzz():
    rng = random.Random(20240817)
    for _ in range(300):
        k = rng.choice([1, 2, 2, 2, 3, 3, 4])
        n = rng.choice([1, 2, 3, 4, 8, 100])
        ordered = rng.random() < 0.5
        m = rng.randrange(1, 40)
        cols = _rand_cols(rng, m, k)
        got = batch_positions(cols, n, ordered)
        fn = near_positions if ordered else window_positions
        for r in range(m):
            exp = [int(x) for x in fn([list(c[r]) for c in cols], n)]
            assert list(got[r]) == exp, (k, n, ordered, [list(c[r]) for c in cols])


def test_batch_walk_consuming_semantics():
    # the classic consumption case: after (1, 20) matches under n=100,
    # arg0's 10 must NOT re-match 20 (it was consumed)
    a = np.empty(1, dtype=object)
    a[0] = np.array([1, 10], dtype=np.int64)
    b = np.empty(1, dtype=object)
    b[0] = np.array([20], dtype=np.int64)
    out = batch_positions([a, b], 100, True)
    assert list(out[0]) == [20]


def test_batch_walk_huge_positions_fallback():
    # positions beyond the row-shift packing limit use the scalar walk and
    # still return exact results (no silent drop)
    base = int(_BIG)
    a = np.empty(2, dtype=object)
    b = np.empty(2, dtype=object)
    a[0] = np.array([base + 5], dtype=np.int64)
    b[0] = np.array([base + 7], dtype=np.int64)
    a[1] = np.array([3], dtype=np.int64)
    b[1] = np.array([9], dtype=np.int64)
    out = batch_positions([a, b], 4, True)
    assert list(out[0]) == [base + 7]
    assert list(out[1]) == []
    outw = batch_positions([a, b], 4, False)
    assert list(outw[0]) == [base + 7]
