"""The stripe job every query serves through, and the flat BM25
bag-of-words kernels: vectorized bulk stripe evaluation by default,
block-max WAND pruning as an opt-in strategy. Both are score-identical to
the exhaustive path. Query trees of any class arrive compiled
(query/planner.py Program) and evaluate in the same stripe tasks.

The reference evaluates exhaustively — its DAAT loop visits every matching
doc (QryEval.java:1172-1178) with no pruning. Per the north rule we add
block-max WAND [Ding & Suel, SIGIR 2011 — public algorithm]: per-block
max-score metadata lets the scorer skip (never even varint-decode) blocks
that cannot contribute a top-k document. Results are score-identical to the
exhaustive path — pruning only skips docs that cannot enter the top k
(tie-safe: upper-bound comparisons evaluate on equality, since an equal
score with a smaller docid still wins under the reference tie rule).

Two-level pruning, classic BMW:
1. pivot selection over GLOBAL per-term upper bounds (max block max in the
   stripe) — sound for any doc position;
2. at the pivot, a second check over CURRENT block maxes after a *shallow*
   block advance (block pointers move, nothing decodes).

Why bulk is the default (measured on the 1M-page index, per stripe,
BENCH/SERVE_ANATOMY.md "kernel strategy" study): the WAND loop costs
~3.3 µs per evaluated posting (scalar Python: cursor sort + heap +
score_cur), the vectorized evaluator ~0.4 µs per decoded posting, so
pruning must skip >~85% of postings to pay for itself — and at k=100 on
a Zipf vocabulary it never does: head terms' BM25 idf clips to 0 (df ≈
N), flattening block maxes to 0 so the threshold can't rise above them,
and genuinely rare terms (df < salt_min_df) are served as broadcast cold
postings, not striped blocks. Measured: 4-head-term query 12.0 s → 1.7 s
(identical 28511 decodes), mid+head 2.6 s → 0.4 s (WAND skipped 19% of
blocks and still lost), 4 mid-frequency terms 0.31 s → 0.05 s, identical
top-k in every case. ``strategy="wand"`` remains for corpora with real
block-max variance (wide tf ranges, large k-selective workloads), where
skipping decode AND evaluation can win.

Distribution story (how this runs on 1000 executors): the index's ``salt``
is a *docid-range stripe* (build.py), so all blocks of one salt cover a
disjoint docid range. Queries read the per-reader CACHED serve layout
(IndexReader.serve_blocks: striped blocks + skeleton rows, pre-partitioned
by salt, persisted — the shard-in-DRAM serving tier); the per-query term
filter runs against the cached partitions and groupBy(salt) reuses their
partitioning, so a warm query's stripe job has NO shuffle and NO block
scan. Each task runs an independent stripe evaluation over its docid
slice (with a local threshold under the WAND strategy), resolves its own
top-k urls via point reads of the docid-sorted url table
(index/urlmap.py), and emits its local top-k; a tiny global merge (<= k
url-resolved rows per stripe, TakeOrderedAndProject) finishes. Threshold
sharing across stripes is impossible in one pass — pruning is per-stripe,
still sound.

Tie-break: docid asc == url asc within a url-rank segment (docids are
ranks of sorted urls in the base build and in each append), so each
stripe keeps k per segment it overlaps (_segment_cut) and the global merge
sorts by (score desc, url asc): the reference sort rule
(ScoreList.java:90-105).
"""

from __future__ import annotations

import bisect
import heapq
import math
import os
import pickle

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index import codec
from ..index.build import IndexReader, read_term_rows


class _Inline:
    """Closure-shipped stand-in for a tiny Broadcast: sc.broadcast costs
    ~5-15 ms per call on the driver, which is real money on a warm serve
    path that would otherwise broadcast a handful of small dicts per
    query. Large payloads (cold postings runs, big tombstone arrays) still
    use real broadcasts — torrent distribution and one copy per executor
    matter there; a closure rides inside every task binary."""

    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value


def _ship(sc, value, nbytes: int, threshold: int = 1 << 20):
    return sc.broadcast(value) if nbytes > threshold else _Inline(value)


def _decode_payload(payload, cache: dict | None):
    """Decode one block payload through the shared payload-identity cache.
    Returns (docids, tfs, was_miss). The single decode/cache dispatch point
    for BOTH stripe kernels — codec or cache-keying changes land here once."""
    if payload[0] == "raw":
        return payload[1], payload[2], False
    key = id(payload) if cache is not None else None
    hit = cache.get(key) if key is not None else None
    if hit is not None:
        return hit[0], hit[1], False
    d, t = codec.decode_block(payload[1], payload[2], payload[0])
    if key is not None:
        cache[key] = (d, t)
    return d, t, True


class _TermCursor:
    """Lazy cursor over one term's blk-ordered blocks within a salt stripe.
    Blocks decode only when entered; shallow moves never decode."""

    __slots__ = ("blocks", "bi", "docids", "tfs", "pi", "norms", "lo",
                 "idf", "k1", "b", "avg", "decodes", "global_ub", "cache")

    def __init__(self, blocks: list, idf: float, k1: float, b: float, avg: float,
                 norms, lo: int, cache: dict | None = None):
        # blocks: [(max_docid, ub, payload)] min_docid-ordered, where payload
        # is (codec_name, docids_z, tfs_z) for compressed index blocks
        # ('varint'/'pfor', the index's payload codec) or ('raw', docids,
        # tfs) for broadcast-clipped cold postings.
        # norms, lo: the stripe's dense doclen array (norms[docid - lo]) for
        # this cursor's field — doclens are NOT in block payloads anymore
        # (index/norms.py sidecar), so scoring indexes the stripe array.
        # cache: multi-query batch serving shares one per-stripe decode cache
        # (payload-identity keyed) so two queries touching the same hot term
        # decode each block once.
        self.blocks = blocks
        self.norms = norms
        self.lo = lo
        self.bi = 0
        self.docids = None
        self.pi = 0
        self.idf = idf
        self.k1 = k1
        self.b = b
        self.avg = avg
        self.decodes = 0
        self.global_ub = max(b_[1] for b_ in blocks) if blocks else 0.0
        self.cache = cache

    def exhausted(self) -> bool:
        return self.bi >= len(self.blocks)

    def _decode(self):
        if self.docids is None:
            self.docids, self.tfs, miss = _decode_payload(
                self.blocks[self.bi][2], self.cache)
            if miss:
                self.decodes += 1

    def cur_doc(self) -> int:
        self._decode()
        return int(self.docids[self.pi])

    def block_max(self) -> float:
        return self.blocks[self.bi][1]

    def score_cur(self) -> float:
        tf = float(self.tfs[self.pi])
        dl = float(self.norms[int(self.docids[self.pi]) - self.lo])
        return self.idf * tf / (tf + self.k1 * ((1.0 - self.b) + self.b * dl / self.avg))

    def shallow_advance(self, target: int):
        """Move the block pointer until current block may contain docids >=
        target. No decode."""
        while self.bi < len(self.blocks) and self.blocks[self.bi][0] < target:
            self.bi += 1
            self.docids = None
            self.pi = 0

    def advance_to(self, target: int):
        """First posting with docid >= target."""
        start_bi = self.bi
        self.shallow_advance(target)
        if self.exhausted():
            return
        self._decode()
        base = self.pi if self.bi == start_bi else 0
        self.pi = base + int(np.searchsorted(self.docids[base:], target))
        if self.pi >= len(self.docids):
            self.bi += 1
            self.docids = None
            self.pi = 0

    def advance(self):
        self._decode()
        self.pi += 1
        if self.pi >= len(self.docids):
            self.bi += 1
            self.docids = None
            self.pi = 0


def _push(heap, k, score, docid):
    # min-heap of (score, -docid): among equal scores the LARGEST docid is
    # weakest (reference tie rule prefers smaller external id)
    item = (score, -docid)
    if len(heap) < k:
        heapq.heappush(heap, item)
    elif item > heap[0]:
        heapq.heapreplace(heap, item)


def _segment_cut(docids: np.ndarray, scores: np.ndarray, k: int,
                 cuts) -> np.ndarray:
    """Indices of the top k of every url-rank segment, by (score desc,
    docid asc), returned in (score desc, docid asc) order.

    The reference tie rule is (score desc, url asc) (ScoreList.java:90-105).
    Docids are url ranks only WITHIN a segment — the base build and each
    append delta (IndexReader.segment_cuts) — so a stripe that spans a
    segment cut must keep k winners per segment; the caller's final (score
    desc, url asc) merge then restores the exact reference order. cuts
    None (unknown history): every candidate is kept."""
    if cuts is None:
        return np.lexsort((docids, -scores))
    seg = np.searchsorted(np.asarray(cuts, np.int64), docids, side="right")
    order = np.lexsort((docids, -scores, seg))
    s = seg[order]
    keep = order[np.arange(s.size) - np.searchsorted(s, s) < k]
    return keep[np.lexsort((docids[keep], -scores[keep]))]


def _wand_stripe(term_blocks: dict[int, list], idfs: list[float], k: int,
                 k1: float, b: float, avg: float, require_all: bool,
                 norms, lo: int,
                 cache: dict | None = None,
                 deleted=None, cuts=(0,)) -> tuple[list, int]:
    """Block-max WAND over one salt stripe.
    term_blocks: query-term-index -> block tuples. Returns (top-k, decodes).
    norms/lo: the stripe's dense doclen array for the query field.

    deleted: tombstoned docids (merge-on-read deletes), as a frozenset or
    a sorted int64 array (converted once, memoized in the shared cache so a
    query batch pays it per stripe, not per query). A deleted doc is
    never pushed into the heap, so it can neither appear in results nor
    raise the pruning threshold — skipping it only LOWERS theta, which
    keeps every block-max skip sound (less pruning, never wrong).

    cuts: url-rank segment cuts (see _segment_cut). Each segment keeps its
    own top-k heap, and the pruning threshold is the lowest of the heaps
    of the segments the stripe overlaps, so a skipped doc could not have
    entered its own segment's heap. cuts None: no pruning, every scored
    doc returned."""
    if deleted is not None and not isinstance(deleted, frozenset):
        dkey = ("delset", id(deleted))
        fs = cache.get(dkey) if cache is not None else None
        if fs is None:
            fs = frozenset(int(x) for x in deleted)
            if cache is not None:
                cache[dkey] = fs
        deleted = fs
    n_terms = len(idfs)
    cursors: list[tuple[int, _TermCursor]] = []
    for i in range(n_terms):
        blks = term_blocks.get(i)
        if blks:
            cursors.append((i, _TermCursor(blks, idfs[i], k1, b, avg,
                                           norms, lo, cache)))
    if not cursors or (require_all and len(cursors) < n_terms):
        return [], 0
    heaps: dict[int, list] = {}
    if cuts is None:
        segs, seg_of = None, int  # every doc its own segment
    else:
        hi = lo + len(norms)
        segs = [s for s in range(1, len(cuts) + 1)
                if cuts[s - 1] < hi and (s == len(cuts) or cuts[s] > lo)]
        seg_of = lambda d: bisect.bisect_right(cuts, d)  # noqa: E731

    def theta() -> float:
        if segs is None:
            return -math.inf
        t = math.inf
        for s in segs:
            h = heaps.get(s)
            if h is None or len(h) < k:
                return -math.inf
            t = min(t, h[0][0])
        return t

    def push(score, docid):
        _push(heaps.setdefault(seg_of(docid), []), k, score, docid)

    live = [c for c in cursors if not c[1].exhausted()]
    while live:
        if require_all and len(live) < n_terms:
            break
        live.sort(key=lambda c: c[1].cur_doc())

        if require_all:
            hi = live[-1][1].cur_doc()
            if live[0][1].cur_doc() != hi:
                for _, cur in live:
                    if cur.cur_doc() < hi:
                        cur.advance_to(hi)
                live = [c for c in live if not c[1].exhausted()]
                continue
            ub = sum(cur.block_max() for _, cur in live)
            if ub < theta():  # tie-safe: evaluate on equality
                for _, cur in live:
                    cur.advance_to(hi + 1)
            else:
                if deleted is None or hi not in deleted:
                    score = 0.0
                    for _, cur in sorted(live, key=lambda c: c[0]):  # query order
                        score += cur.score_cur()
                    push(score, hi)
                for _, cur in live:
                    cur.advance()
            live = [c for c in live if not c[1].exhausted()]
            continue

        # --- disjunctive: level-1 pivot over GLOBAL upper bounds ----------
        acc = 0.0
        pivot_j = None
        for j, (_, cur) in enumerate(live):
            acc += cur.global_ub
            if acc >= theta():  # >= : ties must be evaluated
                pivot_j = j
                break
        if pivot_j is None:
            break  # nothing anywhere can reach the threshold
        pivot_doc = live[pivot_j][1].cur_doc()

        # --- level-2: block-max check at the pivot -----------------------
        # head = every cursor that can contribute to pivot_doc, i.e.
        # cur_doc <= pivot_doc (cursors after pivot_j may sit exactly AT it)
        n_head = pivot_j + 1
        while n_head < len(live) and live[n_head][1].cur_doc() <= pivot_doc:
            n_head += 1
        head = live[:n_head]
        for _, cur in head:
            cur.shallow_advance(pivot_doc)
        head = [c for c in head if not c[1].exhausted()]
        block_ub = sum(cur.block_max() for _, cur in head)
        if block_ub < theta():
            # Docs in [pivot_doc, nxt) contain only head terms (everyone
            # else's cur_doc is larger), and their block-UB sum stays below
            # the threshold until a head block ends — so skip to
            # nxt = min(head block boundaries)+1, capped at the next
            # non-head cursor's docid (BMW "next shallow" move).
            nxt = min(cur.blocks[cur.bi][0] for _, cur in head) + 1 if head else pivot_doc + 1
            if n_head < len(live):
                nxt = min(nxt, live[n_head][1].cur_doc())
            nxt = max(nxt, pivot_doc + 1)
            for _, cur in head:
                cur.advance_to(nxt)
            live = [c for c in live if not c[1].exhausted()]
            continue

        # shallow advances may have exhausted or moved cursors — re-derive
        live = [c for c in live if not c[1].exhausted()]
        if not live:
            break
        lo_doc = min(cur.cur_doc() for _, cur in live)
        if lo_doc == pivot_doc:
            at = [(i, cur) for i, cur in live if cur.cur_doc() == pivot_doc]
            if deleted is None or pivot_doc not in deleted:
                score = 0.0
                for _, cur in sorted(at, key=lambda c: c[0]):  # query order
                    score += cur.score_cur()
                push(score, pivot_doc)
            for _, cur in at:
                cur.advance()
        elif lo_doc < pivot_doc:
            nxt_cur = min((c for c in live), key=lambda c: c[1].cur_doc())
            nxt_cur[1].advance_to(pivot_doc)
        # lo_doc > pivot_doc: pivot_doc vanished via shallow moves; re-loop
        live = [c for c in live if not c[1].exhausted()]

    decodes = sum(cur.decodes for _, cur in cursors)
    ranked = sorted(((s, -nd) for h in heaps.values() for s, nd in h),
                    key=lambda x: (-x[0], x[1]))
    return [(d, s) for s, d in ranked], decodes


def _skip_tombstones(cand: np.ndarray, deleted, lo: int) -> np.ndarray:
    """Stripe-relative candidate offsets minus tombstoned docids. deleted:
    a SORTED int64 array (the stripe slice run_stripe cuts from the
    broadcast — membership is then two vectorized searchsorted probes) or
    a frozenset (converted and sorted here)."""
    if deleted is None or not len(deleted) or not len(cand):
        return cand
    if isinstance(deleted, np.ndarray):
        del_arr = deleted
    else:
        del_arr = np.fromiter(deleted, dtype=np.int64, count=len(deleted))
        del_arr.sort()
    docids_abs = cand + lo
    pos = np.minimum(np.searchsorted(del_arr, docids_abs), len(del_arr) - 1)
    return cand[del_arr[pos] != docids_abs]


def _bulk_stripe(term_blocks: dict[int, list], idfs: list[float], k: int,
                 k1: float, b: float, avg: float, require_all: bool,
                 norms, lo: int,
                 cache: dict | None = None,
                 deleted=None, cuts=(0,)) -> tuple[list, int]:
    """Vectorized exhaustive evaluation of one salt stripe — the default
    strategy (see module docstring for the measured WAND crossover).

    Decodes every block, then scores all postings in a handful of numpy
    expressions over dense per-stripe accumulators (score sum + match
    count, each len(norms) ≈ salt_range entries, a few 100 KB at typical
    stripe sizes). Bit-identical to ``_wand_stripe``: contributions add in
    query-term order (the same order the WAND loop sums score_cur), each
    elementwise expression is the same float64 expression tree as
    score_cur, and the final cut (_segment_cut) is the heaps' tie rule.
    Shares the batch decode cache (payload-identity keys) so hot terms
    decode once per stripe across a query batch.

    deleted: tombstoned docids, see _skip_tombstones."""
    n_terms = len(idfs)
    present = [i for i in range(n_terms) if term_blocks.get(i)]
    if not present or (require_all and len(present) < n_terms):
        return [], 0
    span = len(norms)
    score = np.zeros(span, dtype=np.float64)
    matched = np.zeros(span, dtype=np.int16)
    # per-doc denominator part of score_cur: k1 * ((1-b) + b*dl/avg).
    # Depends only on (norms, k1, b, avg), all constant across a query
    # batch for one field — memoize the stripe-span array in the shared
    # per-stripe cache so a 48-query batch computes it once, not 48 times.
    dkey = ("denom", id(norms), k1, b, avg)
    denom_base = cache.get(dkey) if cache is not None else None
    if denom_base is None:
        denom_base = k1 * ((1.0 - b) + b * norms.astype(np.float64) / avg)
        if cache is not None:
            cache[dkey] = denom_base
    decodes = 0
    for i in present:  # query-term order == the WAND loop's sum order
        ds, ts_ = [], []
        for _, _, payload in term_blocks[i]:
            d, t, miss = _decode_payload(payload, cache)
            if miss:
                decodes += 1
            ds.append(d)
            ts_.append(t)
        d = np.concatenate(ds).astype(np.int64) - lo
        tf = np.concatenate(ts_).astype(np.float64)
        # one posting per (doc, term): fancy-index += has no duplicate
        # indices within a term, so no add.at needed
        score[d] += idfs[i] * tf / (tf + denom_base[d])
        matched[d] += 1
    need = n_terms if require_all else 1
    cand = _skip_tombstones(np.nonzero(matched >= need)[0], deleted, lo)
    docids = cand + lo
    sc = score[cand]
    order = _segment_cut(docids, sc, k, cuts)
    return [(int(docids[j]), float(sc[j])) for j in order], decodes


_STRATEGIES = {"bulk": _bulk_stripe, "wand": _wand_stripe}


WAND_BATCH_SCHEMA = T.StructType([
    T.StructField("qid", T.StringType(), False),
    T.StructField("docid", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("decodes", T.LongType(), False),
])

# resolve_urls=True variant: urls resolved inside the stripe task (see
# index/urlmap.py), so the caller's global merge is a TakeOrderedAndProject
# over <= k*n_stripes tiny rows — no join against the O(corpus) url table
WAND_BATCH_URL_SCHEMA = T.StructType(
    WAND_BATCH_SCHEMA.fields + [T.StructField("url", T.StringType(), False)])

# derived-list pre-pass rows: one per (stripe, query, derived SCORE node)
_PREPASS_SCHEMA = T.StructType([
    T.StructField("d_qid", T.StringType(), False),
    T.StructField("d_ix", T.IntegerType(), False),
    T.StructField("d_df", T.LongType(), False),
    T.StructField("d_ctf", T.LongType(), False),
])


def _concat_positions(parts: list) -> tuple:
    """[(docids, tfs, positions, counts)] in docid order -> (docids, tfs,
    flat positions, offsets)."""
    if not parts:
        e = np.empty(0, np.int64)
        return e, e, e, np.zeros(1, np.int64)
    d, t, p, c = (np.concatenate([x[i] for x in parts]).astype(np.int64)
                  for i in range(4))
    offs = np.zeros(d.size + 1, np.int64)
    np.cumsum(c, out=offs[1:])
    return d, t, p, offs


class _Stripe:
    """One stripe's inputs, shared by every query of a batch: per-(field,
    term) block lists, postings and positions decoded on first use, and
    the doclen norms of each field."""

    def __init__(self, lo: int, hi: int, blocks: dict, pos_parts: dict,
                 norms_dir: str, cache: dict):
        self.lo, self.hi, self.span = lo, hi, hi - lo
        self.blocks = blocks        # pair -> [(max_docid, ub, payload)]
        self.pos_parts = pos_parts  # pair -> [(docids, tfs, pos, counts)]
        self.norms_dir = norms_dir
        self.cache = cache
        self._post: dict = {}
        self._pos: dict = {}
        self._norms: dict = {}

    def norms(self, field: str) -> np.ndarray:
        if field not in self._norms:
            from ..index import norms as norms_mod

            self._norms[field] = norms_mod.stripe_doclens(
                self.norms_dir, field, self.lo, self.hi)
        return self._norms[field]

    def postings(self, pair) -> tuple[np.ndarray, np.ndarray]:
        """(docids, tfs) of a (field, term) in this stripe, docid order."""
        if pair not in self._post:
            if pair in self.blocks:
                dec = [_decode_payload(p, self.cache)[:2]
                       for _, _, p in self.blocks[pair]]
                self._post[pair] = (
                    np.concatenate([d for d, _ in dec]).astype(np.int64),
                    np.concatenate([t for _, t in dec]).astype(np.int64))
            else:
                self._post[pair] = self.positions(pair)[:2]
        return self._post[pair]

    def positions(self, pair) -> tuple:
        """(docids, tfs, flat positions, offsets) of a (field, term)."""
        if pair not in self._pos:
            parts = sorted(self.pos_parts.get(pair, []),
                           key=lambda x: int(x[0][0]))
            self._pos[pair] = _concat_positions(parts)
        return self._pos[pair]


def _read_striped_positions(blocks_dir: str, pairs, salt: int,
                            pcodec: str) -> dict:
    """Striped blocks of the given (field, term) pairs in one stripe, read
    in-task from the index files (read_term_rows with a salt filter).
    Returns pair -> [(docids, tfs, positions, counts)]. The serve cache
    holds no position payloads."""
    out: dict = {}
    for pair, rows in read_term_rows(
            blocks_dir, pairs, ["docids_z", "tfs_z", "positions_z"],
            [("salt", "=", salt), ("striped", "=", True)]).items():
        for dz, tz, pz in rows:
            d, tf = codec.decode_block(dz, tz, pcodec)
            v, c = codec.decode_positions_flat(pz, len(d))
            out.setdefault(pair, []).append((d, tf, v, c))
    return out


def wand_topk_batch_local(reader: IndexReader,
                          queries: dict,
                          k: int = 100, k1: float = 1.2, b: float = 0.75,
                          require_all: bool = False,
                          recompute_bounds: bool = False,
                          deleted: frozenset | None = None,
                          strategy: str = "bulk",
                          resolve_urls: bool = False) -> DataFrame:
    """Multi-query stripe evaluation in ONE stripe job: every query's terms
    share one filter of the cached serve layout; inside a stripe the
    per-(field, term) block lists are built once and a shared decode cache
    means a hot term decodes once no matter how many queries use it. Emits
    per-stripe local top-k rows (qid, docid, score, decodes) — k per
    url-rank segment the stripe overlaps (_segment_cut); the caller does
    the tiny global merge.

    queries: qid -> either (terms in query order, field), a flat BM25 bag
    of words scored by ``strategy`` with (k1, b, require_all), or a
    query/planner.py Program (any query tree, any model).
    strategy: 'bulk' (vectorized exhaustive, default — see module
    docstring for the measured crossover) or 'wand' (block-max pruning
    loop). Both are score-identical.
    resolve_urls: resolve each stripe's local top-k docids to urls INSIDE
    the stripe task (k point probes against the docid-sorted url table,
    row-group pruned — index/urlmap.py); output gains a ``url`` column and
    the caller's merge needs no url-table join.

    A Program whose SCORE nodes read a derived list's df/ctf (BM25 idf or
    Indri smoothing of #SYN/#NEAR/#WINDOW) adds one pre-pass over the same
    stripes. It runs inside the returned frame's action: each stripe emits
    its part of every such list's (df, ctf), the rows are broadcast and
    joined onto each stripe's skeleton row, and the stripe task sums them
    before scoring — one extra Spark job, no second action."""
    if strategy not in _STRATEGIES:
        raise ValueError(f"unknown stripe strategy {strategy!r}; "
                         f"expected one of {sorted(_STRATEGIES)}")
    kernel = _STRATEGIES[strategy]
    flat = {q: (list(v[0]), v[1]) for q, v in queries.items()
            if isinstance(v, tuple)}
    progs = {q: v for q, v in queries.items() if not isinstance(v, tuple)}
    flat_pairs = {(f, t) for ts, f in flat.values() for t in ts}
    pos_pairs = set().union(*(p.pos_pairs for p in progs.values()))
    # pairs served from the serve cache and the cold blocks without
    # positions; positional leaves read their blocks with positions
    block_pairs = flat_pairs.union(*(p.pairs - pos_pairs for p in progs.values()))
    stats = reader.term_stats(sorted(flat_pairs))
    n_docs = reader.n_docs
    salt_range = reader.salt_range
    avgs = {f: reader.avg_doclen(f) for f in {f for ts, f in flat.values()}}
    pcodec = reader.payload_codec
    norms_dir = reader.norms_dir
    docids_dir = os.path.join(reader.index_dir, "docids")
    blocks_dir = os.path.join(reader.index_dir, "blocks")
    # positional leaves read their striped blocks in-task; on an
    # append-free index a df below salt_min_df proves a pair has none (the
    # cold_blocks inference), so its stripes skip the file read
    all_cold = reader.salt_min_df_known and not reader.manifest.get("appends")
    pos_df = reader.term_stats(sorted(pos_pairs))
    pos_striped = [p for p in sorted(pos_pairs)
                   if not (all_cold and pos_df.get(p, (0, 0))[0] < reader.salt_min_df)]
    cuts = reader.segment_cuts()
    idf_of: dict[tuple[str, str], float] = {}
    for f, t in flat_pairs:
        df_ = stats.get((f, t), (0, 0))[0]
        idf_of[(f, t)] = (max(0.0, math.log((n_docs - df_ + 0.5) / (df_ + 0.5)))
                          if df_ else 0.0)
    sc = reader.spark.sparkContext

    def _ub(key, row_maxscore, row_maxtf, row_mindl):
        if key not in idf_of:
            return 0.0  # block bounds only steer the flat 'wand' kernel
        if recompute_bounds:
            mtf = float(row_maxtf)
            return idf_of[key] * mtf / (mtf + k1 * ((1.0 - b) + b * float(row_mindl)
                                                     / avgs[key[0]]))
        return float(row_maxscore)

    # cold (unstriped, low-df) blocks: read on the driver with pyarrow,
    # memoized per reader, and not read at all when the stats prove none
    # exist (the common all-hot-terms query) — see IndexReader.cold_blocks.
    # Bounds are derived here because they depend on THIS query's (k1, b);
    # position payloads ship only for positional leaves.
    cold: dict[tuple[str, str], list] = {
        key: [(mn, mx, _ub(key, ms, mtf, mdl), dz, tz,
               pz if key in pos_pairs else b"")
              for mn, mx, mtf, mdl, ms, dz, tz, pz in rows]
        for key, rows in reader.cold_blocks(sorted(block_pairs | pos_pairs)).items()
    }
    cold_bytes = sum(len(dz) + len(tz) + len(pz)
                     for rows in cold.values() for *_, dz, tz, pz in rows)
    b_cold = _ship(sc, cold, cold_bytes)
    qpayload = (flat, progs)
    b_queries = _ship(sc, qpayload, len(pickle.dumps(qpayload)))
    # tombstones: bounded by deletes since the last compaction (compaction
    # removes them physically). Broadcast ONE sorted array; each stripe
    # binary-searches its [lo, hi) slice so the per-probe membership set is
    # bounded by the stripe's own tombstones, not the global delete count
    # (100k global tombstones -> ~3k per stripe at 32 stripes; slice cost is
    # 2 searchsorted calls per stripe task).
    del_arr = (np.fromiter(sorted(deleted), dtype=np.int64, count=len(deleted))
               if deleted else None)
    b_del = (_ship(sc, del_arr, del_arr.nbytes)
             if del_arr is not None else None)

    # serve-ready cached layout: striped blocks + per-stripe skeleton rows,
    # already hash-partitioned by salt and persisted (IndexReader
    # .serve_blocks). The per-query filter keeps this batch's terms plus
    # the skeleton (term == "" — guarantees every stripe forms a group even
    # when only broadcast cold blocks cover it); groupBy(salt) below then
    # reuses the cached partitioning, so the warm stripe job is one
    # no-shuffle stage with no block scan.
    hot = reader.serve_blocks().filter(
        (F.col("term") == "")
        | F.struct("field", "term").isin(
            [F.struct(F.lit(f), F.lit(t)) for f, t in sorted(block_pairs)]))

    def stripe_of(key, pdf: pd.DataFrame) -> _Stripe:
        salt = int(key[0])
        lo, hi = salt * salt_range, (salt + 1) * salt_range
        # per-(field, term) block lists, built ONCE for the whole batch
        by_key: dict[tuple[str, str], list] = {}
        for (field, term), g in pdf.groupby(["field", "term"]):
            if term == "":
                continue
            if recompute_bounds and (field, term) in idf_of:
                mtf = g["max_tf"].astype(float)
                mdl = g["min_doclen"].astype(float)
                ubs = idf_of[(field, term)] * mtf / (
                    mtf + k1 * ((1.0 - b) + b * mdl / avgs[field]))
            else:
                ubs = g["max_score"].astype(float)
            by_key[(field, term)] = [
                (int(mn), (int(md), float(u), (pcodec, bytes(dz), bytes(tz))))
                for mn, md, u, dz, tz in zip(
                    g["min_docid"], g["max_docid"], ubs,
                    g["docids_z"], g["tfs_z"])
            ]
        pos_parts = (_read_striped_positions(blocks_dir, pos_striped, salt, pcodec)
                     if pos_striped else {})
        for ckey, blks in b_cold.value.items():
            for mn, mx, ub, dz, tz, pz in blks:
                if mx < lo or mn >= hi:
                    continue
                d, t = codec.decode_block(dz, tz, pcodec)
                s_ = int(np.searchsorted(d, lo))
                e_ = int(np.searchsorted(d, hi))
                if s_ >= e_:
                    continue
                if ckey in block_pairs:
                    by_key.setdefault(ckey, []).append(
                        (int(d[s_]),
                         (int(d[e_ - 1]), ub, ("raw", d[s_:e_], t[s_:e_]))))
                if ckey in pos_pairs:
                    v, c = codec.decode_positions_flat(pz, len(d))
                    offs = np.concatenate(([0], np.cumsum(c)))
                    pos_parts.setdefault(ckey, []).append(
                        (d[s_:e_], t[s_:e_], v[offs[s_]:offs[e_]], c[s_:e_]))
        # min_docid is the total order: block ranges are disjoint per term,
        # also across incremental appends (blk numbers can repeat)
        by_key = {kk: [blk for _, blk in sorted(v, key=lambda x: x[0])]
                  for kk, v in by_key.items()}
        return _Stripe(lo, hi, by_key, pos_parts, norms_dir, {})

    def run_prepass(key, pdf):
        st = stripe_of(key, pdf)
        rows = [(qid, i, df_, ctf_) for qid, prog in b_queries.value[1].items()
                for i, df_, ctf_ in prog.derived_stats(st)]
        return pd.DataFrame(rows, columns=["d_qid", "d_ix", "d_df", "d_ctf"])

    def run_stripe(key, pdf):
        st = stripe_of(key, pdf)
        lo = st.lo
        # global derived-list stats: the pre-pass rows joined onto this
        # stripe's skeleton row, one per (stripe, query, SCORE node)
        dstats: dict[str, dict] = {}
        if "d_qid" in pdf.columns:
            sk = pdf[pdf["term"] == ""].dropna(subset=["d_qid"])
            for (qid, i), g in sk.groupby(["d_qid", "d_ix"]):
                dstats.setdefault(qid, {})[int(i)] = (
                    int(g["d_df"].sum()), int(g["d_ctf"].sum()))
        # range-slice the sorted tombstone array to THIS stripe's docids;
        # the kernels take the sorted slice as-is (bulk: searchsorted
        # membership; wand: one cache-memoized frozenset per stripe)
        stripe_del = None
        if b_del is not None:
            arr = b_del.value
            s_, e_ = np.searchsorted(arr, lo), np.searchsorted(arr, st.hi)
            if e_ > s_:
                stripe_del = arr[s_:e_]
        flat_q, progs_q = b_queries.value
        out_q, out_d, out_s, out_dec = [], [], [], []
        for qid, (terms, field) in flat_q.items():
            idfs = [idf_of.get((field, t), 0.0) for t in terms]
            tb = {i: st.blocks[(field, t)] for i, t in enumerate(terms)
                  if (field, t) in st.blocks}
            top, dec = kernel(tb, idfs, k, k1, b, avgs[field], require_all,
                              st.norms(field) if tb else None, lo, st.cache,
                              deleted=stripe_del, cuts=cuts)
            # decode count rides on the FIRST row of each (stripe, query)
            # only — sum(decodes) over the debug output is then the true
            # kernel decode total, not k× it. (A stripe whose candidates
            # were all tombstoned emits no rows and drops its count; fine
            # for the anatomy tool this feeds.)
            for j, (d, s) in enumerate(top):
                out_q.append(qid); out_d.append(d); out_s.append(s)
                out_dec.append(dec if j == 0 else 0)
        for qid, prog in progs_q.items():
            score, mask = prog.evaluate(st, dstats.get(qid, {}))
            cand = _skip_tombstones(np.flatnonzero(mask), stripe_del, lo)
            docids, sc_ = cand + lo, score[cand]
            top = _segment_cut(docids, sc_, k, cuts)
            out_q.extend([qid] * len(top))
            out_d.extend(docids[top].tolist())
            out_s.extend(sc_[top].tolist())
            out_dec.extend([0] * len(top))
        out = {"qid": out_q, "docid": out_d, "score": out_s,
               "decodes": out_dec}
        if resolve_urls:
            from ..index import urlmap

            by_docid = urlmap.urls_at(docids_dir, out_d)
            out["url"] = [by_docid[d] for d in out_d]
        return pd.DataFrame(out)

    src = hot
    if any(p.derived for p in progs.values()):
        pre = hot.groupBy("salt").applyInPandas(run_prepass, _PREPASS_SCHEMA)
        # a broadcast left join onto the skeleton rows keeps the cached
        # salt partitioning, so the stripe job below adds no exchange
        src = hot.join(F.broadcast(pre), F.col("term") == F.lit(""), "left")
    # groupBy over the cache's explicit repartition(n_stripes, salt), NOT a
    # bare shuffle: the stripe kernel is CPU-bound Python over few-MB block
    # partitions, so AQE's size-based coalescing would fuse all stripes
    # into one task and serialize the query (measured 4x slower at 32
    # stripes). A user-specified partition count is exempt from AQE
    # coalescing, and since the cached layout already hashes by salt the
    # groupBy introduces no exchange at all on a warm reader.
    schema = WAND_BATCH_URL_SCHEMA if resolve_urls else WAND_BATCH_SCHEMA
    return src.groupBy("salt").applyInPandas(run_stripe, schema)


def wand_topk(reader: IndexReader, terms: list[str], field: str = "body",
              k: int = 100, k1: float = 1.2, b: float = 0.75,
              require_all: bool = False, debug: bool = False,
              recompute_bounds: bool = False,
              deleted: frozenset | None = None,
              strategy: str = "bulk") -> DataFrame:
    """Distributed top-k BM25 of a flat bag of words over the compressed
    index, score-identical to Engine.search's #SUM (or, require_all,
    conjunctive) evaluation.

    strategy='bulk' (default) runs the vectorized exhaustive stripe
    evaluator — every block decodes and block-max bounds are unused (see
    the module docstring for the measured WAND-vs-bulk crossover).
    strategy='wand' runs the block-max pruning loop; only there do bounds
    matter: they are computed at build time with the build's (k1, b) and
    corpus stats, and after an incremental append (or with different
    k1/b) recompute_bounds=True re-derives them per block from the stored
    (max_tf, min_doclen) under CURRENT stats — conservative (max_tf
    paired with min_doclen dominates any real posting) but always sound.
    recompute_bounds has no effect on the bulk path.

    Delegates to the multi-query kernel with a batch of one. The global
    merge over the url-resolved local rows compiles to
    TakeOrderedAndProject (per-partition heap + driver merge, no shuffle),
    so a single query on a filled serve cache is ONE Spark job end-to-end."""
    local = wand_topk_batch_local(
        reader, {"q": (list(terms), field)}, k=k, k1=k1, b=b,
        require_all=require_all, recompute_bounds=recompute_bounds,
        deleted=deleted if deleted is not None else reader.deleted_set(),
        strategy=strategy, resolve_urls=not debug)
    if debug:
        return local.select("docid", "score", "decodes")
    return (
        local.select("url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(k)
    )
