"""The stripe job every query serves through. Query trees of any class
arrive compiled (query/planner.py Program) and evaluate in the same stripe
tasks; ``wand_topk``, the flat BM25 bag of words, compiles to a #SUM
program like any other query.

Evaluation is exhaustive and vectorized, as the reference's DAAT loop
visits every matching doc (QryEval.java:1172-1178): each stripe decodes
its query terms' blocks and scores them with dense numpy arrays, so the
index stores no per-block score bounds.

Distribution story (how this runs on 1000 executors): the index's ``salt``
is a *docid-range stripe* (build.py), so all blocks of one salt cover a
disjoint docid range. Queries read the per-reader CACHED serve layout
(IndexReader.serve_blocks: striped blocks + skeleton rows, pre-partitioned
by salt, persisted — the shard-in-DRAM serving tier); the per-query term
filter runs against the cached partitions and groupBy(salt) reuses their
partitioning, so a warm query's stripe job has NO shuffle and NO block
scan. Each task runs an independent stripe evaluation over its docid
slice, resolves its own top-k urls via point reads of the docid-sorted
url table (index/urlmap.py), and emits its local top-k; a tiny global
merge (<= k url-resolved rows per stripe, TakeOrderedAndProject)
finishes.

Tie-break: docid asc == url asc within a url-rank segment (docids are
ranks of sorted urls in the base build and in each append), so each
stripe keeps k per segment it overlaps (_segment_cut) and the global merge
sorts by (score desc, url asc): the reference sort rule
(ScoreList.java:90-105).
"""

from __future__ import annotations

import os
import pickle

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index import codec
from ..index.build import IndexReader, read_term_rows
from . import ast
from .models import BM25
from .planner import Planner


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


def _segment_cut(docids: np.ndarray, scores: np.ndarray, k: int,
                 cuts: list[int]) -> np.ndarray:
    """Indices of the top k of every url-rank segment, by (score desc,
    docid asc), returned in (score desc, docid asc) order.

    The reference tie rule is (score desc, url asc) (ScoreList.java:90-105).
    Docids are url ranks only WITHIN a segment — the base build and each
    append delta (IndexReader.segment_cuts) — so a stripe that spans a
    segment cut must keep k winners per segment; the caller's final (score
    desc, url asc) merge then restores the exact reference order."""
    seg = np.searchsorted(np.asarray(cuts, np.int64), docids, side="right")
    order = np.lexsort((docids, -scores, seg))
    s = seg[order]
    keep = order[np.arange(s.size) - np.searchsorted(s, s) < k]
    return keep[np.lexsort((docids[keep], -scores[keep]))]


def _skip_tombstones(cand: np.ndarray, deleted, lo: int) -> np.ndarray:
    """Stripe-relative candidate offsets minus tombstoned docids. deleted:
    the SORTED int64 slice of the tombstone broadcast that covers the
    stripe (run_stripe), or None — membership is two vectorized
    searchsorted probes."""
    if deleted is None or not len(cand):
        return cand
    docids_abs = cand + lo
    pos = np.minimum(np.searchsorted(deleted, docids_abs), len(deleted) - 1)
    return cand[deleted[pos] != docids_abs]


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
    the doclen norms of each field. ``decodes`` counts the compressed
    blocks decoded."""

    def __init__(self, lo: int, hi: int, blocks: dict, pos_parts: dict,
                 norms_dir: str):
        self.lo, self.hi, self.span = lo, hi, hi - lo
        # pair -> [payload] in docid order; a payload is (codec name,
        # docids_z, tfs_z) for an index block or ("raw", docids, tfs) for
        # a broadcast cold run
        self.blocks = blocks
        self.pos_parts = pos_parts  # pair -> [(docids, tfs, pos, counts)]
        self.norms_dir = norms_dir
        self.decodes = 0
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
                ds, ts = [], []
                for kind, d, t in self.blocks[pair]:
                    if kind != "raw":
                        d, t = codec.decode_block(d, t, kind)
                        self.decodes += 1
                    ds.append(d)
                    ts.append(t)
                self._post[pair] = (np.concatenate(ds).astype(np.int64),
                                    np.concatenate(ts).astype(np.int64))
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


def wand_topk_batch_local(reader: IndexReader, queries: dict,
                          k: int = 100,
                          resolve_urls: bool = False) -> DataFrame:
    """Multi-query stripe evaluation in ONE stripe job: every query's terms
    share one filter of the cached serve layout; inside a stripe the
    per-(field, term) block lists are built once and each block decodes at
    most once, however many queries use it. Emits per-stripe local top-k
    rows (qid, docid, score, decodes) — k per url-rank segment the stripe
    overlaps (_segment_cut); the caller does the tiny global merge.
    ``decodes`` is the stripe's count of decoded blocks on its first row
    and 0 on the others.

    queries: qid -> query/planner.py Program (any query tree, any model).
    Tombstoned docs (reader.deleted_set()) never enter a top-k.
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
    pos_pairs = set().union(*(p.pos_pairs for p in queries.values()))
    # pairs served from the serve cache and the cold blocks without
    # positions; positional leaves read their blocks with positions
    block_pairs = set().union(*(p.pairs - pos_pairs for p in queries.values()))
    salt_range = reader.salt_range
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
    sc = reader.spark.sparkContext

    # cold (unstriped, low-df) blocks: read on the driver with pyarrow,
    # memoized per reader, and not read at all when the stats prove none
    # exist (the common all-hot-terms query) — see IndexReader.cold_blocks.
    # Position payloads ship only for positional leaves.
    cold: dict[tuple[str, str], list] = {
        key: [(mn, mx, dz, tz, pz if key in pos_pairs else b"")
              for mn, mx, dz, tz, pz in rows]
        for key, rows in reader.cold_blocks(sorted(block_pairs | pos_pairs)).items()
    }
    cold_bytes = sum(len(dz) + len(tz) + len(pz)
                     for rows in cold.values() for *_, dz, tz, pz in rows)
    b_cold = _ship(sc, cold, cold_bytes)
    b_queries = _ship(sc, queries, len(pickle.dumps(queries)))
    # tombstones: bounded by deletes since the last compaction (compaction
    # removes them physically). Broadcast ONE sorted array; each stripe
    # binary-searches its [lo, hi) slice so the per-probe membership set is
    # bounded by the stripe's own tombstones, not the global delete count
    # (100k global tombstones -> ~3k per stripe at 32 stripes; slice cost is
    # 2 searchsorted calls per stripe task).
    deleted = reader.deleted_set()
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
            by_key[(field, term)] = [
                (int(mn), (pcodec, bytes(dz), bytes(tz)))
                for mn, dz, tz in zip(g["min_docid"], g["docids_z"], g["tfs_z"])
            ]
        pos_parts = (_read_striped_positions(blocks_dir, pos_striped, salt, pcodec)
                     if pos_striped else {})
        for ckey, blks in b_cold.value.items():
            for mn, mx, dz, tz, pz in blks:
                if mx < lo or mn >= hi:
                    continue
                d, t = codec.decode_block(dz, tz, pcodec)
                s_ = int(np.searchsorted(d, lo))
                e_ = int(np.searchsorted(d, hi))
                if s_ >= e_:
                    continue
                if ckey in block_pairs:
                    by_key.setdefault(ckey, []).append(
                        (int(d[s_]), ("raw", d[s_:e_], t[s_:e_])))
                if ckey in pos_pairs:
                    v, c = codec.decode_positions_flat(pz, len(d))
                    offs = np.concatenate(([0], np.cumsum(c)))
                    pos_parts.setdefault(ckey, []).append(
                        (d[s_:e_], t[s_:e_], v[offs[s_]:offs[e_]], c[s_:e_]))
        # min_docid is the total order: block ranges are disjoint per term,
        # also across incremental appends (blk numbers can repeat)
        by_key = {kk: [blk for _, blk in sorted(v, key=lambda x: x[0])]
                  for kk, v in by_key.items()}
        return _Stripe(lo, hi, by_key, pos_parts, norms_dir)

    def run_prepass(key, pdf):
        st = stripe_of(key, pdf)
        rows = [(qid, i, df_, ctf_) for qid, prog in b_queries.value.items()
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
        # range-slice the sorted tombstone array to THIS stripe's docids
        stripe_del = None
        if b_del is not None:
            arr = b_del.value
            s_, e_ = np.searchsorted(arr, lo), np.searchsorted(arr, st.hi)
            if e_ > s_:
                stripe_del = arr[s_:e_]
        out_q, out_d, out_s = [], [], []
        for qid, prog in b_queries.value.items():
            score, mask = prog.evaluate(st, dstats.get(qid, {}))
            cand = _skip_tombstones(np.flatnonzero(mask), stripe_del, lo)
            docids, sc_ = cand + lo, score[cand]
            top = _segment_cut(docids, sc_, k, cuts)
            out_q.extend([qid] * len(top))
            out_d.extend(docids[top].tolist())
            out_s.extend(sc_[top].tolist())
        # the decode count rides on the stripe's FIRST row only, so
        # sum(decodes) over the output is the true total, not k x it (a
        # stripe that emits no rows drops its count)
        out_dec = [0] * len(out_d)
        if out_dec:
            out_dec[0] = st.decodes
        out = {"qid": out_q, "docid": out_d, "score": out_s,
               "decodes": out_dec}
        if resolve_urls:
            from ..index import urlmap

            by_docid = urlmap.urls_at(docids_dir, out_d)
            out["url"] = [by_docid[d] for d in out_d]
        return pd.DataFrame(out)

    src = hot
    if any(p.derived for p in queries.values()):
        pre = hot.groupBy("salt").applyInPandas(run_prepass, _PREPASS_SCHEMA)
        # a broadcast left join onto the skeleton rows keeps the cached
        # salt partitioning, so the stripe job below adds no exchange
        src = hot.join(F.broadcast(pre), F.col("term") == F.lit(""), "left")
    # groupBy over the cache's explicit repartition(n_stripes, salt), NOT a
    # bare shuffle: the stripe evaluation is CPU-bound Python over few-MB
    # block partitions, so AQE's size-based coalescing would fuse all
    # stripes into one task and serialize the query (measured 4x slower at
    # 32 stripes). A user-specified partition count is exempt from AQE
    # coalescing, and since the cached layout already hashes by salt the
    # groupBy introduces no exchange at all on a warm reader.
    schema = WAND_BATCH_URL_SCHEMA if resolve_urls else WAND_BATCH_SCHEMA
    return src.groupBy("salt").applyInPandas(run_stripe, schema)


def wand_topk(reader: IndexReader, terms: list[str], field: str = "body",
              k: int = 100, debug: bool = False) -> DataFrame:
    """Distributed top-k BM25 of a flat bag of words: the #SUM of the
    terms, compiled and served like any query (Engine.search gives the
    same scores). ``terms`` are index terms, used as given: nothing is
    stemmed or dropped as a stopword.

    debug=True returns the stripes' local rows (docid, score, decodes)
    without url resolution. Otherwise the global merge over the
    url-resolved local rows compiles to TakeOrderedAndProject
    (per-partition heap + driver merge, no shuffle), so a query on a
    filled serve cache is ONE Spark job end-to-end."""
    prog = Planner(reader, BM25()).plan(
        ast.Sum([ast.Score(ast.Term(t, field)) for t in terms]))
    local = wand_topk_batch_local(reader, {"q": prog} if terms else {}, k=k,
                                  resolve_urls=not debug)
    if debug:
        return local.select("docid", "score", "decodes")
    return (
        local.select("url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(k)
    )
