"""Query tree -> per-stripe program, evaluated inside the stripe kernel.

Every query class (bag-of-words, the Indri operators #AND #OR #SUM #WAND
#WSUM over #SYN #NEAR/n #WINDOW/n, all four retrieval models) serves through
the one stripe job of query/wand.py: ``Planner.plan`` compiles the parsed
tree into a :class:`Program`, and each stripe task evaluates the whole tree
over its docid range with dense numpy accumulators — one score array, one
match mask and (Indri) one default-score array per node.

Evaluation mirrors oracle.evaluate node by node and folds children in query
order, so scores match the reference formulas (QrySop*.java) to rel 1e-9:

- IOP nodes (inverted-list producers, QryIop*.java) yield per-stripe
  (docids, tf[, positions]). #SYN unions its children; #NEAR/#WINDOW run the
  query/positional.py pointer walks over the docs holding every argument.
  Positions are decoded only under positional operators.
- A SCORE node scores its list. Its df/ctf come from the term stats for a
  term, and for a derived list (#SYN/#NEAR/#WINDOW under BM25's idf or
  Indri's smoothing) from a pre-pass over the same stripes: each stripe
  counts the list's docs and occurrences, tombstoned docs included, as
  term_stats counts them until a compaction (QryIop.java:186-212).
- SOP nodes match ALL children (#AND under the boolean models and BM25) or
  ANY child (everything else, Qry.java:247-347); Indri scores an unmatched
  child with its default score (QrySop*.getDefaultScore).
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np

from ..index.build import IndexReader
from . import ast
from .models import BM25, Indri, RankedBoolean, UnrankedBoolean
from .positional import match_flat
# The serve path no longer decodes postings into DataFrames (inspect.py
# still does); this import keeps ``planner.decode_postings`` as an alias
# because the benchmark's tracer patches the function under both names.
from .postings import decode_postings  # noqa: F401


def _iops(node: ast.Node):
    """IOP nodes of an IOP subtree, preorder."""
    yield node
    if not isinstance(node, ast.Term):
        for a in node.args:
            yield from _iops(a)


def _scores(node: ast.Node):
    """SCORE nodes of a query tree, preorder (= child evaluation order)."""
    if isinstance(node, ast.Score):
        yield node
    else:
        for a in node.args:
            yield from _scores(a)


def leaf_pairs(root: ast.Node) -> list[tuple[str, str]]:
    """(field, term) of every term leaf of a query tree, sorted."""
    return sorted({(n.field, n.term) for s in _scores(root)
                   for n in _iops(s.arg) if isinstance(n, ast.Term)})


_libm_pow = np.frompyfunc(math.pow, 2, 1)


def _pow(base: np.ndarray, exponent: float) -> np.ndarray:
    """Elementwise C-library pow, the function Python's ``**`` (and so
    oracle.py) calls. numpy's vectorized power may pick a SIMD routine by
    CPU that differs in the last bit, which would make scores depend on
    the host."""
    return _libm_pow(base, exponent).astype(np.float64)


def _take_rows(pos: np.ndarray, offs: np.ndarray, rows: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray]:
    """Positions of the given rows of a flat (pos, offs) list, as a new
    flat list."""
    lens = offs[rows + 1] - offs[rows]
    new = np.zeros(len(rows) + 1, np.int64)
    np.cumsum(lens, out=new[1:])
    idx = np.repeat(offs[rows] - new[:-1], lens) + np.arange(new[-1])
    return pos[idx], new


class Program:
    """One compiled query: the parsed tree plus every constant its stripe
    evaluation needs. Plain data, shipped to the stripe tasks."""

    def __init__(self, root: ast.Node, model, reader: IndexReader,
                 stats: dict):
        self.root = root
        self.model = model
        self.n_docs = reader.n_docs
        self.stats = stats  # (field, term) -> (df, ctf) of the term leaves
        scores = list(_scores(root))
        self.scores = scores
        # (doc_count, sum_len) per scored field; a field no doc has
        # averages 1.0, as oracle.OracleIndex.avg_len does
        fs = {f: reader.field_stats.get(f, (0, 0))
              for f in {ast.iop_field(s.arg) for s in scores}}
        self.avg = {f: s_ / c if c else 1.0 for f, (c, s_) in fs.items()}
        self.sum_len = {f: s_ for f, (_, s_) in fs.items()}
        # SCORE nodes over a derived list whose df/ctf the model reads
        self.derived = tuple(
            i for i, s in enumerate(scores)
            if not isinstance(s.arg, ast.Term)
            and isinstance(model, BM25 | Indri))
        self.pairs = frozenset(leaf_pairs(root))
        # every leaf under a positional operator needs its positions (a
        # bare #SYN only sums its children's tf)
        self.pos_pairs = frozenset(
            (t.field, t.term) for s in scores for n in _iops(s.arg)
            if isinstance(n, ast.Near | ast.Window)
            for t in _iops(n) if isinstance(t, ast.Term))

    # ------------------------------------------------------------ pre-pass
    def derived_stats(self, stripe) -> list[tuple[int, int, int]]:
        """(score index, df, ctf) of this stripe's part of every derived
        list in ``self.derived``; the caller sums them over stripes."""
        out = []
        for i in self.derived:
            _, tf, _, _ = self._iop(self.scores[i].arg, stripe, False)
            out.append((i, int(tf.size), int(tf.sum())))
        return out

    # ---------------------------------------------------------- evaluation
    def evaluate(self, stripe, dstats: dict) -> tuple[np.ndarray, np.ndarray]:
        """(score, match mask) over the stripe's docid span.
        dstats: score index -> global (df, ctf) of a derived list."""
        score, mask, _ = self._sop(self.root, stripe, dstats)
        return score, mask

    def _iop(self, node, stripe, need_pos: bool):
        """-> (docids, tf, positions, offsets) of an IOP node within the
        stripe; positions/offsets are None unless need_pos."""
        if isinstance(node, ast.Term):
            pair = (node.field, node.term)
            if need_pos:
                return stripe.positions(pair)
            d, t = stripe.postings(pair)
            return d, t, None, None
        if isinstance(node, ast.Syn):
            kids = [self._iop(a, stripe, need_pos) for a in node.args]
            if not need_pos:
                docs, inv = np.unique(np.concatenate([k[0] for k in kids]),
                                      return_inverse=True)
                tf = np.zeros(docs.size, np.int64)
                np.add.at(tf, inv, np.concatenate([k[1] for k in kids]))
                return docs, tf, None, None
            # union of the children's positions per doc, sorted
            # (QryIopSyn.java:17-71)
            rep = np.concatenate([np.repeat(k[0], np.diff(k[3])) for k in kids])
            pos = np.concatenate([k[2] for k in kids])
            order = np.lexsort((pos, rep))
            docs, tf = np.unique(rep[order], return_counts=True)
            offs = np.zeros(docs.size + 1, np.int64)
            np.cumsum(tf, out=offs[1:])
            return docs, tf, pos[order], offs
        kids = [self._iop(a, stripe, True) for a in node.args]
        common = reduce(np.intersect1d, [k[0] for k in kids])
        flats = [_take_rows(k[2], k[3], np.searchsorted(k[0], common))
                 for k in kids]
        rows, vals = match_flat(flats, node.n, isinstance(node, ast.Near))
        hit, tf = np.unique(rows, return_counts=True)
        offs = np.zeros(hit.size + 1, np.int64)
        np.cumsum(tf, out=offs[1:])
        return common[hit], tf, vals, offs

    def _score(self, node: ast.Score, stripe, dstats: dict):
        m = self.model
        field = ast.iop_field(node.arg)
        docids, tf, _, _ = self._iop(node.arg, stripe, False)
        if isinstance(node.arg, ast.Term):
            df_, ctf_ = self.stats.get((field, node.arg.term), (0, 0))
        else:
            i = next(i for i, s in enumerate(self.scores) if s is node)
            df_, ctf_ = dstats.get(i, (0, 0))
        span, lo = stripe.span, stripe.lo
        ix = docids - lo
        mask = np.zeros(span, bool)
        mask[ix] = True
        score = np.zeros(span)
        tf = tf.astype(np.float64)
        default = None
        if isinstance(m, BM25):
            # QrySopScore.java:78-90
            idf = max(0.0, math.log((self.n_docs - df_ + 0.5) / (df_ + 0.5)))
            dl = stripe.norms(field)[ix].astype(np.float64)
            score[ix] = idf * tf / (tf + m.k1 * ((1.0 - m.b)
                                                + m.b * dl / self.avg[field]))
        elif isinstance(m, Indri):
            # two-state smoothing and its tf=0 default (QrySopScore.java:13-26),
            # associated as ((1-lam)(tf+mu*pqc))/(dl+mu): the engine's
            # recorded outputs (tests/golden/prf.qryOut) carry this rounding
            pqc = (ctf_ if ctf_ != 0 else 0.5) / self.sum_len[field]
            dl = stripe.norms(field).astype(np.float64)
            score[ix] = ((1.0 - m.lam) * (tf + m.mu * pqc) / (dl[ix] + m.mu)
                         + m.lam * pqc)
            default = (1.0 - m.lam) * (m.mu * pqc) / (dl + m.mu) + m.lam * pqc
        elif isinstance(m, RankedBoolean):
            score[ix] = tf
        else:
            score[ix] = 1.0
        return score, mask, default

    def _sop(self, node, stripe, dstats: dict):
        """-> (score, mask, default) dense over the stripe span; default is
        None outside Indri. Folds follow oracle.evaluate's order."""
        if isinstance(node, ast.Score):
            return self._score(node, stripe, dstats)
        m = self.model
        kids = [self._sop(a, stripe, dstats) for a in node.args]
        n = len(kids)
        w = getattr(node, "weights", None)
        W = sum(w) if w else None
        indri = isinstance(m, Indri)
        masks = [k[1] for k in kids]
        if isinstance(node, ast.And) and not indri:
            mask = reduce(np.logical_and, masks)
        else:
            mask = reduce(np.logical_or, masks)
        if indri:
            vals = [np.where(mk, s, d) for s, mk, d in kids]
            defs = [k[2] for k in kids]
        default = None
        if isinstance(m, UnrankedBoolean) and not isinstance(node, ast.Wand | ast.Wsum):
            score = np.ones(stripe.span)
        elif isinstance(node, ast.And):
            if indri:  # QrySopAnd.java:83-118
                score = _pow(reduce(np.multiply, vals), 1.0 / n)
                default = _pow(reduce(np.multiply, defs), 1.0 / n)
            else:  # min over children (QrySopAnd.java:121-169)
                score = reduce(np.minimum, [k[0] for k in kids])
        elif isinstance(node, ast.Or):
            if indri:  # QrySopOr.java:46-79
                score = 1.0 - reduce(np.multiply, [1.0 - v for v in vals])
            else:  # max over matching children (QrySopOr.java:81-151)
                score = reduce(np.maximum,
                               [np.where(mk, s, -np.inf) for s, mk, _ in kids])
        elif isinstance(node, ast.Sum):
            # QrySopSum.java:47-129; BM25's k3 factor with qtf=1 is 1
            parts = vals if indri else [np.where(mk, s, 0.0) for s, mk, _ in kids]
            score = reduce(np.add, parts, 0.0)
        elif isinstance(node, ast.Wand):
            # QrySopWAnd.java:86-121; outside Indri the weighted geo-mean
            # over matching children (the reference's BM25 branch starts
            # from MAX_VALUE, QrySopWAnd.java:123-147)
            parts = vals if indri else [np.where(mk, s, 1.0) for s, mk, _ in kids]
            score = reduce(np.multiply, [_pow(p, w[i] / W) for i, p in enumerate(parts)])
            if indri:
                default = reduce(np.multiply,
                                 [_pow(d, w[i] / W) for i, d in enumerate(defs)])
        elif isinstance(node, ast.Wsum):
            # QrySopWSum.java:78-128
            if indri:
                score = reduce(np.add, [v * (w[i] / W) for i, v in enumerate(vals)], 0.0)
                default = reduce(np.add, [d * (w[i] / W) for i, d in enumerate(defs)], 0)
            elif isinstance(m, BM25):
                score = reduce(np.add, [
                    np.where(mk, s, 0.0) * ((m.k3 + 1.0) * w[i] / (m.k3 + w[i]))
                    for i, (s, mk, _) in enumerate(kids)], 0.0)
            else:
                score = reduce(np.add, [np.where(mk, s, 0.0) * (w[i] / W)
                                        for i, (s, mk, _) in enumerate(kids)], 0.0)
        else:
            raise TypeError(f"not a SOP node: {node}")
        if indri and default is None:
            default = np.zeros(stripe.span)  # #OR, #SUM (QrySopOr/Sum)
        return score, mask, default


class Planner:
    def __init__(self, reader: IndexReader, model):
        self.reader = reader
        self.model = model

    def plan(self, root: ast.Node) -> Program:
        """Compile a parsed query tree into a stripe Program. Looks up the
        leaf terms' (df, ctf) (memoized per reader); the derived-list
        pre-pass runs inside the query's stripe action (query/wand.py)."""
        if (not self.reader.store_positions
                and any(isinstance(n, ast.Syn | ast.Near | ast.Window)
                        for s in _scores(root) for n in _iops(s.arg))):
            raise ValueError(
                "positional operator (#NEAR/#WINDOW/#SYN) on an index "
                "built with store_positions=False (DOCS_AND_FREQS); "
                "rebuild or compact() with store_positions=True")
        return Program(root, self.model, self.reader,
                       self.reader.term_stats(leaf_pairs(root)))
