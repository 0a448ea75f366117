"""Single-node pure-Python oracle for rank-identity testing.

Implements *exactly* the reference engine's retrieval semantics over an
in-memory corpus, with formulas cited to the reference source:

- BM25 term score:            QrySopScore.java:78-90
- Indri term score + default: QrySopScore.java:13-26,64-77
- #AND  (min / geo-mean):     QrySopAnd.java:83-169
- #OR   (max / 1-prod(1-s)):  QrySopOr.java:46-151
- #SUM  (sum, BM25 k3 term):  QrySopSum.java:47-129
- #WAND (prod s^(w/W)):       QrySopWAnd.java:86-147
- #WSUM (sum (w/W)s):         QrySopWSum.java:78-128
- #SYN / #NEAR/n / #WINDOW/n: QryIopSyn.java:17-71, QryIopNear.java:60-110,
                              QryIopWindow.java:64-166
- sort: score desc, external-id asc, truncate k: ScoreList.java:90-128

The oracle shares the engine's frozen tokenizer (tokenizer.py) so engine
vs oracle comparisons are exact rank identity (docids AND scores).
Slow and simple on purpose — only used in pytest on small corpora.
"""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class OracleIndex:
    # (field, term) -> {docid: [positions]}
    postings: dict = field(default_factory=lambda: defaultdict(dict))
    # (field, docid) -> length (incl. stopword slots)
    doclen: dict = field(default_factory=dict)
    # field -> (doc_count, sum_len)
    field_stats: dict = field(default_factory=lambda: defaultdict(lambda: [0, 0]))
    n_docs: int = 0
    ext_ids: dict = field(default_factory=dict)  # docid -> external id (url)

    @classmethod
    def from_docs(cls, docs: list[tuple[str, dict[str, list]]]) -> "OracleIndex":
        """docs: [(url, {field: tokens_with_None_stopwords})]; docid = rank of
        sorted url (same rule as corpus.assign_docids)."""
        idx = cls()
        urls = sorted(u for u, _ in docs)
        rank = {u: i for i, u in enumerate(urls)}
        idx.n_docs = len(urls)
        for url, fields in docs:
            d = rank[url]
            idx.ext_ids[d] = url
            for f, toks in fields.items():
                if not toks:
                    continue
                idx.doclen[(f, d)] = len(toks)
                st = idx.field_stats[f]
                st[0] += 1
                st[1] += len(toks)
                for pos, t in enumerate(toks):
                    if t is None:
                        continue
                    idx.postings[(f, t)].setdefault(d, []).append(pos)
        return idx

    # --- stats ---
    def df(self, f: str, t: str) -> int:
        return len(self.postings.get((f, t), {}))

    def ctf(self, f: str, t: str) -> int:
        return sum(len(p) for p in self.postings.get((f, t), {}).values())

    def avg_len(self, f: str) -> float:
        c, s = self.field_stats[f]
        return s / c if c else 1.0

    def sum_len(self, f: str) -> int:
        return self.field_stats[f][1]

    def get_len(self, f: str, d: int) -> int:
        return self.doclen.get((f, d), 0)


# --- inverted-list algebra (QryIop analog): {docid: [positions]} -----------

def iop_syn(lists: list[dict]) -> dict:
    out: dict[int, list[int]] = {}
    for pl in lists:
        for d, ps in pl.items():
            out.setdefault(d, []).extend(ps)
    return {d: sorted(ps) for d, ps in out.items()}


def iop_near(lists: list[dict], n: int) -> dict:
    """Ordered proximity (QryIopNear.java:60-110): positions strictly
    increasing across args, each gap <= n; emitted position = last arg's;
    matched positions consumed."""
    out: dict[int, list[int]] = {}
    common = set(lists[0])
    for pl in lists[1:]:
        common &= set(pl)
    for d in sorted(common):
        ptrs = [0] * len(lists)
        pls = [pl[d] for pl in lists]
        res = []
        while True:
            if ptrs[0] >= len(pls[0]):
                break
            prev = pls[0][ptrs[0]]
            ok = True
            for i in range(1, len(pls)):
                while ptrs[i] < len(pls[i]) and pls[i][ptrs[i]] <= prev:
                    ptrs[i] += 1
                if ptrs[i] >= len(pls[i]):
                    ok = False
                    break
                cur = pls[i][ptrs[i]]
                if cur - prev > n:
                    ok = False
                    ptrs[0] += 1
                    break
                prev = cur
            if ok:
                res.append(prev)
                for i in range(len(pls)):
                    ptrs[i] += 1
            elif any(p >= len(pl) for p, pl in zip(ptrs, pls)):
                break
        if res:
            out[d] = res
    return out


def iop_window(lists: list[dict], n: int) -> dict:
    """Unordered window (QryIopWindow.java:64-166): one occurrence of each
    arg with max(pos)-min(pos) < n; on failure advance the min iterator;
    emitted position = max; all consumed on match."""
    out: dict[int, list[int]] = {}
    common = set(lists[0])
    for pl in lists[1:]:
        common &= set(pl)
    for d in sorted(common):
        ptrs = [0] * len(lists)
        pls = [pl[d] for pl in lists]
        res = []
        while all(p < len(pl) for p, pl in zip(ptrs, pls)):
            cur = [pl[p] for p, pl in zip(ptrs, pls)]
            lo, hi = min(cur), max(cur)
            if hi - lo < n:
                res.append(hi)
                ptrs = [p + 1 for p in ptrs]
            else:
                i = cur.index(lo)
                ptrs[i] += 1
        if res:
            out[d] = res
    return out


# --- score operators --------------------------------------------------------

def bm25_term_scores(idx: OracleIndex, f: str, pl: dict, df: int,
                     k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    n = idx.n_docs
    avg = idx.avg_len(f)
    idf = max(0.0, math.log((n - df + 0.5) / (df + 0.5)))
    out = {}
    for d, ps in pl.items():
        tf = len(ps)
        dl = idx.get_len(f, d)
        out[d] = idf * tf / (tf + k1 * ((1.0 - b) + b * dl / avg))
    return out


def indri_term_score(idx: OracleIndex, f: str, tf: int, dl: int, ctf: int,
                     mu: float, lam: float) -> float:
    c = ctf if ctf != 0 else 0.5
    pqc = c / idx.sum_len(f)
    return (1.0 - lam) * ((tf + mu * pqc) / (dl + mu)) + lam * pqc


def topk(scores: dict[int, float], ext_ids: dict[int, str], k: int) -> list[tuple[str, float]]:
    """Reference sort: score desc, external id asc (ScoreList.java:90-105)."""
    rows = [(ext_ids[d], s) for d, s in scores.items()]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


# --- full query-tree evaluation (all four retrieval models) ----------------

def evaluate(idx: OracleIndex, root, model) -> dict[int, float]:
    """Evaluate a parsed AST (query.ast nodes) -> {docid: score}, mirroring
    the reference's recursive getScore/getDefaultScore dispatch. Arithmetic
    fold order = child order (float-shape parity with the engine)."""
    from .query import ast as A
    from .query.models import BM25, Indri, RankedBoolean, UnrankedBoolean

    def iop(node) -> tuple[dict, str]:
        if isinstance(node, A.Term):
            return dict(idx.postings.get((node.field, node.term), {})), node.field
        kids = [iop(a) for a in node.args]
        field = kids[0][1]
        pls = [k[0] for k in kids]
        if isinstance(node, A.Syn):
            return iop_syn(pls), field
        if isinstance(node, A.Near):
            return iop_near(pls, node.n), field
        if isinstance(node, A.Window):
            return iop_window(pls, node.n), field
        raise TypeError(node)

    def sop(node):
        """-> (matches: {docid: score}, default_fn(docid) -> float)"""
        if isinstance(node, A.Score):
            pl, field = iop(node.arg)
            df_ = len(pl)
            ctf_ = sum(len(p) for p in pl.values())
            if isinstance(model, BM25):
                n, avg = idx.n_docs, idx.avg_len(field)
                idf = max(0.0, math.log((n - df_ + 0.5) / (df_ + 0.5)))
                matches = {
                    d: idf * len(ps) / (len(ps) + model.k1 * ((1.0 - model.b)
                        + model.b * idx.get_len(field, d) / avg))
                    for d, ps in pl.items()
                }
                return matches, lambda d: 0.0
            if isinstance(model, Indri):
                matches = {
                    d: indri_term_score(idx, field, len(ps), idx.get_len(field, d),
                                        ctf_, model.mu, model.lam)
                    for d, ps in pl.items()
                }
                return matches, lambda d: indri_term_score(
                    idx, field, 0, idx.get_len(field, d), ctf_, model.mu, model.lam)
            if isinstance(model, RankedBoolean):
                return {d: float(len(ps)) for d, ps in pl.items()}, lambda d: 0.0
            return {d: 1.0 for d in pl}, lambda d: 0.0

        kids = [sop(a) for a in node.args]
        weights = getattr(node, "weights", None)
        W = sum(weights) if weights else None
        indri = isinstance(model, Indri)
        if isinstance(node, A.And) and not indri:
            docs = set(kids[0][0])
            for mt, _ in kids[1:]:
                docs &= set(mt)
        else:
            docs = set()
            for mt, _ in kids:
                docs |= set(mt)

        def val(i, d):
            mt, df_fn = kids[i]
            return mt[d] if d in mt else df_fn(d)

        out = {}
        for d in docs:
            if isinstance(node, A.And):
                if isinstance(model, UnrankedBoolean):
                    out[d] = 1.0
                elif indri:
                    p = None
                    for i in range(len(kids)):
                        v = val(i, d)
                        p = v if p is None else p * v
                    out[d] = p ** (1.0 / len(kids))
                else:
                    out[d] = min(kids[i][0][d] for i in range(len(kids)))
            elif isinstance(node, A.Or):
                if isinstance(model, UnrankedBoolean):
                    out[d] = 1.0
                elif indri:
                    p = None
                    for i in range(len(kids)):
                        v = 1.0 - val(i, d)
                        p = v if p is None else p * v
                    out[d] = 1.0 - p
                else:
                    out[d] = max(kids[i][0][d] for i in range(len(kids)) if d in kids[i][0])
            elif isinstance(node, A.Sum):
                if isinstance(model, UnrankedBoolean):
                    out[d] = 1.0
                else:
                    s = 0.0
                    for i in range(len(kids)):
                        if indri:
                            s += val(i, d)
                        elif d in kids[i][0]:
                            s += kids[i][0][d]
                    out[d] = s
            elif isinstance(node, A.Wand):
                p = None
                for i in range(len(kids)):
                    if indri:
                        v = val(i, d) ** (weights[i] / W)
                    else:
                        v = (kids[i][0].get(d, 1.0)) ** (weights[i] / W)
                    p = v if p is None else p * v
                out[d] = p
            elif isinstance(node, A.Wsum):
                s = 0.0
                for i in range(len(kids)):
                    if indri:
                        s += val(i, d) * (weights[i] / W)
                    elif isinstance(model, BM25):
                        if d in kids[i][0]:
                            s += kids[i][0][d] * ((model.k3 + 1.0) * weights[i]
                                                  / (model.k3 + weights[i]))
                    elif d in kids[i][0]:
                        s += kids[i][0][d] * (weights[i] / W)
                out[d] = s
            else:
                raise TypeError(node)
        # defaults for the parent
        if isinstance(node, A.And) and indri:
            def dft(d, kids=kids, n=len(kids)):
                p = None
                for i in range(n):
                    v = kids[i][1](d)
                    p = v if p is None else p * v
                return p ** (1.0 / n)
        elif isinstance(node, A.Wand) and indri:
            def dft(d, kids=kids, weights=weights, W=W):
                p = None
                for i in range(len(kids)):
                    v = kids[i][1](d) ** (weights[i] / W)
                    p = v if p is None else p * v
                return p
        elif isinstance(node, A.Wsum) and indri:
            def dft(d, kids=kids, weights=weights, W=W):
                return sum(kids[i][1](d) * (weights[i] / W) for i in range(len(kids)))
        else:
            def dft(d):
                return 0.0
        return out, dft

    return sop(root)[0]


def search(idx: OracleIndex, query: str, model_name: str = "bm25", k: int = 100,
           stemmer: str = "s", **model_kw) -> list[tuple[str, float]]:
    """Parse + evaluate + reference top-k sort. stemmer must match the one
    the oracle's docs were tokenized with (tokenize_full(stemmer=...))."""
    from .query.models import make_model
    from .query.parser import QueryParser

    m = make_model(model_name, **model_kw)
    root = QueryParser(m.name, stemmer=stemmer).parse(query)
    if root is None:
        return []
    return topk(evaluate(idx, root, m), idx.ext_ids, k)


def prf_expansion(idx: OracleIndex, initial: list[tuple[int, float]],
                  num_docs: int, num_terms: int, mu: float,
                  field: str = "body") -> list[tuple[str, float]]:
    """Faithful sequential replica of getExpansionTermIndri
    (QryEval.java:1218-1306), incl. incremental unseen-term mass."""
    fieldlen = float(idx.sum_len(field))
    seen: dict[str, float] = {}
    sum_prev = 0.0
    for d, score in initial[:num_docs]:
        dl = float(idx.get_len(field, d))
        if dl == 0.0 and mu == 0.0:
            continue
        doc_terms = {
            t: len(pl[d])
            for (f_, t), pl in idx.postings.items()
            if f_ == field and d in pl
        }
        unseen = set(seen)
        for t in sorted(doc_terms):
            if "." in t or "," in t or not t.isascii():
                continue
            unseen.discard(t)
            tf = float(doc_terms[t])
            ctf = float(idx.ctf(field, t))
            idf = math.log(fieldlen / ctf)
            ptc = ctf / fieldlen
            prev = seen.get(t, ptc * sum_prev * idf)
            ptd = (tf + mu * ptc) / (dl + mu)
            seen[t] = prev + score * idf * ptd
        for t in unseen:
            ctf = float(idx.ctf(field, t))
            idf = math.log(fieldlen / ctf)
            ptc = ctf / fieldlen
            seen[t] = seen[t] + score * ((mu * ptc) / (dl + mu)) * idf
        sum_prev += (mu * score) / (dl + mu)
    out = sorted(seen.items(), key=lambda kv: (-kv[1], kv[0]))
    return out[:num_terms]
