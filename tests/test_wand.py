"""``wand_topk``, the flat BM25 bag of words, through the stripe job: the
same scores as Engine.search, and a true decode count in its debug
output. The stripe evaluator itself (a compiled Program over one stripe)
must equal exhaustive evaluation on random postings."""

import math
from types import SimpleNamespace

import numpy as np
import pytest

from searchengines_spark.index import codec
from searchengines_spark.query import ast
from searchengines_spark.query.models import BM25
from searchengines_spark.query.planner import Program
from searchengines_spark.query.wand import _segment_cut, _Stripe

K1, B = 1.2, 0.75


class _MemStripe(_Stripe):
    """A _Stripe over in-memory doclens instead of the norms sidecar."""

    def __init__(self, blocks: dict, doclens: np.ndarray):
        super().__init__(0, len(doclens), blocks, {}, "")
        self.doclens = doclens

    def norms(self, field: str) -> np.ndarray:
        return self.doclens


def make_stripe(rng, payload, n_terms=4, n_docs=400, block=16, density=0.3):
    """Random postings -> a one-stripe _Stripe + brute-force data. payload
    "blocks": codec-encoded index blocks; "raw": decoded cold runs."""
    doclens = rng.integers(20, 300, n_docs).astype(np.int32)
    blocks, postings, stats, n_enc = {}, {}, {}, 0
    for t in range(n_terms):
        mask = rng.random(n_docs) < density * (0.3 + rng.random())
        docids = np.flatnonzero(mask).astype(np.uint64)
        tfs = rng.integers(1, 9, len(docids)).astype(np.uint64)
        stats[("body", f"t{t}")] = (len(docids), int(tfs.sum()))
        postings[t] = {int(d): int(tf) for d, tf in zip(docids, tfs)}
        blks = []
        for s in range(0, len(docids), block):
            d, tf = docids[s:s + block], tfs[s:s + block]
            if payload == "blocks":
                blks.append(("varint", *codec.encode_block(d, tf)))
            else:
                blks.append(("raw", d, tf))
        if blks:
            blocks[("body", f"t{t}")] = blks
            n_enc += len(blks) if payload == "blocks" else 0
    return _MemStripe(blocks, doclens), postings, stats, n_enc


def brute_force(postings, stats, doclens, k, conjunctive):
    """#SUM (any term matches, scores added in query order) or, with
    conjunctive, BM25 #AND (every term matches, the minimum score)."""
    n_docs, n_terms = len(doclens), len(postings)
    avg = int(doclens.astype(np.int64).sum()) / n_docs
    docs = set()
    for pl in postings.values():
        docs |= set(pl)
    out = []
    for d in docs:
        present = [t for t in range(n_terms) if d in postings[t]]
        if conjunctive and len(present) < n_terms:
            continue
        parts = []
        for t in present:  # query-term order
            df = stats[("body", f"t{t}")][0]
            idf = max(0.0, math.log((n_docs - df + 0.5) / (df + 0.5)))
            tf = float(postings[t][d])
            dl = float(doclens[d])
            parts.append(idf * tf / (tf + K1 * ((1.0 - B) + B * dl / avg)))
        s = min(parts) if conjunctive else 0.0
        if not conjunctive:
            for p in parts:
                s += p
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


# the case ids name the two flat stripe kernels this test first covered,
# kept so the case names stay stable; both are now one evaluator, and the
# axis is the payload form a stripe decodes
@pytest.mark.parametrize("payload", ["blocks", "raw"],
                         ids=["_wand_stripe", "_bulk_stripe"])
@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("conjunctive", [False, True])
@pytest.mark.parametrize("k", [3, 10, 1000])
def test_wand_exact(payload, seed, conjunctive, k):
    """A compiled BM25 program over one stripe, cut to its top k as the
    stripe task does, equals exhaustive evaluation: same docids in the
    reference order, same scores. Each encoded block decodes exactly
    once; raw runs decode none."""
    rng = np.random.default_rng(seed)
    st, postings, stats, n_enc = make_stripe(rng, payload)
    n_docs = len(st.doclens)
    reader = SimpleNamespace(
        n_docs=n_docs,
        field_stats={"body": (n_docs, int(st.doclens.astype(np.int64).sum()))})
    leaves = [ast.Score(ast.Term(f"t{t}", "body")) for t in range(len(postings))]
    root = ast.And(leaves) if conjunctive else ast.Sum(leaves)
    score, mask = Program(root, BM25(K1, B), reader, stats).evaluate(st, {})
    cand = np.flatnonzero(mask)
    top = _segment_cut(cand + st.lo, score[cand], k, [0])  # a base build
    got = list(zip((cand[top] + st.lo).tolist(), score[cand][top].tolist()))
    want = brute_force(postings, stats, st.doclens, k, conjunctive)
    assert [d for d, _ in got] == [d for d, _ in want], (seed, conjunctive, k)
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12), (seed, gd, gs, ws)
    assert st.decodes == n_enc


def test_wand_spark_end_to_end(spark, tiny_index):
    """wand_topk == Engine.search's #SUM on the tiny index, score for
    score."""
    from searchengines_spark.engine import Engine
    from searchengines_spark.query.wand import wand_topk

    terms = ["cebaba1", "dibaba2", "fobaba3"]
    eng = Engine(tiny_index)
    want = [(r["url"], r["score"]) for r in
            eng.search(" ".join(terms), "bm25", 20).collect()]
    got = [(r["url"], r["score"]) for r in
           wand_topk(tiny_index, terms, k=20).collect()]
    assert got == want


def test_debug_decode_total_is_k_invariant(spark, tmp_path):
    """The debug output's decode total must be the kernel's true count —
    emitted once per (stripe, query), not duplicated onto all k rows. The
    bulk kernel decodes every block regardless of k, so summing the debug
    column at k=50 and k=2 must agree (the pre-fix duplication made the
    sum scale with k). Needs STRIPED terms (cold broadcast postings ship
    raw and never count as decodes), so build with salt_min_df=1."""
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.query.wand import wand_topk

    d = str(tmp_path / "idx")
    build_index(spark, generate_pages(spark, 300, seed=42, partitions=4),
                d, n_salts=4, salt_min_df=1)
    reader = IndexReader(spark, d)
    terms = ["cebaba1", "dibaba2", "fobaba3"]
    big = sum(r["decodes"] for r in
              wand_topk(reader, terms, k=50, debug=True).collect())
    small = sum(r["decodes"] for r in
                wand_topk(reader, terms, k=2, debug=True).collect())
    assert big > 0 and big == small
