"""Seeded workload inputs: query pool and stream, warm-up queries, ingest
probes, the append delta and the delete set.

The base corpus is one fixed collection (``CORPUS_SEED``), as in a TREC-style
test collection; everything else is a pure function of the workload seed, so
the same seed always yields the same inputs, and the engine only ever sees
the generated pages and query strings. Terms are picked by Zipf rank from the
corpus vocabulary (``corpus.VOCAB`` is in rank order), in tiers, so hot terms
(in most pages), warm terms and cold terms (in a few pages) all occur.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from searchengines_spark.corpus import VOCAB, make_page

# input sizes, recorded in BENCHMARK.json and the run report
CORPUS_SEED = 42         # corpus.make_page seed of every page
BASE_DOCS = 300          # pages in the bulk-built base corpus
BUILD_SALTS = 1          # build_index n_salts (one docid stripe at this size)
DELTA_DOCS = 20          # pages in the traced ingest append delta
DELETE_URLS = 5          # base urls tombstoned by the traced ingest delete
POOL_PER_CLASS = 40      # distinct term sets per class in the serve pool
STREAM_LEN = 400         # queries in the serve stream (a run takes a prefix)
ZIPF_S = 1.1             # query-popularity skew over each class pool

CLASSES = ("bow", "structured", "positional", "indri")
INDRI_KW = {"mu": 1500.0, "lam": 0.4}

# Zipf-rank ranges of the corpus vocabulary. Warm-up queries use only the
# head term (rank 1) and the reserved band, so they leave the term memos of
# every pool term empty.
TIERS = {"hot": (1, 20), "warm": (20, 200), "reserved": (200, 260), "cold": (260, 1500)}

# Per class: the tier of each term slot, and the query forms. A query's
# position in the stream picks its form, cycle by cycle, so every run sends
# the same forms in the same order and seeds vary only the terms.
SLOTS = {"bow": ("hot", "warm", "cold"), "structured": ("hot", "warm", "cold"),
         # cold terms almost never share a window
         "positional": ("hot", "warm", "warm"), "indri": ("hot", "warm")}
FORMS = {
    "bow": [("{0} {1} {2}", "bm25")],
    "structured": [("#AND( #OR( {0} {1} ) {2} )", "bm25"),
                   ("#OR( #SYN( {0} {1} ) {2} )", "rankedboolean")],
    "positional": [("#NEAR/4( {0} {1} )", "bm25"),
                   ("#SUM( #WINDOW/8( {0} {1} ) {2} )", "bm25")],
    "indri": [("#WAND( {w} {0} {v} {1} )", "indri"),
              ("#WSUM( {w} {0} {v} {1} )", "indri")],
}


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    model: str
    kw: tuple = ()

    @property
    def key(self) -> tuple:
        return (self.text, self.model, self.kw)


@dataclass
class Inputs:
    seed: int
    stream: list[Query]
    warmup: list[Query]
    probes: dict[str, str]
    delta: list[int]
    delete_ids: list[int]


def make_terms(rng: np.random.Generator, tiers: tuple[str, ...]) -> tuple:
    """Distinct seeded terms, one per tier slot, and an Indri weight."""
    out: list[str] = []
    for tier in tiers:
        lo, hi = TIERS[tier]
        t = VOCAB[int(rng.integers(lo, hi))]
        while t in out:
            t = VOCAB[int(rng.integers(lo, hi))]
        out.append(t)
    return tuple(out), round(float(rng.uniform(0.2, 0.8)), 2)


def render(cls: str, form: int, terms: tuple) -> Query:
    words, w = terms
    text, model = FORMS[cls][form % len(FORMS[cls])]
    kw = tuple(sorted(INDRI_KW.items())) if model == "indri" else ()
    return Query(cls, text.format(*words, w=w, v=round(1 - w, 2)), model, kw)


def _pool(rng, cls: str) -> list[tuple]:
    pool: list[tuple] = []
    while len(pool) < POOL_PER_CLASS:
        terms = make_terms(rng, SLOTS[cls])
        if terms[0] not in [p[0] for p in pool]:
            pool.append(terms)
    return pool


def _zipf_index(rng, n: int) -> int:
    w = np.arange(1, n + 1, dtype=np.float64) ** (-ZIPF_S)
    return int(np.searchsorted(np.cumsum(w / w.sum()), rng.random()))


def make_inputs(seed: int) -> Inputs:
    """All inputs of one run. The serve stream cycles the four classes in a
    fixed order and draws each query's terms Zipf-skewed from its class pool,
    so hot, warm and cold terms and exact repeats all occur."""
    rng = np.random.default_rng([seed, 0x5E4C])
    pools = {c: _pool(rng, c) for c in CLASSES}
    n = len(CLASSES)
    stream = [render(CLASSES[i % n], i // n,
                     pools[CLASSES[i % n]][_zipf_index(rng, POOL_PER_CLASS)])
              for i in range(STREAM_LEN)]
    warmup = [render(c, 0, make_terms(rng, ("reserved",) * len(SLOTS[c]))) for c in CLASSES]
    warmup[2] = render("positional", 0, ((VOCAB[0], warmup[2].text.split()[2]), 0.5))
    # ingest probes: after the build and the append (bow), the delete
    # (positional) and the compact (structured)
    (a, b, c), _ = make_terms(rng, ("hot", "warm", "warm"))
    probes = {"bow": f"{a} {b} {c}",
              "positional": f"#SUM( #NEAR/6( {a} {b} ) {c} )",
              "structured": f"#AND( #OR( {a} {b} ) {c} )"}
    # delta pages: a seeded id range past the base corpus
    lo = BASE_DOCS + DELTA_DOCS * int(rng.integers(1, 10_000))
    delta = list(range(lo, lo + DELTA_DOCS))
    # English base pages only (the engine indexes no other language)
    delete_ids: list[int] = []
    for i in rng.permutation(BASE_DOCS):
        if make_page(int(i), CORPUS_SEED)[4] == "en":
            delete_ids.append(int(i))
            if len(delete_ids) == DELETE_URLS:
                break
    return Inputs(seed, stream, warmup, probes, delta, sorted(delete_ids))


def fingerprint(inp: Inputs) -> tuple:
    """What the engine receives: query texts, delta page bytes, delete urls."""
    h = hashlib.sha256()
    for i in inp.delta:
        url, _, html, _, _ = make_page(i, CORPUS_SEED)
        h.update(url.encode() + html)
    return (tuple(q.key for q in inp.stream),
            tuple(q.key for q in inp.warmup),
            tuple(sorted(inp.probes.items())),
            h.hexdigest(),
            tuple(make_page(i, CORPUS_SEED)[0] for i in inp.delete_ids))


def self_test(seed: int) -> list[str]:
    """Same seed -> same queries, delta and delete set; another
    seed -> different ones. Returns the failed checks (empty when all pass)."""
    a, b, c = (fingerprint(make_inputs(s)) for s in (seed, seed, seed + 1))
    errors = []
    if a != b:
        errors.append("generator: same seed gave different inputs")
    names = ("stream", "warmup", "probes", "delta", "delete set")
    for name, x, y in zip(names, a, c):
        if x == y:
            errors.append(f"generator: seeds {seed} and {seed + 1} gave the same {name}")
    return errors
