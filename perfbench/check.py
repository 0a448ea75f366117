"""Result checker: engine rankings against the single-node oracle.

The oracle is built in process from ``corpus.make_page`` (the same pages the
engine indexes) with ``oracle.OracleIndex.from_docs``. A ranking is correct
when its urls equal the oracle's top-k in order and every score matches
within rel 1e-9 (the tolerance of the repository's rank-identity tests).
"""

from __future__ import annotations

import math

from searchengines_spark import oracle
from searchengines_spark.corpus import FIELDS, extract_fields, make_page
from searchengines_spark.tokenizer import tokenize_full

REL_TOL = 1e-9
ABS_TOL = 1e-12


def page_doc(doc_i: int, seed: int) -> tuple[str, dict] | None:
    """(url, {field: tokens}) of one page as the engine indexes it; None for
    pages the engine skips (non-English)."""
    url, _, html, _, lang = make_page(doc_i, seed)
    if lang != "en":
        return None
    f = extract_fields(url, html)
    return url, {k: tokenize_full(f[k]) for k in FIELDS}


class Oracle:
    """Oracle over a mutable doc set (the ingest workload grows and shrinks
    it); the index is rebuilt lazily after each change."""

    def __init__(self, seed: int, doc_ids):
        self.seed = seed
        self.docs: dict[int, tuple[str, dict]] = {}
        self.add(doc_ids)

    def add(self, doc_ids) -> None:
        for i in doc_ids:
            d = page_doc(i, self.seed)
            if d is not None:
                self.docs[i] = d
        self._idx = None

    def remove(self, doc_ids) -> None:
        for i in doc_ids:
            self.docs.pop(i, None)
        self._idx = None

    def url(self, doc_i: int) -> str:
        return make_page(doc_i, self.seed)[0]

    def index(self) -> oracle.OracleIndex:
        if self._idx is None:
            self._idx = oracle.OracleIndex.from_docs(list(self.docs.values()))
        return self._idx

    def counts(self) -> tuple[int, int]:
        """(docs, postings) an index of the current docs holds; a posting is
        one (field, term, doc)."""
        idx = self.index()
        return idx.n_docs, sum(len(p) for p in idx.postings.values())

    def search(self, text: str, model: str, k: int, kw: dict) -> list[tuple[str, float]]:
        return oracle.search(self.index(), text, model, k, **kw)


def mismatch(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> str | None:
    """None when got is rank-identical to want, else a short reason."""
    if [u for u, _ in got] != [u for u, _ in want]:
        for r, (g, w) in enumerate(zip(got, want)):
            if g[0] != w[0]:
                return f"rank {r}: url {g[0]} != {w[0]}"
        return f"length {len(got)} != {len(want)}"
    for r, ((_, gs), (_, ws)) in enumerate(zip(got, want)):
        if not math.isclose(gs, ws, rel_tol=REL_TOL, abs_tol=ABS_TOL):
            return f"rank {r}: score {gs!r} != {ws!r}"
    return None


def self_test(orc: Oracle, text: str, model: str, kw: dict) -> list[str]:
    """A correct ranking passes and perturbed ones fail, so a wrong_frac of
    0 cannot come from a checker that accepts anything. Returns the failed
    checks (empty when all pass)."""
    want = orc.search(text, model, 100, kw)
    errors = []
    if len(want) < 2 or want[0][1] == want[-1][1]:
        return [f"checker: self-test query {text!r} has no distinct scores"]
    if mismatch(list(want), want) is not None:
        errors.append("checker: the oracle's own ranking was counted as wrong")
    j = next(i for i in range(1, len(want)) if want[i][1] != want[0][1])
    swapped = list(want)
    swapped[0], swapped[j] = swapped[j], swapped[0]
    rescored = [(u, s * (1 + 1e-6)) for u, s in want]
    for name, bad in (("swapped ranking", swapped), ("perturbed scores", rescored),
                      ("truncated ranking", want[:-1])):
        if mismatch(bad, want) is None:
            errors.append(f"checker: a {name} was counted as correct")
    return errors
