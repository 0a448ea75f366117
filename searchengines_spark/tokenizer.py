"""Frozen tokenization spec — shared verbatim by the Spark engine and the
pure Python oracle (tests).

Mirrors the reference pipeline *shape* — lowercase -> stopword removal ->
stemming (reference: Lucene EnglishAnalyzerConfigurable with Krovetz stemming,
/root/reference/QryEval/QryParser.java:40-49,428-445) — but is our own spec:
a regex token pass, the classic Lucene English stop set, and a deterministic
"s-stemmer". The exact linguistics don't matter; what matters is that engine
and oracle share one frozen pure function so rankings are rank-identical.

Web pages / index build: ``extract_text`` (html bytes -> text, byte-identical
per url as required by BASELINE.json input_hint) and ``tokenize_full``
(stopwords occupy positions but emit no postings — reference keeps stopword
positions in field length, Idx.java:99-115 and TermVector stems[0],
TermVector.java:22-60).
"""

from __future__ import annotations

import html as _htmllib
import re

# ---------------------------------------------------------------------------
# Stop set: Lucene's classic English stop words (public domain list).
# Frozen — do not edit without regenerating every golden file.
# ---------------------------------------------------------------------------
STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

_TOKEN_RE = re.compile(r"[a-z0-9]+")
_TAG_RE = re.compile(rb"<script\b.*?</script\s*>|<style\b.*?</style\s*>", re.S | re.I)
_MARKUP_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def extract_text(html_bytes: bytes) -> str:
    """Deterministic html -> text. Pure function of the bytes (the
    byte-identical-per-url invariant): strip script/style, strip tags,
    unescape entities, collapse whitespace."""
    if html_bytes is None:
        return ""
    raw = _TAG_RE.sub(b" ", html_bytes)
    s = raw.decode("utf-8", errors="replace")
    s = _MARKUP_RE.sub(" ", s)
    s = _htmllib.unescape(s)
    return _WS_RE.sub(" ", s).strip()


def s_stem(tok: str) -> str:
    """Deterministic minimal English s-stemmer (frozen spec).

    Rules (first match wins), only for tokens of length >= 4:
      1. '...sses' -> '...ss'
      2. '...ies'  -> '...y'
      3. '...s' (not '...ss', not '...us') -> drop the 's'
    """
    if len(tok) < 4:
        return tok
    if tok.endswith("sses"):
        return tok[:-2]
    if tok.endswith("ies"):
        return tok[:-3] + "y"
    if tok.endswith("s") and not tok.endswith(("ss", "us")):
        return tok[:-1]
    return tok


# ---------------------------------------------------------------------------
# Krovetz-scope inflectional stemmer ("kstem" mode). The reference stems with
# Lucene's KStem (QryParser.java:40-49) — Krovetz 1993's inflectional stemmer,
# whose defining trick is a LEXICON check before every transformation. The
# lexicon isn't shippable here, so this frozen spec keeps Krovetz's scope
# (plural, past tense, aspect — one transformation per word, nothing
# derivational) and replaces the dictionary guards with Porter's step-1b
# orthographic repairs (undoubling, e-restoration; Porter 1980, public
# domain). Deterministic pure function — index and query sides share it, so
# rankings stay rank-identical regardless of linguistic edge cases.
# Selected per index via build_index(stemmer="kstem"); pinned in MANIFEST.
# ---------------------------------------------------------------------------

_VOWELS = frozenset("aeiou")


def _vflags(s: str) -> list[bool]:
    """Vowel flags with Porter's rule: 'y' is a vowel after a consonant."""
    flags: list[bool] = []
    for i, ch in enumerate(s):
        if ch in _VOWELS:
            flags.append(True)
        elif ch == "y" and i > 0 and not flags[i - 1]:
            flags.append(True)
        else:
            flags.append(False)
    return flags


def _measure(s: str) -> int:
    """Porter's m(): number of vowel->consonant transitions."""
    f = _vflags(s)
    return sum(1 for i in range(1, len(f)) if f[i - 1] and not f[i])


def _ed_ing_fixup(stem: str) -> str:
    """Orthographic repair after stripping -ed/-ing (Porter step 1b):
    at/bl/iz -> +e; doubled final consonant (not l/s/z) -> undouble;
    short cvc stem (m==1, final not w/x/y) -> +e (hop->hope)."""
    if stem.endswith(("at", "bl", "iz")):
        return stem + "e"
    if (len(stem) >= 2 and stem[-1] == stem[-2]
            and stem[-1] not in _VOWELS and stem[-1] not in "lsz"):
        return stem[:-1]
    if len(stem) >= 3:
        c2, v, c1 = stem[-3], stem[-2], stem[-1]
        if (c2 not in _VOWELS and v in _VOWELS and c1 not in _VOWELS
                and c1 not in "wxy" and _measure(stem) == 1):
            return stem + "e"
    return stem


def kstem(tok: str) -> str:
    """Krovetz-scope inflectional stem (frozen spec; see block comment).
    One transformation per word, first match wins. Tokens with digits or
    shorter than 4 chars pass through untouched (same guard as s_stem)."""
    if len(tok) < 4 or not tok.isalpha():
        return tok
    w = tok
    # -- plural ------------------------------------------------------------
    if w.endswith("ies") and len(w) >= 5:
        return w[:-3] + "y"                       # cities -> city
    if (w.endswith("es") and len(w) >= 5
            and (w[-3] in "sxz" or w[-4:-2] in ("ch", "sh"))):
        return w[:-2]                             # boxes -> box, churches -> church
    if w.endswith("s") and not w.endswith(("ss", "us", "is")):
        return w[:-1]                             # tables -> table, ties -> tie
    # -- past tense ----------------------------------------------------------
    if w.endswith("ied") and len(w) >= 5:
        return w[:-3] + "y"                       # carried -> carry
    if w.endswith("eed"):
        return w[:-1] if _measure(w[:-3]) > 0 else w   # agreed -> agree, feed -> feed
    if w.endswith("ed") and len(w) >= 5 and any(_vflags(w[:-2])):
        return _ed_ing_fixup(w[:-2])              # hopped -> hop, hoped -> hope
    # -- aspect (-ing) ---------------------------------------------------------
    if w.endswith("ing") and len(w) >= 6 and any(_vflags(w[:-3])):
        return _ed_ing_fixup(w[:-3])              # running -> run, hoping -> hope
    return w


# Registry of frozen stemmer specs. The stemmer is an INDEX parameter:
# build_index pins the name in MANIFEST.json and the query side resolves the
# same function from it, so documents and queries can never disagree.
STEMMERS = {"s": s_stem, "kstem": kstem}


def get_stemmer(name: str):
    try:
        return STEMMERS[name]
    except KeyError:
        raise ValueError(
            f"unknown stemmer {name!r}; available: {sorted(STEMMERS)}") from None


def tokenize_full(text: str, stemmer: str = "s") -> list[str | None]:
    """Lowercase, regex-split, stop, stem. Returns one slot per raw token;
    stopword slots are None (they hold a position and count toward field
    length but emit no posting)."""
    if not text:
        return []
    stem = get_stemmer(stemmer)
    out: list[str | None] = []
    for tok in _TOKEN_RE.findall(text.lower()):
        out.append(None if tok in STOPWORDS else stem(tok))
    return out


def tokenize_query_term(tok: str, stemmer: str = "s") -> str | None:
    """Tokenize a single query term exactly like document text. Returns None
    if the term is a stopword (the reference drops it and later removes
    emptied operators, QryParser.java:141-179,230-259)."""
    toks = tokenize_full(tok, stemmer=stemmer)
    for t in toks:
        if t is not None:
            return t
    return None
