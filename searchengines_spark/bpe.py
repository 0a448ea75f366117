"""Distributed BPE tokenizer training (Sennrich et al. 2016, learn_bpe)
and application — the tokenizer-training step of an LLM data pipeline,
re-expressed for Spark.

Scale shape: the corpus is touched ONCE — a groupBy collapses it to the
(word, count) frequency table (vocab-sized: 10^6-10^9 rows at crawl scale,
vs 10^12+ token occurrences), and every merge iteration runs over that
table only. Per iteration: one doc-local pair explode + one groupBy sum
(map-side partial agg) + a 2-row-bounded orderBy-limit collect for the
argmax, then one Arrow-batched numpy kernel applies the winning merge to
the symbol sequences. Iteration i caches its vocab so i+1 never replays
the chain (same discipline as links.pagerank).

Determinism: ties on pair count break lexicographically (left asc, right
asc), so the merge list is a pure function of the corpus — the pytest gate
(tests/test_bpe.py) checks the distributed merge list is IDENTICAL to a
sequential pure-Python reference implementation, and that the first merge
is the top step-0 pair.

Reference anchor: the reference engine ships a fixed Lucene analyzer
(QryParser.java:40-49) and never trains a tokenizer; this module is part
of the beyond-reference training-data layer (SURVEY.md "pipeline ops").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: merge budget for the gated query (production: 32k-100k; the mechanics
#: and the determinism contract are identical at any budget)
N_MERGES = 12

_SYM_SCHEMA = T.StructType([
    T.StructField("syms", T.ArrayType(T.StringType()), False),
    T.StructField("cnt", T.LongType(), False),
])

_MERGE_SCHEMA = T.StructType([
    T.StructField("step", T.IntegerType(), False),
    T.StructField("left", T.StringType(), False),
    T.StructField("right", T.StringType(), False),
    T.StructField("merged", T.StringType(), False),
    T.StructField("freq", T.LongType(), False),
])


def word_freq(docs: DataFrame) -> DataFrame:
    """documents(text) -> (word, cnt): the ONE corpus-sized pass."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _init_vocab(wf: DataFrame) -> DataFrame:
    """(word, cnt) -> (syms=array of single characters, cnt). No
    end-of-word marker — a documented simplification shared with the
    sequential reference replica (boundary handling is orthogonal to the
    distributed mechanics)."""
    return wf.select(F.split("word", "").alias("syms"), "cnt")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word count. Doc-local explode
    (posexplode + self-zip via slice) — no join, one groupBy."""
    pairs = vocab.select(
        F.posexplode(F.slice("syms", 1, F.size("syms") - 1)).alias("i", "left"),
        F.col("syms"), F.col("cnt"),
    ).select(
        F.col("left"),
        F.element_at("syms", F.col("i") + 2).alias("right"),
        F.col("cnt"),
    )
    return pairs.groupBy("left", "right").agg(F.sum("cnt").alias("freq"))


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Replace every adjacent (left, right) with left+right, greedy
    left-to-right (standard BPE semantics: after a merge at i the scan
    resumes at the merged symbol, so 'a a a' merges once for pair (a,a)
    at positions 0-1, then (aa, a) remains). Arrow-batched kernel over
    the vocab table — vectorized across rows, tight loop only within the
    handful of symbols of each word."""
    merged = left + right

    def kernel(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                s = list(syms)
                res, i, n = [], 0, len(s)
                while i < n:
                    if i + 1 < n and s[i] == left and s[i + 1] == right:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                out.append(res)
            yield pd.DataFrame({"syms": out, "cnt": pdf["cnt"]})

    return vocab.mapInPandas(kernel, _SYM_SCHEMA)


def train_bpe(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Learn `n_merges` BPE merges; returns the merge table
    (step, left, right, merged, freq) — the tokenizer artifact. Stops
    early when no pair occurs twice."""
    spark = docs.sparkSession
    vocab = _init_vocab(word_freq(docs)).cache()
    vocab.count()
    merges: list[tuple] = []
    try:
        for step in range(n_merges):
            top = (_pair_counts(vocab)
                   .orderBy(F.desc("freq"), F.asc("left"), F.asc("right"))
                   .limit(1).collect())
            if not top or top[0]["freq"] < 2:
                break
            l, r, fq = top[0]["left"], top[0]["right"], int(top[0]["freq"])
            merges.append((step, l, r, l + r, fq))
            new_vocab = _apply_merge(vocab, l, r).cache()
            new_vocab.count()
            vocab.unpersist()
            vocab = new_vocab
    finally:
        vocab.unpersist()
    return spark.createDataFrame(merges, _MERGE_SCHEMA)


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize documents with a learned merge list: (doc_id, tokens).
    Merges apply in training order (BPE's inference rule). Broadcast the
    merge list; one Arrow-batched pass over the corpus, no shuffle."""
    spark = docs.sparkSession
    b_merges = spark.sparkContext.broadcast(list(merges))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
    ])

    def kernel(batches):
        ms = b_merges.value
        for pdf in batches:
            toks_out = []
            for text in pdf["text"]:
                toks: list[str] = []
                for w in text.split(" "):
                    if not w:
                        continue
                    s = list(w)
                    for left, right in ms:
                        merged, res, i, n = left + right, [], 0, len(s)
                        while i < n:
                            if i + 1 < n and s[i] == left and s[i + 1] == right:
                                res.append(merged)
                                i += 2
                            else:
                                res.append(s[i])
                                i += 1
                        s = res
                    toks.extend(s)
                toks_out.append(toks)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tokens": toks_out})

    return docs.select("doc_id", "text").mapInPandas(kernel, schema)


def learn_bpe_sequential(word_counts: dict[str, int],
                         n_merges: int = N_MERGES) -> list[tuple]:
    """Pure-Python reference replica (Sennrich learn_bpe restated) — the
    pytest oracle for train_bpe. Same init, same greedy apply, same
    (freq desc, left asc, right asc) tie-break, same freq>=2 stop."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges: list[tuple] = []
    for step in range(n_merges):
        pc: dict[tuple, int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (l, r), fq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if fq < 2:
            break
        merges.append((step, l, r, l + r, fq))
        new_vocab: dict[tuple, int] = {}
        for syms, c in vocab.items():
            res, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            key = tuple(res)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges
