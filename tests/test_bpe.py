"""Distributed BPE training vs the sequential Sennrich-style replica:
the merge list must be IDENTICAL (same pairs, same order, same freqs)."""

import pytest
from pyspark.sql import functions as F

from searchengines_spark import bpe

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_train_bpe_matches_sequential_replica(spark, docs):
    wc = {r.word: r.cnt for r in bpe.word_freq(docs).collect()}
    want = bpe.learn_bpe_sequential(wc, n_merges=bpe.N_MERGES)
    got = [(r.step, r.left, r.right, r.merged, r.freq)
           for r in bpe.train_bpe(docs, n_merges=bpe.N_MERGES)
           .orderBy("step").collect()]
    assert got == want
    assert len(got) == bpe.N_MERGES  # corpus is rich enough: no early stop
    # greedy argmax: freqs need not be monotone, but every merge freq >= 2
    assert all(m[4] >= 2 for m in got)


def test_first_merge_is_top_initial_pair(spark, docs):
    top = (bpe._pair_counts(bpe._init_vocab(bpe.word_freq(docs)))
           .orderBy(F.desc("freq"), F.asc("left"), F.asc("right"))
           .limit(1).collect()[0])
    first = bpe.train_bpe(docs, n_merges=1).collect()[0]
    assert (first.left, first.right, first.freq) == (top.left, top.right, top.freq)


def test_apply_bpe_lossless_and_merge_consistent(spark):
    df = spark.createDataFrame(
        [(1, "aaab aab b"), (2, "abab xy"), (3, "")], ["doc_id", "text"])
    merges = [("a", "a"), ("a", "b"), ("aa", "b")]
    out = {r.doc_id: list(r.tokens) for r in bpe.apply_bpe(df, merges).collect()}
    # lossless: tokens concatenate back to the spaceless text
    assert "".join(out[1]) == "aaabaabb"
    # greedy in-order application: aaab -> (a,a): [aa,a,b] -> (a,b): [aa,ab];
    # aab -> (a,a): [aa,b] -> (aa,b): [aab]; b -> [b]
    assert out[1] == ["aa", "ab", "aab", "b"]
    assert out[2] == ["ab", "ab", "x", "y"]
    assert out[3] == []


def test_single_char_and_unmergeable_words(spark):
    df = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
    m = bpe.train_bpe(df, n_merges=4).collect()
    assert m == []  # no pair reaches freq 2
