"""Batched search (Engine.search_batch_df): N query trees evaluate in ONE
stripe job with a qid dimension. Gates:

- float-identity: for every model, batched scores == per-query scores
  exactly (same stripe program, same operation order — not just 1e-9);
- positional queries in a batch match their solo runs;
- O(1) jobs: a warm 8-query batch issues no more Spark jobs than a warm
  2-query batch.
"""

import pytest

from searchengines_spark.engine import Engine

QS = {
    "flat_and": "#AND( cebaba1 dibaba2 )",
    "nested_or": "#OR( dibaba2 #AND( fobaba3 gubaba4 ) )",
    "wand": "#WAND( 0.6 cebaba1 0.4 #AND( dibaba2 fobaba3 ) )",
    "wsum_missing": "#WSUM( 1 cebaba1 2 zzznoterm )",
    "sum3": "#SUM( cebaba1 dibaba2 fobaba3 )",
    "single": "gubaba4",
    "all_missing": "#AND( zzznoterm )",
    "dup_term": "#OR( cebaba1 cebaba1 )",
}

MODELS = ["indri", "rankedboolean", "unrankedboolean", "bm25"]


@pytest.mark.parametrize("model", MODELS)
def test_fold_scores_identical_to_per_query(spark, tiny_index, model):
    eng = Engine(tiny_index)
    batch = eng.search_batch_df(QS, model, 50).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], {})[r["url"]] = r["score"]
    for qid, q in QS.items():
        solo = {r["url"]: r["score"]
                for r in eng.search(q, model=model, k=50).collect()}
        got = by_qid.get(qid, {})
        assert set(solo) == set(got), (model, qid)
        for u, s in solo.items():
            assert s == got[u], (model, qid, u, s, got[u])


def test_positional_in_batch_still_correct(spark, tiny_index):
    """A batch mixing term-leaf and positional queries scores each like
    its solo run."""
    eng = Engine(tiny_index)
    mixed = {"f": "#AND( cebaba1 dibaba2 )", "p": "#NEAR/4( cebaba1 dibaba2 )"}
    rows = eng.search_batch_df(mixed, "bm25", 20).collect()
    got = {r["qid"]: {r2["url"]: r2["score"] for r2 in rows if r2["qid"] == r["qid"]}
           for r in rows}
    for qid, q in mixed.items():
        solo = {r["url"]: r["score"]
                for r in eng.search(q, model="bm25", k=20).collect()}
        assert solo == got.get(qid, {}), qid


def test_fold_jobs_constant_in_query_count(spark, tiny_index):
    eng = Engine(tiny_index)
    sc = spark.sparkContext
    qs = {str(i): f"#AND( {t1} {t2} )" for i, (t1, t2) in enumerate([
        ("haceba4", "badiba5"), ("cebaba1", "dibaba2"), ("fobaba3", "gubaba4"),
        ("gubaba4", "cebaba1"), ("dibaba2", "fobaba3"), ("badiba5", "haceba4"),
        ("cebaba1", "fobaba3"), ("dibaba2", "gubaba4")])}
    two = dict(list(qs.items())[:2])
    # warm: memoized term stats + codegen
    eng.search_batch_df(two, "indri", 5).collect()
    eng.search_batch_df(qs, "indri", 5).collect()

    def jobs(fn):
        b = len(sc.statusTracker().getJobIdsForGroup(None) or [])
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(None) or []) - b

    n2 = jobs(lambda: eng.search_batch_df(two, "indri", 5).collect())
    n8 = jobs(lambda: eng.search_batch_df(qs, "indri", 5).collect())
    assert n8 <= n2, (n8, n2)
