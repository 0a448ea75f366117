"""Batch run driver — the equivalent of the reference's QryEval.main
(QryEval.java:45-92): a parameter dict selects retrieval model / PRF / LTR /
diversification, queries stream from a ``qid:querytext`` file, output is
TREC-format lines (``qid Q0 extid rank score runid``).

Parameter keys mirror the reference param files (PARAM_DIR/*.param):
  retrievalAlgorithm  UnrankedBoolean | RankedBoolean | BM25 | Indri | ltr
  trecEvalOutputLength, trecEvalOutputPath
  BM25:k_1 BM25:b BM25:k_3 / Indri:mu Indri:lambda
  prf, prf:numDocs, prf:numTerms, prf:Indri:mu, prf:expansionField,
  prf:Indri:origWeight
  diversity, diversity:algorithm (xQuAD|PM2), diversity:lambda,
  diversity:maxInputRankingsLength, diversity:maxResultRankingLength,
  diversity:intentsFile
  ltr:trainingQueryFile, ltr:trainingQrelsFile (qid 0 extid rel)
  snippets=true, snippets:width, snippets:length, snippets:pagesPath,
  snippets:outputPath (engine extension — the reference emits bare TREC
  ids; a snippeted run writes 'qid url rank snippet' lines to a sidecar
  file next to the TREC output)
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .engine import Engine
from .index.build import IndexReader


def parse_queries(path_or_lines) -> dict[str, str]:
    """``qid:querytext`` lines (QryEval.java:1381-1386)."""
    if isinstance(path_or_lines, str) and os.path.exists(path_or_lines):
        with open(path_or_lines) as f:
            lines = f.readlines()
    else:
        lines = list(path_or_lines)
    out = {}
    for ln in lines:
        ln = ln.strip()
        if not ln:
            continue
        qid, _, q = ln.partition(":")
        out[qid.strip()] = q.strip()
    return out


def parse_params(path_or_lines) -> dict[str, str]:
    """``key=value`` param file — the reference's parameter-file shape
    (QryEval.readParameterFile; every PARAM_DIR/*.param is this format).
    Blank lines and ``#`` comments skipped; values keep internal spaces."""
    if isinstance(path_or_lines, str) and os.path.exists(path_or_lines):
        with open(path_or_lines) as f:
            lines = f.readlines()
    elif isinstance(path_or_lines, str):
        lines = path_or_lines.splitlines()
    else:
        lines = list(path_or_lines)
    out = {}
    for ln in lines:
        ln = ln.strip()
        if not ln or ln.startswith("#"):
            continue
        k, _, v = ln.partition("=")
        out[k.strip()] = v.strip()
    return out


def run_param_file(reader: IndexReader, params: dict | str,
                   run_id: str = "run") -> list[str]:
    """One-call param-file dispatch — the QryEval.main contract
    (QryEval.java:45-92): queries come from ``queryFilePath``, TREC output
    goes to ``trecEvalOutputPath``, ``retrievalAlgorithm=ltr`` routes to
    the LTR artifact flow (ltr:* keys), everything else (BM25 / Indri /
    RankedBoolean, + prf / diversity) through run_batch. Accepts a parsed
    dict, a path to a .param file, or raw param-file text."""
    if isinstance(params, str):
        params = parse_params(params)
    if str(params.get("snippets", "false")).lower() == "true":
        _validate_snippet_params(params)  # fail fast, BEFORE retrieval runs
    queries = parse_queries(params["queryFilePath"])
    if params.get("retrievalAlgorithm", "BM25").lower() == "ltr":
        lines = run_ltr(reader, params, None, queries, None, run_id)
    else:
        lines = run_batch(reader, params, queries, run_id)
    if "trecEvalOutputPath" in params:
        with open(params["trecEvalOutputPath"], "w") as f:
            f.write("\n".join(lines) + "\n")
    if str(params.get("snippets", "false")).lower() == "true":
        _write_snippets(reader, params, queries, lines)
    return lines


def _validate_snippet_params(params: dict) -> None:
    """Configuration errors surface before the retrieval batch spends
    minutes of cluster time, not at the sidecar write after it."""
    if ("snippets:outputPath" not in params
            and "trecEvalOutputPath" not in params):
        raise ValueError(
            "snippets=true needs snippets:outputPath (or trecEvalOutputPath"
            " to derive '<trecEvalOutputPath>.snippets' from)")
    if "snippets:pagesPath" not in params:
        raise ValueError(
            "snippets=true needs snippets:pagesPath (the raw pages parquet"
            " — the index stores postings, not text)")
    if int(params.get("snippets:width", 30)) < 1:
        raise ValueError("snippets:width must be >= 1")


def _write_snippets(reader: IndexReader, params: dict,
                    queries: dict[str, str], lines: list[str]) -> list[str]:
    """Snippet sidecar for a param-file run: for each query's top
    ``snippets:length`` TREC results, the best-window highlighted passage
    (Engine.snippets) as ``qid url rank snippet`` lines written to
    ``snippets:outputPath`` (default: trecEvalOutputPath + '.snippets').

    ``snippets:pagesPath`` names the raw pages parquet (the index stores
    postings, not text — snippeting is a doc-store point fetch). ALL
    queries run as ONE Spark job (Engine.snippets_batch): the whole
    batch's (qid, url) hits broadcast into a single pages scan and one
    (sum of k)-row mapInPandas walks every window; nothing corpus-sized
    moves, and a 100-query run costs one scan, not 100."""
    _validate_snippet_params(params)  # also guards direct callers
    eng = Engine(reader)
    pages = reader.spark.read.parquet(params["snippets:pagesPath"])
    width = int(params.get("snippets:width", 30))
    topn = int(params.get("snippets:length", 10))
    out_path = params.get("snippets:outputPath") or (
        params["trecEvalOutputPath"] + ".snippets")
    ranked = parse_ranking(lines)
    tops = {qid: [(u, s) for u, s in ranked.get(qid, [])[:topn]
                  if u != "dummy"] for qid in queries}
    rows = [(qid, u, s) for qid, top in tops.items() for u, s in top]
    out_lines: list[str] = []
    if rows:
        res = reader.spark.createDataFrame(rows, ["qid", "url", "score"])
        got = eng.snippets_batch(res, pages, queries, width=width).collect()
        snips = {(r["qid"], r["url"]): r["snippet"] for r in got}
        for qid in queries:
            for rank, (u, _s) in enumerate(tops.get(qid, []), 1):
                if (qid, u) in snips:
                    out_lines.append(f"{qid} {u} {rank} {snips[(qid, u)]}")
    with open(out_path, "w") as f:
        f.write("\n".join(out_lines) + "\n")
    return out_lines


def parse_intents(path_or_lines) -> dict[str, list[tuple[int, str]]]:
    """``qid.i:intent text`` lines (QryEval.java:319-334)."""
    if isinstance(path_or_lines, str) and os.path.exists(path_or_lines):
        with open(path_or_lines) as f:
            lines = f.readlines()
    else:
        lines = list(path_or_lines)
    out: dict[str, list[tuple[int, str]]] = {}
    for ln in lines:
        ln = ln.strip()
        if not ln:
            continue
        head, _, text = ln.partition(":")
        qid, _, i = head.partition(".")
        out.setdefault(qid, []).append((int(i), text.strip()))
    return out


def parse_ranking(path_or_lines) -> dict[str, list[tuple[str, float]]]:
    """TREC ranking file ``qid Q0 extdocid rank score runid`` -> qid ->
    [(url, score)] in rank order (initial-ranking source for PRF and
    diversity, QryEval.java:1333-1368 / 247-305). Intent rankings use
    ``qid.i`` as the qid column."""
    if isinstance(path_or_lines, str) and os.path.exists(path_or_lines):
        with open(path_or_lines) as f:
            lines = f.readlines()
    else:
        lines = list(path_or_lines)
    out: dict[str, list[tuple[str, float]]] = {}
    for ln in lines:
        parts = ln.split()
        if len(parts) >= 5:
            out.setdefault(parts[0], []).append((parts[2], float(parts[4])))
    return out


def parse_qrels(path_or_lines) -> list[tuple[str, str, int]]:
    """``qid 0 extdocid rel`` (QryEval.java:520-544); rel<0 -> 0."""
    if isinstance(path_or_lines, str) and os.path.exists(path_or_lines):
        with open(path_or_lines) as f:
            lines = f.readlines()
    else:
        lines = list(path_or_lines)
    out = []
    for ln in lines:
        parts = ln.split()
        if len(parts) >= 4:
            out.append((parts[0], parts[2], max(0, int(parts[3]))))
    return out


def _model_kw(params: dict) -> tuple[str, dict]:
    algo = params.get("retrievalAlgorithm", "BM25").lower()
    if algo == "bm25":
        return "bm25", {
            "k1": float(params.get("BM25:k_1", 1.2)),
            "b": float(params.get("BM25:b", 0.75)),
            "k3": float(params.get("BM25:k_3", 0.0)),
        }
    if algo == "indri":
        return "indri", {
            "mu": float(params.get("Indri:mu", 2500)),
            "lam": float(params.get("Indri:lambda", 0.4)),
        }
    return algo, {}


def run_batch(reader: IndexReader, params: dict, queries: dict[str, str],
              run_id: str = "run") -> list[str]:
    """EP1/EP3 (+PRF): returns TREC output lines for every query."""
    eng = Engine(reader)
    k = int(params.get("trecEvalOutputLength", 100))
    model, kw = _model_kw(params)

    if str(params.get("diversity", "false")).lower() == "true":
        return _run_diversity(eng, params, queries, run_id, k, model, kw)

    use_prf = params.get("prf", "").lower() in ("indri", "true")
    lines: list[str] = []
    if not use_prf:
        # the whole workload is ONE Spark action: shared postings scan over
        # the union of every query's terms, one window top-k, one collect
        rankings = eng.search_batch(queries, model, k, **kw)
        for qid in queries:
            lines.extend(Engine.trec_lines(qid, rankings[qid], run_id))
        return lines

    from .prf import (
        expanded_query,
        expansion_terms_batch,
        learned_query,
        write_expanded_query,
        write_expansion_list,
    )

    # PRF is inherently two-pass (expansion depends on the initial ranking),
    # but each PASS batches every query into ONE Spark action — an N-query
    # PRF workload is O(1) actions, not O(N) (the per-query loop was the
    # round-2 scale bug; the reference loops QryEval.java:1388-1416).
    num_docs = int(params.get("prf:numDocs", 10))
    num_terms = int(params.get("prf:numTerms", 10))
    prf_mu = float(params.get("prf:Indri:mu", 0.0))
    orig_w = float(params.get("prf:Indri:origWeight", 0.5))
    field = params.get("prf:expansionField", "body")
    # the rewritten #WAND embeds the original query as ONE operand, so bare
    # bag-of-words queries wrap in the model default op (same as prf_search)
    wrapped = {
        qid: (q if q.strip().startswith("#")
              else ("#SUM( " if model == "bm25" else "#AND( ") + q + " )")
        for qid, q in queries.items()
    }

    # pass 1 — every query's initial top-numDocs in one batched action
    if "prf:initialRankingFile" in params:
        ranked = parse_ranking(params["prf:initialRankingFile"])
        init_urls = {qid: ranked.get(qid, [])[:num_docs] for qid in queries}
    else:
        rows = eng.search_batch_df(wrapped, model, num_docs, **kw).collect()
        init_urls = {qid: [] for qid in queries}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            init_urls[r["qid"]].append((r["url"], r["score"]))

    # url -> docid for the UNION of top urls: one collect bounded by
    # n_queries * numDocs rows — never the whole docid map
    all_urls = sorted({u for lst in init_urls.values() for u, _ in lst})
    url2id = {r["url"]: int(r["docid"]) for r in
              eng.reader.docid_url_map()
              .filter(F.col("url").isin(all_urls)).collect()}
    initials = {qid: [(url2id[u], s) for u, s in lst if u in url2id]
                for qid, lst in init_urls.items()}

    # expansion scoring — one job for every query (groupBy(qid, term))
    terms_by_qid = expansion_terms_batch(
        eng.reader, initials, num_docs, num_terms, prf_mu, field)
    for qid in queries:  # artifacts accumulate in query order
        if "prf:expansionQueryFile" in params:
            write_expanded_query(qid, learned_query(terms_by_qid[qid]),
                                 params["prf:expansionQueryFile"])
        if "prf:qryOutFile" in params:
            write_expansion_list(terms_by_qid[qid], params["prf:qryOutFile"])

    # pass 2 — every expanded query's final ranking in one batched action
    expanded = {qid: expanded_query(wrapped[qid],
                                    learned_query(terms_by_qid[qid]), orig_w)
                for qid in queries}
    rankings = eng.search_batch(expanded, model, k, **kw)
    for qid in queries:
        lines.extend(Engine.trec_lines(qid, rankings[qid], run_id))
    return lines


def _run_diversity(eng: Engine, params, queries, run_id, k, model, kw) -> list[str]:
    """EP3 (QryEval.java:231-487): query + per-intent rankings -> greedy
    re-rank via xQuAD/PM2."""
    from .diversify import diversify_df

    max_in = int(params.get("diversity:maxInputRankingsLength", 100))
    max_out = int(params.get("diversity:maxResultRankingLength", 100))
    lam = float(params.get("diversity:lambda", 0.5))
    algo = params.get("diversity:algorithm", "xQuAD")

    spark = eng.reader.spark
    url_ids = eng.reader.docid_url_map()
    rows = []
    rdf = None
    if "diversity:initialRankingFile" in params:
        # rankings supplied as a TREC file: qid rows = query ranking,
        # qid.i rows = intent rankings (QryEval.java:247-305). The file is
        # the SMALL side (thousands of rows) — parse it into a DataFrame and
        # broadcast-join it against the docid map; never collect the
        # O(corpus) docid map to the driver (the round-2 scale bug).
        ranked = parse_ranking(params["diversity:initialRankingFile"])
        file_rows = []
        for key, ranking in ranked.items():
            qid, _, i = key.partition(".")
            if qid not in queries:
                continue
            intent_no = int(i) if i else 0
            for u, s in ranking:
                file_rows.append((qid, intent_no, u, float(s)))
        rdf = (
            url_ids.join(
                F.broadcast(spark.createDataFrame(
                    file_rows, ["qid", "intent", "url", "score"])), "url")
            .select("qid", "intent", "docid", "score")
        )
    else:
        # every (query, intent) ranking in ONE batched action: key them as
        # "qid\x00intent" through search_batch_df, split back after
        intents = parse_intents(params["diversity:intentsFile"])
        batch = {}
        for qid, q in queries.items():
            batch[f"{qid}\x00{0}"] = q
            for i, text in intents.get(qid, []):
                batch[f"{qid}\x00{i}"] = text
        res = (eng.search_batch_df(batch, model, max_in, **kw)
               .join(url_ids, "url").collect())
        for r in res:
            qid, _, i = r["qid"].partition("\x00")
            rows.append((qid, int(i), int(r["docid"]), float(r["score"])))
    if rdf is None:
        rdf = spark.createDataFrame(rows, ["qid", "intent", "docid", "score"])
    out = diversify_df(rdf, algo, lam, max_in, max_out).join(url_ids, "docid")
    by_qid: dict[str, list] = {}
    for r in out.collect():  # ONE collect for every query's diversified list
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    lines = []
    for qid in queries:
        rs = sorted(by_qid.get(qid, []))[:k]
        lines.extend(Engine.trec_lines(qid, [(u, s) for _, u, s in rs], run_id))
    return lines


def run_ltr(reader: IndexReader, params: dict,
            train_queries: dict[str, str] | None = None,
            test_queries: dict[str, str] | None = None,
            qrels: list[tuple[str, str, int]] | None = None,
            run_id: str = "run") -> list[str]:
    """EP2 (QryEval.java:951-1057): train features on qrels, initial BM25
    top-100 for test queries, feature-score rerank, TREC output.

    Honors the reference's full ltr:* key set: trainingQueryFile /
    trainingQrelsFile (used when the corresponding argument is None),
    toolkit (SVMRank -> pairwise linear, RankLib -> GBT, else ridge),
    featureDisable, and the four artifact files —
    trainingFeatureVectorsFile (.LtrTrain), modelFile (.Model),
    testingFeatureVectorsFile (.LtrTest), testingDocumentScores
    (.DocScore), each in the reference's format (QryEval.java:951-1057)."""
    from .ltr import (
        apply_feature_disable,
        extract_features,
        minmax_normalize,
        rerank_with,
        save_model,
        train_ranker,
        write_docscore,
        write_svmlight,
    )

    spark = reader.spark
    eng = Engine(reader)
    k = int(params.get("trecEvalOutputLength", 100))
    url_ids = reader.docid_url_map()

    if train_queries is None:
        train_queries = parse_queries(params["ltr:trainingQueryFile"])
    if qrels is None:
        qrels = parse_qrels(params["ltr:trainingQrelsFile"])
    if test_queries is None:
        test_queries = parse_queries(params["queryFilePath"])
    toolkit = {"svmrank": "svmrank", "ranklib": "ranklib"}.get(
        params.get("ltr:toolkit", "").lower(), "ridge")
    disable = {int(x) for x in
               str(params.get("ltr:featureDisable", "")).split(",") if x.strip()}
    fkw = {"k1": float(params.get("BM25:k_1", 1.2)),
           "b": float(params.get("BM25:b", 0.75)),
           "mu": float(params.get("Indri:mu", 2500.0)),
           "lam": float(params.get("Indri:lambda", 0.4))}

    # qrels are the SMALL side (thousands of rows): broadcast-join the
    # parsed qrels frame against the docid map instead of collecting the
    # O(corpus) map to the driver (the round-2 scale bug). Inner join drops
    # qrels urls the index doesn't have, same as the old dict-membership.
    qrels_df = spark.createDataFrame(qrels, ["qid", "url", "rel"])
    # cache + eager fill: extract_features references the candidate frame
    # from 20 feature legs — an unfilled cache would recompute the upstream
    # join/search once per leg (Spark's cache has no cross-leg compute lock)
    cand_train = (url_ids.join(F.broadcast(qrels_df), "url")
                  .select("qid", "docid", "rel").cache())
    cand_train.count()
    feats = minmax_normalize(apply_feature_disable(
        extract_features(reader, cand_train, train_queries, **fkw), disable))
    if "ltr:trainingFeatureVectorsFile" in params:
        write_svmlight(feats, url_ids, params["ltr:trainingFeatureVectorsFile"])
    model = train_ranker(
        feats, toolkit,
        ranklib_model=params.get("ltr:RankLib:model"),
        metric=params.get("ltr:RankLib:metric2t", "NDCG@10"),
        svm_c=params.get("ltr:svmRankParamC"))
    if "ltr:modelFile" in params:
        save_model(model, params["ltr:modelFile"])

    # initial BM25 top-100 for every test query in one batched action; the
    # candidate frame stays distributed — no driver round-trip
    init_base = eng.search_batch_df(test_queries, "bm25", 100,
                                    k1=fkw["k1"], b=fkw["b"])
    init = init_base.join(url_ids, "url")
    cand_test = init.select("qid", "docid", F.lit(0).alias("rel")).cache()
    cand_test.count()
    tfeats = minmax_normalize(apply_feature_disable(
        extract_features(reader, cand_test, test_queries, **fkw), disable))
    if "ltr:testingFeatureVectorsFile" in params:
        write_svmlight(tfeats, url_ids, params["ltr:testingFeatureVectorsFile"])
    if "ltr:testingDocumentScores" in params:
        write_docscore(tfeats, model, url_ids,
                       params["ltr:testingDocumentScores"])
    ranked = rerank_with(tfeats, model, url_ids, k=k)
    by_qid: dict[str, list] = {}
    for r in ranked.collect():  # ONE collect for every query's reranking
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["url"], r["ltr_score"]))
    cand_train.unpersist()
    cand_test.unpersist()
    lines = []
    for qid in test_queries:
        rs = sorted(by_qid.get(qid, []))
        lines.extend(Engine.trec_lines(qid, [(u, s) for _, u, s in rs], run_id))
    return lines
