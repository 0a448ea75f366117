"""Learning-to-rank: the reference's 20-feature extractor + per-query min-max
normalization + train/rerank, Spark-first.

Feature definitions replicate QryEval.java:553-890 exactly:

  f1  spamScore            (attr; QryEval.java:826,839)
  f2  url depth = count of '/' in raw url (833)
  f3  url contains 'wikipedia.org' (834)
  f4  PageRank              (attr)
  f5/8/11/14   BM25 sum over matching query terms, field body/title/url/inlink
               (scoreBM25, QryEval.java:589-594; k3 factor = 1)
  f6/9/12/15   Indri prod s_t^(1/|q|) over matching terms, 0 if none matched
               (scoreIndri 596-601, featurePair 653-663)
  f7/10/13/16  count of matching distinct query terms
  f17 idf-weighted term match on url field: sum ln(N/df)*tf (657-659, 855)
  f18 title "cosine": innerProd / (sum(tf^2) * ||q||) — the reference does
      NOT sqrt the doc vector term; replicated faithfully (858-864)
  f19 title min pairwise distance between matched positions: 1/minDist,
      0.0 when exactly one matched position (672-691)
  f20 body rarest-zipf: max ln(tf*0.1*num_words/ctf) / body_len (663,692-694)

A doc missing a field (length 0) gets nulls for that field's features
(featurePair early return, 621-623). All extraction is joins + groupBy over
the forward index — one pass per field, no per-doc loop.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .index.build import IndexReader
from .tokenizer import tokenize_full

FEATURE_FIELDS = ["body", "title", "url", "inlink"]
N_FEATURES = 20


def query_vectors(queries: dict[str, str],
                  stemmer: str = "s") -> dict[str, dict[str, int]]:
    """qid -> {stem: qtf} via the shared tokenize pipeline
    (QryParser.tokenizeString analog, QryEval.java:786-798).
    stemmer: the index's pinned stemmer (IndexReader.stemmer)."""
    out = {}
    for qid, q in queries.items():
        toks = [t for t in tokenize_full(q, stemmer=stemmer) if t is not None]
        out[qid] = dict(Counter(toks))
    return out


def extract_features(reader: IndexReader, candidates: DataFrame,
                     queries: dict[str, str],
                     k1: float = 1.2, b: float = 0.75,
                     mu: float = 2500.0, lam: float = 0.4) -> DataFrame:
    """candidates: (qid, docid, rel). Returns (qid, docid, rel, f1..f20)."""
    spark = reader.spark
    qv = query_vectors(queries, stemmer=reader.stemmer)
    n_docs = float(reader.n_docs)
    num_words = float(sum(reader.field_stats[f][1] for f in FEATURE_FIELDS))
    qconst = {qid: (float(len(v)), math.sqrt(sum(x * x for x in v.values())))
              for qid, v in qv.items()}

    qterms = spark.createDataFrame(
        [(qid, t, int(tf)) for qid, v in qv.items() for t, tf in v.items()],
        ["qid", "term", "qtf"],
    )
    cand = candidates.select("qid", "docid", "rel").cache()
    doc_terms = reader.doc_terms()
    doc_lens = reader.doc_lens()
    stats = reader._term_stats

    out = cand
    # doc-level features f1-f4
    attrs = reader.attrs()
    out = out.join(attrs, "docid", "left").select(
        "qid", "docid", "rel",
        F.col("spam_score").alias("f1"),
        (F.length("raw_url") - F.length(F.regexp_replace("raw_url", "/", "")))
        .cast("double").alias("f2"),
        F.col("raw_url").contains("wikipedia.org").cast("double").alias("f3"),
        F.col("page_rank").alias("f4"),
    )

    nq_df = spark.createDataFrame(
        [(qid, nq, ql) for qid, (nq, ql) in qconst.items()], ["qid", "nq", "qlen"]
    )
    out = out.join(F.broadcast(nq_df), "qid")

    for fi, field in zip([5, 8, 11, 14], FEATURE_FIELDS):
        c, s = reader.field_stats[field]
        avg_len = s / c if c else 1.0
        total_len = float(s)

        dl = doc_lens.filter(F.col("field") == field).select(
            "docid", F.col("len").alias("dl")
        )
        dvm = (
            doc_terms.filter(F.col("field") == field)
            .groupBy("docid")
            .agg(F.sum(F.col("tf") * F.col("tf")).cast("double").alias("dvm"))
        )
        matched = (
            cand.join(
                doc_terms.filter(F.col("field") == field).select("docid", "term", "tf", "positions_z"),
                "docid",
            )
            .join(qterms, ["qid", "term"])
            .join(
                F.broadcast(stats.filter(F.col("field") == field).select("term", "df", "ctf")),
                "term",
            )
            .join(dl, "docid")
            .join(F.broadcast(nq_df.select("qid", "nq")), "qid")
        )
        tf, dfc, ctf = (F.col("tf").cast("double"), F.col("df").cast("double"),
                        F.col("ctf").cast("double"))
        dlc = F.col("dl").cast("double")
        bm25_t = (
            F.greatest(F.lit(0.0), F.log((F.lit(n_docs) - dfc + 0.5) / (dfc + 0.5)))
            * tf / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dlc / F.lit(avg_len)))
        )
        pqc = F.when(ctf == 0.0, F.lit(0.5) / F.lit(total_len)).otherwise(ctf / F.lit(total_len))
        indri_t = (F.lit(1.0 - lam) * (tf + F.lit(mu) * pqc) / (dlc + F.lit(mu))
                   + F.lit(lam) * pqc)
        agg = matched.groupBy("qid", "docid").agg(
            F.sum(bm25_t).alias("bm25"),
            F.sum(F.log(indri_t) / F.col("nq")).alias("log_indri"),
            F.count(F.lit(1)).cast("double").alias("cnt"),
            F.sum(F.log(F.lit(n_docs) / dfc) * tf).alias("widf"),
            F.sum(tf * F.col("qtf")).alias("iprod"),
            F.max(F.log(tf * F.lit(0.1) * F.lit(num_words) / ctf)).alias("zipf"),
        )
        pre = f"x{fi}_"
        out = (
            out.join(agg.withColumnRenamed("bm25", pre + "bm25")
                     .withColumnRenamed("log_indri", pre + "li")
                     .withColumnRenamed("cnt", pre + "cnt")
                     .withColumnRenamed("widf", pre + "widf")
                     .withColumnRenamed("iprod", pre + "iprod")
                     .withColumnRenamed("zipf", pre + "zipf"),
                     ["qid", "docid"], "left")
            .join(dl.withColumnRenamed("dl", pre + "dl"), "docid", "left")
            .join(dvm.withColumnRenamed("dvm", pre + "dvm"), "docid", "left")
        )
        present = F.coalesce(F.col(pre + "dl"), F.lit(0)) > 0
        cnt = F.coalesce(F.col(pre + "cnt"), F.lit(0.0))
        out = out.withColumn(f"f{fi}", F.when(present, F.coalesce(F.col(pre + "bm25"), F.lit(0.0))))
        out = out.withColumn(
            f"f{fi + 1}",
            F.when(present, F.when(cnt > 0, F.exp(F.col(pre + "li"))).otherwise(F.lit(0.0))),
        )
        out = out.withColumn(f"f{fi + 2}", F.when(present, cnt))

        if field == "url":
            out = out.withColumn("f17", F.when(present, F.coalesce(F.col(pre + "widf"), F.lit(0.0))))
        if field == "title":
            # f18 faithful quirk: denominator uses sum(tf^2) (not sqrt)
            out = out.withColumn(
                "f18",
                F.when(
                    present,
                    F.when(
                        F.coalesce(F.col(pre + "dvm"), F.lit(0.0)) > 0,
                        F.coalesce(F.col(pre + "iprod"), F.lit(0.0))
                        / (F.col(pre + "dvm") * F.col("qlen")),
                    ).otherwise(F.lit(0.0)),
                ),
            )
            # f19: min distance between successive matched positions
            # (candidate-bounded frame -> per-row payload decode is fine)
            from .corpus import positions_col

            tpos = (
                matched.select("qid", "docid",
                               F.explode(positions_col("positions_z")).alias("p"))
            )
            wspec = Window.partitionBy("qid", "docid").orderBy("p")
            gaps = tpos.withColumn("gap", F.col("p") - F.lag("p").over(wspec))
            f19 = gaps.groupBy("qid", "docid").agg(
                F.count(F.lit(1)).alias("npos"), F.min("gap").alias("mingap")
            ).select(
                "qid", "docid",
                F.when(F.col("npos") == 1, F.lit(0.0))
                .otherwise(F.lit(1.0) / F.col("mingap")).alias("f19v"),
            )
            out = out.join(f19, ["qid", "docid"], "left").withColumn(
                "f19", F.when(present & (cnt > 0), F.col("f19v"))
            ).drop("f19v")
        if field == "body":
            out = out.withColumn(
                "f20",
                F.when(present & (cnt > 0), F.col(pre + "zipf") / F.col(pre + "dl")),
            )
        out = out.drop(*[pre + x for x in ["bm25", "li", "cnt", "widf", "iprod", "zipf", "dl", "dvm"]])

    return out.select("qid", "docid", "rel", *[f"f{i}" for i in range(1, N_FEATURES + 1)])


def apply_feature_disable(features: DataFrame, disable: set[int]) -> DataFrame:
    """``ltr:featureDisable`` — disabled features are never computed in the
    reference (QryEval.java:567-575 skips them), so their ids are absent
    from the SVMlight vectors: null them out (the sparse writer omits
    nulls, trainers fillna(0), min-max preserves null). Out-of-range ids
    are ignored (the reference's id space is larger than ours)."""
    out = features
    for i in sorted(disable):
        if 1 <= i <= N_FEATURES:
            out = out.withColumn(f"f{i}", F.lit(None).cast("double"))
    return out


def minmax_normalize(features: DataFrame) -> DataFrame:
    """Per-query per-feature min-max to [0,1]; null-preserving; max==min -> 0
    (normalizeFeatureValues, QryEval.java:706-736)."""
    out = features
    w = Window.partitionBy("qid")
    for i in range(1, N_FEATURES + 1):
        c = F.col(f"f{i}")
        mn, mx = F.min(c).over(w), F.max(c).over(w)
        out = out.withColumn(
            f"f{i}",
            F.when(c.isNull(), None)
            .when(mx == mn, F.lit(0.0))
            .otherwise((c - mn) / (mx - mn)),
        )
    return out


def _canonical_fit_input(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Run-to-run deterministic training input: one partition, totally
    ordered. Float addition is non-associative, so a distributed fit's
    treeAggregate sums drift in the low decimals with partition/arrival
    order — enough to break byte-frozen goldens (.teIn/.DocScore). Training
    matrices here are qrels-bounded (thousands of rows; the reference ships
    the same data to a single-node SVMrank/RankLib process), so a canonical
    single sorted partition costs nothing while feature extraction and
    rerank scoring stay fully distributed."""
    return df.coalesce(1).sortWithinPartitions(*order_cols)


def train_ridge(features: DataFrame, l2: float = 1e-3) -> np.ndarray:
    """Closed-form ridge regression rel ~ f1..f20 (nulls -> 0). A
    deterministic in-process linear baseline."""
    data = _collect_rows(features)
    X = np.array([x for _, _, x, _ in data], dtype=np.float64)
    y = np.array([rel for _, _, _, rel in data], dtype=np.float64)
    A = X.T @ X + l2 * np.eye(N_FEATURES)
    return np.linalg.solve(A, X.T @ y)


def _assembled(features: DataFrame):
    from pyspark.ml.feature import VectorAssembler

    cols = [f"f{i}" for i in range(1, N_FEATURES + 1)]
    asm = VectorAssembler(inputCols=cols, outputCol="features")
    return asm, asm.transform(features.fillna(0.0))


def train_pairwise_lr(features: DataFrame, max_iter: int = 60,
                      reg: float = 1e-4) -> np.ndarray:
    """Pairwise linear ranker — the Spark-native analog of the SVMrank
    toolkit the reference shells out to (QryEval.java:977-1002,
    Utils.java:17-50): within each query, every (a, b) with rel_a != rel_b
    yields the feature difference x_a - x_b labeled by sign(rel_a - rel_b);
    a no-intercept LogisticRegression on the differences (RankNet loss in
    place of SVMrank's pairwise hinge) learns linear ranking weights.
    Pair construction is a qid-equi-join — bounded by qrels size, never the
    corpus — and training is distributed (pyspark.ml LBFGS)."""
    from pyspark.ml.classification import LogisticRegression

    cols = [f"f{i}" for i in range(1, N_FEATURES + 1)]
    filled = features.fillna(0.0)
    a = filled.select("qid", F.col("rel").alias("rel_a"),
                      *[F.col(c).alias("a_" + c) for c in cols])
    b = filled.select("qid", F.col("rel").alias("rel_b"),
                      *[F.col(c).alias("b_" + c) for c in cols])
    pairs = a.join(b, "qid").filter(F.col("rel_a") != F.col("rel_b"))
    diffs = pairs.select(
        (F.col("rel_a") > F.col("rel_b")).cast("double").alias("label"),
        *[(F.col("a_" + c) - F.col("b_" + c)).alias(c) for c in cols],
    )
    _, ds = _assembled(diffs.withColumn("rel", F.lit(0)))
    lr = LogisticRegression(featuresCol="features", labelCol="label",
                            fitIntercept=False, maxIter=max_iter,
                            regParam=reg, standardization=False)
    model = lr.fit(_canonical_fit_input(ds, ["label"] + cols))
    return np.asarray(model.coefficients.toArray(), dtype=np.float64)


def train_gbt(features: DataFrame, seed: int = 7, max_iter: int = 20,
              max_depth: int = 3):
    """Pointwise gradient-boosted-trees regressor on graded rel — the
    RankLib-toolkit analog (reference ltr:toolkit=RankLib). Returns a
    fitted pyspark.ml model usable via :func:`rerank_with`."""
    from pyspark.ml.regression import GBTRegressor

    _, ds = _assembled(features)
    gbt = GBTRegressor(featuresCol="features", labelCol="rel", seed=seed,
                       maxIter=max_iter, maxDepth=max_depth)
    return gbt.fit(_canonical_fit_input(ds, ["qid", "docid"]))


def _metric_fn(spec: str):
    """Parse a RankLib ``metric2t`` spec — 'NDCG@10', 'P@10', 'MAP' — into
    a per-query callable over the rel array IN MODEL-SCORE ORDER. The
    reference forwards this spec to the RankLib process
    (``ltr:RankLib:metric2t`` in PARAM_DIR, QryEval.java:985-1002); here
    it is the objective coordinate ascent climbs."""
    s = spec.strip().upper()
    name, _, kk = s.partition("@")
    k = int(kk) if kk else 0

    def disc_for(n: int) -> np.ndarray:
        return 1.0 / np.log2(np.arange(2, n + 2))

    if name in ("NDCG", "DCG"):
        normalize = name == "NDCG"

        def m(rels: np.ndarray) -> float:
            kk2 = min(k or len(rels), len(rels))
            disc = disc_for(len(rels))
            gains = 2.0 ** rels - 1.0
            dcg = float((gains[:kk2] * disc[:kk2]).sum())
            if not normalize:
                return dcg
            ideal = np.sort(gains)[::-1]
            idcg = float((ideal[:kk2] * disc[:kk2]).sum())
            return dcg / idcg if idcg > 0 else 0.0
    elif name == "P":
        def m(rels: np.ndarray) -> float:
            kk2 = min(k or len(rels), len(rels))
            return float((rels[:kk2] > 0).sum()) / kk2
    elif name == "MAP":
        def m(rels: np.ndarray) -> float:
            pos = rels > 0
            if not pos.any():
                return 0.0
            prec = np.cumsum(pos) / np.arange(1, len(rels) + 1)
            return float(prec[pos].mean())
    elif name == "RR":
        def m(rels: np.ndarray) -> float:
            kk2 = min(k or len(rels), len(rels))
            hits = np.nonzero(rels[:kk2] > 0)[0]
            return 1.0 / (1 + int(hits[0])) if len(hits) else 0.0
    elif name == "ERR":
        # Chapelle et al. 2009 cascade metric; satisfaction probability
        # normalized by the list's top grade (the per-list analog of
        # RankLib's fixed max-grade constant)
        def m(rels: np.ndarray) -> float:
            kk2 = min(k or len(rels), len(rels))
            top = float(rels.max())
            if top <= 0:
                return 0.0
            sat = (2.0 ** rels[:kk2] - 1.0) / (2.0 ** top)
            err, p_look = 0.0, 1.0
            for i, r in enumerate(sat):
                err += p_look * r / (i + 1)
                p_look *= 1.0 - r
            return float(err)
    else:
        raise ValueError(f"unsupported metric2t: {spec!r}")
    return m


def _collect_rows(features: DataFrame) -> list[tuple]:
    """Driver-side (qid, docid, f1..f20, rel) collection — (qid, docid)-
    sorted, nulls->0 — the ONE place the linear trainers materialize their
    qrels-bounded input (the reference ships the same data to a
    single-node RankLib/SVMrank process)."""
    rows = sorted(features.fillna(0.0).collect(),
                  key=lambda r: (r["qid"], r["docid"]))
    return [(r["qid"], r["docid"],
             [float(r[f"f{i}"]) for i in range(1, N_FEATURES + 1)],
             float(r["rel"])) for r in rows]


def _collect_grouped(features: DataFrame) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per-query (X, rel) numpy groups, qid-sorted, docid-sorted within."""
    groups: dict = {}
    for qid, _docid, x, rel in _collect_rows(features):
        groups.setdefault(qid, []).append((x, rel))
    out = []
    for qid in sorted(groups):
        g = groups[qid]
        out.append((np.array([x for x, _ in g], dtype=np.float64),
                    np.array([y for _, y in g], dtype=np.float64)))
    return out


def _mean_metric(groups, w: np.ndarray, metric) -> float:
    vals = []
    for X, y in groups:
        scores = X @ w
        order = np.lexsort((np.arange(len(scores)), -scores))  # ties: row asc
        vals.append(metric(y[order]))
    return float(np.mean(vals)) if vals else 0.0


# anchor the pairwise-LR regularization to the reference corpus's most
# common ltr:svmRankParamC so default behavior is unchanged at C=0.002;
# smaller C (more slack) maps monotonically to more regularization
SVMRANK_C_ANCHOR = 0.002
PAIRWISE_REG_AT_ANCHOR = 1e-4


def train_coordinate_ascent(features: DataFrame, metric: str = "NDCG@10",
                            sweeps: int = 25) -> np.ndarray:
    """RankLib Coordinate Ascent analog (``ltr:RankLib:model=4``; Metzler &
    Croft 2007): greedy per-coordinate line search over linear weights,
    directly maximizing the listwise ``metric2t`` on the training queries.
    Deterministic — fixed coordinate order, fixed additive step schedule,
    strict-improvement acceptance, L1 renormalization per sweep — so the
    learned .Model is a pure function of the feature frame."""
    groups = _collect_grouped(features)
    m = _metric_fn(metric)

    def mean_metric(scores_list) -> float:
        vals = []
        for (_X, y), sc in zip(groups, scores_list):
            order = np.lexsort((np.arange(len(sc)), -sc))  # ties: row asc
            vals.append(m(y[order]))
        return float(np.mean(vals)) if vals else 0.0

    w = np.full(N_FEATURES, 1.0 / N_FEATURES)
    # rank-1 trick: a candidate only moves ONE coordinate, so its scores
    # are base + s * X[:, i] — no full matmul per candidate evaluation
    bases = [X @ w for X, _ in groups]
    best = mean_metric(bases)
    steps = (0.05, -0.05, 0.1, -0.1, 0.2, -0.2, 0.5, -0.5, 1.0, -1.0)
    for _ in range(sweeps):
        improved = False
        for i in range(N_FEATURES):
            for s in steps:
                cand = [b + s * X[:, i] for (X, _), b in zip(groups, bases)]
                v = mean_metric(cand)
                if v > best + 1e-12:
                    w = w.copy()
                    w[i] += s
                    bases, best, improved = cand, v, True
        n1 = np.abs(w).sum()
        if n1 > 0:  # positive rescale: metric-invariant, keeps w bounded
            w = w / n1
            bases = [b / n1 for b in bases]
        if not improved:
            break
    return w


def train_listnet(features: DataFrame, iters: int = 200,
                  lr: float = 0.05) -> np.ndarray:
    """RankLib ListNet analog (``ltr:RankLib:model=7``; Cao et al. 2007):
    listwise top-one-probability softmax cross-entropy on linear weights,
    full-batch gradient descent. Deterministic (zero init, fixed schedule)."""
    def softmax(v: np.ndarray) -> np.ndarray:
        e = np.exp(v - v.max())
        return e / e.sum()

    groups = _collect_grouped(features)
    w = np.zeros(N_FEATURES)
    for _ in range(iters):
        g = np.zeros(N_FEATURES)
        for X, y in groups:
            g += X.T @ (softmax(X @ w) - softmax(y))
        w -= lr * g / max(1, len(groups))
    return w


class RankModel:
    """Trained ranker: linear weight vector or an ml tree model, selected by
    toolkit name like the reference's ``ltr:toolkit`` param."""

    def __init__(self, kind: str, weights: np.ndarray | None = None, ml_model=None):
        self.kind = kind
        self.weights = weights
        self.ml_model = ml_model

    def score(self, features: DataFrame) -> DataFrame:
        """-> (qid, docid, ltr_score)."""
        if self.weights is not None:
            expr = sum(F.col(f"f{i + 1}") * F.lit(float(self.weights[i]))
                       for i in range(N_FEATURES))
            return features.fillna(0.0).select("qid", "docid", expr.alias("ltr_score"))
        _, ds = _assembled(features)
        return self.ml_model.transform(ds).select(
            "qid", "docid", F.col("prediction").alias("ltr_score"))


def train_ranker(features: DataFrame, toolkit: str = "ridge",
                 ranklib_model: int | str | None = None,
                 metric: str = "NDCG@10",
                 svm_c: float | str | None = None, **kw) -> RankModel:
    """toolkit: 'ridge' (closed-form linear), 'svmrank' (pairwise logistic
    -> linear weights), 'ranklib' (model-id dispatch like the RankLib CLI).

    ranklib_model: the reference's ``ltr:RankLib:model`` id — 4 trains the
    Coordinate Ascent analog on ``metric`` (``ltr:RankLib:metric2t``),
    7 the ListNet analog, anything else the pointwise GBT.
    svm_c: ``ltr:svmRankParamC`` — SVMrank's slack weight, mapped
    monotonically onto the pairwise-LR regularization (anchored so the
    reference corpus's C=0.002 reproduces the default reg)."""
    t = toolkit.lower()
    if t == "ridge":
        return RankModel("ridge", weights=train_ridge(features, **kw))
    if t in ("svmrank", "pairwise"):
        if svm_c is not None:
            c = float(svm_c)
            if c <= 0:  # degenerate slack weight -> clear error, not a
                # ZeroDivision/negative-regParam crash inside the fit
                raise ValueError(f"ltr:svmRankParamC must be > 0, got {svm_c}")
            kw.setdefault("reg", PAIRWISE_REG_AT_ANCHOR
                          * (SVMRANK_C_ANCHOR / c))
        return RankModel("svmrank", weights=train_pairwise_lr(features, **kw))
    if t in ("ranklib", "gbt"):
        mid = int(ranklib_model) if ranklib_model not in (None, "") else None
        if mid == 4:
            return RankModel("ranklib-ca",
                             weights=train_coordinate_ascent(features, metric))
        if mid == 7:
            return RankModel("ranklib-listnet",
                             weights=train_listnet(features))
        return RankModel("ranklib", ml_model=train_gbt(features, **kw))
    raise ValueError(f"unknown ltr toolkit: {toolkit!r}")


def rerank_with(features: DataFrame, model: RankModel, urls: DataFrame,
                k: int = 100) -> DataFrame:
    """Model-agnostic rerank: per-query sort ltr_score desc, url asc, top-k."""
    scored = model.score(features).join(urls, "docid")
    w = Window.partitionBy("qid").orderBy(F.desc("ltr_score"), F.asc("url"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "url", "rank", "ltr_score")
    )


# ------------------------------------------------------------- SVMlight I/O
def svmlight_lines(features: DataFrame, urls: DataFrame) -> DataFrame:
    """One SVMlight line per (qid, docid):

        <rel> qid:<qid> 1:<v1> 2:<v2> ... # <extdocid>

    — the reference's feature-file format (FeatureVectorFileLine.java:23-63)
    consumed by SVMrank/RankLib. Null features (doc missing the field) are
    omitted, which is the sparse-format convention. Built entirely with JVM
    string functions; deterministic order (qid asc, url asc) is applied by
    the writer, not here."""
    pieces = [
        F.when(F.col(f"f{i}").isNotNull(),
               F.concat(F.lit(f"{i}:"), F.col(f"f{i}").cast("string")))
        for i in range(1, N_FEATURES + 1)
    ]
    feat_str = F.array_join(F.array(*pieces), " ")  # array_join skips nulls
    line = F.concat_ws(" ",
                       F.col("rel").cast("string"),
                       F.concat(F.lit("qid:"), F.col("qid")),
                       feat_str,
                       F.lit("#"),
                       F.col("url"))
    return features.join(urls, "docid").select(
        "qid", "url", line.alias("line"))


def write_svmlight(features: DataFrame, urls: DataFrame, path: str) -> None:
    """Deterministic single-file SVMlight dump (training sets are bounded by
    qrels size; shard with .write.text on the lines DataFrame at scale)."""
    rows = svmlight_lines(features, urls).orderBy("qid", "url").collect()
    with open(path, "w") as f:
        for r in rows:
            f.write(r["line"] + "\n")


def read_svmlight(spark, path: str) -> DataFrame:
    """Parse SVMlight lines back to (qid, url, rel, f1..f20) — omitted
    features become nulls. Pure JVM functions: split + per-feature array
    scan, no Python row loop."""
    df = spark.read.text(path)
    halves = F.split(F.col("value"), " # ", 2)
    head = F.split(halves.getItem(0), " ")
    out = df.select(
        F.regexp_replace(F.element_at(head, 2), "^qid:", "").alias("qid"),
        halves.getItem(1).alias("url"),
        F.element_at(head, 1).cast("int").alias("rel"),
        F.slice(head, 3, 2 + N_FEATURES).alias("_fs"),
    )
    for i in range(1, N_FEATURES + 1):
        hit = F.filter(F.col("_fs"), lambda x: x.startswith(f"{i}:"))  # noqa: B023
        out = out.withColumn(
            f"f{i}",
            F.when(F.size(hit) > 0,
                   F.regexp_replace(F.element_at(hit, 1), f"^{i}:", "").cast("double")),
        )
    return out.drop("_fs")


def rerank(features: DataFrame, weights: np.ndarray, urls: DataFrame, k: int = 100) -> DataFrame:
    """Score = X @ w; per-query sort score desc, url asc, top-k
    (sortAndOutputFinalLtrResults, QryEval.java:892-949)."""
    filled = features.fillna(0.0)
    score = sum(
        F.col(f"f{i + 1}") * F.lit(float(weights[i])) for i in range(N_FEATURES)
    )
    scored = filled.select("qid", "docid", score.alias("ltr_score")).join(urls, "docid")
    w = Window.partitionBy("qid").orderBy(F.desc("ltr_score"), F.asc("url"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "url", "rank", "ltr_score")
    )


# --------------------------------------------------- model / DocScore files
def write_svmlight_model(weights: np.ndarray, path: str, b: float = 0.0) -> None:
    """SVM-light model file (the format ``svm_rank_learn`` writes and
    ``svm_rank_classify`` reads — svm_light's ``write_model`` in
    svm_common.c): 11 header lines, then one support vector per line
    starting with alpha*y. A LINEAR SVMrank model collapses to a single SV
    with alpha=1 carrying the weight vector, which is exactly what
    svm_rank_learn emits for kernel 0. Weights use %.17g so a round-trip is
    bit-exact while staying parseable by the real tools."""
    sv = " ".join(f"{i + 1}:{float(w):.17g}" for i, w in enumerate(weights))
    with open(path, "w") as f:
        f.write("SVM-light Version V6.20\n")
        f.write("0 # kernel type\n")
        f.write("3 # kernel parameter -d \n")
        f.write("1 # kernel parameter -g \n")
        f.write("1 # kernel parameter -s \n")
        f.write("1 # kernel parameter -r \n")
        f.write("empty# kernel parameter -u \n")
        f.write(f"{len(weights)} # highest feature index \n")
        f.write("2 # number of training documents \n")
        f.write("2 # number of support vectors plus 1 \n")
        f.write(f"{b:.17g} # threshold b, each following line is a SV "
                "(starting with alpha*y)\n")
        f.write(f"1 {sv} #\n")


def read_svmlight_model(path: str) -> tuple[np.ndarray, float]:
    """Parse an SVM-light model file back to (w, b): w = sum over SVs of
    alpha*y * x (general enough for multi-SV files from the real tool, not
    just our single-SV writer)."""
    with open(path) as f:
        lines = f.read().splitlines()
    if not lines or not lines[0].startswith("SVM-light"):
        raise ValueError(f"{path}: not an SVM-light model file")
    n_feat = int(lines[7].split("#")[0])
    b = float(lines[10].split("#")[0])
    w = np.zeros(n_feat, dtype=np.float64)
    for sv in lines[11:]:
        sv = sv.split("#")[0].strip()
        if not sv:
            continue
        parts = sv.split()
        alpha = float(parts[0])
        for fv in parts[1:]:
            i, v = fv.split(":")
            w[int(i) - 1] += alpha * float(v)
    return w, b


def save_model(model: RankModel, path: str) -> None:
    """Persist a trained ranker — the reference's ``.Model`` artifact,
    per-toolkit format. The svmrank toolkit writes the real SVM-light model
    format (what svm_rank_learn produces, QryEval.java:977-984), so the
    artifact is format-compatible with svm_rank_classify; ridge serializes
    as JSON weights; the GBT model uses Spark ML's native save under
    ``path + ".ml"`` with a JSON pointer at ``path`` (RankLib's -save
    analog, 985-1002)."""
    import json as _json

    if model.kind == "svmrank" and model.weights is not None:
        write_svmlight_model(model.weights, path)
        return
    if model.kind == "ranklib-ca" and model.weights is not None:
        # RankLib's Coordinate Ascent model text: "##"-comment header
        # lines, then one line of space-separated fid:weight pairs —
        # loadable by RankLib's -load for linear CA models
        with open(path, "w") as f:
            f.write("## Coordinate Ascent\n")
            f.write(f"## No. of features = {len(model.weights)}\n")
            f.write(" ".join(f"{i + 1}:{float(w)}"
                             for i, w in enumerate(model.weights)) + "\n")
        return
    if model.weights is not None:
        with open(path, "w") as f:
            _json.dump({"kind": model.kind,
                        "weights": [float(x) for x in model.weights]}, f)
        return
    model.ml_model.write().overwrite().save(path + ".ml")
    with open(path, "w") as f:
        _json.dump({"kind": model.kind, "ml_path": path + ".ml"}, f)


def load_model(spark, path: str) -> RankModel:
    import json as _json

    with open(path) as f:
        head = f.read(9)
    if head == "SVM-light":
        w, _b = read_svmlight_model(path)
        return RankModel("svmrank", weights=w)
    if head.startswith("##"):  # RankLib text model (Coordinate Ascent)
        with open(path) as f:
            lines = [ln.strip() for ln in f if ln.strip()]
        pairs = dict(p.split(":", 1)
                     for p in lines[-1].split())
        # a valid CA model may stop below N_FEATURES (disabled features);
        # score() indexes f1..f20, so never size below that
        w = np.zeros(max(N_FEATURES, max(int(i) for i in pairs)))
        for i, v in pairs.items():
            w[int(i) - 1] = float(v)
        return RankModel("ranklib-ca", weights=w)
    with open(path) as f:
        d = _json.load(f)
    if "weights" in d:
        return RankModel(d["kind"], weights=np.array(d["weights"], dtype=float))
    from pyspark.ml.regression import GBTRegressionModel

    return RankModel(d["kind"], ml_model=GBTRegressionModel.load(d["ml_path"]))


def write_docscore(features: DataFrame, model: RankModel, urls: DataFrame,
                   path: str, kind: str | None = None) -> None:
    """The reference's ``.DocScore`` artifact, per-toolkit format
    (sortAndOutputFinalLtrResults, QryEval.java:892-949): line i scores
    line i of the .LtrTest feature file (our write_svmlight order: qid asc,
    url asc). SVMrank's svm_rank_classify emits one bare score per line
    (isSVMRank=true branch parses the whole line); RankLib score files are
    three whitespace-separated columns ``<qid> <idx> <score>`` with the
    score in items[2] (isSVMRank=false branch), idx = 0-based line index
    within the query. kind defaults to the trained model's toolkit."""
    kind = kind or model.kind
    rows = (model.score(features).join(urls, "docid")
            .orderBy("qid", "url").select("qid", "ltr_score").collect())
    with open(path, "w") as f:
        if kind.startswith("ranklib"):  # incl. the -ca / -listnet analogs
            idx, prev = 0, None
            for r in rows:
                if r["qid"] != prev:
                    idx, prev = 0, r["qid"]
                f.write(f"{r['qid']} {idx} {r['ltr_score']}\n")
                idx += 1
        else:
            for r in rows:
                f.write(f"{r['ltr_score']}\n")
