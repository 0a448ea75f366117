"""Engine facade: parse -> compile -> one stripe job -> top-k, plus
TREC-format output.

Every query class serves through the stripe job of query/wand.py: the
planner compiles the parsed tree into a per-stripe program, each stripe
task evaluates it over its docid range and resolves its local top-k urls,
and the global top-k uses the reference's sort rule — score desc, external
id (url) asc (ScoreList.java:90-105) — executed as Spark's
TakeOrderedAndProject (orderBy + limit): per-partition heaps and a driver
merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from .index.build import IndexReader
from .query import wand
from .query.models import make_model
from .query.parser import QueryParser
from .query.planner import Planner, leaf_pairs
# ``engine.wand_topk`` stays importable: the benchmark's tracer patches the
# stripe entry points under this name too.
from .query.wand import wand_topk  # noqa: F401


class Engine:
    def __init__(self, reader: IndexReader):
        self.reader = reader

    def _programs(self, queries: dict[str, str], m) -> dict:
        """qid -> compiled Program; queries that parse to nothing (all
        stopwords) are absent. Leaf stats are fetched for the whole set in
        one lookup before compiling."""
        parser = QueryParser(m.name, stemmer=self.reader.stemmer)
        roots = {qid: r for qid, q in queries.items()
                 if (r := parser.parse(q)) is not None}
        self.reader.term_stats(sorted(
            {p for r in roots.values() for p in leaf_pairs(r)}))
        planner = Planner(self.reader, m)
        return {qid: planner.plan(r) for qid, r in roots.items()}

    def search(self, query: str, model: str = "bm25", k: int = 100,
               **model_kw) -> DataFrame:
        """Returns (url, score) top-k, reference sort rule. One stripe job
        (two when a #SYN/#NEAR/#WINDOW list feeds BM25 idf or Indri
        smoothing, see query/wand.py wand_topk_batch_local)."""
        m = make_model(model, **model_kw)
        prog = self._programs({"q": query}, m).get("q")
        if prog is None:  # all stopwords
            return self.reader.docid_url_map().select("url", F.lit(0.0).alias("score")).limit(0)
        local = wand.wand_topk_batch_local(self.reader, {"q": prog}, k=k,
                                           deleted=self.reader.deleted_set(),
                                           resolve_urls=True)
        return (
            local.select("url", "score")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )

    def search_batch_df(self, queries: dict[str, str], model: str = "bm25",
                        k: int = 100, **model_kw) -> DataFrame:
        """ALL queries in ONE stripe job — an N-query workload is one Spark
        action, not N (the reference's 57-query runs loop
        QryEval.java:1381-1416 sequentially; at cluster scale the per-job
        overhead dominates that shape). Each stripe evaluates every query
        against block lists and a decode cache shared by the batch, and
        resolves its local top-k urls; one per-qid window finishes.

        Returns (qid, url, score, rank). Queries that parse to nothing (all
        stopwords) are absent."""
        m = make_model(model, **model_kw)
        progs = self._programs(queries, m)
        if not progs:
            return self.reader.docid_url_map().select(
                F.lit("").alias("qid"), "url",
                F.lit(0.0).alias("score"), F.lit(0).alias("rank")).limit(0)
        local = wand.wand_topk_batch_local(self.reader, progs, k=k,
                                           deleted=self.reader.deleted_set(),
                                           resolve_urls=True)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("url"))
        return (
            local.select("qid", "url", "score")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "url", "score", "rank")
        )

    def search_batch(self, queries: dict[str, str], model: str = "bm25",
                     k: int = 100, **model_kw) -> dict[str, list[tuple[str, float]]]:
        """One action for the whole batch; empty/all-stopword queries map to
        empty rankings."""
        out: dict[str, list[tuple[str, float]]] = {qid: [] for qid in queries}
        rows = self.search_batch_df(queries, model, k, **model_kw).collect()
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            out[r["qid"]].append((r["url"], r["score"]))
        return out

    @staticmethod
    def compile_sdm(text: str, w_t: float = 0.8, w_o: float = 0.1,
                    w_u: float = 0.1, near: int = 1, window: int = 8) -> str:
        """Compile free text into a sequential-dependence-model structured
        query (Metzler & Croft 2005): unigram bag + ordered adjacent
        bigrams (#NEAR/1) + unordered bigram windows (#WINDOW/8), combined
        with #WSUM. Pure query rewriting — the result serves through the
        existing positional operators, nothing new executes.
        Stopwords survive here (the parser drops them and prunes emptied
        operators, same as typed queries)."""
        toks = [t for t in text.split() if t]
        if len(toks) < 2:
            return " ".join(toks)
        uni = " ".join(toks)
        pairs = list(zip(toks, toks[1:]))
        ordered = " ".join(f"#NEAR/{near}( {a} {b} )" for a, b in pairs)
        unordered = " ".join(f"#WINDOW/{window}( {a} {b} )" for a, b in pairs)
        return (f"#WSUM( {w_t} #SUM( {uni} ) "
                f"{w_o} #SUM( {ordered} ) "
                f"{w_u} #SUM( {unordered} ) )")

    def search_sdm(self, text: str, model: str = "bm25", k: int = 100,
                   **kw) -> DataFrame:
        """Serve free text through the sequential dependence model (see
        compile_sdm). The proximity-aware ranking web engines actually run
        for multi-word queries — term matches plus ordered/unordered
        phrase evidence."""
        return self.search(self.compile_sdm(text), model, k, **kw)

    @staticmethod
    def compile_fielded(text: str, weights: dict[str, float] | None = None
                        ) -> str:
        """Compile free text into a field-weighted query — the classic web
        ranking mix of content and link evidence: body carries the topic,
        title/url concentrate it, inlink is what OTHER pages call this page
        (anchor text, see links.py). Default weights echo the reference
        coursework's field mixes (HW3 #WSUM examples). Pure rewriting over
        existing operators."""
        ws = weights or {"body": 0.6, "title": 0.15, "inlink": 0.2,
                         "url": 0.05}
        toks = [t for t in text.split() if t]
        if not toks:
            return ""
        legs = " ".join(
            f"{w} #SUM( {' '.join(f'{t}.{f}' for t in toks)} )"
            for f, w in ws.items())
        return f"#WSUM( {legs} )"

    def search_web(self, text: str, model: str = "bm25", k: int = 100,
                   weights: dict[str, float] | None = None,
                   **kw) -> DataFrame:
        """Serve free text with the field-weighted web mix (compile_fielded):
        anchor-text and title evidence folded into the body ranking."""
        return self.search(self.compile_fielded(text, weights), model, k, **kw)

    def more_like_this(self, url: str, field: str = "body",
                       top_terms: int = 10, model: str = "bm25",
                       k: int = 100, **kw) -> DataFrame:
        """Related-pages query-by-document (the Lucene MoreLikeThis shape):
        read the doc's (term, tf) vector from the forward table, rank its
        terms by tf x BM25-idf (ln((N-df+.5)/(df+.5)), floored at 0; tie ->
        term asc), and serve the top `top_terms` as a bag-of-words query
        through the normal path. Driver-side state is one
        doc vector (doclen-bounded) + its term stats — never corpus-sized.
        At 10^12 docs the forward table is bucketed by docid so the vector
        fetch is a pruned point read; here it is a filtered scan."""
        import math as _m

        live = self.reader.docid_url_map().filter(F.col("url") == url)
        dels = self.reader.deletes_df()
        if dels is not None:
            # exclude tombstones: on an upserted index the url maps to both
            # the old (tombstoned) and the new docid — reading the stale
            # pre-recrawl doc vector would be nondeterministic; a deleted-
            # but-uncompacted url must error, not silently serve
            live = live.join(F.broadcast(dels), "docid", "left_anti")
        docid = live.agg(F.max("docid")).collect()[0][0]
        if docid is None:
            raise KeyError(f"url not indexed: {url}")
        vec = (self.reader.doc_terms()
               .filter((F.col("docid") == docid) & (F.col("field") == field))
               .select("term", "tf").collect())
        stats = self.reader.term_stats([(field, r["term"]) for r in vec])
        n = self.reader.doc_count(field)
        scored = sorted(
            ((-r["tf"] * max(0.0, _m.log((n - stats[(field, r["term"])][0] + 0.5)
                                         / (stats[(field, r["term"])][0] + 0.5))),
              r["term"]) for r in vec if (field, r["term"]) in stats),
        )
        terms = [t for s, t in scored[:top_terms] if s < 0.0]
        if not terms:
            raise ValueError(f"doc has no discriminative terms: {url}")
        return self.search(" ".join(terms), model, k, **kw)

    def snippets(self, results: DataFrame, pages: DataFrame, query: str,
                 width: int = 30, field: str = "body") -> DataFrame:
        """Highlighted best-window snippets for a (url, score) result frame
        — the user-facing passage under each hit. Window rule: the
        `width`-token window covering the most DISTINCT query terms, tie ->
        leftmost, candidate starts = match positions; no match -> the
        leading passage. Matching runs on the frozen tokenizer (stem/stop
        identical to the index), so what highlights is exactly what scored;
        the snippet text itself is the ORIGINAL field text with matched
        tokens wrapped in **..**.

        Scale shape: `results` is k-bounded -> broadcast to the pages scan
        (the classic doc-store point fetch; with the pages table bucketed
        by url the scan prunes to k buckets), and the window walk is one
        stateless mapInPandas over k rows. Nothing corpus-sized shuffles.
        Returns (url, score, start, n_terms, snippet)."""
        out = self.snippets_batch(
            results.withColumn("qid", F.lit("_q")), pages, {"_q": query},
            width=width, field=field)
        return out.drop("qid").orderBy(F.desc("score"), F.asc("url"))

    def snippets_batch(self, results: DataFrame, pages: DataFrame,
                       queries: dict[str, str], width: int = 30,
                       field: str = "body") -> DataFrame:
        """Multi-query twin of :meth:`snippets`: `results` carries
        (qid, url, score) rows for ALL queries of a batch, `queries` maps
        qid -> query string. ONE broadcast join into the pages scan and ONE
        mapInPandas over the (sum of k)-bounded hit rows serve every query
        — a param-file run with 100 queries costs one pages scan, not 100
        sequential ones. Per-row term sets come from a small driver-side
        qid -> terms map in the kernel closure. Returns
        (qid, url, score, start, n_terms, snippet)."""
        import pandas as pd

        from pyspark.sql import types as T

        from .corpus import extract_fields
        from .query import ast as _ast
        from .tokenizer import _TOKEN_RE, STOPWORDS, get_stemmer

        stem_fn = get_stemmer(self.reader.stemmer)  # index-pinned; in closure

        def qterms_of(query: str) -> frozenset:
            root = QueryParser(stemmer=self.reader.stemmer).parse(query)
            qterms: set[str] = set()

            def leaves(n):
                if isinstance(n, _ast.Term):
                    if n.field == field:
                        qterms.add(n.term)
                else:
                    for a in getattr(n, "args", []) or []:
                        leaves(a)
                    if hasattr(n, "arg"):
                        leaves(n.arg)

            leaves(root)
            return frozenset(qterms)

        terms_map = {qid: qterms_of(q) for qid, q in queries.items()}
        w = int(width)
        if w < 1:  # fail driver-side, not as a KeyError inside the kernel
            raise ValueError(f"snippet width must be >= 1, got {width}")

        def kernel(batches):
            for pdf in batches:
                rows = []
                for qid, url, html, score in zip(pdf["qid"], pdf["url"],
                                                 pdf["html"], pdf["score"]):
                    terms = terms_map.get(qid, frozenset())
                    text = extract_fields(url, bytes(html))[field]
                    low = text.lower()
                    # token spans come from the LOWERED text (that is where
                    # the index's positions live — tokenize_full lowercases
                    # first). Display slices the ORIGINAL text only when
                    # lower() was length-preserving (the overwhelming case;
                    # e.g. Turkish U+0130 expands under lower() and would
                    # shift every later offset), else the lowered text.
                    disp = text if len(low) == len(text) else low
                    spans = list(_TOKEN_RE.finditer(low))
                    stems = [None if m.group() in STOPWORDS
                             else stem_fn(m.group()) for m in spans]
                    matches = [i for i, s in enumerate(stems) if s in terms]
                    mset = set(matches)
                    # Sliding window over the (sorted) match positions:
                    # candidate start p = matches[j]; counts holds the
                    # multiset of stems at matches[j..r) with matches[r-1]
                    # < p + w, so len(counts) is the distinct-term score.
                    # Each match enters and leaves counts once -> O(M),
                    # not O(M * matches-per-window).
                    best_s, best_n = 0, 0
                    counts: dict = {}
                    r = 0
                    for j, p in enumerate(matches):
                        while r < len(matches) and matches[r] < p + w:
                            s = stems[matches[r]]
                            counts[s] = counts.get(s, 0) + 1
                            r += 1
                        n = len(counts)
                        if n > best_n:  # ties keep the leftmost (first) p
                            best_s, best_n = p, n
                        s = stems[p]  # evict p before the next start
                        c = counts[s] - 1
                        if c:
                            counts[s] = c
                        else:
                            del counts[s]
                    lo, hi = best_s, min(best_s + w, len(spans)) - 1
                    if hi < lo:
                        rows.append((qid, url, float(score), 0, 0, ""))
                        continue
                    out, cur = [], spans[lo].start()
                    for i in range(lo, hi + 1):
                        m = spans[i]
                        out.append(disp[cur:m.start()])
                        tok = disp[m.start():m.end()]
                        out.append(f"**{tok}**" if i in mset else tok)
                        cur = m.end()
                    rows.append((qid, url, float(score), lo + 1, best_n,
                                 "".join(out)))
                yield pd.DataFrame(rows, columns=["qid", "url", "score",
                                                  "start", "n_terms",
                                                  "snippet"])

        schema = T.StructType([
            T.StructField("qid", T.StringType(), False),
            T.StructField("url", T.StringType(), False),
            T.StructField("score", T.DoubleType(), False),
            T.StructField("start", T.IntegerType(), False),
            T.StructField("n_terms", T.IntegerType(), False),
            T.StructField("snippet", T.StringType(), False),
        ])
        hits = F.broadcast(results.select("qid", "url", "score"))
        return (pages.select("url", "html").join(hits, "url")
                .mapInPandas(kernel, schema)
                .orderBy(F.asc("qid"), F.desc("score"), F.asc("url")))

    @staticmethod
    def trec_lines(qid: str, ranking: list[tuple[str, float]], run_id: str = "run") -> list[str]:
        """TREC output: 'qid Q0 extid rank score runid'; dummy row when empty
        (QryEval.java:1442-1467)."""
        if not ranking:
            return [f"{qid} Q0 dummy 1 0 {run_id}"]
        return [
            f"{qid} Q0 {url} {i + 1} {score} {run_id}"
            for i, (url, score) in enumerate(ranking)
        ]
