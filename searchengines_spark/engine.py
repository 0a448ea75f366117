"""Engine facade: parse -> plan -> top-k, plus TREC-format output.

Top-k uses the reference's deterministic sort rule — score desc, external id
(url) asc (ScoreList.java:90-105) — executed as Spark's
TakeOrderedAndProject (orderBy + limit), which does per-partition heaps and
a driver merge: exactly the distributed top-k you want at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index.build import IndexReader
from .query import ast
from .query.models import BM25, make_model
from .query.parser import QueryParser
from .query.planner import Planner
from .query.wand import wand_topk


def _flat_bm25_terms(root) -> tuple[list[str], str] | None:
    """If the tree is a flat bag-of-words #SUM of single same-field terms
    (the default BM25 shape, RetrievalModelBM25.java:22-24) return (terms in
    query order, field); else None. Repeated terms fall back to the planner
    (the WAND kernel keys cursors by term)."""
    if not isinstance(root, ast.Sum):
        return None
    terms, fields = [], set()
    for a in root.args:
        if not (isinstance(a, ast.Score) and isinstance(a.arg, ast.Term)):
            return None
        terms.append(a.arg.term)
        fields.add(a.arg.field)
    if len(fields) != 1 or len(set(terms)) != len(terms):
        return None
    return terms, fields.pop()


class Engine:
    def __init__(self, reader: IndexReader):
        self.reader = reader

    def _wand_stale(self, m) -> bool:
        """Block max_score bounds are trustworthy only if the manifest
        records the exact (k1, b) they were encoded with and no append has
        happened since; anything else -> conservative bound recompute. A
        manifest without recorded encode params is treated as stale rather
        than assuming defaults."""
        man = self.reader.manifest
        return (bool(man.get("stale_block_bounds"))
                or "bm25_k1" not in man
                or (m.k1, m.b) != (man["bm25_k1"], man.get("bm25_b", 0.75)))

    def search(self, query: str, model: str = "bm25", k: int = 100,
               use_wand: bool = True, **model_kw) -> DataFrame:
        """Returns (url, score) top-k, reference sort rule. Flat BM25
        bag-of-words queries serve through the block-max WAND kernel
        (score-identical to the exhaustive plan; pruning only skips blocks
        that cannot reach the top k)."""
        m = make_model(model, **model_kw)
        root = QueryParser(m.name, stemmer=self.reader.stemmer).parse(query)
        if root is None:  # all stopwords
            return self.reader.docid_url_map().select("url", F.lit(0.0).alias("score")).limit(0)
        if use_wand and isinstance(m, BM25):
            flat = _flat_bm25_terms(root)
            if flat is not None:
                terms, field = flat
                return wand_topk(self.reader, terms, field=field, k=k,
                                 k1=m.k1, b=m.b,
                                 recompute_bounds=self._wand_stale(m))
        scores = self._drop_deleted(Planner(self.reader, m).plan(root))
        urls = self.reader.docid_url_map()
        top = self._topk_per_segment(scores, k)
        base = top.hint("broadcast") if top is not None else scores
        return (
            base.join(urls, "docid")
            .select("url", "score")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )

    def _topk_per_segment(self, scores: DataFrame, k: int,
                          by: tuple = ()) -> DataFrame | None:
        """Cut the candidate set to an exact top-k pool BEFORE resolving
        urls, so the O(corpus) docid↔url table joins against <= k*n_seg
        rows (broadcast) instead of every candidate.

        The reference tie rule is (score desc, external-id asc)
        (ScoreList.java:90-105). Docids are url ranks WITHIN each url-rank
        segment — the base build plus each append delta
        (IndexReader.segment_cuts) — so a per-partition (score desc, docid
        asc) cut over partitions that never mix segments keeps every true
        winner: two-stage window, first by (seg, docid mod P) for an
        evenly-hashed distributed partial top-k (no single-task sort), then
        by seg to bound the pool at k per segment. The caller's final
        (score desc, url asc) sort over the pool restores the exact
        reference order. Returns None when segment history is unusable —
        caller falls back to resolving urls for every candidate.

        ``by`` prepends grouping columns (the batch path's qid) to both
        window partitions."""
        cuts = self.reader.segment_cuts()
        if cuts is None:
            return None
        if len(cuts) == 1 and not by:
            # fresh/unappended index: TakeOrderedAndProject (map-side
            # partial top-k + driver merge, no shuffle at all)
            return scores.orderBy(F.desc("score"), F.asc("docid")).limit(k)
        from functools import reduce

        from pyspark.sql import Window

        seg = reduce(
            lambda a, b: a + b,
            [(F.col("docid") >= F.lit(c)).cast("int") for c in cuts[1:]],
            F.lit(0),
        )
        n_p = max(self.reader.spark.sparkContext.defaultParallelism, 16)
        bucket = F.pmod(F.col("docid"), F.lit(n_p))
        w1 = Window.partitionBy(*by, seg, bucket).orderBy(
            F.desc("score"), F.asc("docid"))
        pool = (
            scores.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= k).drop("__rn")
        )
        w2 = Window.partitionBy(*by, seg).orderBy(
            F.desc("score"), F.asc("docid"))
        return (
            pool.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= k).drop("__rn")
        )

    def _drop_deleted(self, scores: DataFrame) -> DataFrame:
        """Merge-on-read tombstone filter for the planner path: a broadcast
        anti-join on docid (the tombstone table is bounded by deletes since
        the last compaction). No-op when the index has no deletes."""
        dels = self.reader.deletes_df()
        if dels is None:
            return scores
        return scores.join(F.broadcast(dels), "docid", "left_anti")

    def search_batch_df(self, queries: dict[str, str], model: str = "bm25",
                        k: int = 100, use_wand: bool = True,
                        **model_kw) -> DataFrame:
        """ALL queries compiled into ONE Catalyst plan — an N-query workload
        is one Spark action, not N (the reference's 57-query runs loop
        QryEval.java:1381-1416 sequentially; at cluster scale the per-job
        overhead dominates that shape).

        Flat BM25 bag-of-words queries route through the MULTI-QUERY
        block-max WAND kernel: one pruned block scan + one stripe shuffle
        for the whole flat set, per-term block lists built once, a shared
        per-stripe decode cache across queries — score-identical to the
        exhaustive fold. Everything else compiles through the planner over
        a shared slim postings scan; both result frames union into one
        window top-k.

        Returns (qid, url, score, rank). Queries that parse to nothing (all
        stopwords) are absent."""
        from functools import reduce

        from pyspark.sql import Window

        from .query.planner import _collect_terms
        from .query.postings import decode_postings
        from .query.wand import wand_topk_batch_local

        m = make_model(model, **model_kw)
        roots = {}
        for qid, q in queries.items():
            root = QueryParser(m.name, stemmer=self.reader.stemmer).parse(q)
            if root is not None:
                roots[qid] = root
        urls = self.reader.docid_url_map()
        if not roots:
            return urls.select(
                F.lit("").alias("qid"), "url",
                F.lit(0.0).alias("score"), F.lit(0).alias("rank")).limit(0)

        wand_q: dict[str, tuple[list[str], str]] = {}
        if use_wand and isinstance(m, BM25):
            for qid in list(roots):
                flat = _flat_bm25_terms(roots[qid])
                if flat is not None:
                    wand_q[qid] = (flat[0], flat[1])
                    del roots[qid]

        frames = []
        held_caches = []
        if roots:
            all_terms = sorted({t for r in roots.values() for t in _collect_terms(r)})
            need_pos = any(Planner(self.reader, m)._needs_positions(r)
                           for r in roots.values())
            if need_pos and not getattr(self.reader, "store_positions", True):
                raise ValueError(
                    "positional operator in batch on an index built with "
                    "store_positions=False (DOCS_AND_FREQS)")
            shared = decode_postings(
                self.reader.blocks_for(all_terms), with_positions=need_pos,
                payload_codec=self.reader.payload_codec,
                norms_dir=self.reader.norms_dir,
                salt_range=self.reader.salt_range).cache()
            held_caches.append(shared)
            # fill the cache before N query legs reference it — concurrent
            # legs of one lazy action would each recompute the decode
            # (Spark's cache has no cross-task compute lock)
            shared.count()
            stats = self.reader.term_stats(all_terms)
            # term-leaf-only trees fold into ONE plan for the whole group
            # (one pivot shuffle + per-qid CASE, float-identical — see
            # plan_batch_fold); positional queries keep per-query legs.
            # Chunked so the CASE/pivot width stays codegen-friendly.
            from .query.planner import fold_eligible, plan_batch_fold
            foldable = {qid: r for qid, r in roots.items() if fold_eligible(r)}
            fold_qids = sorted(foldable)
            for i0 in range(0, len(fold_qids), 256):
                grp = {q: foldable[q] for q in fold_qids[i0:i0 + 256]}
                frames.append(self._drop_deleted(
                    plan_batch_fold(self.reader, m, grp, shared, stats)))
            for qid, root in roots.items():
                if qid in foldable:
                    continue
                scores = self._drop_deleted(Planner(self.reader, m).plan(
                    root, shared_postings=shared, shared_stats=stats))
                frames.append(scores.select(F.lit(qid).alias("qid"), "docid", "score"))
        if wand_q:
            # all-flat-BM25 batch (the TREC-run common case): urls resolve
            # inside the stripe tasks (index/urlmap.py point probes), so
            # the whole batch is the stripe job + one tiny per-qid window
            # over <= k*n_stripes*n_queries rows — no url-table join, no
            # segment-pool stage
            fused = not frames
            wframe = wand_topk_batch_local(
                self.reader, wand_q, k=k, k1=m.k1, b=m.b,
                recompute_bounds=self._wand_stale(m),
                deleted=self.reader.deleted_set(), resolve_urls=fused)
            if fused:
                w = Window.partitionBy("qid").orderBy(
                    F.desc("score"), F.asc("url"))
                return (
                    wframe.select("qid", "url", "score")
                    .withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .select("qid", "url", "score", "rank")
                )
            frames.append(wframe.select("qid", "docid", "score"))
        unioned = reduce(lambda a, b: a.unionByName(b), frames)
        # per-qid exact top-k pool BEFORE the url join (see
        # _topk_per_segment) — the url map then resolves <= k*n_seg rows
        # per query (broadcast) instead of every candidate of every query
        # against the O(corpus) docid↔url table.
        top = self._topk_per_segment(unioned, k, by=("qid",))
        base = top.hint("broadcast") if top is not None else unioned
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("url"))
        out = (
            base.join(urls, "docid")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "url", "score", "rank")
        )
        # the shared decode cache must outlive the CALLER's action (the
        # returned frame is lazy), so it can't unpersist here — hand it to
        # the caller; search_batch releases it after collecting. A caller
        # using the DataFrame directly releases via the same attribute or
        # lets the LRU/storage eviction handle it.
        out._se_held_caches = held_caches
        return out

    @staticmethod
    def release_held_caches(df) -> None:
        """Unpersist the shared decode cache(s) a search_batch_df frame
        holds (attribute survives only on the RETURNED frame — capture it
        before chaining further transformations). Call after the last
        action that reads the frame's lineage."""
        for c in getattr(df, "_se_held_caches", []):
            c.unpersist()

    def search_batch(self, queries: dict[str, str], model: str = "bm25",
                     k: int = 100, **model_kw) -> dict[str, list[tuple[str, float]]]:
        """One action for the whole batch; empty/all-stopword queries map to
        empty rankings."""
        out: dict[str, list[tuple[str, float]]] = {qid: [] for qid in queries}
        df = self.search_batch_df(queries, model, k, **model_kw)
        try:
            rows = df.collect()
        finally:
            # release the structured-path shared decode cache (one per
            # batch call; nothing references it after the collect)
            self.release_held_caches(df)
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
        existing planner/positional operators, nothing new executes.
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
        through the normal path (WAND-eligible). Driver-side state is one
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
