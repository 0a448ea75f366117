"""searchengines_spark — a PySpark-native inverted-index build + BM25
retrieval engine.

Brand-new engine (NOT a port) with the query/data-processing capabilities of
the reference single-node Java engine at /root/reference (patrickhuang112/
SearchEngines): four retrieval models (UnrankedBoolean, RankedBoolean, BM25,
Indri), structured operators (#AND #OR #SUM #WAND #WSUM #NEAR/n #WINDOW/n
#SYN, term.field), PRF query expansion, LTR feature extraction, and
xQuAD/PM2 diversification — plus, new per the north rule, the index *build*
itself: term-partitioned docid-sorted delta+varint-compressed posting lists
with per-block docid ranges, salted repartition for hot-term skew,
resumable segmented build with per-partition lineage, and a top-k serving
path that evaluates every query per docid stripe.

Architecture is Spark-first: DataFrame/SQL plans for everything set-oriented,
Arrow-vectorized pandas UDFs only where Spark lacks the primitive (tokenize,
varint codec, positional NEAR/WINDOW alignment, the stripe evaluator).
"""

__version__ = "0.1.0"
