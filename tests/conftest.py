import contextlib
import os
import sys

import pytest
from pyspark.sql.conf import RuntimeConfig

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-build lifecycle tests (~1 min each)")


@pytest.fixture(scope="session")
def spark():
    from searchengines_spark.session import get_spark

    s = get_spark("tests", cores=int(os.environ.get("TEST_CORES", "8")), shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def conf_spy():
    """``with conf_spy() as keys:`` records every session-conf key set
    inside the block (the engine sets none: concurrent callers on one
    SparkSession must not see each other's conf)."""

    @contextlib.contextmanager
    def spy():
        keys = []
        real = RuntimeConfig.set

        def record(self, key, value):
            keys.append(key)
            return real(self, key, value)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(RuntimeConfig, "set", record)
            yield keys

    return spy


# table -> the columns its content fingerprint hashes
FINGERPRINT_TABLES = {
    "blocks": ["field", "term", "salt", "blk", "n", "min_docid", "max_docid",
               "docids_z", "tfs_z", "positions_z"],
    "term_stats": ["field", "term", "df", "ctf"],
    "field_stats": ["field", "doc_count", "sum_len"],
    "doc_lens": ["docid", "field", "len"],
    "doc_lens_wide": ["docid", "len_body", "len_title", "len_url",
                      "len_keywords", "len_inlink"],
    "docids": ["url", "docid", "spam_score", "page_rank"],
    "anchor_state": ["docid", "url", "inlink"],
}


def index_fingerprint(spark, d, tables=FINGERPRINT_TABLES):
    """Order-insensitive content hash of an index's tables: a list of
    (table, sum of per-row md5 prefixes, rows). A table absent from ``d``
    (anchor_state of an index built without anchors) is left out."""
    import pyspark.sql.functions as F

    parts = []
    for tbl, cols in tables.items():
        path = os.path.join(d, tbl)
        if not os.path.isdir(path):
            continue
        # a null column hashes apart from an empty one
        vals = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
        h = spark.read.parquet(path).select(
            F.md5(F.concat_ws("\x01", *vals)).alias("h"))
        agg = h.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"),
                    F.count(F.lit(1)).alias("n")).collect()[0]
        parts.append((tbl, int(agg["s"] or 0), int(agg["n"])))
    return parts


@pytest.fixture(scope="session")
def tiny_index(spark, tmp_path_factory):
    """Build a small deterministic index once per test session."""
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import build_index, IndexReader

    d = str(tmp_path_factory.mktemp("idx"))
    pages = generate_pages(spark, 300, seed=42, partitions=4)
    build_index(spark, pages, d, n_salts=4)
    return IndexReader(spark, d)


@pytest.fixture(scope="session")
def tiny_oracle():
    """oracle.py index over tiny_index's corpus (the English pages)."""
    from searchengines_spark.corpus import FIELDS, extract_fields, make_page
    from searchengines_spark.oracle import OracleIndex
    from searchengines_spark.tokenizer import tokenize_full

    docs = []
    for i in range(300):
        url, _, html, _, lang = make_page(i, seed=42)
        if lang != "en":
            continue
        f = extract_fields(url, html)
        docs.append((url, {k: tokenize_full(f[k]) for k in FIELDS}))
    return OracleIndex.from_docs(docs)
