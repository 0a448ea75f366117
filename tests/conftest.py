import os
import sys

import pytest

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
