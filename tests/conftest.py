import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from websearchengine_spark.session import get_spark

    s = get_spark("wse-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    """200-doc deterministic synthetic corpus (FIXTURES.md sizes)."""
    import numpy as np

    from websearchengine_spark.sources.corpus import gen_pages_pdf

    return gen_pages_pdf(np.arange(200), n_docs=200, seed=42)


@pytest.fixture(scope="session")
def oracle_index(corpus_pdf):
    from tests.oracle import OracleIndex

    return OracleIndex(corpus_pdf)


@pytest.fixture(scope="session")
def built_index(spark, corpus_pdf, tmp_path_factory):
    """Spark-built index over the 200-doc corpus, 3 shards (odd on purpose)."""
    from websearchengine_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("index"))
    pages = spark.createDataFrame(corpus_pdf)
    build_index(spark, pages, root, n_shards=3, n_groups=2)
    return root


REFERENCE_QUERIES = [
    "bing",
    "data mining",
    "google",
    "salsa",
    "web search",
    "google map",
    "apple",
    "iphone ios",
]

PHRASE_QUERIES = [
    '"data mining"',
    'new "york" city',
    '"web search" google',
]


def count_jobs(spark, fn):
    """(fn(), the number of Spark jobs it started), counted by the
    StatusTracker over a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
