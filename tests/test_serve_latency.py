"""Serve-path latency hardening (r4 verdict item 5): steady-state
/search and /prediction run at most the scoring action per request —
the per-term df lookup and the per-token spell-candidate jobs are
memoized on the server and invalidated when the index generation
changes.  Actions are counted by instrumenting DataFrame.collect/
toPandas (the driver's job-submitting calls on these paths)."""

import os

import pytest
from pyspark.sql import DataFrame


@pytest.fixture(scope="module")
def latency_srv(spark, corpus_pdf, tmp_path_factory):
    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.serve import SearchHTTPServer

    base = tmp_path_factory.mktemp("latency")
    root = str(base / "idx")
    build_index(
        spark,
        spark.createDataFrame(corpus_pdf),
        root,
        n_shards=4,
        n_groups=2,
        keep_doc_tokens=True,
        spell_assist=True,
    )
    return SearchHTTPServer(spark, root)


class ActionCounter:
    """Counts DataFrame.collect/toPandas invocations (each is one driver
    action; AQE may fan one action into several DAG jobs — the action
    count is what the serve path controls)."""

    def __init__(self, monkeypatch):
        self.n = 0
        orig_collect, orig_topandas = DataFrame.collect, DataFrame.toPandas
        counter = self

        def collect(df):
            counter.n += 1
            return orig_collect(df)

        def toPandas(df):  # noqa: N802
            counter.n += 1
            return orig_topandas(df)

        monkeypatch.setattr(DataFrame, "collect", collect)
        monkeypatch.setattr(DataFrame, "toPandas", toPandas)


def test_warm_search_is_single_action(latency_srv, monkeypatch):
    q = "query=web+search&ranker=bm25&num=5"
    cold = latency_srv._handle("/search", q)
    counter = ActionCounter(monkeypatch)
    warm = latency_srv._handle("/search", q)
    assert warm == cold  # responses unchanged by the cache
    assert counter.n <= 2, f"warm /search ran {counter.n} driver actions"
    # a warm query with the SAME terms in a new combination also skips
    # the df lookup (the cache is per-term, not per-query)
    counter.n = 0
    latency_srv._handle("/search", "query=search+web&ranker=bm25&num=5")
    assert counter.n <= 2


def test_warm_gated_search_runs_no_spark_job(spark, latency_srv):
    """A warm bm25 /search under the in-process budget answers from the
    serving process: zero Spark jobs around the whole handler."""
    from tests.conftest import count_jobs

    q = "query=web+search&ranker=bm25&num=5"
    cold = latency_srv._handle("/search", q)
    warm, jobs = count_jobs(spark, lambda: latency_srv._handle("/search", q))
    assert warm == cold
    assert jobs == 0, f"warm gated /search ran {jobs} Spark jobs"


def test_warm_prediction_is_single_action(latency_srv, monkeypatch):
    q = "query=wes+search"
    cold = latency_srv._handle("/prediction", q)
    counter = ActionCounter(monkeypatch)
    warm = latency_srv._handle("/prediction", q)
    assert warm == cold
    assert counter.n <= 2, f"warm /prediction ran {counter.n} driver actions"


def test_generation_change_drops_caches(latency_srv):
    latency_srv._handle("/search", "query=web+search&ranker=bm25&num=5")
    stats, spell = latency_srv._caches()
    assert stats.get("df")  # warmed
    manifest = os.path.join(latency_srv.index_root, "_manifest.json")
    st = os.stat(manifest)
    os.utime(manifest, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    stats2, spell2 = latency_srv._caches()
    assert stats2 == {} and spell2 == {}  # invalidated, fresh dicts
