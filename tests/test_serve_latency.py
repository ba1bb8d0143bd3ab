"""Serve-path latency hardening (r4 verdict item 5): steady-state
/search and /prediction run at most the scoring action per request —
the per-term df lookup and the per-token spell-candidate jobs are
memoized on the server and invalidated when the index generation
changes.  Actions are counted by instrumenting DataFrame.collect/
toPandas (the driver's job-submitting calls on these paths).

A warm bm25 /search under the in-process budget goes further: it makes
no JVM call at all (py4j round trips counted at the client), and its
body is byte-identical to rendering the public DataFrame API's rows and
to the same request forced to the Spark side."""

import json
import logging
import os
from urllib.parse import urlencode

import pytest
from pyspark.sql import DataFrame

from websearchengine_spark.operators import topk
from websearchengine_spark.sources.storage import IndexStorage


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
    assert stats.get("term_stats")  # warmed
    manifest = os.path.join(latency_srv.index_root, "_manifest.json")
    st = os.stat(manifest)
    os.utime(manifest, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    stats2, spell2 = latency_srv._caches()
    assert stats2 == {} and spell2 == {}  # invalidated, fresh dicts


class Py4jCounter:
    """Counts py4j round trips made by the calling thread (the client
    every Python -> JVM call goes through).  py4j's own finalizer thread
    is not counted: it releases JVM objects that earlier tests dropped,
    whenever Python's garbage collector happens to run."""

    def __init__(self, monkeypatch):
        import threading

        import py4j.clientserver as cs

        self.n = 0
        orig = cs.JavaClient.send_command
        counter = self
        me = threading.get_ident()

        def send_command(client, *a, **k):
            counter.n += threading.get_ident() == me
            return orig(client, *a, **k)

        monkeypatch.setattr(cs.JavaClient, "send_command", send_command)


@pytest.mark.parametrize("ranker", ["bm25", "comprehensive"])
def test_warm_gated_search_makes_no_jvm_call(latency_srv, monkeypatch, ranker):
    """The in-process result renders straight from its pyarrow table:
    no createDataFrame, no collect, no py4j round trip at all — for
    bm25 and for comprehensive (its priors come from the same docs
    lookup as the metadata).  The same request on the Spark side does
    cross (the counter counts)."""
    q = f"query=web+search&ranker={ranker}&num=5"
    cold = latency_srv._handle("/search", q)
    counter = Py4jCounter(monkeypatch)
    warm = latency_srv._handle("/search", q)
    assert warm == cold
    assert counter.n == 0, f"warm gated /search made {counter.n} py4j calls"
    monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", 0)
    assert latency_srv._handle("/search", q) == cold
    assert counter.n > 0


PARITY_QUERIES = [
    ("web search", 10),  # plain
    ('"data mining"', 10),  # phrase
    ("web zzzznope", 10),  # a term absent from the index: empty
    ("web search", 3),
]


def _expected_body(spark, root, uri):
    """render.format_* over the public API's collected rows."""
    from websearchengine_spark.operators.query import parse_cgi_args, search_uri
    from websearchengine_spark.operators.render import (
        format_html_results,
        format_text_results,
    )

    args = parse_cgi_args(uri, url_decode=True)
    rows = search_uri(spark, root, uri).collect()
    if args["format"] == "html":
        return format_html_results(rows, args["query"], args["ranker"])
    return format_text_results(rows)


def _assert_serve_parity(spark, srv, monkeypatch, queries):
    """Each query in text and html: the served body equals rendering
    search_uri(...).collect(), and is byte-identical with the gate
    forced to the Spark side."""
    nonempty = 0
    for query, num in queries:
        for fmt in ("text", "html"):
            uri = urlencode(
                {"query": query, "ranker": "bm25", "num": num, "format": fmt}
            )
            status, _ctype, body = srv._handle("/search", uri)
            assert status == 200, body
            assert body == _expected_body(spark, srv.index_root, uri), uri
            with monkeypatch.context() as m:
                m.setattr(topk, "INPROC_MAX_POSTINGS", 0)
                assert srv._handle("/search", uri)[2] == body, uri
            nonempty += fmt == "text" and body != ""
    assert nonempty == len(queries) - 1  # only the absent-term query is empty


def test_serve_body_parity_across_gate(spark, latency_srv, monkeypatch):
    _assert_serve_parity(spark, latency_srv, monkeypatch, PARITY_QUERIES)


@pytest.fixture(scope="module")
def live_srv(spark, corpus_pdf, tmp_path_factory):
    """A 2-segment live root: the 200-doc base plus a 30-url re-crawl
    (30 pending tombstones), the re-crawls repeating the query words so
    both segments match."""
    from tests.test_tombstones import N_SHARDS, _recrawled
    from websearchengine_spark.serve import SearchHTTPServer
    from websearchengine_spark.streaming.ingest import (
        apply_pages_batch,
        pending_tombstones,
    )

    by_url, re = _recrawled(corpus_pdf, 40, 70, tag="data mining web search")
    root = str(tmp_path_factory.mktemp("latency_live") / "live")
    apply_pages_batch(
        spark, spark.createDataFrame(by_url), 0, root,
        n_shards=N_SHARDS, n_groups=2,
    )
    apply_pages_batch(spark, spark.createDataFrame(re), 1, root)
    assert pending_tombstones(root) == 30
    return SearchHTTPServer(spark, root)


def test_live_serve_body_parity_across_gate(spark, live_srv, monkeypatch):
    """The same parity through query.search's live dispatch, tombstones
    masked on both sides; a warm all-in-process live /search makes no
    JVM call either."""
    _assert_serve_parity(spark, live_srv, monkeypatch, PARITY_QUERIES)
    q = "query=data+mining&ranker=bm25&num=50"
    cold = live_srv._handle("/search", q)
    counter = Py4jCounter(monkeypatch)
    assert live_srv._handle("/search", q) == cold
    assert counter.n == 0, f"warm live /search made {counter.n} py4j calls"


def test_request_records(latency_srv, monkeypatch, caplog):
    """One JSON line per request on the serve logger: endpoint, status,
    wall ms, and for /search the side the evaluation ran on — plus, in
    process, what it read: the kernel's blocks decoded versus the query
    terms' blocks, and per table the files and row groups read versus
    the table's totals (gathered without a JVM call)."""
    caplog.set_level(logging.INFO, logger="websearchengine_spark.serve")
    q = "query=web+search&ranker=bm25&num=5"
    latency_srv._handle("/search", q)
    monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", 0)
    latency_srv._handle("/search", q)
    latency_srv._handle("/search", "query=x")  # ranker none: error page
    latency_srv._handle("/prediction", "query=wes+search")
    latency_srv._handle("/nope", "")
    recs = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == "websearchengine_spark.serve"
    ]
    assert [(r["endpoint"], r["status"], r.get("ran")) for r in recs] == [
        ("/search", 200, "inproc"),
        ("/search", 200, "spark"),
        ("/search", 200, None),
        ("/prediction", 200, None),
        ("/nope", 404, None),
    ]
    assert all(r["wall_ms"] > 0 for r in recs)
    read = recs[0]["read"]
    assert 0 < read["blocks_decoded"] <= read["blocks_total"]
    for table in ("postings", "docs"):
        seen = read[table]
        assert 0 < seen["files_read"] <= seen["files_total"], (table, seen)
        assert 0 < seen["row_groups_read"] <= seen["row_groups_total"], (table, seen)
    # the term-clustered postings: a 2-term query opens at most 2 files
    # per (term, group) of the table's files
    groups = IndexStorage(latency_srv.index_root).read_manifest()["config"]["n_groups"]
    assert read["postings"]["files_read"] <= 2 * 2 * groups
    assert all("read" not in r for r in recs[1:])
