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
import sys
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
    store, spell = latency_srv._caches()
    assert store.term_stats  # warmed
    manifest = os.path.join(latency_srv.index_root, "_manifest.json")
    st = os.stat(manifest)
    os.utime(manifest, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    store2, spell2 = latency_srv._caches()
    # invalidated: a new store with an empty memo, a fresh spell dict
    assert store2 is not store and store2.term_stats == {} and spell2 == {}


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


def _open_fds_under(root: str) -> int:
    """File descriptors of this process open on files under ``root``."""
    n = 0
    for fd in os.listdir("/proc/self/fd"):
        try:
            n += os.readlink(f"/proc/self/fd/{fd}").startswith(os.path.realpath(root))
        except OSError:
            pass
    return n


def test_warm_gated_search_reads_no_ranges_or_footers(latency_srv, monkeypatch):
    """On an unchanged generation a warm gated /search reuses the opened
    index: it reads no _ranges.json and parses no parquet footer (counted
    at the functions that do, not by timing)."""
    import pyarrow.parquet as pq

    from websearchengine_spark.sources import storage

    for ranker in ("bm25", "comprehensive"):
        latency_srv._handle("/search", f"query=web+search&ranker={ranker}&num=5")
    counts = {"ranges": 0, "footers": 0}

    def counting(key, fn):
        def wrapped(*a, **kw):
            counts[key] += 1
            return fn(*a, **kw)

        return wrapped

    monkeypatch.setattr(storage, "_recorded_ranges", counting("ranges", storage._recorded_ranges))
    monkeypatch.setattr(storage, "_file_key_ranges", counting("footers", storage._file_key_ranges))
    monkeypatch.setattr(pq, "ParquetFile", counting("footers", pq.ParquetFile))
    monkeypatch.setattr(pq, "read_metadata", counting("footers", pq.read_metadata))
    for ranker in ("bm25", "comprehensive"):
        status, _, body = latency_srv._handle(
            "/search", f"query=web+search&ranker={ranker}&num=5"
        )
        assert status == 200 and body
    assert counts == {"ranges": 0, "footers": 0}


def test_generation_change_builds_a_new_store_and_closes_the_old(latency_srv):
    """A generation change gives the next request a new store, and the
    old store's open files are closed: no descriptor outlives it."""
    q = "query=web+search&ranker=bm25&num=5"
    body = latency_srv._handle("/search", q)[2]
    old, _ = latency_srv._caches()
    assert _open_fds_under(latency_srv.index_root) > 0
    manifest = os.path.join(latency_srv.index_root, "_manifest.json")
    st = os.stat(manifest)
    os.utime(manifest, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    new, _ = latency_srv._caches()
    assert new is not old
    assert _open_fds_under(latency_srv.index_root) == 0
    assert latency_srv._handle("/search", q)[2] == body
    assert latency_srv._caches()[0] is new


def test_concurrent_searches_equal_serial(latency_srv):
    """N threads on one server (one shared store) get the bodies of a
    serial run, and each request's ``read`` record covers that request
    alone."""
    from concurrent.futures import ThreadPoolExecutor

    uris = [
        f"query={q}&ranker={r}&num={n}"
        for q in ("web+search", "data+mining", "google", "%22data+mining%22", "the+of")
        for r in ("bm25", "comprehensive")
        for n in (3, 10)
    ]

    def run(uri):
        record: dict = {}
        body = latency_srv._route("/search", uri, record)[2]
        return body, record.get("read")

    for uri in uris:  # warm: a cold term's record also counts its term_stats read
        run(uri)
    serial = [run(u) for u in uris]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads finely
    try:
        with ThreadPoolExecutor(max_workers=2 * os.cpu_count()) as pool:
            for _ in range(3):
                assert list(pool.map(run, uris, timeout=120)) == serial
    finally:
        sys.setswitchinterval(switch)
    assert all(read for _, read in serial)


def test_live_search_reads_the_catalog_once(spark, live_srv, monkeypatch):
    """A live query reads _live.json once, on either side of the gate,
    and answers as before (the parity tests pin the answers)."""
    from websearchengine_spark.streaming import ingest

    calls = []
    read = ingest.read_live_catalog
    monkeypatch.setattr(
        ingest, "read_live_catalog", lambda root: calls.append(root) or read(root)
    )
    want = None
    for cap in (topk.INPROC_MAX_POSTINGS, 0):
        monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", cap)
        calls.clear()
        rows = [
            (r["doc_id"], r["score"])
            for r in ingest.search_live(spark, live_srv.index_root, "data mining", k=20).collect()
        ]
        assert calls == [live_srv.index_root]
        want = want or rows
        assert rows == want and rows
