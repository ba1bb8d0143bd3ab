"""Rank-identity end-to-end (SURVEY.md §5.2(4)): the Spark engine must
reproduce the oracle's top-k docids AND scores (<1e-9) for the 8-query
reference set over the synthetic corpus, for comprehensive / favorite /
conjunctive / bm25, including phrase queries, on a 3-shard index."""

import pytest

from tests.conftest import PHRASE_QUERIES, REFERENCE_QUERIES
from websearchengine_spark.operators.query import run_query


def _spark_results(spark, root, q, ranker, k=10):
    rows = run_query(spark, root, q, ranker=ranker, k=k).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize("query", REFERENCE_QUERIES)
def test_comprehensive_rank_identity(spark, built_index, oracle_index, query):
    got = _spark_results(spark, built_index, query, "comprehensive")
    want = oracle_index.query(query, "comprehensive", 10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (d1, s1), (d2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9, (query, d1, s1, s2)


@pytest.mark.parametrize("query", ["data mining", "google map", "apple"])
def test_favorite_rank_identity(spark, built_index, oracle_index, query):
    got = _spark_results(spark, built_index, query, "favorite")
    want = oracle_index.query(query, "favorite", 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9


@pytest.mark.parametrize("query", ["web search", "salsa"])
def test_conjunctive_rank_identity(spark, built_index, oracle_index, query):
    got = _spark_results(spark, built_index, query, "conjunctive")
    want = oracle_index.query(query, "conjunctive", 10)
    # all scores 1.0 -> tie-break puts lowest doc_ids first
    assert got == want


@pytest.mark.parametrize("query", PHRASE_QUERIES)
def test_phrase_rank_identity(spark, built_index, oracle_index, query):
    got = _spark_results(spark, built_index, query, "comprehensive")
    want = oracle_index.query(query, "comprehensive", 10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (d1, s1), (d2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9


@pytest.mark.parametrize("query", ["data mining", "google map"])
def test_bm25_rank_identity(spark, built_index, oracle_index, query):
    got = _spark_results(spark, built_index, query, "bm25")
    want = oracle_index.bm25(query, 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9


def test_empty_query(spark, built_index):
    assert run_query(spark, built_index, "", k=10).count() == 0
    assert run_query(spark, built_index, '""', k=10).count() == 0


def test_no_match_query(spark, built_index):
    assert run_query(spark, built_index, "zzzznonexistentterm", k=10).count() == 0


def test_shard_count_invariance(spark, corpus_pdf, oracle_index, tmp_path):
    """Same top-k from a differently-sharded index (distributed-merge proof)."""
    from websearchengine_spark.operators.build import build_index

    root = str(tmp_path / "idx7")
    pages = spark.createDataFrame(corpus_pdf)
    build_index(spark, pages, root, n_shards=7, n_groups=3)
    for q in ["data mining", '"web search" google', "apple"]:
        got = _spark_results(spark, root, q, "comprehensive")
        want = oracle_index.query(q, "comprehensive", 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (d1, s1), (d2, s2) in zip(got, want):
            assert abs(s1 - s2) < 1e-9


def test_search_front_door_routes_both_paths(spark, built_index, oracle_index):
    """search() is the public entry: bm25 and the reference scorers,
    plain and phrase queries, all rank like the oracle."""
    from websearchengine_spark.operators.query import search

    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, built_index, "web search", ranker="bm25", k=5).collect()
    ]
    want = [(d, round(s, 9)) for d, s in oracle_index.bm25("web search", 5)]
    assert [d for d, _ in got] == [d for d, _ in want]

    comp = search(spark, built_index, '"data mining"', ranker="comprehensive", k=5).collect()
    assert len(comp) > 0
    assert [r["doc_id"] for r in comp] == [
        d for d, _ in oracle_index.query('"data mining"', ranker="comprehensive", k=5)
    ]


def test_parse_cgi_args_reference_semantics():
    """F8 (QueryHandler.java:105-155): first-'=' split, keyless params
    skipped, invalid numbers/enums silently ignored, defaults kept."""
    from websearchengine_spark.operators.query import parse_cgi_args

    a = parse_cgi_args("query=web+search&ranker=COSINE&num=5&format=html")
    assert a["query"] == "web+search"  # reference stores the RAW value
    assert a["ranker"] == "cosine" and a["num"] == 5 and a["format"] == "html"

    b = parse_cgi_args("query=x&num=notanint&ranker=BOGUS&format=JSON&redirect=1&orphan")
    assert b["num"] == 10 and b["ranker"] == "none" and b["format"] == "text"
    assert b["redirect"] is True and b["query"] == "x"

    c = parse_cgi_args("query=a%20b+c&numdocs=7&numterms=2", url_decode=True)
    assert c["query"] == "a b c" and c["numdocs"] == 7 and c["numterms"] == 2
    # value containing '=' splits only on the first
    d = parse_cgi_args("query=a=b")
    assert d["query"] == "a=b"


def test_search_uri_dispatch(spark, built_index, oracle_index):
    from websearchengine_spark.operators.query import search_uri

    rows = search_uri(spark, built_index, "query=web+search&ranker=bm25&num=3").collect()
    assert [r["doc_id"] for r in rows] == [d for d, _ in oracle_index.bm25("web search", 3)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="none"):
        search_uri(spark, built_index, "query=x")
    with _pytest.raises(ValueError, match="fullscan corpus"):
        search_uri(spark, built_index, "query=x&ranker=cosine")


def test_search_uri_dispatches_every_reference_ranker(spark, built_index):
    """Round-3: the reference serves ALL RankerTypes from /search
    (QueryHandler.java:297, Ranker.java:63-89) — every legal ranker value
    must return results from the one endpoint, no ValueError.  The
    fullscan family routes through run_fullscan_query over a supplied
    corpus; results must match calling it directly."""
    from tests.test_fullscan import make_tsv_corpus

    from websearchengine_spark.operators.fullscan import (
        prepare_fullscan,
        run_fullscan_query,
    )
    from websearchengine_spark.operators.query import search_uri

    indexed = ["conjunctive", "favorite", "comprehensive", "bm25"]
    for ranker in indexed:
        rows = search_uri(
            spark, built_index, f"query=web+search&ranker={ranker}&num=3"
        ).collect()
        assert 0 < len(rows) <= 3, ranker

    pdf = make_tsv_corpus(n_docs=40)
    docs_fs = spark.createDataFrame(pdf)
    prep = prepare_fullscan(docs_fs)
    for ranker in ["fullscan", "cosine", "phrase", "ql", "linear"]:
        got = search_uri(
            spark,
            built_index,
            f"query=web+search&ranker={ranker}&num=5",
            fullscan_prep=prep,
        ).collect()
        want = run_fullscan_query(spark, prep, "web search", ranker, k=5).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in want
        ], ranker

    # docs_fs= auto-prepares when no prep handle is passed
    got2 = search_uri(
        spark, built_index, "query=google&ranker=ql&num=4", docs_fs=docs_fs
    ).collect()
    want2 = run_fullscan_query(spark, prep, "google", "ql", k=4).collect()
    assert [r["doc_id"] for r in got2] == [r["doc_id"] for r in want2]


def test_search_uri_clamps_nonpositive_num(spark, built_index):
    """ADVICE round-3: num<=0 must fall back to the default 10, not leak
    into limit() and raise an opaque Spark error."""
    from websearchengine_spark.operators.query import search_uri

    rows = search_uri(
        spark, built_index, "query=web+search&ranker=bm25&num=-5"
    ).collect()
    assert 0 < len(rows) <= 10
    rows0 = search_uri(
        spark, built_index, "query=web+search&ranker=conjunctive&num=0"
    ).collect()
    assert 0 < len(rows0) <= 10


def test_render_text_and_html_formats():
    """Reference output formats (QueryHandler.java:190-197,344-351):
    TEXT = docid\\ttitle\\tscore\\tpagerank\\tnumviews lines; HTML =
    template substitution with base64'd docid&&&score&&&title&&& rows."""
    import base64

    from websearchengine_spark.operators.render import (
        format_html_results,
        format_text_results,
    )

    rows = [
        {"doc_id": 7, "title": "A Title", "score": 1.5, "pagerank": 0.25, "numviews": 42},
        {"doc_id": 3, "title": "B", "score": 0.5, "pagerank": 0.0, "numviews": 0},
    ]
    txt = format_text_results(rows)
    assert txt == "7\tA Title\t1.5\t0.25\t42\n3\tB\t0.5\t0.0\t0\n"
    assert format_text_results([]) == ""

    html = format_html_results(rows, query="web search", ranker="bm25")
    assert "{{" not in html  # every placeholder substituted
    assert 'var count = 2' in html
    enc = html.split('var result = "')[1].split('"')[0]
    decoded = base64.b64decode(enc).decode("utf-8")
    assert decoded == "7&&&1.5&&&A Title&&&3&&&0.5&&&B&&&"


def test_serve_search_renders_both_formats(spark, built_index):
    from websearchengine_spark.operators import topk
    from websearchengine_spark.operators.render import serve_search

    side = "spark" if topk.INPROC_MAX_POSTINGS == 0 else "inproc"
    txt, ran, read = serve_search(
        spark, built_index, "query=web+search&ranker=bm25&num=3"
    )
    assert ran == side
    # the in-process side says what it read; the Spark side reads nothing here
    assert (read["postings"]["files_read"] > 0) if side == "inproc" else read == {}
    lines = [l for l in txt.splitlines() if l]
    assert 0 < len(lines) <= 3
    assert all(len(l.split("\t")) == 5 for l in lines)

    html, ran, _ = serve_search(
        spark, built_index, "query=web+search&ranker=bm25&num=3&format=html"
    )
    assert ran == side
    assert html.startswith("<!DOCTYPE html>") and "{{" not in html


class TestSparkSide:
    """Every ranker runs the one kernel, which serves these small corpora
    in-process; rerun the tests with the gate forced to the Spark side so
    both places stay rank-identical."""

    @pytest.fixture(autouse=True)
    def _spark_side(self, monkeypatch):
        from websearchengine_spark.operators import topk

        monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", 0)

    test_comprehensive_rank_identity = staticmethod(test_comprehensive_rank_identity)
    test_favorite_rank_identity = staticmethod(test_favorite_rank_identity)
    test_conjunctive_rank_identity = staticmethod(test_conjunctive_rank_identity)
    test_phrase_rank_identity = staticmethod(test_phrase_rank_identity)
    test_bm25_rank_identity = staticmethod(test_bm25_rank_identity)
    test_shard_count_invariance = staticmethod(test_shard_count_invariance)
    test_search_front_door_routes_both_paths = staticmethod(
        test_search_front_door_routes_both_paths
    )
    test_search_uri_dispatch = staticmethod(test_search_uri_dispatch)
    test_serve_search_renders_both_formats = staticmethod(
        test_serve_search_renders_both_formats
    )
