"""Mining-pipeline tests: Spark PageRank/NumViews vs a dict-based mirror
of the Java semantics (CorpusAnalyzerPagerank / LogMinerNumviews), plus
end-to-end rank identity WITH signals joined into the docs table."""

import math
import re

import pytest

from websearchengine_spark.sources.corpus import gen_pageview_log_pdf

LINK_RE = re.compile(r'<[a|A].*?href="([^ /#]*)".*?>')


def py_mine(pages_pdf, log_pdf=None):
    """Pure-Python mirror of the reference mining pass.

    Returns (pagerank: {url: float}, numviews: {url: int}).
    """
    urls = sorted(pages_pdf["url"])
    url_set = set(urls)
    canon = {}
    for u in urls:
        canon[u] = u + ".html" if (u + ".html") in url_set else u
    nodes = sorted(set(canon.values()))
    # edges: dedup'd node-level, no self-links, in-corpus targets only
    out = {n: set() for n in nodes}
    for _, row in pages_pdf.iterrows():
        src = canon[row["url"]]
        html = row["html"].decode("utf-8")
        for line in html.splitlines():
            for t in LINK_RE.findall(line):
                if t in url_set and canon[t] != src:
                    out[src].add(canon[t])
    cur = {n: 1.0 for n in nodes}
    for _ in range(2):
        nxt = {n: 0.0 for n in nodes}
        for s, targets in out.items():
            if targets:
                share = cur[s] / len(targets)
                for t in targets:
                    nxt[t] += share
        cur = {n: 0.9 * nxt[n] + 0.1 for n in nodes}
    pr = {}
    for u in urls:
        pr[u] = 0.0 if (u + ".html") in url_set else cur[canon[u]]

    nv = {u: 0 for u in urls}
    if log_pdf is not None:
        for _, row in log_pdf.iterrows():
            art, views = row["article"], row["views"]
            if not re.fullmatch(r"\d+", views) or art not in url_set:
                continue
            v = int(views)
            if (art + ".html") in url_set:
                nv[art + ".html"] += v
            else:
                nv[art] += v
    return pr, nv


@pytest.fixture(scope="module")
def log_pdf():
    return gen_pageview_log_pdf(n_docs=200, seed=42)


@pytest.fixture(scope="module")
def py_signals(corpus_pdf, log_pdf):
    return py_mine(corpus_pdf, log_pdf)


@pytest.fixture(scope="module")
def spark_signals(spark, corpus_pdf, log_pdf):
    from websearchengine_spark.operators.graph import mine_signals

    pages = spark.createDataFrame(corpus_pdf)
    log_df = spark.createDataFrame(log_pdf)
    return mine_signals(pages, log_df)


def test_pagerank_matches_reference_semantics(spark_signals, py_signals):
    pr_py, _ = py_signals
    got = {r["url"]: r["pagerank"] for r in spark_signals.collect()}
    assert set(got) == set(pr_py)
    for u in pr_py:
        assert abs(got[u] - pr_py[u]) < 1e-12, u


def test_numviews_matches_reference_semantics(spark_signals, py_signals):
    _, nv_py = py_signals
    got = {r["url"]: r["numviews"] for r in spark_signals.collect()}
    for u in nv_py:
        assert got[u] == nv_py[u], u


def test_alias_pairs_exist_and_zeroed(corpus_pdf, py_signals):
    """The corpus must actually exercise the alias path."""
    pr_py, _ = py_signals
    urls = set(corpus_pdf["url"])
    pairs = [u for u in urls if (u + ".html") in urls]
    assert pairs, "fixture should contain alias pairs"
    for u in pairs:
        assert pr_py[u] == 0.0


def test_link_extraction_regex_semantics():
    from websearchengine_spark.operators.graph import extract_links_from_html

    html = (
        '<a href="good.html">x</a>'
        '<a href="http://off.site/page">dropped: has slash</a>'
        '<a href="frag#ment">dropped: has hash</a>'
        '<A href="upper.html">kept</A>'
        '<p href="nope.html">not an anchor... but [a|A] matches any tag starting a/A/|</p>'
    )
    got = extract_links_from_html(html)
    assert "good.html" in got
    assert "upper.html" in got
    assert all("/" not in t and "#" not in t and " " not in t for t in got)


def test_pagerank_nodes_unique_flag_identical(spark):
    """pagerank_iterate(nodes_unique=True) skips only the defensive
    node dedup — on a genuinely unique node set the ranks must be
    bit-identical to the default path (r6: the dedup is a full exchange
    of the node set, skippable when the caller passes a keyed table)."""
    from websearchengine_spark.operators.graph import pagerank_iterate

    nodes = spark.createDataFrame([(i,) for i in range(20)], "node long")
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 20) for i in range(20) if i != (i * 3 + 1) % 20]
        + [(i, (i * 7 + 2) % 20) for i in range(20) if i != (i * 7 + 2) % 20],
        "src long, dst long",
    ).distinct()
    base = {
        r["node"]: r["rank"]
        for r in pagerank_iterate(nodes, edges, lam=0.9, iters=3).collect()
    }
    fast = {
        r["node"]: r["rank"]
        for r in pagerank_iterate(
            nodes, edges, lam=0.9, iters=3, nodes_unique=True
        ).collect()
    }
    assert base == fast
    # and the DEFAULT path still dedups a non-unique node input
    dup_nodes = nodes.union(nodes)
    dedup = {
        r["node"]: r["rank"]
        for r in pagerank_iterate(dup_nodes, edges, lam=0.9, iters=3).collect()
    }
    assert dedup == base


def test_spearman_known_value(spark):
    """rho on a hand-checked 4-point example."""
    from websearchengine_spark.operators.graph import spearman

    a = spark.createDataFrame(
        [("a", 4.0), ("b", 3.0), ("c", 2.0), ("d", 1.0)], "name string, value double"
    )
    b_same = a
    assert abs(spearman(a, b_same) - 1.0) < 1e-12
    b_rev = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0)], "name string, value double"
    )
    assert abs(spearman(a, b_rev) - (-1.0)) < 1e-12


def test_rank_identity_with_signals(
    spark, corpus_pdf, log_pdf, py_signals, tmp_path, monkeypatch
):
    """Full pipeline: mine -> build(signals) -> query; scores include the
    0.3*log(pr+1) + 0.3*log(nv+1) terms and must still match the oracle,
    in process and with the gate forced to the Spark side."""
    from tests.oracle import OracleIndex
    from websearchengine_spark.operators import topk
    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.graph import mine_signals
    from websearchengine_spark.operators.query import run_query

    pr_py, nv_py = py_signals
    oracle = OracleIndex(
        corpus_pdf, signals={u: (pr_py[u], nv_py[u]) for u in pr_py}
    )
    root = str(tmp_path / "idx_sig")
    pages = spark.createDataFrame(corpus_pdf)
    signals = mine_signals(pages, spark.createDataFrame(log_pdf))
    build_index(spark, pages, root, n_shards=3, n_groups=2, signals=signals)

    for cap in (10**12, 0):
        monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", cap)
        for q in ["data mining", "google map", '"web search"', "apple"]:
            rows = run_query(spark, root, q, ranker="comprehensive", k=10).collect()
            got = [(r["doc_id"], r["score"]) for r in rows]
            want = oracle.query(q, "comprehensive", 10)
            assert [d for d, _ in got] == [d for d, _ in want], (cap, q)
            for (d1, s1), (d2, s2) in zip(got, want):
                assert abs(s1 - s2) < 1e-9, (cap, q, d1)
        # signals actually nonzero somewhere in the result set
    nz = [u for u, v in pr_py.items() if v > 0]
    assert nz
