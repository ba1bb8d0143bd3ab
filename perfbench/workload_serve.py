"""serve: read-only HTTP traffic against one index built in set-up.

After set-up all the work is in serve, render, query, topk, spell and
storage; none is in build or merge.  The timed requests are whole
passes: a pass sends every query of the three pools once, in PATTERN
order (b = /search bm25, c = /search comprehensive, p = /prediction).
The number of passes follows from ``--seconds`` alone, so the request
count and the repeat share, and with them the server's df and spell
cache hits, do not depend on how fast the program answers.
"""

from __future__ import annotations

import urllib.error
import urllib.request
from urllib.parse import urlencode

import pandas as pd

import inputs
from harness import dir_bytes, peak_rss_mb, setup_done, start_spark, stop_spark
from spans import layer_metrics, layer_table, median, percentile

N_DOCS = 2000
# Distinct queries per request kind.  There is no published mix for
# these three endpoints; the bm25 : comprehensive split follows from the
# metric definitions instead.  bm25 (the WAND path) must be the median
# /search request and comprehensive (the DataFrame path) the slow share
# that holds search_p90: 7 : 3 puts both quantiles 20 points of rank
# from the boundary between the two kinds.  /prediction has no such
# constraint; two a pass give suggest_p50_ms a sample of its own.
POOLS = {"b": 7, "c": 3, "p": 2}
PATTERN = "bcbbpbcbbpbc"  # one pass
PASS_SECONDS = 10  # nominal; a pass takes 4.5-8 s on a 4-core host
TIMEOUT_S = 60
MIN_HITS = 4  # correct_query's default, which /prediction keeps
RANKER = {"b": "bm25", "c": "comprehensive"}
SALT = {"b": 1, "c": 2, "p": 3, "warm": 4}

TRAFFIC = {
    "corpus_docs": N_DOCS,
    "pass_pattern": PATTERN,
    "pool_sizes": POOLS,
    "passes": "round(seconds / %d), at least 1" % PASS_SECONDS,
    "repeat_share": "(passes - 1) / passes; 1/2 at the benchmark's run_seconds",
    "warmup": "untimed, outside the pools: a 1-, 2- and 3-word query per /search kind, 1 /prediction",
    "query_words_mix": dict(inputs.LENGTH_MIX),
    "query_words": "drawn with the corpus generator's Zipf weights (1/rank)",
    "query_ranks": "fixed; the seed picks the corpus and the words at those ranks",
    "client": "closed loop, 1 client",
}


def _url(port: int, kind: str, query: str) -> str:
    if kind == "p":
        return f"http://127.0.0.1:{port}/prediction?" + urlencode({"query": query})
    return f"http://127.0.0.1:{port}/search?" + urlencode(
        {"query": query, "ranker": RANKER[kind], "num": 10}
    )


def _send(rec, port: int, kind: str, query: str, timed: bool) -> dict:
    """One request as one operation; a non-200 answer, a timeout or an
    exception fails it."""
    r = {"kind": kind, "query": query, "body": None}
    with rec.op(f"http.{kind}") as op:
        op.attrs["timed"] = timed
        try:
            with urllib.request.urlopen(_url(port, kind, query), timeout=TIMEOUT_S) as resp:
                body = resp.read().decode("utf-8")
                if resp.status == 200:
                    r["body"] = body
        except (urllib.error.URLError, OSError):
            pass
        if r["body"] is None:
            op.ok = False
    r["op"] = op
    return r


def _parse_text(body: str) -> list[tuple[int, float]]:
    """(doc_id, score) of render.format_text_results lines; ValueError
    if a line is not one."""
    out = []
    for line in body.splitlines():
        head, score, _pr, _nv = line.rsplit("\t", 3)
        out.append((int(head.split("\t", 1)[0]), float(score)))
    return out


def _search_ok(body: str, want) -> bool:
    try:
        got = _parse_text(body)
    except ValueError:
        return False
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, want)
    )


def _prediction_ok(body: str, sent: str, oracle) -> bool:
    """Every suggestion has the query's word count and at least
    MIN_HITS documents holding all its words (the oracle's conjunctive
    match), and no suggestion is listed twice."""
    from websearchengine_spark.operators.query import analyze_tokens, parse_query

    lines = body.splitlines()
    n_words = len(sent.split())
    return len(set(lines)) == len(lines) and all(
        len(line.split()) == n_words
        and len(oracle.candidates(analyze_tokens(parse_query(line)))) >= MIN_HITS
        for line in lines
    )


def run(ctx) -> dict:
    from tests.oracle import OracleIndex
    from websearchengine_spark.operators import build, graph
    from websearchengine_spark.serve import SearchHTTPServer

    rec = ctx.rec
    seed = ctx.seed
    pages_pdf = inputs.corpus(N_DOCS, seed)
    inputs.write_parquet(pages_pdf, ctx.path("pages.parquet"))
    inputs.write_parquet(inputs.pageview_log(N_DOCS, seed), ctx.path("views.parquet"))
    spell = inputs.misspelled_pool(seed, POOLS["p"] + 1, SALT["p"])
    pools = {
        "b": inputs.query_pool(seed, POOLS["b"], SALT["b"]),
        "c": inputs.query_pool(seed, POOLS["c"], SALT["c"]),
        "p": spell[1:],
    }
    # untimed, from outside the pools: one query of each length per
    # /search kind, so every plan shape is compiled before timing
    warm = inputs.query_pool(seed, 3, SALT["warm"], exclude=pools["b"] + pools["c"])
    warm = [("b", q) for q in warm] + [("c", q) for q in warm] + [("p", spell[0])]
    stream = inputs.passes(PATTERN, pools, max(1, round(ctx.seconds / PASS_SECONDS)))
    ctx.mark("generate")
    spark = start_spark(ctx)
    ctx.mark("spark_start")
    srv = None
    try:
        pages = spark.read.parquet(ctx.path("pages.parquet"))
        views = spark.read.parquet(ctx.path("views.parquet"))
        with rec.op("setup.mine") as mine_op:
            graph.mine_signals(pages, views).write.parquet(ctx.path("signals"))
            if rec.traced:
                mine_op.attrs["persisted_rdds"] = rec.persistent_rdds()
        ctx.mark("mine")
        root = ctx.path("index")
        with rec.op("setup.build"):
            build.build_index(
                spark,
                pages,
                root,
                signals=spark.read.parquet(ctx.path("signals")),
                keep_doc_tokens=True,
                spell_assist=True,
            )
        ctx.mark("build")
        srv = SearchHTTPServer(spark, root)
        port = srv.start()
        sent = [_send(rec, port, k, q, False) for k, q in warm]

        setup_s = setup_done(ctx)
        for kind, query in stream:
            sent.append(_send(rec, port, kind, query, True))
        ctx.mark("timed")
        rss = peak_rss_mb(spark)
    finally:
        if srv is not None:
            srv.stop()
        stop_spark(ctx, spark)

    ctx.mark("stop")
    # correctness gate: every /search answer against the pure-Python
    # oracle (doc ids and scores < 1e-9), every /prediction answer
    # against the oracle's conjunctive match counts
    sig = pd.read_parquet(ctx.path("signals"))
    oracle = OracleIndex(
        pages_pdf,
        {u: (p, n) for u, p, n in zip(sig["url"], sig["pagerank"], sig["numviews"])},
    )
    want: dict = {}
    for r in sent:
        if r["body"] is None:
            continue
        if r["kind"] == "p":
            r["op"].ok = _prediction_ok(r["body"], r["query"], oracle)
            continue
        key = (r["kind"], r["query"])
        if key not in want:
            want[key] = (
                oracle.bm25(r["query"], 10)
                if r["kind"] == "b"
                else oracle.query(r["query"], "comprehensive", 10)
            )
        r["op"].ok = _search_ok(r["body"], want[key])

    ctx.mark("gate")
    timed = [r for r in sent if r["op"].attrs["timed"]]
    ok = [r for r in timed if r["op"].ok]
    search_ms = [r["op"].wall_ms for r in ok if r["kind"] != "p"]
    suggest_ms = [r["op"].wall_ms for r in ok if r["kind"] == "p"]
    by_kind = {
        k: [r["op"].wall_ms for r in ok if r["kind"] == k] for k in ("b", "c", "p")
    }
    values = {
        "setup_s": setup_s,
        "success_frac": rec.success_frac(),
        "search_p50_ms": median(search_ms),
        "index_bytes_per_doc": dir_bytes(root) / N_DOCS,
    }
    ctx.diagnostics.update(
        {
            "workload": "serve",
            "seed": seed,
            "traffic": TRAFFIC,
            "timed_requests": len(timed),
            "search_p90_ms": percentile(search_ms, 90),
            "peak_rss_mb": rss,
            "suggest_p50_ms": median(suggest_ms),
            "bm25_p50_ms": median(by_kind["b"]),
            "comprehensive_p50_ms": median(by_kind["c"]),
            "samples": {"search": len(search_ms), "suggest": len(suggest_ms)},
            "latencies_ms": {
                RANKER.get(k, "prediction"): [round(x, 1) for x in v]
                for k, v in by_kind.items()
            },
            "distinct_search_queries_checked": len(want),
            "prediction_answers": {
                r["query"]: r["body"].splitlines()
                for r in sent
                if r["kind"] == "p" and r["body"] is not None
            },
        }
    )
    if ctx.traced:
        # read layers from the timed requests, build and graph from set-up
        ops = [r["op"] for r in timed] + [
            o for o in rec.ops if o.kind.startswith("setup.")
        ]
        ctx.diagnostics["layer_table"] = layer_table(ops)
        values.update(layer_metrics(ops))
    return values
