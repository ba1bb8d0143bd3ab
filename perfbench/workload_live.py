"""live: micro-batch ingest beside reads, in one thread.

Each batch goes through ``apply_pages_batch`` with the default upsert;
part of it re-crawls earlier urls (tombstones), and one fresh page
carries a marker token.  A round is one batch, its marker query
(freshness), the pool's ``search_live`` queries, then
``compact_live``, so a round starts and ends on one segment.  This is
build at small batch size (fixed per-job cost dominates), merge and
tombstone masking, and the WAND top-k kernel across two segments.  The number of rounds follows from
``--seconds`` alone, so every run of a given ``--seconds`` does the
same work.
"""

from __future__ import annotations

import time

import inputs
from harness import dir_bytes, peak_rss_mb, setup_done, start_spark, stop_spark
from spans import layer_metrics, layer_table, median, percentile

# Batches of 2k docs are still small in the sense that matters here:
# on a 4-core host apply_pages_batch takes 3-4 s for 2k docs while
# build_index takes 11-13 s for 40k, so fixed per-job cost dominates.
# The base is one batch.  The re-crawl share has no published source:
# one re-crawl in five gives every batch tombstones.
BATCH = 2000
N_BASE = BATCH  # batch 0, applied in set-up
RECRAWL = 0.2
# Compacting after every batch keeps every pool query on two segments:
# query time grows with the segment count, so the median then rests on
# like samples.
POOL = 6  # pool queries per round
ROUND_SECONDS = 20  # nominal; a round takes 11 s on a quiet 4-core host
SALT = 5
VERIFY = 2  # pool queries checked against a fresh build
K = 10
BUILD_KWARGS = {"n_shards": 4, "n_groups": 2}

TRAFFIC = {
    "base_docs": N_BASE,
    "batch_docs": BATCH,
    "recrawl_frac": RECRAWL,
    "compact_every_batches": 1,
    "queries_after_each_batch": f"its marker query (freshness), then {POOL} pool queries",
    "rounds": "round(seconds / %d), at least 1" % ROUND_SECONDS,
    "repeat_share": "(rounds - 1) / rounds of pool queries; 0 at the benchmark's run_seconds",
    "warmup": "base batch 0, then a 1-, 2- and 3-word query from outside the pool; every round starts on one segment",
    "query_words_mix": dict(inputs.LENGTH_MIX),
    "search_p50_ms": "pool queries only; marker queries are single rare tokens",
    "client": "closed loop, 1 client, writes and reads never overlap",
}


def _top(rows) -> list[tuple[str, float]]:
    return [(r["url"], r["score"]) for r in rows]


def _same_topk(got, want) -> bool:
    """Scores equal (< 1e-9) rank by rank, and the docs above the k-th
    score equal as sets (doc ids differ between a compacted and a fresh
    index, so ties at the cut may order differently)."""
    if len(got) != len(want) or any(
        abs(a - b) >= 1e-9 for (_, a), (_, b) in zip(got, want)
    ):
        return False
    if not got:
        return True
    cut = got[-1][1]
    return {u for u, s in got if s > cut + 1e-9} == {u for u, s in want if s > cut + 1e-9}


def run(ctx) -> dict:
    from websearchengine_spark.operators import build, topk
    from websearchengine_spark.streaming import ingest

    rec = ctx.rec
    seed = ctx.seed
    n_rounds = max(1, round(ctx.seconds / ROUND_SECONDS))
    batches = inputs.live_batches(seed, N_BASE, n_rounds, BATCH, RECRAWL)
    for b, pdf in enumerate(batches):
        inputs.write_parquet(pdf, ctx.path(f"batch-{b}.parquet"))
    pool = inputs.query_pool(seed, POOL, SALT)
    # untimed, outside the pool: one query of each length
    warm = inputs.query_pool(seed, 3, SALT + 1, exclude=pool)
    ctx.mark("generate")
    spark = start_spark(ctx)
    ctx.mark("spark_start")
    root = ctx.path("live")
    searches, markers, applies, compactions, freshness = [], [], [], [], []

    def search(query: str, into: list):
        """A timed query: a failure is recorded and the run goes on."""
        with rec.op("query", fail_soft=True) as op:
            rows = ingest.search_live(spark, root, query, k=K).collect()
        into.append(op)
        return rows if op.ok else None, op

    def apply(b: int, timed: bool) -> None:
        t_hand = time.perf_counter()
        with rec.op("batch", fail_soft=timed) as op:
            pages = spark.read.parquet(ctx.path(f"batch-{b}.parquet"))
            ingest.apply_pages_batch(spark, pages, b, root, **BUILD_KWARGS)
        if not timed:
            return
        applies.append(op)
        rows, op = search(inputs.marker_token(seed, b), markers)
        if rows is not None and [r["url"] for r in rows] != [batches[b]["url"].iloc[-1]]:
            op.ok = False
        if op.ok:
            freshness.append(time.perf_counter() - t_hand)

    try:
        apply(0, False)
        for q in warm:
            with rec.op("warm"):
                ingest.search_live(spark, root, q, k=K).collect()
        setup_s = setup_done(ctx)
        for b in range(1, n_rounds + 1):
            apply(b, True)
            for q in pool:
                search(q, searches)
            with rec.op("compact", fail_soft=True) as op:
                ingest.compact_live(spark, root)
            compactions.append(op)
        ctx.mark("timed")

        # correctness gate: the compacted index must equal wand_topk over
        # a fresh build of the latest-version corpus
        fresh = ctx.path("fresh")
        inputs.write_parquet(inputs.latest_versions(batches), ctx.path("latest.parquet"))
        with rec.op("build"):
            build.build_index(
                spark, spark.read.parquet(ctx.path("latest.parquet")), fresh, **BUILD_KWARGS
            )
        for q in pool[:VERIFY]:
            with rec.op("verify", fail_soft=True) as op:
                got = _top(ingest.search_live(spark, root, q, k=K).collect())
                want = _top(topk.wand_topk(spark, fresh, q, k=K).collect())
                op.ok = _same_topk(got, want)
        num_docs = ingest.live_stats(spark, root)[0]
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(ctx, spark)
    ctx.mark("gate")

    ok_search = [o.wall_ms for o in searches if o.ok]
    values = {
        "setup_s": setup_s,
        "success_frac": rec.success_frac(),
        "search_p50_ms": median(ok_search),
        "index_bytes_per_doc": dir_bytes(root) / num_docs,
    }
    ctx.diagnostics.update(
        {
            "workload": "live",
            "seed": seed,
            "traffic": TRAFFIC,
            "search_p90_ms": percentile(ok_search, 90),
            "peak_rss_mb": rss,
            "ingest_docs_per_s": BATCH / (median([o.wall_ms for o in applies]) / 1000),
            "freshness_p50_s": median(freshness),
            "compact_s": median([o.wall_ms / 1000 for o in compactions]),
            "latencies_ms": [round(x, 1) for x in ok_search],
            "marker_latencies_ms": [round(o.wall_ms, 1) for o in markers],
            "samples": {
                "search": len(ok_search),
                "batches": len(applies),
                "compactions": len(compactions),
            },
            "live_docs_after_final_compaction": num_docs,
        }
    )
    if ctx.traced:
        ops = searches + markers + applies + compactions
        ctx.diagnostics["layer_table"] = layer_table(ops)
        values.update(layer_metrics(ops))
    return values
