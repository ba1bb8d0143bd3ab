"""Streaming incremental indexing (streaming/ingest.py): delta segments
built per micro-batch, LSM compaction via the K-way merge, and live
multi-segment search with union statistics.

The load-bearing claims, each pinned here:

  * search_live over base+deltas is doc_id- AND score-IDENTICAL to
    wand_topk over (a) the fully-compacted index and (b) a from-scratch
    build of the whole corpus — incremental maintenance never changes
    what search returns (the union-statistics BM25 argument: a doc's
    score depends only on its tf/dl and GLOBAL idf/avg_dl, which
    search_live reconstructs from segment manifests + term_stats).
  * batch application is exactly-once under foreachBatch redelivery.
  * compaction (merge_many_indexes, ONE compressed-postings shuffle for
    K segments) swaps the catalog atomically and gc's old segments.
  * the real Structured Streaming path (file source, maxFilesPerTrigger
    =1, availableNow) drains a backlog into per-batch segments.
"""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import PHRASE_QUERIES, REFERENCE_QUERIES
from websearchengine_spark.operators.build import build_index
from websearchengine_spark.operators.merge import doc_id_offsets
from websearchengine_spark.operators.topk import wand_topk
from websearchengine_spark.sources.corpus import PAGES_SCHEMA
from websearchengine_spark.streaming.ingest import (
    apply_pages_batch,
    compact_live,
    live_segment_roots,
    read_live_catalog,
    search_live,
    start_index_ingest,
)

N_SHARDS = 4
CUTS = (0, 80, 160, 200)  # url-rank split points; multiples of N_SHARDS


def _parts(spark, corpus_pdf):
    """The 200-doc corpus split into 3 batches at url-rank multiples of
    n_shards, so cumulative offsets == cuts and live doc_ids equal the
    full build's."""
    by_url = corpus_pdf.sort_values("url").reset_index(drop=True)
    return [
        spark.createDataFrame(by_url.iloc[CUTS[i]:CUTS[i + 1]])
        for i in range(3)
    ]


@pytest.fixture(scope="module")
def live(spark, corpus_pdf, tmp_path_factory):
    base = tmp_path_factory.mktemp("live")
    full = str(base / "full")
    build_index(
        spark, spark.createDataFrame(corpus_pdf), full,
        n_shards=N_SHARDS, n_groups=2,
    )
    root = str(base / "live")
    for i, part in enumerate(_parts(spark, corpus_pdf)):
        seg = apply_pages_batch(
            spark, part, i, root, n_shards=N_SHARDS, n_groups=2
        )
        assert seg is not None
    return {"root": root, "full": full}


def _ds(df):
    return [(r["doc_id"], r["score"], r["url"]) for r in df.collect()]


def test_offsets_rule():
    assert doc_id_offsets([80, 80, 40], 4) == [0, 80, 160]
    assert doc_id_offsets([5, 7], 3) == [0, 6]  # rounds up to shard multiple


def test_apply_batch_is_exactly_once(spark, corpus_pdf, live):
    """Redelivering an applied batch_id is a no-op: no new segment, no
    doc duplication."""
    part0 = _parts(spark, corpus_pdf)[0]
    before = read_live_catalog(live["root"])
    assert apply_pages_batch(spark, part0, 0, live["root"]) is None
    after = read_live_catalog(live["root"])
    assert after["segments"] == before["segments"]
    assert after["applied_batches"] == before["applied_batches"] == [0, 1, 2]


def test_build_kwargs_pinned_by_first_batch(spark, corpus_pdf, live):
    part0 = _parts(spark, corpus_pdf)[0]
    with pytest.raises(ValueError, match="n_shards"):
        apply_pages_batch(spark, part0, 99, live["root"], n_shards=7)


@pytest.mark.parametrize("query", REFERENCE_QUERIES + PHRASE_QUERIES[:1])
def test_search_live_identical_to_full_build(spark, live, query):
    """Multi-segment live search == single from-scratch build: same
    doc_ids (the offset rule reproduces url-rank ids exactly, cuts being
    shard multiples), same scores (union statistics), same urls."""
    got = _ds(search_live(spark, live["root"], query, k=10))
    want = _ds(wand_topk(spark, live["full"], query, k=10))
    assert len(got) == len(want)
    for (d1, s1, u1), (d2, s2, u2) in zip(got, want):
        assert d1 == d2 and u1 == u2
        assert abs(s1 - s2) < 1e-9


def test_search_front_door_serves_live_roots(spark, live):
    """query.search() transparently serves a live root for every indexed
    ranker: bm25 equals search_live, and the reference scorers on the
    multi-segment root (union df and ctf) equal run_query on the full
    build.  MUST run before the compaction test — the module fixture's
    root has 3 segments only until then."""
    from websearchengine_spark.operators.query import run_query, search

    assert len(live_segment_roots(live["root"])) == 3
    got = _ds(search(spark, live["root"], "web search", ranker="bm25", k=10))
    want = _ds(search_live(spark, live["root"], "web search", k=10))
    assert got == want
    for ranker in ("comprehensive", "favorite", "conjunctive"):
        for q in ("web search", '"data mining"'):
            got = _ds(search(spark, live["root"], q, ranker=ranker, k=10))
            want = _ds(run_query(spark, live["full"], q, ranker=ranker, k=10))
            assert got and len(got) == len(want), (ranker, q)
            for (d1, s1, u1), (d2, s2, u2) in zip(got, want):
                assert d1 == d2 and u1 == u2, (ranker, q)
                assert abs(s1 - s2) < 1e-9, (ranker, q)


def test_apply_batch_signals_are_per_batch_data_not_pinned(spark, corpus_pdf, tmp_path):
    """signals= (a DataFrame — per-batch data, not index format) must
    flow into each delta build without ending up in the JSON catalog
    config; docs rows carry the joined pagerank."""
    by_url = corpus_pdf.sort_values("url").reset_index(drop=True)
    root = str(tmp_path / "live")
    sig = spark.createDataFrame(
        [(u, 0.5, 7) for u in by_url["url"][:40]],
        "url string, pagerank double, numviews long",
    )
    apply_pages_batch(
        spark, spark.createDataFrame(by_url.iloc[:80]), 0, root,
        n_shards=N_SHARDS, n_groups=2, signals=sig,
    )
    apply_pages_batch(
        spark, spark.createDataFrame(by_url.iloc[80:160]), 1, root, signals=sig
    )
    cat = read_live_catalog(root)
    assert "signals" not in cat["config"]  # JSON-serializable catalog
    from websearchengine_spark.sources.storage import IndexStorage

    seg0 = IndexStorage(os.path.join(root, cat["segments"][0]["dir"]))
    pr = {
        r["url"]: r["pagerank"]
        for r in seg0.read_table(spark, "docs").collect()
    }
    assert pr[by_url["url"][0]] == 0.5
    assert search_live(spark, root, "google", k=5).count() == 5


def test_search_live_edge_inputs(spark, live):
    """Front-door robustness on live roots: empty query -> empty frame
    with the result schema; unknown term -> empty; k beyond the corpus
    -> every match, no error."""
    assert search_live(spark, live["root"], "", k=5).count() == 0
    assert search_live(spark, live["root"], "zzznosuchterm", k=5).count() == 0
    big = search_live(spark, live["root"], "google", k=100000).collect()
    assert 0 < len(big) <= 200
    scores = [r["score"] for r in big]
    assert scores == sorted(scores, reverse=True)


def test_search_live_batch_matches_per_query(spark, live):
    """Batch mode over a multi-segment live root: per-query results
    equal search_live's (same union statistics, same merge), phrases
    included.  Runs before compaction (3 segments live)."""
    from websearchengine_spark.streaming.ingest import search_live_batch

    queries = ["google", "data mining", "web search", '"data mining"']
    out = search_live_batch(spark, live["root"], queries, k=10).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query"], []).append((r["doc_id"], r["score"], r["url"]))
    for q in queries:
        assert by_q[q] == _ds(search_live(spark, live["root"], q, k=10)), q


def test_compact_then_search_identical(spark, live):
    """Compaction changes cost, not results: per-query (doc_id, score,
    url) survive the 3-way merge byte-for-byte; catalog swaps to one
    base segment, old deltas are gc'd, lineage keeps the commit log."""
    before = {
        q: _ds(search_live(spark, live["root"], q, k=10))
        for q in REFERENCE_QUERIES
    }
    old_segs = live_segment_roots(live["root"])
    assert len(old_segs) == 3
    new_base = compact_live(spark, live["root"], min_segments=2)
    assert new_base is not None and os.path.exists(new_base)
    segs = live_segment_roots(live["root"])
    assert segs == [new_base]
    for old in old_segs:
        assert not os.path.exists(old)
    cat = read_live_catalog(live["root"])
    assert cat["generation"] == 1
    assert cat["lineage"][-1]["event"] == "compacted"
    assert cat["lineage"][-1]["merged"] == [os.path.basename(s) for s in old_segs]
    # single-segment search now; wand_topk direct on the base agrees too
    for q in REFERENCE_QUERIES:
        assert _ds(search_live(spark, live["root"], q, k=10)) == before[q]
        assert _ds(wand_topk(spark, new_base, q, k=10)) == before[q]
    # idempotent below threshold: one segment < min_segments
    assert compact_live(spark, live["root"], min_segments=2) is None


def test_search_front_door_after_compaction(spark, corpus_pdf, tmp_path):
    """On a compacted (single-segment) live root the reference scorers
    run against the base segment transparently and match run_query on a
    from-scratch full build (url/score identity)."""
    from websearchengine_spark.operators.query import run_query, search

    root = str(tmp_path / "live")
    for i, part in enumerate(_parts(spark, corpus_pdf)):
        apply_pages_batch(spark, part, i, root, n_shards=N_SHARDS, n_groups=2)
    compact_live(spark, root)
    full = str(tmp_path / "full")
    build_index(
        spark, spark.createDataFrame(corpus_pdf), full,
        n_shards=N_SHARDS, n_groups=2,
    )
    got = [
        (r["url"], round(r["score"], 9))
        for r in search(
            spark, root, "data mining", ranker="comprehensive", k=10
        ).collect()
    ]
    want = [
        (r["url"], round(r["score"], 9))
        for r in run_query(
            spark, full, "data mining", ranker="comprehensive", k=10
        ).collect()
    ]
    assert [s for _, s in got] == [s for _, s in want]
    assert sorted(u for u, _ in got) == sorted(u for u, _ in want)


def test_recrawl_upsert_supersedes_and_compacts(spark, corpus_pdf, tmp_path):
    """The re-crawl semantic end-to-end: a later batch re-crawling 40
    urls tombstones the old versions (invisible immediately), and
    compaction physically drops them with statistics corrected — the
    compacted live index is score-identical to a from-scratch build of
    the latest-version corpus."""
    by_url = corpus_pdf.sort_values("url").reset_index(drop=True)
    recrawl = by_url.iloc[50:90].copy()
    recrawl["text"] = [
        f"recrawled fresh canonical data mining corpus version {i}"
        for i in range(len(recrawl))
    ]
    recrawl["html"] = [
        f"<html><head><title>recrawl</title></head><body>{t}</body></html>".encode()
        for t in recrawl["text"]
    ]
    recrawled_urls = set(recrawl["url"])

    root = str(tmp_path / "live")
    apply_pages_batch(
        spark, spark.createDataFrame(by_url), 0, root,
        n_shards=N_SHARDS, n_groups=2,
    )
    apply_pages_batch(spark, spark.createDataFrame(recrawl), 1, root)
    cat = read_live_catalog(root)
    assert cat["lineage"][-1]["tombstoned"] == 40

    # the old versions are invisible NOW: every hit for the re-crawled
    # urls comes from the new segment's id range, no url twice
    offsets_1 = 200  # segment 0 has 200 docs, multiple of n_shards
    hits = search_live(spark, root, "recrawled fresh", k=50).collect()
    assert {r["url"] for r in hits} == recrawled_urls
    assert all(r["doc_id"] >= offsets_1 for r in hits)
    broad = search_live(spark, root, "data mining", k=200).collect()
    urls = [r["url"] for r in broad]
    assert len(urls) == len(set(urls))
    for r in broad:
        if r["url"] in recrawled_urls:
            assert r["doc_id"] >= offsets_1

    # compaction: physical delete + statistics correction
    compact_live(spark, root)
    cat = read_live_catalog(root)
    assert cat["segments"][0]["num_docs"] == 200  # 200 + 40 - 40
    assert cat["segments"][0]["id_span"] == 240   # id space NOT remapped
    assert cat["lineage"][-1]["deleted"] == {"delta-000000000": 40}
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    assert {r["url"] for r in search_live(
        spark, root, "recrawled fresh", k=50
    ).collect()} == recrawled_urls

    # score identity vs a from-scratch build of the LATEST corpus
    latest = by_url.copy()
    latest.loc[50:89, "text"] = recrawl["text"].values
    latest.loc[50:89, "html"] = recrawl["html"].values
    full = str(tmp_path / "full_latest")
    build_index(
        spark, spark.createDataFrame(latest), full,
        n_shards=N_SHARDS, n_groups=2,
    )
    for q in ("data mining", "web search", "recrawled fresh", '"data mining"'):
        got = [
            (r["url"], r["score"])
            for r in search_live(spark, root, q, k=10).collect()
        ]
        want = [
            (r["url"], r["score"])
            for r in wand_topk(spark, full, q, k=10).collect()
        ]
        assert len(got) == len(want), q
        for (_, s1), (_, s2) in zip(got, want):
            assert abs(s1 - s2) < 1e-9, (q, s1, s2)
        by_s_got, by_s_want = {}, {}
        for u, s in got:
            by_s_got.setdefault(round(s, 9), []).append(u)
        for u, s in want:
            by_s_want.setdefault(round(s, 9), []).append(u)
        for sk in by_s_want:
            assert sorted(by_s_got[sk]) == sorted(by_s_want[sk]), q

    # a further batch lands ABOVE the base's id span (no collisions:
    # offsets derive from id_span=240, not the post-delete num_docs=200)
    more = by_url.iloc[190:200].copy()
    more["url"] = ["znew" + u for u in more["url"]]
    more["text"] = [f"zzzunique collision probe {i}" for i in range(len(more))]
    apply_pages_batch(spark, spark.createDataFrame(more), 2, root)
    cat = read_live_catalog(root)
    assert cat["segments"][-1]["dir"] == "delta-000000002"
    probe = search_live(spark, root, "zzzunique collision", k=20).collect()
    assert len(probe) == 10
    assert all(r["doc_id"] >= 240 for r in probe)


def test_stream_ingest_auto_compacts(spark, corpus_pdf, tmp_path):
    """compact_every=2: the sink folds segments inline whenever the live
    count reaches 2, so a 3-file backlog ends as one base + one delta
    (generation >= 1) and search still matches the full batch build on
    scores."""
    watch = str(tmp_path / "incoming")
    for part in _parts(spark, corpus_pdf):
        part.coalesce(1).write.mode("append").parquet(watch)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    root = str(tmp_path / "live")
    q = start_index_ingest(
        spark, stream, root, str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, compact_every=2,
        n_shards=N_SHARDS, n_groups=2,
    )
    q.awaitTermination(180)
    cat = read_live_catalog(root)
    assert cat["generation"] >= 1
    assert len(cat["segments"]) <= 2
    assert cat["segments"][0]["dir"].startswith("base-")
    assert sum(s["num_docs"] for s in cat["segments"]) == 200

    full = str(tmp_path / "full")
    build_index(
        spark, spark.createDataFrame(corpus_pdf), full,
        n_shards=N_SHARDS, n_groups=2,
    )
    got = [
        round(r["score"], 9)
        for r in search_live(spark, root, "data mining", k=10).collect()
    ]
    want = [
        round(r["score"], 9)
        for r in wand_topk(spark, full, "data mining", k=10).collect()
    ]
    assert got == want


def test_stream_upsert_through_auto_compaction(spark, corpus_pdf, tmp_path):
    """The full production shape: a re-crawl batch flows through the
    auto-compacting sink — tombstones land, the inline compaction
    consumes them, and the final index serves ONLY the latest
    versions with corrected statistics."""
    by_url = corpus_pdf.sort_values("url").reset_index(drop=True)
    recrawl = by_url.iloc[20:60].copy()
    recrawl["text"] = [
        f"streamed recrawl body number {i}" for i in range(len(recrawl))
    ]
    recrawl["html"] = [
        f"<html><body>{t}</body></html>".encode() for t in recrawl["text"]
    ]
    watch = str(tmp_path / "incoming")
    spark.createDataFrame(by_url).coalesce(1).write.mode("append").parquet(watch)
    import time

    time.sleep(1.1)  # file-source ordering is by mod time at 1s granularity
    spark.createDataFrame(recrawl).coalesce(1).write.mode("append").parquet(watch)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    root = str(tmp_path / "live")
    q = start_index_ingest(
        spark, stream, root, str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, compact_every=2,
        n_shards=N_SHARDS, n_groups=2,
    )
    q.awaitTermination(180)
    cat = read_live_catalog(root)
    assert cat["generation"] >= 1
    assert sum(s["num_docs"] for s in cat["segments"]) == 200
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    hits = search_live(spark, root, "streamed recrawl", k=50).collect()
    assert {r["url"] for r in hits} == set(recrawl["url"])
    # the superseded versions are gone for good: no url appears twice
    broad = search_live(spark, root, "the", k=250).collect()
    urls = [r["url"] for r in broad]
    assert len(urls) == len(set(urls))


def test_delete_urls_tombstones_then_compacts_away(spark, corpus_pdf, tmp_path):
    """Explicit deletion (takedown path): tombstoned urls vanish from
    search immediately, idempotent by op_id, physically dropped with
    num_docs corrected at compaction."""
    from websearchengine_spark.streaming.ingest import delete_urls

    by_url = corpus_pdf.sort_values("url").reset_index(drop=True)
    root = str(tmp_path / "live")
    for i, part in enumerate(_parts(spark, corpus_pdf)):
        apply_pages_batch(spark, part, i, root, n_shards=N_SHARDS, n_groups=2)

    full = search_live(spark, root, "google", k=200).collect()
    victims = [r["url"] for r in full[:5]]
    n = delete_urls(spark, root, victims, op_id=1)
    assert n == 5
    assert delete_urls(spark, root, victims, op_id=1) == 0  # idempotent
    cat = read_live_catalog(root)
    assert cat["lineage"][-1] == {
        **cat["lineage"][-1], "event": "urls_deleted", "tombstoned": 5,
    }
    after = search_live(spark, root, "google", k=200).collect()
    assert {r["url"] for r in after} == {r["url"] for r in full} - set(victims)

    compact_live(spark, root)
    cat = read_live_catalog(root)
    assert cat["segments"][0]["num_docs"] == 195
    assert {
        r["url"] for r in search_live(spark, root, "google", k=200).collect()
    } == {r["url"] for r in full} - set(victims)


def test_foreachbatch_stream_ingest(spark, corpus_pdf, tmp_path):
    """The real Structured Streaming path: a file-source backlog drained
    availableNow with maxFilesPerTrigger=1 becomes one delta segment per
    file; live search then matches the full batch build on (url, score)
    (file order — hence doc_id space — is not contractual)."""
    watch = str(tmp_path / "incoming")
    for part in _parts(spark, corpus_pdf):
        part.coalesce(1).write.mode("append").parquet(watch)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    root = str(tmp_path / "live")
    q = start_index_ingest(
        spark, stream, root, str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, n_shards=N_SHARDS, n_groups=2,
    )
    q.awaitTermination(120)
    cat = read_live_catalog(root)
    assert len(cat["segments"]) == 3
    assert sorted(cat["applied_batches"]) == [0, 1, 2]
    assert sum(s["num_docs"] for s in cat["segments"]) == 200

    full = str(tmp_path / "full")
    build_index(
        spark, spark.createDataFrame(corpus_pdf), full,
        n_shards=N_SHARDS, n_groups=2,
    )
    for query in ("google", "data mining", "web search"):
        got = [
            (r["url"], round(r["score"], 9))
            for r in search_live(spark, root, query, k=10).collect()
        ]
        want = [
            (r["url"], round(r["score"], 9))
            for r in wand_topk(spark, full, query, k=10).collect()
        ]
        # scores identical rank-for-rank; urls equal modulo exact-score
        # ties (doc_id tie-break differs across id spaces)
        assert [s for _, s in got] == [s for _, s in want]
        by_s_got, by_s_want = {}, {}
        for u, s in got:
            by_s_got.setdefault(s, []).append(u)
        for u, s in want:
            by_s_want.setdefault(s, []).append(u)
        for s in by_s_want:
            assert sorted(by_s_got[s]) == sorted(by_s_want[s])
