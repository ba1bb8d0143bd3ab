"""Executor-resident tombstones (round-4 hardening of the live-index
delete path).

The load-bearing claims:

  * the Spark side of search_live / search_live_batch NEVER
    materializes the delete set on the driver: tombstones flow as
    (shard, doc_id) parquet rows cogrouped with each segment's postings
    (topk.wand_topk(exclude_df=)) — pinned by monkeypatching the
    driver-side readers to explode, and by running with a tombstone
    backlog over the in-process budget (topk.INPROC_MAX_POSTINGS, which
    the pending count counts toward).  Under that budget search_live
    reads a segment's tombstones in-process, with the same results.
  * tombstone VISIBILITY is catalog-gated: a tombstone parquet whose
    writing batch crashed before the catalog publish is invisible (the
    superseded urls keep serving their old versions instead of
    vanishing), and becomes visible exactly when the catalog lists it.
  * compact_live(gc=True) deletes only the tombstone files it consumed;
    files published while the merge ran survive (the racing-upsert
    safety net), as does the pending-count bookkeeping.
  * pending_tombstones / compaction_overdue gauge the backlog from the
    catalog alone (zero Spark jobs).
"""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import count_jobs
from websearchengine_spark.operators import topk
from websearchengine_spark.sources.storage import IndexStorage
from websearchengine_spark.streaming import ingest
from websearchengine_spark.streaming.ingest import (
    COMPACTION_OVERDUE_TOMBSTONES,
    apply_pages_batch,
    compact_live,
    compaction_overdue,
    pending_tombstones,
    read_live_catalog,
    search_live,
    search_live_batch,
    tombstone_files,
)

N_SHARDS = 4


def _recrawled(corpus_pdf, lo, hi, tag="fresh recrawl probe"):
    by_url = corpus_pdf.sort_values("url").reset_index(drop=True)
    re = by_url.iloc[lo:hi].copy()
    re["text"] = [f"{tag} body {i}" for i in range(len(re))]
    re["html"] = [
        f"<html><body>{t}</body></html>".encode() for t in re["text"]
    ]
    return by_url, re


@pytest.fixture()
def upserted(spark, corpus_pdf, tmp_path):
    """200-doc live index + a 30-url re-crawl batch (30 pending
    tombstones in delta-000000000)."""
    by_url, re = _recrawled(corpus_pdf, 40, 70)
    root = str(tmp_path / "live")
    apply_pages_batch(
        spark, spark.createDataFrame(by_url), 0, root,
        n_shards=N_SHARDS, n_groups=2,
    )
    apply_pages_batch(spark, spark.createDataFrame(re), 1, root)
    return {"root": root, "recrawled_urls": set(re["url"]), "by_url": by_url}


def _no_driver_tombstones(monkeypatch):
    """Make any driver materialization of the delete set explode."""

    def boom(*a, **k):  # pragma: no cover - the point is it never runs
        raise AssertionError(
            "search path must not driver-materialize tombstones"
        )

    monkeypatch.setattr(ingest, "read_tombstones", boom)
    monkeypatch.setattr(ingest, "_tombstone_ids", boom)


def test_search_never_driver_materializes_tombstones(
    spark, upserted, monkeypatch
):
    root = upserted["root"]
    want = [
        (r["url"], round(r["score"], 9))
        for r in search_live(spark, root, "fresh recrawl", k=50).collect()
    ]
    monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", 0)  # the Spark side
    _no_driver_tombstones(monkeypatch)
    got_rows = search_live(spark, root, "fresh recrawl", k=50).collect()
    got = [(r["url"], round(r["score"], 9)) for r in got_rows]
    assert got == want
    assert {u for u, _ in got} == upserted["recrawled_urls"]
    # old versions excluded: every hit is from the re-crawl segment
    assert all(r["doc_id"] >= 200 for r in got_rows)
    # the batch kernel path too (exclude_df through wand_topk_batch)
    batch = search_live_batch(
        spark, root, ["fresh recrawl", "data mining"], k=20
    ).collect()
    urls = [r["url"] for r in batch if r["query"] == "data mining"]
    assert len(urls) == len(set(urls))  # no superseded duplicates


def test_large_tombstone_backlog_stays_off_driver(
    spark, upserted, monkeypatch
):
    """A backlog of synthetic tombstones (ids beyond the corpus:
    exclusion no-ops) over the in-process budget rides the executor
    path; results are unchanged and the gauge flips."""
    root = upserted["root"]
    want = [
        (r["url"], round(r["score"], 9))
        for r in search_live(spark, root, "data mining", k=20).collect()
    ]
    n_big = topk.INPROC_MAX_POSTINGS
    big = spark.range(n_big).select(
        F.lit("delta-000000000").alias("seg"),
        (F.col("id") + 10_000_000).cast("long").alias("doc_id"),
    )
    rel = os.path.join("tombstones", "op-000000777")
    big.write.mode("overwrite").parquet(os.path.join(root, rel))
    cat = read_live_catalog(root)
    cat["tombstone_files"].append({"file": rel, "n": n_big})
    with open(os.path.join(root, "_live.json"), "w") as f:
        json.dump(cat, f)

    assert pending_tombstones(root) == n_big + 30
    assert compaction_overdue(root, threshold=50_000)
    assert not compaction_overdue(root)  # default threshold is 10^7
    assert COMPACTION_OVERDUE_TOMBSTONES == 10_000_000

    _no_driver_tombstones(monkeypatch)
    got = [
        (r["url"], round(r["score"], 9))
        for r in search_live(spark, root, "data mining", k=20).collect()
    ]
    assert got == want


def test_tombstone_visibility_is_catalog_gated(spark, upserted):
    """A tombstone file the catalog does not list (the crash window
    between tombstone write and catalog publish) is INVISIBLE: the doc
    keeps serving.  Listing it in the catalog makes it take effect."""
    root = upserted["root"]
    before = search_live(spark, root, "data mining", k=30).collect()
    assert len(before) > 0
    victim = before[0]
    seg = "delta-000000000" if victim["doc_id"] < 200 else "delta-000000001"
    local_id = victim["doc_id"] if victim["doc_id"] < 200 else victim["doc_id"] - 200

    rel = os.path.join("tombstones", "batch-000000099")
    spark.createDataFrame(
        [(seg, int(local_id))], "seg string, doc_id long"
    ).write.mode("overwrite").partitionBy("seg").parquet(os.path.join(root, rel))

    # unlisted -> crash-window file -> victim still visible
    mid = search_live(spark, root, "data mining", k=30).collect()
    assert victim["url"] in {r["url"] for r in mid}

    cat = read_live_catalog(root)
    cat["tombstone_files"].append({"file": rel, "n": 1})
    with open(os.path.join(root, "_live.json"), "w") as f:
        json.dump(cat, f)
    after = search_live(spark, root, "data mining", k=30).collect()
    assert victim["url"] not in {r["url"] for r in after}


def test_compact_gc_spares_unconsumed_tombstones(
    spark, upserted, monkeypatch
):
    """A tombstone file published while the merge runs (the racing
    upsert the append safety net anticipates) survives gc and stays
    catalog-listed; the consumed files are deleted and de-listed."""
    root = upserted["root"]
    consumed_before = tombstone_files(root)
    assert [f["n"] for f in consumed_before] == [30]
    late_rel = os.path.join("tombstones", "batch-000000555")

    real_merge = ingest.merge_many_indexes

    def merge_with_race(*a, **k):
        # simulate an upsert batch landing mid-merge: file + catalog
        # entry published while merge_many_indexes is running
        spark.createDataFrame(
            [("delta-000000001", 0)], "seg string, doc_id long"
        ).write.mode("overwrite").partitionBy("seg").parquet(os.path.join(root, late_rel))
        cat = read_live_catalog(root)
        cat["tombstone_files"].append({"file": late_rel, "n": 1})
        with open(os.path.join(root, "_live.json"), "w") as f:
            json.dump(cat, f)
        return real_merge(*a, **k)

    monkeypatch.setattr(ingest, "merge_many_indexes", merge_with_race)
    out = compact_live(spark, root, gc=True)
    assert out is not None

    files = tombstone_files(root)
    assert [f["file"] for f in files] == [late_rel]
    assert os.path.isdir(os.path.join(root, late_rel))
    for f in consumed_before:
        assert not os.path.exists(os.path.join(root, f["file"]))
    assert pending_tombstones(root) == 1


def test_compact_consumes_tombstones_and_resets_gauge(spark, upserted):
    root = upserted["root"]
    assert pending_tombstones(root) == 30
    compact_live(spark, root)
    assert tombstone_files(root) == []
    assert pending_tombstones(root) == 0
    assert not compaction_overdue(root, threshold=0)
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    # post-compaction search still serves only the latest versions
    hits = search_live(spark, root, "fresh recrawl", k=50).collect()
    assert {r["url"] for r in hits} == upserted["recrawled_urls"]


def test_partial_df_override_raises_clear_error(spark, upserted):
    """topk: a partial df_override is a contract error with a named
    message, not an opaque KeyError."""
    from websearchengine_spark.operators.topk import wand_topk

    seg = os.path.join(upserted["root"], "delta-000000000")
    with pytest.raises(ValueError, match="df_override must cover"):
        wand_topk(
            spark, seg, "data mining", k=5,
            corpus_stats=(230, 50_000), df_override={"data": 10},
        ).collect()


def test_exclude_df_masks_ids(spark, upserted):
    """wand_topk(exclude_df=) masks exactly the given ids, spread across
    every shard: none of them comes back, and the exclusion actually
    changes the result."""
    from websearchengine_spark.operators.topk import wand_topk

    root = upserted["root"]
    seg = os.path.join(root, "delta-000000000")
    ids = [0, 1, 2, 3, 8, 13]
    ex = spark.createDataFrame(
        [(i % N_SHARDS, i) for i in ids], "shard int, doc_id long"
    )

    def rows(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    masked = rows(
        wand_topk(
            spark, seg, "data mining", k=10, exclude_df=ex, docs_join=False,
        )
    )
    assert not any(d in set(ids) for d, _ in masked)
    # and the unexcluded run differs (the exclusion actually bit)
    plain = rows(
        wand_topk(spark, seg, "data mining", k=10, docs_join=False)
    )
    assert plain != masked


@pytest.mark.parametrize("search", ["search_live", "search_live_batch"])
def test_overdue_compaction_warns(spark, upserted, monkeypatch, search):
    """Both live search entry points raise the compaction-overdue
    RuntimeWarning once pending tombstones pass the gauge threshold."""
    root = upserted["root"]
    assert pending_tombstones(root) == 30
    monkeypatch.setattr(ingest, "COMPACTION_OVERDUE_TOMBSTONES", 10)
    query = "fresh recrawl"
    arg = query if search == "search_live" else [query]
    with pytest.warns(RuntimeWarning, match="pending tombstones"):
        hits = getattr(ingest, search)(spark, root, arg, k=50).collect()
    assert {r["url"] for r in hits} == upserted["recrawled_urls"]


def test_tombstone_files_are_seg_partitioned(spark, upserted):
    """Round-4 review fix: batch/op tombstone files are written
    partitionBy(seg), so a segment's search reads only its own subdir
    (and a tombstone-free segment's lookup is a driver-side listdir,
    no Spark job)."""
    from websearchengine_spark.streaming.ingest import tombstones_for_segments

    root = upserted["root"]
    tomb_dir = os.path.join(root, "tombstones", "batch-000000001")
    assert any(e.startswith("seg=") for e in os.listdir(tomb_dir))
    # per-seg read: only the tombstoned segment yields a frame
    clean, tombed = "delta-000000001", "delta-000000000"
    per_seg = tombstones_for_segments(spark, root, N_SHARDS, [clean, tombed])
    assert per_seg[clean] is None
    d = per_seg[tombed]
    assert d is not None and d.count() == 30


def test_live_gate_sides_identical(spark, corpus_pdf, tmp_path, monkeypatch):
    """A tombstoned 2-segment live query returns the same doc ids and
    scores with every segment in-process (zero Spark jobs), every
    segment on the Spark side, and one segment on each side.  The
    re-crawled versions repeat the query words, so both segments match
    and the superseded versions must stay masked."""
    by_url, re = _recrawled(corpus_pdf, 40, 70, tag="data mining recrawl")
    root = str(tmp_path / "live")
    apply_pages_batch(
        spark, spark.createDataFrame(by_url), 0, root,
        n_shards=N_SHARDS, n_groups=2,
    )
    apply_pages_batch(spark, spark.createDataFrame(re), 1, root)
    assert pending_tombstones(root) == 30
    # delta-000000001 costs its df sum alone (no tombstones of its own);
    # delta-000000000 costs more (larger df plus the 30 pending)
    delta1 = IndexStorage(os.path.join(root, "delta-000000001"))
    cheap = topk._prepare(spark, delta1, ["data mining"], None, None, None).postings
    for query in ("data mining", '"data mining"'):
        got = {}
        for side, cap in (("inproc", 10**12), ("spark", 0), ("mixed", cheap)):
            monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", cap)
            got[side] = count_jobs(
                spark,
                lambda: [
                    (r["doc_id"], r["url"], r["score"])
                    for r in search_live(spark, root, query, k=50).collect()
                ],
            )
        rows, jobs = got["inproc"]
        assert rows and jobs == 0, query
        assert got["spark"][0] == rows and got["spark"][1] > 0, query
        assert got["mixed"][0] == rows and got["mixed"][1] > 0, query
        # each re-crawled url answers once, from its new version
        urls = [u for _, u, _ in rows]
        assert len(urls) == len(set(urls))
        assert {u for d, u, _ in rows if d >= 200} == set(re["url"])
