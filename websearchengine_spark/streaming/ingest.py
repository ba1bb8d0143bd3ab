"""Streaming incremental indexing: log-structured (LSM-style) index
maintenance over a stream of crawled pages.

The reference rebuilds its whole index per run (Indexer.constructIndex,
IndexerInvertedCompressed.java:167-277 loops the corpus in batches and
merges the batch maps at load time).  A continuously-crawled web corpus
needs the streaming version of the same idea: new pages arrive forever,
yesterday's 100 TB index must not be re-tokenized for today's 1 TB of
new pages, and search must see new pages promptly WITHOUT waiting for a
full rebuild.  This module provides that as a log-structured collection
of ordinary index segments:

    live root/
      _live.json          catalog: segment list, applied batch ids,
                          generation, lineage (the commit log)
      delta-000000001/    a normal build_index output over ONE micro-batch
      delta-000000002/
      base-0000/          a compaction product (merge_many_indexes of
                          earlier segments)

  * INGEST (start_index_ingest): Structured Streaming ``foreachBatch``
    builds each micro-batch into its own delta segment — a full,
    self-contained index (resumable groups, manifest, metrics) over just
    that batch's pages.  Batch application is IDEMPOTENT by batch_id
    (exactly-once on top of foreachBatch's at-least-once redelivery:
    an already-applied id is a no-op; a torn build is rebuilt under the
    same id with build_index's own group resume, and only the final
    atomic catalog write publishes it).
  * SEARCH (search_live; query.search for every indexed ranker): the
    block-max kernel over ALL live segments, each scored with the UNION
    corpus statistics (num_docs/total_tf summed from segment manifests,
    per-term global df and ctf summed from each segment's driver-side
    term-dictionary probe — zero Spark jobs), per-segment top-k, then a
    global (score desc, doc_id asc) merge.  Segment
    doc_ids map into the global id space by the SAME cumulative
    shard-preserving offsets compaction uses (merge.doc_id_offsets),
    so live search is doc_id- AND score-IDENTICAL to searching the
    fully-compacted index — proven by tests/test_streaming_ingest.py.
    Per-segment top-k is sufficient: segments partition the corpus, so
    the global top-k is a subset of the union of per-segment top-ks.
  * COMPACT (compact_live): merge_many_indexes folds every live segment
    into a new base generation in ONE shuffle of the compressed postings
    (no re-tokenization, K-way, see operators/merge.py), then atomically
    swaps the catalog.  Search cost is O(#segments) — small jobs, or
    in-process kernel runs under topk.INPROC_MAX_POSTINGS — so the
    classic LSM trade applies: compact when deltas accumulate.
  * UPSERT (the re-crawl semantic, on by default): a url re-appearing in
    a later batch supersedes its earlier version — the old doc_ids are
    TOMBSTONED (broadcast semi-join per earlier segment, written under
    tombstones/), masked out of every search immediately, and physically
    dropped — statistics corrected — at compaction.  Deleted ids vanish
    without remapping the id space; each segment records its id_span so
    later offsets clear the full occupied range.  Tombstones are
    EXECUTOR-RESIDENT on the Spark side of search (round 4): it hands
    them to the WAND kernel as (shard, doc_id) rows cogrouped with the
    postings (topk._shard_topk's cogroup) — never collected to the
    driver, never serialized into task closures; only a segment whose
    query is under topk.INPROC_MAX_POSTINGS, the pending tombstone
    count included, reads them in-process — and their VISIBILITY is
    catalog-gated: only files listed in _live.json count, so a crash
    between tombstone write and catalog publish leaves the old versions
    visible (not vanished) until redelivery republishes both together.
    Every tombstone file is written partitionBy("seg"), so a segment
    reads only its own seg= subdirs.
    pending_tombstones()/compaction_overdue() gauge the backlog from
    the catalog alone.

Scale: each delta build shuffles only its own batch's occurrences;
compaction moves compressed blocks, not tokens; search adds one small
job per segment (bounded by compaction policy).  Nothing on this path
collects more than top-k rows and per-term stats to the driver.

Id-space growth: ids are never remapped, so id_span grows with
CUMULATIVE ingested docs (deletes leave gaps).  This is deliberate —
stable ids across compactions, and a density-restoring remap would
change every doc's shard (new_id % n_shards) and force a re-sharding
shuffle of the whole index.  The costs of gaps are negligible:
delta-gap varbyte spends ~1 extra byte only where a gap crosses a
128^k boundary, and the packed-build ceiling (doc_id < 2^41,
operators/build.py PACK_BITS) leaves room for ~2e12 cumulative docs.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators.merge import doc_id_offsets, merge_many_indexes
from websearchengine_spark.operators.util import as_dataframe
from websearchengine_spark.sources.storage import (
    LIVE_CATALOG,
    IndexStorage,
    read_parquet,
    read_record,
    write_record,
)

CATALOG_NAME = LIVE_CATALOG
TOMBSTONES_DIR = "tombstones"

# build kwargs that are PER-BATCH DATA, not index format: they are never
# pinned in the (JSON) catalog config and pass through on every batch
# (a DataFrame would not survive json.dump anyway)
UNPINNED_BUILD_KWARGS = frozenset(["signals", "resume"])


def read_live_catalog(root: str) -> dict:
    """The catalog of the live root ``root`` (IndexFormatError unless it
    is storage.FORMAT), or a new one for a root not yet written."""
    return read_record(root, CATALOG_NAME) or {
        "generation": 0,
        "segments": [],        # [{"dir", "batch_id"|None, "num_docs"}] in id order
        "applied_batches": [],  # batch ids already ingested (exactly-once)
        "config": {},           # build kwargs pinned by the first batch
        "lineage": [],          # append-only event log
        # [{"file": rel_path, "n": rows}] — tombstone parquet files whose
        # writing batch PUBLISHED (visibility is catalog-gated: a file
        # from a torn batch is invisible until redelivery republishes it
        # together with its segment, so re-crawled urls never vanish in
        # the crash window between tombstone write and catalog write)
        "tombstone_files": [],
    }


def live_segment_roots(root: str) -> list[str]:
    """Absolute segment roots in doc_id-space order (base first)."""
    cat = read_live_catalog(root)
    return [os.path.join(root, s["dir"]) for s in cat["segments"]]


def tombstone_files(root: str, cat: dict | None = None) -> list[dict]:
    """Catalog-listed PENDING tombstone files, [{"file": rel, "n": rows}].

    Visibility is gated on the catalog: a tombstone parquet written by a
    batch that crashed before its catalog publish is NOT returned (its
    urls stay visible until redelivery republishes tombstones + segment
    together — the atomic-publish contract).  ``cat``: the catalog
    already read (else it is read here)."""
    cat = read_live_catalog(root) if cat is None else cat
    return list(cat["tombstone_files"])


def pending_tombstones(root: str, cat: dict | None = None) -> int:
    """Total tombstoned doc_ids awaiting compaction — catalog sums, zero
    Spark jobs.  ``cat``: the catalog already read (else it is read
    here)."""
    return sum(int(f["n"]) for f in tombstone_files(root, cat))


# Pending-tombstone gauge threshold: search stays correct and
# executor-resident at any backlog, but df/num_docs statistics drift and
# per-shard masking work grows with it — past this, compaction is overdue.
COMPACTION_OVERDUE_TOMBSTONES = 10_000_000


def compaction_overdue(
    root: str, threshold: int | None = None, cat: dict | None = None
) -> bool:
    """True when the pending-tombstone backlog exceeds ``threshold``
    (default COMPACTION_OVERDUE_TOMBSTONES) — the LSM health gauge the
    compaction policy should watch alongside segment count.  ``cat``:
    the catalog already read (else it is read here)."""
    t = COMPACTION_OVERDUE_TOMBSTONES if threshold is None else threshold
    return pending_tombstones(root, cat) > t


def _union_all(dfs: list):
    u = dfs[0]
    for d in dfs[1:]:
        u = u.unionByName(d)
    return u


def _tombstone_parts(
    root: str, seg_names: list[str], files: list[dict]
) -> dict[str, list[str]]:
    """{segment_dir: [seg= parquet dirs]}: the subdirs of the tombstone
    ``files`` (tombstone_files) holding each segment's rows, found by
    driver-side stat."""
    return {
        s: [
            p
            for f in files
            if os.path.isdir(p := os.path.join(root, f["file"], f"seg={s}"))
        ]
        for s in seg_names
    }


def tombstones_for_segments(
    spark: SparkSession,
    root: str,
    n_shards: int,
    seg_names: list[str],
    files: list[dict] | None = None,
) -> dict[str, "object"]:
    """{segment_dir: (shard, doc_id) DataFrame or None} for the live
    segments — the Spark side's tombstone mask in search_live/
    search_live_batch (a tombstone-free segment costs a driver-side
    listdir, no Spark job, None result).  ``files``: the catalog's
    tombstone files already read (else tombstone_files reads them)."""
    if files is None:
        files = tombstone_files(root)
    out: dict[str, "object"] = {}
    for s, parts in _tombstone_parts(root, seg_names, files).items():
        if not parts:
            out[s] = None
            continue
        out[s] = _union_all([read_parquet(spark, p) for p in parts]).select(
            (F.col("doc_id") % n_shards).cast("int").alias("shard"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
    return out


def _tombstone_ids(parts: list[str]) -> np.ndarray:
    """The in-process side's tombstone mask: a segment's local doc_ids
    read with pyarrow from its ``_tombstone_parts`` dirs."""
    import pyarrow.dataset as pads

    return np.unique(
        np.concatenate(
            [
                pads.dataset(p, format="parquet").to_table(columns=["doc_id"])
                .column("doc_id").to_numpy()
                for p in parts
            ]
        )
    )


def read_tombstones(
    spark: SparkSession, root: str, files: list[dict] | None = None
) -> dict[str, "object"]:
    """{segment_dir: np.ndarray of LOCAL doc_ids superseded by later
    re-crawls} — the DRIVER-MATERIALIZED view, used only by compaction
    (merge_many_indexes takes per-segment arrays); the search path uses
    tombstones_for_segments and never collects these.  Visibility is
    catalog-gated (see tombstone_files); pass ``files`` to read an exact
    snapshot.  A listed file that is gone raises."""
    if files is None:
        files = tombstone_files(root)
    if not files:
        return {}
    rows = _union_all(
        [read_parquet(spark, os.path.join(root, f["file"])) for f in files]
    ).select("seg", "doc_id").distinct().collect()
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["seg"], []).append(r["doc_id"])
    return {
        seg: np.sort(np.asarray(ids, dtype=np.int64)) for seg, ids in out.items()
    }


def _write_tombstones(
    spark: SparkSession, root: str, segments: list[dict], urls: DataFrame,
    tomb_rel: str,
) -> tuple[dict, int]:
    """Tombstone the ``segments``' versions of ``urls`` (a broadcast
    one-column frame) under ``tomb_rel``.  The one tombstone writer of
    re-crawl upserts and explicit deletes.

    One semi-join of the urls against each segment's docs table, written
    partitioned by seg so per-segment search reads ONLY its own subdirs
    (no whole-backlog rescan per segment).  The write overwrites
    (idempotent under crash-and-redeliver) and is published only by the
    caller's catalog write: readers see just the files
    ``tombstone_files`` lists, so a crash before it leaves the old
    versions visible (not vanished).  Returns (catalog, hit count): the
    catalog is re-read AFTER the job, with this file's entry replacing
    any earlier one; a file with no hits is removed instead of
    listed."""
    tomb_path = os.path.join(root, tomb_rel)
    hits = _union_all(
        [
            IndexStorage.open(os.path.join(root, seg["dir"]))
            .read_table(spark, "docs")
            .join(urls, "url", "semi")
            .select(F.lit(seg["dir"]).alias("seg"), "doc_id")
            for seg in segments
        ]
    ).persist()
    try:
        n = hits.count()
        if n:
            hits.write.mode("overwrite").partitionBy("seg").parquet(tomb_path)
    finally:
        hits.unpersist()
    cat = read_live_catalog(root)
    cat["tombstone_files"] = [
        f for f in cat["tombstone_files"] if f["file"] != tomb_rel
    ]
    if n:
        cat["tombstone_files"].append({"file": tomb_rel, "n": n})
    else:
        shutil.rmtree(tomb_path, ignore_errors=True)
    return cat, n


def apply_pages_batch(
    spark: SparkSession,
    pages: DataFrame,
    batch_id: int,
    root: str,
    upsert: bool = True,
    **build_kwargs,
) -> str | None:
    """Idempotently ingest one micro-batch: build a delta segment and
    publish it in the catalog.  Returns the segment dir (None if the
    batch was empty or already applied).

    Exactly-once: foreachBatch redelivers batches after failures; an id
    in ``applied_batches`` is skipped outright, and a half-built segment
    dir (crash before the catalog write) is finished by build_index's
    own per-group resume before the catalog write publishes it.  Build
    kwargs are pinned by the FIRST batch (segments must share
    n_shards/analyzer/positions to merge and to search together);
    conflicting later kwargs raise.

    ``upsert=True`` (default, the re-crawl semantic): a url appearing in
    this batch SUPERSEDES any earlier segment's version — the earlier
    doc_ids are tombstoned (one broadcast semi-join of the new batch's
    urls against each earlier segment's docs table, written atomically
    under tombstones/batch-<id>), excluded from every search, and
    physically dropped with statistics corrected at the next compaction.
    Urls must be unique WITHIN a batch (build_index requires that
    regardless).  ``upsert=False`` appends blindly (duplicate urls
    become distinct docs)."""
    cat = read_live_catalog(root)
    if batch_id in cat["applied_batches"]:
        return None
    data_kwargs = {
        k: v for k, v in build_kwargs.items() if k in UNPINNED_BUILD_KWARGS
    }
    fmt_kwargs = {
        k: v for k, v in build_kwargs.items() if k not in UNPINNED_BUILD_KWARGS
    }
    if cat["config"]:
        for key, val in fmt_kwargs.items():
            if key not in cat["config"]:
                # a kwarg the first batch didn't pin would be silently
                # dropped below — refuse instead: per-segment format
                # divergence breaks merge/search
                raise ValueError(
                    f"build kwarg {key}={val!r} was not set by the live "
                    f"index's first batch; all segments at {root} share "
                    "the pinned config (pass it on the first batch)"
                )
            if cat["config"][key] != val:
                raise ValueError(
                    f"live index at {root} was created with {key}="
                    f"{cat['config'][key]!r}; got {val!r}"
                )
        fmt_kwargs = cat["config"]
    build_kwargs = {**fmt_kwargs, **data_kwargs}
    if pages.isEmpty():
        cat["applied_batches"].append(batch_id)
        cat["lineage"].append(
            {"event": "empty_batch", "batch_id": batch_id, "ts": time.time()}
        )
        write_record(root, CATALOG_NAME, cat)
        return None

    from websearchengine_spark.operators.build import build_index

    seg_dir = f"delta-{batch_id:09d}"
    seg_root = os.path.join(root, seg_dir)
    store = build_index(spark, pages, seg_root, **build_kwargs)
    cfg = store.read_manifest()["config"]

    cat = read_live_catalog(root)  # re-read: the build can take a while
    if batch_id in cat["applied_batches"]:
        return None

    n_tombstoned = 0
    if upsert and cat["segments"]:
        cat, n_tombstoned = _write_tombstones(
            spark, root, cat["segments"],
            F.broadcast(store.read_table(spark, "docs").select("url")),
            os.path.join(TOMBSTONES_DIR, f"batch-{batch_id:09d}"),
        )
    if not cat["config"]:
        cat["config"] = dict(fmt_kwargs)
        # pin the format invariants even when left at build_index defaults
        for key in ("n_shards", "n_groups", "analyzer", "positions"):
            cat["config"].setdefault(key, cfg[key])
    cat["segments"].append(
        {
            "dir": seg_dir,
            "batch_id": batch_id,
            "num_docs": int(cfg["num_docs"]),
            "id_span": int(cfg["num_docs"]),  # built segments: dense ids
        }
    )
    cat["applied_batches"].append(batch_id)
    cat["lineage"].append(
        {
            "event": "delta_applied",
            "batch_id": batch_id,
            "dir": seg_dir,
            "num_docs": int(cfg["num_docs"]),
            "tombstoned": n_tombstoned,
            "snapshot_id": store.read_manifest().get("snapshot_id"),
            "ts": time.time(),
        }
    )
    write_record(root, CATALOG_NAME, cat)
    return seg_root


def delete_urls(
    spark: SparkSession,
    root: str,
    urls: list[str],
    op_id: int,
) -> int:
    """Explicitly delete urls from a live index (the takedown/expiry
    path — same machinery as re-crawl supersession, minus the new
    version): every segment's matching doc_ids are tombstoned, excluded
    from search immediately, and physically dropped with statistics
    corrected at the next compaction.  Idempotent by ``op_id`` (replays
    return 0).  Returns the number of docs tombstoned."""
    cat = read_live_catalog(root)
    if op_id in cat.get("applied_ops", []):
        return 0
    if not cat["segments"]:
        raise ValueError(f"live index at {root} has no segments")
    cat, n = _write_tombstones(
        spark, root, cat["segments"],
        F.broadcast(spark.createDataFrame([(u,) for u in urls], "url string")),
        os.path.join(TOMBSTONES_DIR, f"op-{op_id:09d}"),
    )
    cat.setdefault("applied_ops", []).append(op_id)
    cat["lineage"].append(
        {
            "event": "urls_deleted",
            "op_id": op_id,
            "n_urls": len(urls),
            "tombstoned": n,
            "ts": time.time(),
        }
    )
    write_record(root, CATALOG_NAME, cat)
    return n


def start_index_ingest(
    spark: SparkSession,
    pages_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    compact_every: int | None = None,
    **build_kwargs,
):
    """Attach the delta-build sink to a streaming pages DataFrame.

    ``pages_stream`` is any readStream source with the pages schema the
    batch builder accepts (url, text | html, ...).  Each micro-batch
    becomes one delta segment via apply_pages_batch (idempotent, so the
    checkpoint's at-least-once redelivery is safe).  Returns the
    StreamingQuery; pass e.g. ``trigger={"availableNow": True}`` to
    drain a backlog and stop.

    ``compact_every=L`` is the LSM policy knob: whenever the live
    segment count reaches L after a batch lands, the sink folds them
    into a new base generation inline (one compressed-postings shuffle,
    results provably unchanged) — search cost stays O(L) small jobs
    instead of growing with the stream.  Compaction inside foreachBatch
    is crash-safe like everything else here: the catalog swap is the
    atomic publish, and a torn merge resumes group-by-group."""

    def sink(batch_df, batch_id):
        apply_pages_batch(spark, batch_df, batch_id, root, **build_kwargs)
        if compact_every and len(read_live_catalog(root)["segments"]) >= compact_every:
            compact_live(spark, root)

    writer = pages_stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def compact_live(
    spark: SparkSession,
    root: str,
    min_segments: int = 2,
    gc: bool = True,
    **merge_kwargs,
) -> str | None:
    """Fold every live segment into one new base generation (K-way
    merge, one compressed-postings shuffle) and atomically swap the
    catalog.  Returns the new base dir, or None when fewer than
    ``min_segments`` segments are live.  ``gc=True`` removes the
    superseded segment dirs AFTER the swap; the catalog lineage keeps
    their ids and snapshot ids (the commit log survives the files).

    Writers are expected to be SINGLE-THREADED (the streaming sink, or
    one driver at a time) — the inline ``compact_every`` path always
    is.  As a safety net, a plain append that lands while the merge
    runs survives the catalog swap (its offset is unchanged: the new
    base's id_span equals the sum of the merged segments' spans), and so
    do tombstone files published while the merge ran (gc removes only
    the files this compaction consumed).  An UPSERT batch racing a
    compaction is still NOT fully supported: its surviving tombstones
    are applied to segments that survive the swap, but entries that
    reference a segment the merge consumed (without seeing them) target
    a dir that no longer exists and are never applied."""
    cat = read_live_catalog(root)
    segs = list(cat["segments"])
    if len(segs) < min_segments:
        return None
    seg_roots = [os.path.join(root, s["dir"]) for s in segs]
    # snapshot the tombstone files this compaction CONSUMES (catalog-
    # gated); files published while the merge runs are not consumed and
    # survive both the catalog swap and gc below
    consumed = tombstone_files(root)
    tombs = read_tombstones(spark, root, files=consumed)
    deleted = {
        i: tombs[s["dir"]] for i, s in enumerate(segs) if s["dir"] in tombs
    }
    gen = int(cat["generation"]) + 1
    base_dir = f"base-{gen:04d}"
    out_root = os.path.join(root, base_dir)
    out = merge_many_indexes(
        spark, seg_roots, out_root, deleted_doc_ids=deleted or None,
        **merge_kwargs,
    )
    out_cfg = out.read_manifest()["config"]
    num_docs = int(out_cfg["num_docs"])

    cat = read_live_catalog(root)
    merged_dirs = {s["dir"] for s in segs}
    # a segment appended while the merge ran (writers should be
    # single-threaded, but the sink + a driver-side compact can race)
    # survives the swap instead of being orphaned
    appended = [s for s in cat["segments"] if s["dir"] not in merged_dirs]
    # ... and so do tombstone files published during the merge: only the
    # snapshot this compaction actually consumed leaves the catalog
    consumed_set = {f["file"] for f in consumed}
    cat["tombstone_files"] = [
        f for f in cat["tombstone_files"] if f["file"] not in consumed_set
    ]
    cat["generation"] = gen
    cat["segments"] = [
        {
            "dir": base_dir,
            "batch_id": None,
            "num_docs": num_docs,
            # deletions leave id gaps: the base still OCCUPIES the merged
            # span, so later segment offsets must clear it, not num_docs
            "id_span": int(out_cfg["id_span"]),
        }
    ] + appended
    cat["lineage"].append(
        {
            "event": "compacted",
            "generation": gen,
            "merged": [s["dir"] for s in segs],
            "dir": base_dir,
            "num_docs": num_docs,
            "deleted": {seg: int(a.size) for seg, a in tombs.items()},
            "snapshot_id": out.read_manifest().get("snapshot_id"),
            "ts": time.time(),
        }
    )
    write_record(root, CATALOG_NAME, cat)
    if gc:
        for r in seg_roots:
            shutil.rmtree(r, ignore_errors=True)
        # delete ONLY the tombstone files this compaction consumed — a
        # racing upsert's fresh tombstones (published mid-merge) survive
        # instead of being destroyed with the directory
        for f in consumed:
            shutil.rmtree(os.path.join(root, f["file"]), ignore_errors=True)
        tdir = os.path.join(root, TOMBSTONES_DIR)
        try:
            os.rmdir(tdir)  # only removes an EMPTY dir
        except OSError:
            pass
    return out_root


def live_stats(spark: SparkSession, root: str) -> tuple[int, int, int]:
    """(num_docs, total_tf, n_shards) of the union corpus — manifest
    sums, zero Spark jobs."""
    num_docs = total_tf = 0
    n_shards = None
    for seg in live_segment_roots(root):
        cfg = IndexStorage.open(seg).read_manifest()["config"]
        num_docs += int(cfg["num_docs"])
        total_tf += int(cfg["total_tf"])
        n_shards = int(cfg["n_shards"])
    if n_shards is None:
        raise ValueError(f"live index at {root} has no segments")
    return num_docs, total_tf, n_shards


def _search_segments(
    spark: SparkSession,
    store: IndexStorage,
    queries: list[str],
    ranker: str,
    spark_side,
    inproc_k: int | None = None,
) -> tuple[DataFrame | None, list, list]:
    """The segment side of search_live/search_live_batch over the live
    root opened as ``store``: every live segment scored with the UNION
    statistics, its local doc_ids shifted by the cumulative
    shard-preserving offsets (merge.doc_id_offsets — the SAME rule
    compaction applies) and its pending tombstones masked.  Returns
    (union of the Spark-side per-segment results or None, in-process
    hits as topk._local_result takes them, every segment's (store,
    offset) for _global_docs).  The catalog is read once per call.

    Union statistics: (num_docs, total_tf) summed from the manifests and
    per-term global (df, ctf) summed from each segment's driver-side
    term-dictionary probe (topk._df_lookup) — zero Spark jobs — so every
    indexed ``ranker`` scores exactly as on the compacted index.
    Tombstoned docs still count in the statistics until compaction
    corrects them (Lucene-style visibility).

    Each segment is prepared once (topk._prepare) and scored in one of
    two places.  With ``inproc_k`` (search_live's k) a segment whose
    query terms' df sum — plus the catalog's pending tombstone count
    when the segment has tombstones — is at most
    topk.INPROC_MAX_POSTINGS runs the kernel in this process (its
    tombstones read with pyarrow).  Every other segment runs
    ``spark_side(store, scoring, exclude_df)`` — topk's Spark side with
    the tombstone mask EXECUTOR-RESIDENT: (shard, doc_id) rows cogrouped
    with the segment's postings, reading only its own seg= partition
    subdirs."""
    from websearchengine_spark.operators.query import (
        analyze_tokens,
        index_analyzer,
        parse_query,
    )
    from websearchengine_spark.operators.topk import (
        INPROC_MAX_POSTINGS,
        NO_HITS,
        _df_lookup,
        _local_topk,
        _prepare,
    )

    root = store.root
    cat = read_live_catalog(root)
    names = [s["dir"] for s in cat["segments"]]
    if not names:
        raise ValueError(f"live index at {root} has no segments")
    pending = pending_tombstones(root, cat)
    if compaction_overdue(root, cat=cat):
        import warnings

        warnings.warn(
            f"live index at {root} has {pending} pending "
            "tombstones (> COMPACTION_OVERDUE_TOMBSTONES): statistics "
            "drift and per-query masking grow until compact_live runs",
            RuntimeWarning,
            stacklevel=3,
        )
    stores = [store.segment(n) for n in names]
    cfgs = [s.read_manifest()["config"] for s in stores]
    n_shards = int(cfgs[0]["n_shards"])
    offsets = doc_id_offsets([int(c["id_span"]) for c in cfgs], n_shards)
    num_docs = sum(int(c["num_docs"]) for c in cfgs)
    total_tf = sum(int(c["total_tf"]) for c in cfgs)

    analyzer = index_analyzer(stores[0])
    terms = sorted(
        {
            w
            for q in queries
            for ws in analyze_tokens(parse_query(q), analyzer)
            for w in ws
        }
    )
    seg_stats = [_df_lookup(s, terms) for s in stores]
    gstats: dict[str, tuple[int, int]] = {}
    for st in seg_stats:
        for t, (df, ctf) in st.items():
            gdf, gctf = gstats.get(t, (0, 0))
            gstats[t] = (gdf + df, gctf + ctf)

    files = tombstone_files(root, cat)
    tomb_parts = _tombstone_parts(root, names, files)
    seg_tombs = merged = None
    hits: list = []
    for name, seg, off, local in zip(names, stores, offsets, seg_stats):
        sc = _prepare(spark, seg, queries, (num_docs, total_tf), gstats, local, ranker)
        if sc is None:  # a query term absent here: no match
            hits.append((seg, off, *NO_HITS))
            continue
        parts = tomb_parts[name]
        cost = sc.postings + (pending if parts else 0)
        if inproc_k is not None and cost <= INPROC_MAX_POSTINGS:
            exclude = _tombstone_ids(parts) if parts else None
            hits.append((seg, off, *_local_topk(seg, sc, inproc_k, exclude)))
            continue
        if seg_tombs is None:
            seg_tombs = tombstones_for_segments(spark, root, n_shards, names, files)
        p = spark_side(seg, sc, seg_tombs[name])
        if off:
            p = p.withColumn("doc_id", (F.col("doc_id") + F.lit(off)).cast("long"))
        merged = p if merged is None else merged.unionByName(p)
    return merged, hits, list(zip(stores, offsets))


def _global_docs(spark: SparkSession, placed: list) -> DataFrame:
    """The union of the segments' docs tables in the global id space."""
    docs = None
    for store, off in placed:
        d = store.read_table(spark, "docs")
        if off:
            d = d.withColumn("doc_id", (F.col("doc_id") + F.lit(off)).cast("long"))
        docs = d if docs is None else docs.unionByName(d)
    return docs


def search_live(
    spark: SparkSession,
    root: str,
    query: str,
    k: int = 10,
) -> DataFrame:
    """BM25 WAND top-k over ALL live segments with UNION statistics.

    Each segment is scored with the summed (num_docs, total_tf) and
    per-term global statistics, in this process or by topk's Spark side
    under topk.INPROC_MAX_POSTINGS (see _search_segments), its local
    doc_ids are shifted into the global id space, and the per-segment
    top-ks merge on (score desc, doc_id asc) — in this process, with
    zero Spark jobs, when every segment ran here.  The result is
    doc_id- and score-identical to wand_topk over the compacted index:
    compaction never changes what search returns, it only changes what
    search costs.  (With PENDING tombstones the superseded docs are
    already invisible but still count in df/num_docs until compaction —
    the standard Lucene visibility contract; after compaction the
    statistics equal a from-scratch build of the latest-version corpus.)
    query.search serves the other indexed rankers over live roots the
    same way.  Warns (RuntimeWarning) when compaction is overdue.
    Returns query.RESULT_COLS ordered like run_query."""
    with IndexStorage.open(root) as store:
        return as_dataframe(spark, _search_live(spark, store, query, k))


def _search_live(
    spark: SparkSession, store: IndexStorage, query: str, k: int, ranker: str = "bm25"
) -> pa.Table | DataFrame:
    """search_live's core for any indexed ``ranker`` over the live root
    opened as ``store`` (its segments open as store.segment): a pyarrow
    table when every segment ran in this process, else the lazy
    DataFrame of the cross-segment merge (util.as_rows / as_dataframe
    read either)."""
    from websearchengine_spark.operators.query import RESULT_COLS
    from websearchengine_spark.operators.topk import _local_result, _spark_topk

    merged, hits, placed = _search_segments(
        spark, store, [query], ranker,
        lambda store, sc, ex: _spark_topk(spark, store, sc, k, False, ex),
        inproc_k=k,
    )
    if merged is None:
        return _local_result(hits, k, docs_join=True)
    if hits:
        merged = merged.unionByName(
            as_dataframe(spark, _local_result(hits, k, docs_join=False))
        )
    topk = merged.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    return (
        F.broadcast(topk)
        .join(_global_docs(spark, placed), "doc_id")
        .select(*RESULT_COLS)
        # limit is a no-op on the <=k joined rows but compiles the final
        # sort to TakeOrderedAndProject (no range-sampling job — r6,
        # same as wand_topk's metadata join)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def search_live_batch(
    spark: SparkSession,
    root: str,
    queries: list[str],
    k: int = 10,
) -> DataFrame:
    """Throughput mode over a live index: MANY queries against every
    live segment on wand_topk_batch's Spark side (one postings scan per
    segment for the union of all query terms, decode shared across
    queries), scored with the same union statistics as search_live,
    then a per-query rank window over the cross-segment union.  Same
    output schema/order as topk.wand_topk_batch; per-query results equal
    search_live's (and the compacted index's batch results).  Phrase
    tokens are supported; tombstoned docs are excluded; warns like
    search_live when compaction is overdue."""
    from pyspark.sql import Window

    from websearchengine_spark.operators.topk import _batch_ranked, _empty_batch

    with IndexStorage.open(root) as store:
        merged, _hits, placed = _search_segments(
            spark, store, queries, "bm25",
            lambda seg, sc, ex: _batch_ranked(spark, seg, sc, queries, k, ex).select(
                "query", "doc_id", "score"
            ),
        )
    if merged is None:  # no query can match in any segment
        return _empty_batch(spark)
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = merged.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    # n_queries x k rows vs the union of all segments' docs tables:
    # broadcast the small side (sf1 plan-audit finding, as in search_live)
    out = (
        F.broadcast(topk).join(_global_docs(spark, placed), "doc_id")
        .select(
            "query", "doc_id", "url", "title", "score", "pagerank", "numviews", "rank"
        )
        .orderBy("query", "rank")
    )
    # bounded final sort when the result is small enough for the
    # driver-side TakeOrdered heap (see topk.wand_topk_batch — r6)
    n_bound = max(1, len(queries)) * k
    return out.limit(n_bound) if n_bound <= 100_000 else out
