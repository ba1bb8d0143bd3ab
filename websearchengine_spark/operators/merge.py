"""Distributed index merge (log-structured compaction of two builds).

The reference builds its index in rounds and merges the per-round
partial posting files into one final index (IndexerInvertedCompressed.
java:167-277 — constructIndex loops corpus batches, then the loader
unifies the per-batch maps).  At web scale the same need appears as
*incremental crawls*: yesterday's 100 TB index plus today's 1 TB delta
should combine WITHOUT re-tokenizing yesterday's corpus.  This operator
merges two built index roots into a third:

    merged = A  ∪  (B shifted by a doc_id offset)

Scale design (the 100 TB story):

  * NO token rescan and NO occurrence shuffle.  The only wide operation
    is ONE groupBy(shard, term) over the K *compressed postings tables*
    — rows are already per-(shard, term) blocks, i.e. orders of
    magnitude smaller than the occurrence stream the original builds
    shuffled — and its Exchange is the build's term-clustered range
    partitioning (build._term_clustered), so the output has the
    build's layout.  Decode → concat → re-encode runs embarrassingly parallel
    in an Arrow-batched numpy pass (``merge_rows``), whose output goes
    through the build's own postings writer (build._write_postings):
    one shuffle and one write regardless of K and of n_groups.
  * the doc_id offset is the smallest multiple of n_shards that clears
    A's doc_id space, so ``(doc_id + offset) % n_shards == doc_id %
    n_shards`` — B's rows KEEP their shard, no re-sharding shuffle of
    docs, doc_terms, or postings.  doc_ids stay unique and ascending
    (A's ids < offset <= B's shifted ids) but are no longer dense; the
    query path never assumes density.
  * posting lists re-encode because B's doc_ids shift and deleted
    docs drop out: every block's gaps and [first, last] range change.
  * per shard-group resumable commits + lineage in the manifest, same
    writer and contract as build_index (north_rule: checkpoint resume,
    per-partition metrics): a rerun after a torn compaction writes only
    the groups the manifest does not list as complete.  Corpus stats
    (over the survivors when deleting) ride the docs write as an
    Observation, as in build_index.

Constraints: both inputs must share n_shards, analyzer, and the
positions flag (ValueError otherwise) — these are index-format
invariants, not merge limitations.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.functions.codec import (
    BLOCK_SIZE,
    arrow_posting_blocks,
    decode_posting_blocks,
    encode_posting_blocks,
)
from websearchengine_spark.operators.build import (
    _arrow_batch_cap,
    _term_clustered,
    _write_docs,
    _write_postings,
    _write_term_stats,
)
from websearchengine_spark.sources.storage import IndexStorage


def _require(cfg_a: dict, cfg_b: dict, key: str, default=None):
    va, vb = cfg_a.get(key, default), cfg_b.get(key, default)
    if va != vb:
        raise ValueError(
            f"cannot merge indexes with different {key!r}: {va!r} vs {vb!r}"
        )
    return va


def merge_indexes(
    spark: SparkSession,
    root_a: str,
    root_b: str,
    out_root: str,
    n_groups: int | None = None,
    block_size: int = BLOCK_SIZE,
    resume: bool = True,
) -> IndexStorage:
    """Merge built indexes at ``root_a`` and ``root_b`` into ``out_root``.

    B's doc_ids shift by the smallest multiple of n_shards >= A's
    num_docs (shard-preserving).  Posting blocks are decoded, shifted,
    concatenated (A-then-B keeps doc order: every shifted B id exceeds
    every A id) and re-encoded.
    Returns the output IndexStorage; queries on it are score-identical
    to a from-scratch build of the union corpus (doc_ids differ, so
    exact score ties may order differently).
    """
    return merge_many_indexes(
        spark, [root_a, root_b], out_root,
        n_groups=n_groups, block_size=block_size, resume=resume,
    )


def doc_id_offsets(num_docs_list: list[int], n_shards: int) -> list[int]:
    """Cumulative shard-preserving doc_id offsets for a sequence of index
    segments: segment i's ids shift by the running sum of each earlier
    segment's num_docs rounded UP to a multiple of n_shards, so every
    shifted id keeps its shard (offset % n_shards == 0) and the shifted
    id ranges are disjoint and ascending in segment order.  This is THE
    id-space rule shared by merge_many_indexes and the live multi-index
    search path (streaming/ingest.py) — both must agree for incremental
    search to be doc_id-identical to the compacted index."""
    offs, off = [], 0
    for nd in num_docs_list:
        offs.append(off)
        off += ((int(nd) + n_shards - 1) // n_shards) * n_shards
    return offs


def merge_many_indexes(
    spark: SparkSession,
    roots: list[str],
    out_root: str,
    n_groups: int | None = None,
    block_size: int = BLOCK_SIZE,
    resume: bool = True,
    deleted_doc_ids: dict[int, "list[int]"] | None = None,
) -> IndexStorage:
    """K-way index merge in ONE pass — the compaction primitive for
    incremental (streaming) indexing.

    Generalizes the binary merge: segment i's doc_ids shift by the
    cumulative shard-preserving offset (see doc_id_offsets), all K
    compressed postings tables union into a single groupBy(shard, term),
    and each group decodes its parts in segment order, concatenates
    (offsets ascending => doc order preserved) and re-encodes.  Merging
    K segments therefore costs ONE shuffle of the compressed postings
    and ONE write regardless of K and of n_groups — a fold of binary
    merges would rewrite the whole index K-1 times.

    ``deleted_doc_ids`` maps segment INDEX -> LOCAL doc_ids to drop
    physically (live-index tombstones from superseding re-crawls): the
    docs/forward tables anti-join them out, the postings mask them
    during decode (tf/positions included), and num_docs/total_tf/avg_dl
    are recomputed over the SURVIVORS — so the postings and BM25
    statistics come out exactly as if the deleted docs had never been
    indexed.  doc_id offsets still derive from the ORIGINAL segment
    sizes (ids are never remapped, deleted ids just vanish), keeping the
    id space stable across compactions.
    """
    if len(roots) < 2:
        raise ValueError("merge_many_indexes needs at least two roots")
    stores = [IndexStorage.open(r) for r in roots]
    cfgs = [s.read_manifest().get("config", {}) for s in stores]
    n_shards = None
    analyzer = "reference"
    positions = True
    for i in range(1, len(cfgs)):
        n_shards = int(_require(cfgs[0], cfgs[i], "n_shards"))
        analyzer = _require(cfgs[0], cfgs[i], "analyzer", "reference")
        positions = bool(_require(cfgs[0], cfgs[i], "positions", True))
    if n_groups is None:
        n_groups = int(cfgs[0].get("n_groups", 1) or 1)

    # offsets derive from each segment's ID-SPACE EXTENT (id_span), not
    # its live doc count: deletions drop ids without remapping the
    # space, so a post-delete segment still occupies [0, id_span) and a
    # smaller num_docs-based offset would collide later segments' ids.
    # Builds record span == num_docs (dense ids), merges their extent.
    nd_list = [int(c["id_span"]) for c in cfgs]
    offsets = doc_id_offsets(nd_list, n_shards)
    id_span = offsets[-1] + (
        (nd_list[-1] + n_shards - 1) // n_shards
    ) * n_shards

    dels: dict[int, np.ndarray] = {
        int(i): np.sort(np.asarray(list(ids), dtype=np.int64))
        for i, ids in (deleted_doc_ids or {}).items()
        if ids is not None and len(ids)
    }
    del_dfs = {
        i: F.broadcast(
            spark.createDataFrame([(int(x),) for x in ids], "doc_id long")
        )
        for i, ids in dels.items()
    }

    out = IndexStorage(out_root)
    manifest = out.read_manifest()
    build_id = out.new_build_id()
    done = out.completed_groups() if resume else set()
    if not resume:
        manifest["completed_groups"] = []
    manifest.setdefault("attempts", []).append(
        {
            "build_id": build_id,
            "ts": time.time(),
            "merged_from": [
                {"root": r, "snapshot_id": s.read_manifest().get("snapshot_id")}
                for r, s in zip(roots, stores)
            ],
            "doc_id_offsets": offsets,
            "deleted_counts": {str(i): int(a.size) for i, a in dels.items()},
            "resumed_groups": sorted(done),
        }
    )
    out.write_manifest(manifest)

    # ---- docs / forward tables: union with the shifted id ---------------
    def shifted(df, off):
        if off == 0:
            return df
        return df.withColumn("doc_id", (F.col("doc_id") + F.lit(off)).cast("long"))

    def union_shifted(table):
        dfs = []
        for i, (s, off) in enumerate(zip(stores, offsets)):
            df = s.read_table(spark, table)
            if i in del_dfs:
                df = df.join(del_dfs[i], "doc_id", "anti")
            dfs.append(shifted(df, off))
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        return u

    # corpus statistics over the SURVIVORS, observed on the docs write
    # exactly as build_index does: the BM25 stats match a from-scratch
    # build of the post-delete corpus
    srow, docs_per_group = _write_docs(out, union_shifted("docs"), n_shards, n_groups)
    for opt_table in ("doc_terms", "doc_tokens"):
        if all(s.exists(opt_table) for s in stores):
            out.write_table(union_shifted(opt_table), opt_table)
    avg_dl = srow["total_tf"] / max(1, srow["num_docs"])

    # ---- postings: decode + shift + concat + re-encode per (shard, term)
    tables = [
        s.read_partitioned(spark, "postings").withColumn("side", F.lit(i))
        for i, s in enumerate(stores)
    ]
    both = tables[0]
    for t in tables[1:]:
        both = both.unionByName(t)
    grouped = (
        _term_clustered(both.select("shard", "term", "side", "blocks"))
        .groupBy("shard", "term")
        .agg(F.collect_list(F.struct("side", "blocks")).alias("parts"))
    )

    # the postings kernel gets the deletion arrays as a BROADCAST
    # VARIABLE (one torrent distribution per executor), not a closure
    # capture (re-serialized into every task) — with heavy re-crawl
    # churn the pending delete set can be large
    dels_bc = spark.sparkContext.broadcast(dels) if dels else None

    def merge_rows(batch):
        dels_x = dels_bc.value if dels_bc is not None else {}
        # the parts (side, blocks) of every row as columns: row r's parts
        # are part_offs[r]:part_offs[r+1], part j's blocks are
        # block_offs[j]:block_offs[j+1]
        parts = batch.column("parts")
        part_offs = parts.offsets.to_numpy().astype(np.int64)
        part_offs -= part_offs[0]
        sides, part_blocks = parts.flatten().flatten()
        sides = sides.to_numpy()
        stored, block_offs = arrow_posting_blocks(
            part_blocks, np.zeros(len(sides), dtype=np.int64)
        )
        for r, (shard, term) in enumerate(
            zip(*(batch.column(c).to_pylist() for c in ("shard", "term")))
        ):
            docs_l, tfs_l, dls_l, pos_l = [], [], [], []
            # parts arrive unordered; segment order = doc_id order
            # (offsets ascending, ranges disjoint)
            mine = range(part_offs[r], part_offs[r + 1])
            for j in sorted(mine, key=lambda j: sides[j]):
                d, t, dl, p = decode_posting_blocks(
                    stored.take(slice(block_offs[j], block_offs[j + 1])),
                    want_positions=positions,
                    want_doclens=True,
                )
                side = int(sides[j])
                da = dels_x.get(side)
                if da is not None and d.size:
                    keep = ~np.isin(d, da)
                    if not keep.all():
                        if positions and p is not None:
                            # flat positions align per-occurrence
                            p = p[np.repeat(keep, t)]
                        d, t, dl = d[keep], t[keep], dl[keep]
                off = offsets[side]
                if off:
                    d = d + off
                docs_l.append(d)
                tfs_l.append(t)
                dls_l.append(dl)
                if positions:
                    pos_l.append(p)
            d = np.concatenate(docs_l)
            if d.size == 0:
                continue  # every posting of this term was deleted
            t = np.concatenate(tfs_l)
            blocks = encode_posting_blocks(
                d, t, np.concatenate(dls_l),
                np.concatenate(pos_l) if positions else None,
                block_size=block_size, _defer_bytes=True,
            )
            yield shard, term, int(d.size), int(t.sum()), blocks

    try:
        with _arrow_batch_cap(spark):
            _write_postings(
                out,
                grouped,
                merge_rows,
                n_shards,
                n_groups,
                [g for g in range(n_groups) if g not in done],
                build_id,
                docs_per_group,
            )
    finally:
        # the deletion arrays are only read inside merge_rows, which has
        # fully executed (or failed) by now — release the broadcast payload
        # so a long-lived driver doing repeated compactions with large
        # pending-delete sets doesn't accumulate them until GC
        if dels_bc is not None:
            dels_bc.destroy()

    _write_term_stats(spark, out)

    # compaction preserves index features: inputs carrying a spell-assist
    # table get one rebuilt over the merged vocabulary
    from websearchengine_spark.operators.spell import (
        SPELL_ASSIST_TABLE,
        build_spell_assist,
    )

    if all(s.exists(SPELL_ASSIST_TABLE) for s in stores):
        build_spell_assist(spark, out)

    cfg = {
        "n_shards": n_shards,
        "n_groups": n_groups,
        "build_id": build_id,
        "analyzer": analyzer,
        "avg_dl": avg_dl,
        "num_docs": srow["num_docs"],
        "total_tf": srow["total_tf"],
        "max_dl": srow["max_dl"],
        "positions": positions,
        "merged_from": list(roots),
        "doc_id_offsets": offsets,
        "id_span": id_span,
    }
    out.finalize_snapshot(cfg)
    return out
