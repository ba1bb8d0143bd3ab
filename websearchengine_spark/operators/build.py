"""Index build pipeline — the Spark-first replacement for
``--mode=index`` (SearchEngine.java:152-157 -> IndexerInvertedCompressed.
constructIndex :167-277; lifecycle traced in SURVEY.md §3.1).

Pipeline (all DataFrame; boundaries are Spark stages):

    pages.select(url) ──► url rank (tiny two-phase)      [doc_id mapping]
    pages ──mapInPandas──► (url, title, tokens)          [narrow: extract+analyze]
      │ join(broadcast ids) ──► docs table               [no heavy shuffle]
      │ posexplode(tokens); pack occurrence -> ONE int64
      │   (doc_id << 22 | pos), doc_len -> (doc_id << 22 | doc_len)
      ▼
    repartitionByRange(term, shard)                      [the ONE shuffle:
      │                                                   term-clustered]
    groupBy(shard = doc_id % n_shards, term)             [reuses it]
      │ sort_array(collect_list(occ_packed))  — 8 B/occurrence
      │ sort_array(collect_set(dl_packed))    — one per (doc, term)
      ▼
    mapInArrow encode: zero-copy numpy slices of the packed-long
      buffers, run-length split per doc, delta-gap + varbyte
      block-max blocks (r6)
      ▼
    postings(shard, term, df_shard, ctf_shard, blocks)   [_write_postings:
      one dynamic-partitioned write, per-group commits, each file's
      term ranges recorded; merge.py writes through the same helper]
    term_stats = sum of per-shard df/ctf over postings   [tiny agg, no
      rescan; term-sorted 1 MB row groups = the query-time dictionary]

Scale design decisions (the 100 TB story):

  * doc-id assignment is the scalable two-phase scheme (per-partition
    row_number + broadcast partition offsets) computed on the URL COLUMN
    ALONE — a single-partition global window would serialize the corpus
    through one task, and ranking the full analyzed stream would
    double-evaluate the UDF via range-partitioner sampling.  SURVEY §7.3.
  * the occurrence stream is shuffled exactly ONCE, and each occurrence
    crosses the wire as a SINGLE packed int64 (doc_id << 22 | pos) — the
    shuffle phase is memcpy-bound, so row width IS the scaling ceiling.
    doc_len ships as a second packed long, deduplicated by collect_set.
    No intermediate per-(doc,term) aggregation, no multi-GB cache of
    position arrays, no doc_len join.  Per-doc tf/positions are rebuilt
    by numpy run-length splitting inside the Arrow encoder.
  * the shuffle is TERM-CLUSTERED (_term_clustered): a range
    partitioning on (term, shard) that the groupBy(shard, term) reuses,
    so each write task holds one contiguous term range and the
    driver-side point read of a query's postings opens about one file
    per term and group instead of the whole table.  Its price: one
    range-sampling job, and the partial aggregation runs after the
    exchange instead of map-side.
  * postings are DOC-SHARDED (shard = doc_id % n_shards): every term's
    list is split across all shards, so head-term skew (stopwords with
    df ~ corpus size) is bounded by ceil(df / n_shards) — sharding IS the
    salting the north_rule demands; no groupBy ever collects a full head
    term's corpus-wide posting list in one task.  Query-time WAND runs
    per shard and merges (operators/topk.py).
  * both aggregations are native hash aggs; the only Python is the
    Arrow-batched extract/analyze UDF and the block encoder (numpy).
  * the postings table is laid out as ``n_groups`` shard-groups; each
    group commit is recorded in the manifest -> resumable builds with
    per-partition lineage + metrics (north_rule).  A resume runs the
    same single write, filtered to the groups still missing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from websearchengine_spark.functions.analyze import analyze_text
from websearchengine_spark.functions.codec import BLOCK_SIZE, encode_posting_blocks
from websearchengine_spark.functions.extract import extract_text_and_title
from websearchengine_spark.sources.storage import IndexStorage

DEFAULT_N_SHARDS = 8
DEFAULT_N_GROUPS = 4

# Packed-occurrence layout for the ONE wide shuffle: each occurrence is a
# single int64 ``doc_id << PACK_BITS | pos`` (and the per-doc doc_len a
# single ``doc_id << PACK_BITS | doc_len``, kept ONCE per (doc, term) by
# a deduplicating collect_set) instead of a 3-field struct
# repeated per occurrence.  Shuffle bytes drop ~2.5-3x, and sort order on
# the packed long IS (doc_id, pos) order since doc_id occupies the high
# bits.  Limits: doc_id < 2^41 (covers the 10^12-doc north_rule with
# margin), pos/doc_len < 2^22 (4.19M tokens per doc; positions are token
# indexes so pos < doc_len always) — enforced against the corpus max
# doc_len before the shuffle runs.
PACK_BITS = 22
PACK_MASK = (1 << PACK_BITS) - 1
MAX_DOC_ID = 1 << (63 - PACK_BITS)

ANALYZED_SCHEMA = "url string, title string, tokens array<string>"

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("df_shard", T.LongType()),
        T.StructField("ctf_shard", T.LongType()),
        T.StructField(
            "blocks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("first_docid", T.LongType()),
                        T.StructField("last_docid", T.LongType()),
                        T.StructField("n", T.IntegerType()),
                        T.StructField("data", T.BinaryType()),
                    ]
                )
            ),
        ),
    ]
)
# the same blocks type on the Arrow side, for the encoder's output batches
_BLOCKS_T = to_arrow_type(POSTINGS_SCHEMA["blocks"].dataType)


def analyze_pages(pages: DataFrame, analyzer: str = "reference") -> DataFrame:
    """pages -> (url, title, tokens) via one Arrow-batched UDF pass.

    Extraction (S2) + analyzer chain (P1-P4) in a single mapInPandas so
    html bytes never cross a shuffle.  If the ``text`` column is already
    populated (input_hint allows either), it is trusted as the pinned
    extractor's output (byte-identity contract) and only tokenized;
    otherwise the html is extracted here.

    ``analyzer``: "reference" = the full chain (lowercase + Porter step 1
    + 1..20 length filter); "whitespace" = raw lowercase whitespace
    tokens (used when an external SQL oracle must reproduce the token
    stream exactly).
    """

    cols = [c for c in ("url", "html", "text") if c in pages.columns]
    if analyzer == "whitespace" and "text" in cols and "html" not in cols:
        # JVM-NATIVE fast path: with no html to extract, whitespace
        # tokenization is a whole-stage-codegen'd split/filter — no
        # Python, no Arrow transfer of the token stream (UDFs are the
        # slow path).  Split semantics match the Python path on ASCII
        # whitespace (regex \s+ with empties filtered == str.split());
        # the synthetic/oracle corpora are controlled ASCII.
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
            lambda t: t != "",
        )
        title = F.col("title") if "title" in pages.columns else F.lit("")
        return pages.select("url", title.alias("title"), toks.alias("tokens"))

    def run(batches):
        for pdf in batches:
            urls = pdf["url"]
            texts = pdf["text"] if "text" in pdf else pd.Series([None] * len(pdf))
            htmls = pdf["html"] if "html" in pdf else pd.Series([None] * len(pdf))
            titles, out_tokens = [], []
            for text, html in zip(texts, htmls):
                if text is None and html is not None:
                    title, text = extract_text_and_title(html)
                elif html is not None:
                    title, _ = extract_text_and_title(html)
                else:
                    title = ""
                if analyzer == "whitespace":
                    out_tokens.append((text or "").lower().split())
                else:
                    out_tokens.append(analyze_text(text or ""))
                titles.append(title)
            yield pd.DataFrame({"url": urls, "title": titles, "tokens": out_tokens})

    return pages.select(*cols).mapInPandas(run, schema=ANALYZED_SCHEMA)


def rank_urls(urls: DataFrame, n_parts: int | None = None) -> DataFrame:
    """(url, doc_id): dense rank of url in global sort order.

    Scalable two-phase: range-partition by url, local row_number, then
    add broadcast per-partition offsets.  (A global ``row_number() over
    (order by url)`` funnels everything through one task; never do that
    at 10^12 rows.)  SURVEY.md §7.3.

    The range-partitioned urls are LOCALLY CHECKPOINTED (lazily) rather
    than persisted: the count pass then reads a plain RDD scan, which
    adaptive execution leaves alone, so materializing it and counting
    is one job after the range-bounds sample and the shuffle map stage
    — with no session conf touched, so concurrent queries keep their
    plans.  (A persisted frame plans its exchange adaptively and the
    count pass adds a cache-stage job.)  The checkpoint blocks live in
    executor storage until the frame is garbage-collected; like any
    local checkpoint they do not survive the loss of their executor.
    """
    if n_parts is None:
        n_parts = max(8, urls.sparkSession.sparkContext.defaultParallelism)
    parted = urls.select("url").repartitionByRange(n_parts, "url").withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=False)

    # per-partition counts in the SAME job that materializes the
    # checkpoint: mapInPandas sees one partition per task, so summing
    # batch lengths needs no groupBy exchange (the old groupBy(_pid) agg
    # cost two AQE stage jobs for numbers the scan already knows — r6).
    # Arrow-batched, no per-row Python work.
    def _part_counts(batches):
        n, pid = 0, None
        for pdf in batches:
            if len(pdf):
                n += len(pdf)
                if pid is None:
                    pid = int(pdf["_pid"].iloc[0])
        if pid is not None:
            yield pd.DataFrame({"_pid": [pid], "cnt": [n]})

    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.mapInPandas(_part_counts, "_pid int, cnt long").collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offs = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy("url")
    return (
        parted.withColumn("_rn", F.row_number().over(w))
        .withColumn("doc_id", (offs[F.col("_pid")] + F.col("_rn") - 1).cast("long"))
        .drop("_pid", "_rn")
    )


def assign_doc_ids(analyzed: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Attach deterministic dense doc_id = rank of url in sort order.

    The rank is computed on the url column ALONE (a narrow, column-pruned
    pass — critically, this avoids range-partitioner SAMPLING of the
    heavy analyzed stream, which would evaluate the extract/analyze UDF a
    second time) and joined back.  The id side is tiny relative to the
    token stream, so Catalyst broadcasts it at bench scale; at extreme
    scale it degrades to a sort-merge join on url, which is still one
    shuffle of the heavy side — the same price the old repartitionByRange
    paid, without the double UDF evaluation.
    """
    ids = rank_urls(analyzed.select("url"), n_parts)
    return analyzed.join(ids, "url")


@contextmanager
def _arrow_batch_cap(spark: SparkSession):
    """Cap Arrow rows per batch at 512 for the duration of a build or merge.

    Posting rows are FAT (arrays or block lists of ~df_shard elements
    for head terms): the default 10k-row Arrow batch balloons to
    gigabytes per in-flight task.  The session value is restored on
    every exit path, so a failed build leaves later queries untouched."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "512")
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def _write_docs(
    store: IndexStorage, docs: DataFrame, n_shards: int, n_groups: int
) -> tuple[dict, list[int]]:
    """Write ``docs``; return its corpus stats.

    docs is written doc_id-CLUSTERED: range-partitioned on doc_id (the
    one Exchange; adaptive execution coalesces the ranges to sized
    files) and sorted within each file, so a lookup of k doc_ids
    (storage.lookup_rows: the winners' metadata, comprehensive's
    candidate priors) opens about one row group per id instead of every
    file.  The corpus stats (num_docs, total_tf, max_dl) and the docs
    per shard-group ride the docs write as an Observation — zero extra
    jobs and zero re-reads; the caller records the stats in the
    manifest config.  Returns (stats, docs per group)."""
    obs = Observation("corpus_stats")
    grp = (F.col("doc_id") % n_shards) % n_groups
    out = docs.repartitionByRange("doc_id").sortWithinPartitions("doc_id").observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("num_docs"),
        F.sum("doc_len").cast("long").alias("total_tf"),
        F.max("doc_len").cast("long").alias("max_dl"),
        *[F.count(F.when(grp == g, 1)).alias(f"nd_{g}") for g in range(n_groups)],
    )
    store.write_table(out, "docs")
    v = obs.get
    stats = {k: int(v[k] or 0) for k in ("num_docs", "total_tf", "max_dl")}
    return stats, [int(v[f"nd_{g}"]) for g in range(n_groups)]


def _postings_batch(rows: list[tuple]) -> pa.RecordBatch:
    """Postings rows (shard, term, df_shard, ctf_shard, blocks), each
    block's data slot still holding its value array, as one Arrow batch:
    ONE vectorized varbyte pass over every block of the batch
    (byte-identical to per-block encoding; the per-call numpy overhead
    dominates on block-sized arrays), and the blocks column assembled
    column-wise instead of from a list of dicts (~20x cheaper)."""
    import numpy as np

    from websearchengine_spark.functions.codec import varbyte_encode_many

    shards, terms, dfs, ctfs, block_lists = zip(*rows)
    flat = [blk for bl in block_lists for blk in bl]
    datas = varbyte_encode_many([blk[3] for blk in flat])
    offs = np.zeros(len(block_lists) + 1, dtype=np.int32)
    np.cumsum([len(bl) for bl in block_lists], out=offs[1:])
    struct = pa.StructArray.from_arrays(
        [
            pa.array(datas if i == 3 else [blk[i] for blk in flat], f.type)
            for i, f in enumerate(_BLOCKS_T.value_type)
        ],
        fields=list(_BLOCKS_T.value_type),
    )
    blocks = pa.ListArray.from_arrays(pa.array(offs), struct)
    return pa.record_batch(
        {
            "shard": pa.array(shards, pa.int32()),
            "term": pa.array(terms, pa.string()),
            "df_shard": pa.array(dfs, pa.int64()),
            "ctf_shard": pa.array(ctfs, pa.int64()),
            "blocks": blocks,
        }
    )


def _term_clustered(rows: DataFrame) -> DataFrame:
    """The one postings shuffle, term-CLUSTERED: range-partition the
    caller's pre-aggregation rows on (term, shard) into the session's
    shuffle-partition count, ahead of its groupBy(shard, term).  A range
    partitioning on the grouping keys satisfies the aggregation's
    clustering, so Catalyst plans this Exchange as the only one (the
    partial aggregate runs after it), and each write task then holds
    one contiguous term range: every group's files cover disjoint term
    ranges (only a boundary term, split by shard, can sit in two
    adjacent files), and a point read opens about one file per query
    term and group (storage.lookup_rows).  The range bounds cost one
    sampling job."""
    n = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return rows.repartitionByRange(n, "term", "shard")


def _write_postings(
    store: IndexStorage,
    rows: DataFrame,
    encode_rows,
    n_shards: int,
    n_groups: int,
    groups: list[int],
    build_id: str,
    docs_per_group: list[int],
) -> None:
    """The ONE postings writer — fresh builds, resumed builds and
    compaction all end here.

    ``rows`` holds one row per (shard, term) straight out of the
    caller's single, term-clustered shuffle (_term_clustered ahead of
    its groupBy); ``encode_rows`` turns an Arrow batch of
    them into (shard, term, df_shard, ctf_shard, blocks) rows with
    deferred block bytes (``encode_posting_blocks(_defer_bytes=True)``).
    Only ``groups`` (the shard-groups not yet committed) are written:
    the group filter references the grouping key alone, so Catalyst
    pushes it below the aggregation and a resume shuffles only what it
    writes.  All groups leave in ONE dynamic-partitioned write, with
    their metrics (n_postings / n_terms / max_term_postings) observed on
    that write, then each group dir is moved into place and committed
    to the manifest individually — a crash mid-write leaves both the
    live table and the manifest untouched."""
    if not groups:
        return

    def encode(batches):
        for b in batches:
            out = list(encode_rows(b))
            if out:
                yield _postings_batch(out)

    t0 = time.time()
    group = (F.col("shard") % F.lit(n_groups)).cast("int")
    if len(groups) < n_groups:
        rows = rows.filter(group.isin(groups))
    obs = Observation("group_metrics")
    exprs = []
    for g in groups:
        in_g = F.col("group") == g
        exprs += [
            F.sum(F.when(in_g, F.col("df_shard"))).alias(f"np_{g}"),
            F.count(F.when(in_g, F.lit(1))).alias(f"nt_{g}"),
            F.max(F.when(in_g, F.col("ctf_shard"))).alias(f"mx_{g}"),
        ]
    postings = (
        rows.mapInArrow(encode, schema=POSTINGS_SCHEMA)
        .withColumn("group", group)
        .observe(obs, *exprs)
        # (group, term): the partition-column prefix satisfies the
        # dynamic-partition writer's required ordering (no extra sort
        # gets inserted), and each file is term-sorted inside its
        # task's term range, so its row groups' min/max term ranges
        # (recorded at commit) direct the point reads
        .sortWithinPartitions("group", "term")
    )
    store.write_partitions_atomic(postings, "postings", "group", groups)
    gm = obs.get
    # one job wrote every group; per-group walls are not separable
    elapsed = round(time.time() - t0, 3)
    for g in groups:
        store.mark_group_complete(
            g,
            {
                "build_id": build_id,
                "n_postings": int(gm[f"np_{g}"] or 0),
                "n_terms": int(gm[f"nt_{g}"] or 0),
                "n_docs": docs_per_group[g],
                "max_term_postings": int(gm[f"mx_{g}"] or 0),
                "n_shards_in_group": len(range(g, n_shards, n_groups)),
                "elapsed_sec": elapsed,
            },
        )


def _write_term_stats(spark: SparkSession, store: IndexStorage) -> None:
    """Global term stats (A3/A4) from the per-shard postings.

    df/ctf are additive across doc-shards, so this is a tiny aggregation
    over the (vocab x shards)-row postings table — no token rescan.
    Term-sorted SMALL row groups on disk: the table is the term
    DICTIONARY; with rows sorted by term inside each file and
    storage.ROW_GROUP_BYTES row groups, a k-term lookup
    (storage.lookup_rows, or a Spark scan's pushed `term IN` filter) reads
    at most ~k row groups per file — bounded work per file at any
    vocabulary size.  It is not range-partitioned: the sampling job of
    a range exchange buys nothing on a table this small (one file at
    bench scale)."""
    term_stats = (
        store.read_partitioned(spark, "postings")
        .groupBy("term")
        .agg(
            F.sum("df_shard").cast("long").alias("df"),
            F.sum("ctf_shard").cast("long").alias("ctf"),
        )
        .sortWithinPartitions("term")
    )
    store.write_table(term_stats, "term_stats")


def _encode_occurrences(b, positions: bool, block_size: int):
    """Build encoder: grouped rows (shard, term, occs[], dls[]) -> postings
    rows.  ``occs`` is the sorted packed-long occurrence list; ``dls``
    the sorted packed-long (doc_id, doc_len) set (positional builds) or
    empty (positionless builds pack doc_len directly into each
    occurrence).  Arrow-native (r6): each batch's list columns are ONE
    contiguous int64 buffer + offsets, so per-row arrays are zero-copy
    numpy slices instead of pandas object cells (guide §4.2); per-doc
    tf/positions come back by run-length splitting the doc_id high
    bits."""
    import numpy as np

    shards = b.column("shard").to_pylist()
    terms = b.column("term").to_pylist()
    occ_col, dl_col = b.column("occs"), b.column("dls")
    occ_off = occ_col.offsets.to_numpy()
    occ_val = occ_col.values.to_numpy(zero_copy_only=True)
    dl_off = dl_col.offsets.to_numpy()
    dl_val = (
        dl_col.values.to_numpy(zero_copy_only=True)
        if len(dl_col.values)
        else np.empty(0, np.int64)
    )
    for i, (shard, term) in enumerate(zip(shards, terms)):
        occ = occ_val[occ_off[i] : occ_off[i + 1]]
        d_all = occ >> PACK_BITS
        change = np.empty(d_all.size, dtype=bool)
        change[0] = True
        np.not_equal(d_all[1:], d_all[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        uniq = d_all[starts]
        counts = np.diff(np.append(starts, d_all.size))
        if positions:
            dlp = dl_val[dl_off[i] : dl_off[i + 1]]
            if dlp.size != uniq.size or not np.array_equal(dlp >> PACK_BITS, uniq):
                raise ValueError(
                    "packed doc_len set misaligned with occurrence "
                    "docs (PACK_BITS overflow?)"
                )
            dls = dlp & PACK_MASK
            p = occ & PACK_MASK
        else:
            dls = (occ & PACK_MASK)[starts]
            p = None
        blocks = encode_posting_blocks(
            uniq, counts, dls, p, block_size=block_size, _defer_bytes=True
        )
        yield shard, term, int(uniq.size), int(d_all.size), blocks


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_root: str,
    n_shards: int = DEFAULT_N_SHARDS,
    n_groups: int = DEFAULT_N_GROUPS,
    resume: bool = True,
    signals: DataFrame | None = None,
    keep_doc_terms: bool = True,
    keep_doc_tokens: bool = False,
    analyzer: str = "reference",
    block_size: int | None = None,
    positions: bool = True,
    spell_assist: bool = False,
) -> IndexStorage:
    """Build the full index at ``index_root``; resumable per shard-group.

    ``signals``: optional DataFrame (url, pagerank, numviews) from the
    mining pipeline (operators/graph.py), joined into ``docs`` (J4);
    missing urls get pagerank=0.0 / numviews=0 (coalesce, as the
    reference's map lookups default, IndexerInvertedCompressed.java:258-269).

    ``positions=False`` builds a doconly-style index
    (IndexerInvertedDoconly.java:140-147): posting blocks carry only
    [gaps, tfs, dls] — ~2-3x smaller, and the position column is dropped
    from the build shuffle itself.  Plain conjunctive/BM25 queries are
    unchanged; phrase queries (which need positions) raise ValueError.
    """
    phase_t: dict[str, float] = {}
    _t = [time.time()]

    def _mark(name: str) -> None:
        now = time.time()
        phase_t[name] = round(now - _t[0], 2)
        _t[0] = now

    with _arrow_batch_cap(spark):
        store = IndexStorage(index_root)
        manifest = store.read_manifest()
        build_id = store.new_build_id()
        done = store.completed_groups() if resume else set()
        if not resume:
            manifest["completed_groups"] = []
        manifest.setdefault("attempts", []).append(
            {"build_id": build_id, "ts": time.time(), "resumed_groups": sorted(done)}
        )
        store.write_manifest(manifest)

        # the Arrow extract/analyze UDF is the dominant CPU cost; if the
        # input has fewer splits than cores (e.g. a few large parquet
        # files), the whole stage serializes on those splits — widen it
        # first.  On a real cluster the input normally has plenty of
        # splits and this is a no-op.
        cores = spark.sparkContext.defaultParallelism
        if pages.rdd.getNumPartitions() < cores:
            pages = pages.repartition(cores * 2)
        # url rank from the RAW input (parquet column-prunes to a url-only
        # scan); joining it to the UDF output avoids both a second UDF
        # evaluation (range-partitioner sampling) and a heavy-side shuffle
        # (the id side broadcasts)
        ids = rank_urls(pages.select("url"))
        analyzed = analyze_pages(pages, analyzer=analyzer).join(ids, "url")
        analyzed = analyzed.persist()
        _mark("setup")

        # ---- docs + corpus stats (A5) ------------------------------------
        docs = analyzed.select(
            "doc_id", "url", "title", F.size("tokens").cast("long").alias("doc_len")
        )
        if signals is not None:
            docs = (
                docs.join(signals, "url", "left")
                .withColumn("pagerank", F.coalesce(F.col("pagerank"), F.lit(0.0)).cast("double"))
                .withColumn("numviews", F.coalesce(F.col("numviews"), F.lit(0)).cast("long"))
            )
        else:
            docs = docs.withColumn("pagerank", F.lit(0.0)).withColumn("numviews", F.lit(0).cast("long"))
        srow, docs_per_group = _write_docs(
            store,
            docs.select("doc_id", "url", "title", "doc_len", "pagerank", "numviews"),
            n_shards, n_groups,
        )
        _mark("analyze_and_docs")

        # ---- optional forward-index tables (A1 / S7) ----------------------
        if keep_doc_terms:
            exploded = analyzed.select(
                "doc_id", F.posexplode("tokens").alias("pos", "term")
            )
            doc_terms = exploded.groupBy("doc_id", "term").agg(
                F.count("*").cast("int").alias("tf")
            )
            store.write_table(doc_terms, "doc_terms")
        if keep_doc_tokens:
            # positional forward index (S7 analog): doc_id -> kept tokens in
            # position order; powers next-word suggestion (Q6)
            store.write_table(analyzed.select("doc_id", "tokens"), "doc_tokens")
        _mark("doc_terms_tables")

        avg_dl = srow["total_tf"] / max(1, srow["num_docs"])
        # packed-long layout guards (see PACK_BITS): pos < doc_len always,
        # so one corpus-max check covers both the position and doc_len fields
        if srow["max_dl"] >= (1 << PACK_BITS):
            raise ValueError(
                f"doc with {srow['max_dl']} tokens exceeds the 2^{PACK_BITS} "
                "packed-occurrence limit; raise PACK_BITS"
            )
        if srow["num_docs"] >= MAX_DOC_ID:
            raise ValueError("corpus exceeds the 2^41 packed doc_id limit")
        _mark("stats")

        # ---- postings: doc-sharded, blocked, per-group commits ------------
        # SINGLE-SHUFFLE design with PACKED rows: explode -> pack each
        # occurrence into ONE int64 -> one term-clustered exchange ->
        # groupBy(shard, term) -> encode.  No intermediate (doc_id, term)
        # aggregation, no cache of 10^1x-row position arrays, no doc_len
        # join — the occurrence stream is shuffled exactly once, each
        # occurrence as a packed ``doc_id << 22 | pos`` instead of a
        # 3-field struct (~40 B serialized).  doc_len travels as a second
        # packed long, kept once per (doc, term) by collect_set.
        occs = analyzed.select(
            (F.col("doc_id") % F.lit(n_shards)).cast("int").alias("shard"),
            F.shiftleft(F.col("doc_id"), PACK_BITS).alias("pk"),
            F.size("tokens").alias("doc_len"),
            F.posexplode("tokens").alias("pos", "term"),
        )
        if positions:
            plists = (
                _term_clustered(
                    occs.select(
                        "shard",
                        "term",
                        (F.col("pk") + F.col("pos")).alias("occ_p"),
                        (F.col("pk") + F.col("doc_len")).alias("dl_p"),
                    )
                )
                .groupBy("shard", "term")
                .agg(
                    F.sort_array(F.collect_list("occ_p")).alias("occs"),
                    # one packed (doc_id, doc_len) per doc
                    F.sort_array(F.collect_set("dl_p")).alias("dls"),
                )
            )
        else:
            # positionless: doc_len packs directly into each occurrence
            # (the pos field is dropped before the shuffle entirely)
            plists = (
                _term_clustered(
                    occs.select(
                        "shard", "term", (F.col("pk") + F.col("doc_len")).alias("occ_p")
                    )
                )
                .groupBy("shard", "term")
                .agg(F.sort_array(F.collect_list("occ_p")).alias("occs"))
                .withColumn("dls", F.array().cast("array<long>"))
            )
        bsz = block_size if block_size is not None else BLOCK_SIZE
        _write_postings(
            store,
            plists,
            lambda b: _encode_occurrences(b, positions, bsz),
            n_shards,
            n_groups,
            [g for g in range(n_groups) if g not in done],
            build_id,
            docs_per_group,
        )
        _mark("postings_groups")

        _write_term_stats(spark, store)
        _mark("term_stats")

        if spell_assist:
            # persisted bigram->terms assist table (reference utils/
            # AssistantIndexBuilder.java:117-161): /prediction then scans
            # the target's bigram row groups, not the whole vocabulary
            from websearchengine_spark.operators.spell import build_spell_assist

            build_spell_assist(spark, store)
            _mark("spell_assist")

        # ---- build_meta table + snapshot ----------------------------------
        meta_rows = [
            {
                "grp": int(k),
                "build_id": v.get("build_id", ""),
                "n_postings": int(v.get("n_postings", 0)),
                "n_terms": int(v.get("n_terms", 0)),
                "n_docs": int(v.get("n_docs", 0)),
                "elapsed_sec": float(v.get("elapsed_sec", 0.0)),
            }
            for k, v in store.read_manifest().get("group_metrics", {}).items()
        ]
        if meta_rows:
            # n_groups rows of driver-known scalars: write driver-side (a
            # Spark job per build for a few hundred bytes is pure overhead)
            store.write_small_table(
                {k: [row[k] for row in meta_rows] for k in meta_rows[0]},
                "build_meta",
                pa.schema(
                    [
                        ("grp", pa.int64()),
                        ("build_id", pa.string()),
                        ("n_postings", pa.int64()),
                        ("n_terms", pa.int64()),
                        ("n_docs", pa.int64()),
                        ("elapsed_sec", pa.float64()),
                    ]
                ),
            )
        store.finalize_snapshot(
            {
                "n_shards": n_shards,
                "n_groups": n_groups,
                "build_id": build_id,
                "analyzer": analyzer,
                "avg_dl": avg_dl,
                "num_docs": srow["num_docs"],
                "total_tf": srow["total_tf"],
                "max_dl": srow["max_dl"],
                # a build's doc_ids are dense: its id space is num_docs
                "id_span": srow["num_docs"],
                "positions": positions,
                "spell_assist": bool(spell_assist),
                "phase_timings_sec": phase_t,
            }
        )
        analyzed.unpersist()
    return store
