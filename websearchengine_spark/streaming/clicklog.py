"""Click/query-log ingestion and session analytics — the Structured
Streaming re-expression of the reference's serve-time log machinery
(SURVEY.md §2.10):

  Q5 click logging  — reference: synchronized TSV append + sqljet tables
     (ClickLoggingManager.java:40-45, LogDBManager.java:18-48)
     -> here: ``readStream`` over the click-event source, watermarked,
     appended to a partitioned parquet table (exactly-once via
     checkpointed file sink).

  Q4 session suggestion (PMI) — reference: wall-clock 60s session pairing
     (SessionHandler.java:18-19,237-292):
     queries q1,q2 from the same session within 60s form a pair;
     pmi = log(f_pair / (f_q1 * f_q2) + 1); top-3 with pmi > 0
     -> here: a windowed/lag batch job over the accumulated log (the
     same DataFrame code serves foreachBatch in streaming mode).

Event schema (reference TSV: session \\t query \\t did \\t action \\t ts):
    clicks(session_id string, query string, doc_id long, action string,
           ts timestamp)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

CLICK_SCHEMA = (
    "session_id string, query string, doc_id long, action string, ts timestamp"
)

SESSION_WINDOW_SEC = 60  # SessionHandler.java:18


def start_click_ingest(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Streaming append of click events to a date-partitioned table.

    File-source -> watermark -> parquet sink with checkpoint (restart-
    safe exactly-once for the file sink). Returns the StreamingQuery.
    """
    src = (
        spark.readStream.schema(CLICK_SCHEMA)
        .json(source_dir)
        .withWatermark("ts", watermark)
        .withColumn("dt", F.to_date("ts"))
    )
    return (
        src.writeStream.format("parquet")
        .option("path", table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("dt")
        .trigger(availableNow=True)
        .start()
    )


def streaming_query_counts(
    spark: SparkSession, source_dir: str, watermark: str = "10 minutes"
):
    """Windowed per-query counts with late-data handling — the streaming
    form of the reference's ``querycount`` table.  Memory-sink friendly
    for tests; swap the sink for parquet/kafka in production."""
    src = spark.readStream.schema(CLICK_SCHEMA).json(source_dir)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute"), "query")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            "query",
            "n",
        )
    )


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    gap_sec: int = SESSION_WINDOW_SEC,
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
):
    """CUSTOM STATEFUL streaming operator via ``applyInPandasWithState``:
    event-time session windows per session_id with a ``gap_sec``
    inactivity gap.  Emits one row per CLOSED session —
    (session_id, session_start, session_end, n_events).

    State per key: (start, last, n) in epoch seconds.  A session closes
    either (a) intra-batch, when a later event in the same batch is more
    than gap_sec after it, or (b) by EventTimeTimeout, when the
    watermark passes last_event + gap_sec.  Semantics caveat (same as
    the reference's wall-clock sessionizer, SessionHandler.java:18-19):
    per-key events are assumed ordered ACROSS batches; a cross-batch
    late event splits rather than reopens a session.

    Returns the streaming DataFrame (attach your own sink)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "session_id string, session_start timestamp, session_end timestamp,"
        " n_events long"
    )
    state_schema = "start double, last double, n long"
    gap = float(gap_sec)
    # Arrow hands the UDF tz-NAIVE timestamps rendered in the SESSION
    # timezone; capture it here so the epoch math (and the timeout
    # timestamp, which the engine compares against the true-epoch
    # watermark) is correct for any session tz, not just UTC.
    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")

    def _epoch(t) -> float:
        stamp = pd.Timestamp(t)
        if stamp.tzinfo is None:
            stamp = stamp.tz_localize(session_tz)
        return stamp.timestamp()

    def _render(epoch_sec: float) -> "pd.Timestamp":
        # The Arrow serializer re-interprets NAIVE UDF output in the
        # SESSION timezone, so render epoch seconds in that tz (then
        # strip tzinfo) — a bare to_datetime(unit='s') would be
        # UTC-rendered and shift by the tz offset for non-UTC sessions.
        return (
            pd.to_datetime(epoch_sec, unit="s", utc=True)
            .tz_convert(session_tz)
            .tz_localize(None)
        )

    def fn(key, pdfs, state: GroupState):
        sid = key[0]
        closed: list[tuple[float, float, int]] = []
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((start, last, n))
            state.remove()
        else:
            ts: list[float] = []
            for pdf in pdfs:
                ts.extend(_epoch(t) for t in pdf["ts"])
            ts.sort()
            if not ts:
                return
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = ts[0], ts[0], 0
            for t in ts:
                if n > 0 and t - last > gap:
                    closed.append((start, last, n))
                    start, n = t, 0
                last = t
                n += 1
            state.update((start, last, n))
            state.setTimeoutTimestamp(int((last + gap) * 1000))
        if closed:
            yield pd.DataFrame(
                {
                    "session_id": [sid] * len(closed),
                    "session_start": [_render(a) for a, _, _ in closed],
                    "session_end": [_render(b) for _, b, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    reader = spark.readStream.schema(CLICK_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.json(source_dir).withWatermark("ts", watermark)
    return src.groupBy("session_id").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def _tiebreak_cols(df: DataFrame) -> list[str]:
    """Stable secondary sort keys for same-timestamp events: whichever of
    event_id / doc_id the input carries (CLICK_SCHEMA has doc_id; the
    driver's events table has event_id)."""
    return [c for c in ("event_id", "doc_id") if c in df.columns]


def session_query_pairs(clicks: DataFrame) -> DataFrame:
    """Q4 pair extraction: consecutive queries in one session <= 60s
    apart (distinct adjacent queries), one pair row per occurrence.

    The gap compares exact MICROSECONDS (unix_micros; ANSI mode forbids
    a timestamp->double cast), not unix_timestamp's whole-second
    truncation — a pair 60.4s apart must NOT count (the reference
    compares wall-clock millis, SessionHandler.java:18-19, and the SQL
    oracles use fractional epoch()).

    Ordering is (ts, <tie-break>) where the tie-break is any event_id /
    doc_id column present in the input: with ts alone, two same-timestamp
    clicks in one session would pair in partition-arrival order —
    nondeterministic, and divergent from the (ts, event_id)-ordered
    oracles.  apply_suggestion_batch's carry window uses the same key, so
    batch-boundary carry picks the same "last" event the full-log
    computation would."""
    tb = _tiebreak_cols(clicks)
    w = Window.partitionBy("session_id").orderBy("ts", *tb)
    q = clicks.select("session_id", "query", "ts", *tb).withColumn(
        "prev_q", F.lag("query").over(w)
    ).withColumn("prev_ts", F.lag("ts").over(w))
    return (
        q.filter(
            F.col("prev_q").isNotNull()
            & (F.col("prev_q") != F.col("query"))
            & (
                # .cast('timestamp'): accepts TIMESTAMP_NTZ inputs too
                # (unix_micros requires TIMESTAMP; the gap is a
                # difference, so the tz interpretation cancels)
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                <= SESSION_WINDOW_SEC * 1_000_000
            )
        )
        .select(F.col("prev_q").alias("q1"), F.col("query").alias("q2"))
    )


def pmi_suggestions(clicks: DataFrame, top_n: int = 3) -> DataFrame:
    """Q4: for each query q1, the top-N q2 by
    pmi = log(f_pair/(f_q1*f_q2) + 1), pmi > 0 (SessionHandler.java:237-292).

    Aggregates the raw log into the query / pair counts and scores them
    with pmi_suggestions_from_counts; usable as-is inside
    ``foreachBatch`` for continuous refresh.
    """
    return pmi_suggestions_from_counts(
        clicks.groupBy("query").agg(F.count("*").alias("n")),
        session_query_pairs(clicks).groupBy("q1", "q2").agg(F.count("*").alias("n")),
        top_n,
    )


def history_suggestions(clicks: DataFrame, query: str, top_n: int = 10) -> DataFrame:
    """Serve-time history match (querySearch 'history' branch,
    IndexerInvertedOccurrence.java:830-840): distinct past queries whose
    text case-insensitively CONTAINS the current query, most frequent
    first — history_suggestions_from_counts over the raw log's counts
    (the contains filter reaches below the count aggregation)."""
    return history_suggestions_from_counts(
        clicks.groupBy("query").agg(F.count("*").alias("n")), query, top_n
    )


# ---------------------------------------------------------------------------
# Incremental suggestion count tables (round-4): the reference maintains
# sqljet ``querycount``/``paircount`` tables updated per click
# (LogDBManager.java:18-48), so suggestion serving reads pre-aggregated
# counts.  pmi_suggestions/history_suggestions above recompute the counts
# from the raw log per call — correct, but at a 10^10-click log every
# suggestion re-scans history.  This sink maintains the same two tables as
# LSM-style count deltas:
#
#     root/
#       _suggest.json            catalog (applied batches, carry pointer,
#                                delta lists, generation)
#       querycount/delta-<id>/   per-batch (query, n) partial counts
#       paircount/delta-<id>/    per-batch (q1, q2, n) partial counts
#       querycount/base-<g>/     compaction products
#       carry/batch-<id>/        last event per LIVE session (bounded
#                                cross-batch adjacency state)
#
# Counts are ADDITIVE, so per-batch deltas + a sum-on-read (and periodic
# compaction folding deltas into a base) reproduce the exact batch
# aggregation; session adjacency across micro-batch boundaries is
# preserved by carrying each session's last event forward (pruned once
# older than the session gap — state is O(live sessions), not O(log)).
# Batch application is idempotent by batch_id (same exactly-once
# contract as streaming/ingest.py).
# ---------------------------------------------------------------------------

SUGGEST_CATALOG = "_suggest.json"


def _suggest_cat_path(root: str) -> str:
    import os

    return os.path.join(root, SUGGEST_CATALOG)


def read_suggest_catalog(root: str) -> dict:
    import json
    import os

    p = _suggest_cat_path(root)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {
        "generation": 0,
        "applied_batches": [],
        "querycount": [],   # delta/base dir names under querycount/
        "paircount": [],
        "carry": None,      # dir name under carry/ (latest) or None
        "lineage": [],
    }


def _write_suggest_catalog(root: str, cat: dict) -> None:
    import json
    import os

    os.makedirs(root, exist_ok=True)
    tmp = _suggest_cat_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cat, f, indent=2, sort_keys=True)
    os.replace(tmp, _suggest_cat_path(root))  # atomic publish


def apply_suggestion_batch(
    spark: SparkSession,
    clicks: DataFrame,
    batch_id: int,
    root: str,
    gap_sec: int = SESSION_WINDOW_SEC,
) -> None:
    """Idempotently fold one micro-batch of clicks into the count tables.

    querycount delta = the batch's per-query counts; paircount delta =
    session-adjacent pairs over (carry ∪ batch) — the carry rows close
    pairs that straddle the batch boundary, then the new carry keeps
    each session's LAST event, pruned below (max ts - gap_sec) since an
    older event can never pair with a future one."""
    import os
    import time as _time

    cat = read_suggest_catalog(root)
    if batch_id in cat["applied_batches"]:
        return
    tb = _tiebreak_cols(clicks)
    ev = clicks.select("session_id", "query", "ts", *tb)
    if ev.isEmpty():
        cat["applied_batches"].append(batch_id)
        cat["lineage"].append(
            {"event": "empty_batch", "batch_id": batch_id, "ts": _time.time()}
        )
        _write_suggest_catalog(root, cat)
        return

    qc = ev.groupBy("query").agg(F.count("*").alias("n"))
    qc_dir = f"delta-{batch_id:09d}"
    qc.write.mode("overwrite").parquet(os.path.join(root, "querycount", qc_dir))

    carry = None
    if cat["carry"] is not None:
        carry = spark.read.parquet(os.path.join(root, "carry", cat["carry"]))
    # allowMissingColumns: a carry written before tie-break columns were
    # carried (or from a source that lacks them) unions as NULLs.  Spark
    # desc is NULLS LAST (the exact reverse of the asc pairing window's
    # nulls-first), so both windows agree on which event is "last" and
    # batch/full-log identity holds even across a legacy carry
    union = ev if carry is None else carry.unionByName(
        ev, allowMissingColumns=True
    )
    pairs = session_query_pairs(union)
    pc = pairs.groupBy("q1", "q2").agg(F.count("*").alias("n"))
    pc_dir = f"delta-{batch_id:09d}"
    pc.write.mode("overwrite").parquet(os.path.join(root, "paircount", pc_dir))

    # "last event per session" under the SAME (ts, tie-break) order as the
    # pairing window — with ts alone, same-timestamp events at a batch
    # boundary would carry (and hence pair) nondeterministically
    w = Window.partitionBy("session_id").orderBy(
        F.desc("ts"), *[F.desc(c) for c in tb]
    )
    # exact microseconds, same precision as the pairing predicate — a
    # truncated horizon could prune a session whose true gap is <= 60s
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    max_ts_us = ev.agg(F.max(us("ts"))).collect()[0][0]
    carry_dir = None
    if max_ts_us is not None:
        horizon_us = max_ts_us - gap_sec * 1_000_000
        new_carry = (
            union.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .filter(us("ts") >= F.lit(horizon_us))
        )
        carry_dir = f"batch-{batch_id:09d}"
        new_carry.write.mode("overwrite").parquet(
            os.path.join(root, "carry", carry_dir)
        )
    # else: every ts in the batch is NULL (malformed lines parsed against
    # CLICK_SCHEMA) — such events can never pair with future ones, so the
    # previous carry stays in force instead of raising inside the sink

    cat = read_suggest_catalog(root)
    if batch_id in cat["applied_batches"]:
        return
    old_carry = cat["carry"]
    cat["querycount"].append(qc_dir)
    cat["paircount"].append(pc_dir)
    if carry_dir is not None:
        cat["carry"] = carry_dir
    cat["applied_batches"].append(batch_id)
    cat["lineage"].append(
        {"event": "counts_applied", "batch_id": batch_id, "ts": _time.time()}
    )
    _write_suggest_catalog(root, cat)
    if carry_dir is not None and old_carry is not None:
        import shutil

        shutil.rmtree(
            os.path.join(root, "carry", old_carry), ignore_errors=True
        )


def start_suggestion_counts(
    spark: SparkSession,
    source_dir: str,
    root: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    compact_every: int | None = None,
    max_files_per_trigger: int | None = None,
):
    """Attach the incremental count-table sink to the click stream
    (LogDBManager semantics as a streaming aggregation).  Returns the
    StreamingQuery.  ``compact_every=L``: fold the deltas into a new
    base whenever either table accumulates L of them."""
    reader = spark.readStream.schema(CLICK_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.json(source_dir)

    def sink(batch_df, batch_id):
        apply_suggestion_batch(spark, batch_df, batch_id, root)
        if compact_every and (
            len(read_suggest_catalog(root)["querycount"]) >= compact_every
        ):
            compact_suggestion_counts(spark, root)

    writer = src.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _read_counts(spark, root: str, table: str, key_cols: list[str]) -> DataFrame:
    import os

    cat = read_suggest_catalog(root)
    dirs = cat[table]
    if not dirs:
        return spark.createDataFrame(
            [], ", ".join(f"{c} string" for c in key_cols) + ", n long"
        )
    paths = [os.path.join(root, table, d) for d in dirs]
    return (
        spark.read.parquet(*paths)
        .groupBy(*key_cols)
        .agg(F.sum("n").cast("long").alias("n"))
    )


def read_query_counts(spark: SparkSession, root: str) -> DataFrame:
    """The live ``querycount`` table: (query, n) summed over base+deltas
    — rows are pre-aggregated counts, never raw clicks."""
    return _read_counts(spark, root, "querycount", ["query"])


def read_pair_counts(spark: SparkSession, root: str) -> DataFrame:
    """The live ``paircount`` table: (q1, q2, n)."""
    return _read_counts(spark, root, "paircount", ["q1", "q2"])


def compact_suggestion_counts(spark: SparkSession, root: str) -> None:
    """Fold each table's deltas into a single base (counts are additive:
    one groupBy-sum per table), swap the catalog atomically, gc the
    consumed dirs."""
    import os
    import shutil
    import time as _time

    cat = read_suggest_catalog(root)
    gen = int(cat["generation"]) + 1
    consumed = {t: list(cat[t]) for t in ("querycount", "paircount")}
    new_dirs = {}
    for table, keys in (("querycount", ["query"]), ("paircount", ["q1", "q2"])):
        if not consumed[table]:
            new_dirs[table] = []
            continue
        base = f"base-{gen:04d}"
        folded = (
            spark.read.parquet(
                *[os.path.join(root, table, d) for d in consumed[table]]
            )
            .groupBy(*keys)
            .agg(F.sum("n").cast("long").alias("n"))
        )
        folded.write.mode("overwrite").parquet(os.path.join(root, table, base))
        new_dirs[table] = [base]

    cat = read_suggest_catalog(root)
    for table in ("querycount", "paircount"):
        appended = [d for d in cat[table] if d not in consumed[table]]
        cat[table] = new_dirs[table] + appended
    cat["generation"] = gen
    cat["lineage"].append(
        {"event": "compacted", "generation": gen, "ts": _time.time()}
    )
    _write_suggest_catalog(root, cat)
    for table in ("querycount", "paircount"):
        for d in consumed[table]:
            shutil.rmtree(os.path.join(root, table, d), ignore_errors=True)


def pmi_suggestions_from_counts(
    query_counts: DataFrame, pair_counts: DataFrame, top_n: int = 3
) -> DataFrame:
    """The PMI scorer, over PRE-AGGREGATED (query, n) and (q1, q2, n)
    tables: O(vocabulary of queries) rows instead of O(clicks).
    pmi_suggestions(raw_clicks) aggregates and calls this."""
    freq = query_counts.select("query", F.col("n").alias("f"))
    pairs = pair_counts.select("q1", "q2", F.col("n").alias("f_pair"))
    j = (
        pairs.join(
            freq.withColumnRenamed("query", "q1").withColumnRenamed("f", "f1"),
            "q1",
        )
        .join(
            freq.withColumnRenamed("query", "q2").withColumnRenamed("f", "f2"),
            "q2",
        )
        .withColumn(
            "pmi", F.log(F.col("f_pair") / (F.col("f1") * F.col("f2")) + 1.0)
        )
        .filter(F.col("pmi") > 0.0)
    )
    w = Window.partitionBy("q1").orderBy(F.desc("pmi"), F.asc("q2"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select("q1", "q2", F.round("pmi", 9).alias("pmi"), "rn")
    )


def history_suggestions_from_counts(
    query_counts: DataFrame, query: str, top_n: int = 10
) -> DataFrame:
    """The history scorer, served from ``querycount`` — the reference's
    LogDBManager read path (counts, not raw log).
    history_suggestions(raw_clicks) aggregates and calls this."""
    q = query.lower()
    return (
        query_counts.filter(F.lower(F.col("query")).contains(q))
        .select("query", "n")
        .orderBy(F.desc("n"), F.asc("query"))
        .limit(top_n)
    )
