"""Spell correction (Q3) and next-word suggestion (Q6) — the serve-time
extras of the reference (SURVEY.md §2.10), re-expressed as DataFrame
jobs over the vocabulary and the index.

Reference semantics pinned (IndexerInvertedOccurrence.java:660-911):

  per query token ``target``:
    * candidate pool: vocabulary terms sharing >= 1 (len<=5) or >= 2
      (len>5) of the target's character-bigram POSITIONS
      (getPossible :780-821); a 1-char target matches only itself
    * filters: |len(target) - len(cand)| < 3 (:693); candidate is
      all-alphabetic (:674-680); edit distance <= 1 (:702)
    * frequency gate: posting-list length > ``freq_threshold``
      (reference 2000, where list length = 2 * ctf in the occurrence
      format, :663-666); top-2 by frequency kept (windowSize=2, :843)
    * the target itself always joins its candidate list, then is
      dropped again if alternatives exist and its own frequency is
      below the gate (refineCandidates :763-778)
  combined queries = cross product of per-token candidates; queries of
  < 4 tokens must have >= 4 conjunctive hits to survive (experiment
  :744-761 — the count/break dance requires a 4th document);
  ranking: distance = sum over token positions j with a first-char
  mismatch of (n_tokens - j), ascending (:867-877); ties pinned to
  query-string ascending (the reference's sort is tie-unstable).

Next-word suggestion (Q6, nextFollowing :913-957): for conjunctive
hits of the prefix phrase, read the token AFTER each phrase occurrence
from the positional forward index and count continuations.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators.query import (
    analyze_tokens,
    index_analyzer,
    load_postings_for_terms,
    parse_query,
)
from websearchengine_spark.sources.storage import IndexStorage

FREQ_THRESHOLD = 2000  # reference: posting-list length > 2000
WINDOW_SIZE = 2

# Persisted spell-assist table (reference utils/AssistantIndexBuilder.
# java:117-161 precomputes bigram->terms and len->terms maps at INDEX
# time; re-deriving the bigram pool from term_stats per query re-scans
# the whole vocabulary — at a 10^8-term vocab that's the /prediction
# hot path's dominant cost).  One row per (term, distinct bigram) with
# the static filters precomputed; repartitioned+sorted by bigram so the
# per-query isin() filter prunes parquet row groups.
SPELL_ASSIST_TABLE = "spell_bigrams"


def _bigram_col():
    return F.explode(
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(length(term)-1, 1)),"
                " i -> substring(term, i, 2))"
            )
        )
    ).alias("bigram")


def build_spell_assist(spark: SparkSession, store: IndexStorage) -> None:
    """Materialize the spell-assist table from term_stats: (bigram,
    term, freq, len, alpha).  Build-time cost is one vocab pass
    (~avg_term_len rows per term); every /prediction afterwards reads
    only the target's own bigram row groups instead of the vocabulary."""
    vocab = store.read_table(spark, "term_stats").select(
        "term",
        # posting-list length in the occurrence format = 2 * ctf
        (2 * F.col("ctf")).alias("freq"),
    )
    rows = (
        vocab.select(
            "term",
            "freq",
            F.length("term").cast("int").alias("len"),
            F.col("term").rlike("^[a-zA-Z]+$").alias("alpha"),
            _bigram_col(),
        )
        .filter(F.length("bigram") == 2)
        .repartition("bigram")
        .sortWithinPartitions("bigram")
    )
    store.write_table(rows, SPELL_ASSIST_TABLE)


def _bigrams(s: str) -> list[str]:
    return [s[i : i + 2] for i in range(len(s) - 1)]


def token_candidates(
    spark: SparkSession,
    store: IndexStorage,
    target: str,
    freq_threshold: int = FREQ_THRESHOLD,
    cache: dict | None = None,
) -> list[str]:
    """Per-token candidate list (reference order: ascending frequency
    from the heap, target appended first). Returns candidate terms.

    Uses the persisted SPELL_ASSIST_TABLE when the index carries one
    (build_index(spell_assist=True)): the bigram isin() filter pushes
    into that table's parquet scan, so a query touches the target's own
    bigram row groups — not the whole vocabulary.  Falls back to
    deriving the pool from term_stats for indexes built without it.

    ``cache``: caller-owned memo of finished candidate lists keyed
    (target, freq_threshold) — the serve loop's warm /prediction path
    runs its two per-token lookups only on first sight of a token (the
    HTTP server drops the dict when the index generation changes)."""
    key = (target, freq_threshold)
    if cache is not None and key in cache:
        return list(cache[key])
    vocab = store.read_table(spark, "term_stats")
    # posting-list length in the occurrence format = 2 * ctf
    vocab = vocab.select("term", (2 * F.col("ctf")).alias("freq"))
    # target frequency is a 1-term dictionary probe (r6: driver-side
    # row-group lookup, no Spark job; see storage.lookup_rows)
    t_rows = store.lookup_rows("term_stats", "term", [target], columns=["term", "ctf"])
    if t_rows is None:
        t_rows = vocab.filter(F.col("term") == target).collect()
        target_freq = t_rows[0]["freq"] if t_rows else 0
    else:
        target_freq = 2 * int(t_rows.column("ctf")[0].as_py()) if t_rows.num_rows else 0

    out: list[str] = [target]
    if len(target) > 1:
        bgs = _bigrams(target)
        bdf = spark.createDataFrame(
            [(i, b) for i, b in enumerate(bgs)], "pos int, bigram string"
        )
        boundary = 1 if len(target) <= 5 else 2
        if store.exists(SPELL_ASSIST_TABLE):
            vb = (
                store.read_table(spark, SPELL_ASSIST_TABLE)
                # static filters were precomputed at build; the bigram
                # and len predicates reach the parquet scan
                .filter(F.col("bigram").isin(sorted(set(bgs))))
                .filter(F.abs(F.col("len") - len(target)) < 3)
                .filter(F.col("alpha"))
                .select("term", "freq", "bigram")
            )
        else:
            vb = vocab.select("term", "freq", _bigram_col()).filter(
                F.length("bigram") == 2
            )
        cand = (
            vb.join(F.broadcast(bdf), "bigram")
            .groupBy("term", "freq")
            .agg(F.countDistinct("pos").alias("matches"))
            .filter(F.col("matches") >= boundary)
            .filter(F.abs(F.length("term") - len(target)) < 3)
            .filter(F.col("term") != target)
            .filter(F.col("term").rlike("^[a-zA-Z]+$"))
            .filter(F.levenshtein(F.col("term"), F.lit(target)) <= 1)
            .filter(F.col("freq") > freq_threshold)
            .orderBy(F.desc("freq"), F.asc("term"))
            .limit(WINDOW_SIZE)
        )
        alts = [r["term"] for r in cand.collect()]
        out.extend(alts)
        # refineCandidates: drop the target when alternatives exist and
        # the target itself is below the gate
        if len(out) >= 2 and target_freq < freq_threshold:
            out.remove(target)
    if cache is not None:
        cache[key] = list(out)
    return out


def correct_query(
    spark: SparkSession,
    index_root: str,
    query: str,
    freq_threshold: int = FREQ_THRESHOLD,
    min_hits: int = 4,
    cache: dict | None = None,
) -> DataFrame:
    """Returns (rank, corrected, distance, n_hits) suggestions.

    ``cache`` memoizes per-token candidate lists (see token_candidates)."""
    store = IndexStorage(index_root)
    tokens = parse_query(query)
    if not tokens:
        return spark.createDataFrame(
            [], "rank int, corrected string, distance int, n_hits long"
        )
    per_token = [
        token_candidates(spark, store, t.lower(), freq_threshold, cache=cache)
        for t in tokens
    ]
    combos = [" ".join(ws) for ws in itertools.product(*per_token)]

    analyzer = index_analyzer(store)
    # conjunctive hit counts for ALL combos in one pass
    qrows = []
    all_terms: set[str] = set()
    for qid, combo in enumerate(combos):
        words = sorted({w for ws in analyze_tokens(parse_query(combo), analyzer) for w in ws})
        qrows.append((qid, combo, words))
        all_terms.update(words)
    qdf = spark.createDataFrame(
        [(qid, combo, words) for qid, combo, words in qrows],
        "qid int, corrected string, words array<string>",
    )
    matches = load_postings_for_terms(
        spark, store, sorted(all_terms), want_positions=False
    ).select("doc_id", "term")
    pairs = qdf.select("qid", F.explode("words").alias("term"), F.size("words").alias("nw"))
    hits = (
        pairs.join(matches, "term")
        .groupBy("qid", "doc_id", "nw")
        .agg(F.count("*").alias("nt"))
        .filter(F.col("nt") == F.col("nw"))
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    need_filter = len(tokens) < 4
    scored = qdf.join(hits, "qid", "left").withColumn(
        "n_hits", F.coalesce("n_hits", F.lit(0))
    )
    if need_filter:
        scored = scored.filter(F.col("n_hits") >= min_hits)

    # first-char-mismatch distance vs the original query tokens
    n = len(tokens)
    dist = F.lit(0)
    for j, orig in enumerate(tokens):
        first = orig.lower()[0] if orig else ""
        dist = dist + F.when(
            F.substring(F.split("corrected", " ")[j], 1, 1) != first, F.lit(n - j)
        ).otherwise(F.lit(0))
    ranked = (
        scored.withColumn("distance", dist)
        .orderBy(F.asc("distance"), F.asc("corrected"))
        .select("corrected", "distance", "n_hits")
    )
    from pyspark.sql import Window

    return ranked.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.asc("distance"), F.asc("corrected")))
    ).select("rank", "corrected", "distance", "n_hits")


def next_word_suggestions(
    spark: SparkSession, index_root: str, prefix: str, top_n: int = 5
) -> DataFrame:
    """Q6: count the tokens that FOLLOW occurrences of the prefix phrase.

    Needs the ``doc_tokens`` positional forward index
    (build_index(keep_doc_tokens=True)).  Returns (next_word, n) by
    (n desc, next_word asc).
    """
    store = IndexStorage(index_root)
    analyzer = index_analyzer(store)
    words = [w for ws in analyze_tokens(parse_query(prefix), analyzer) for w in ws]
    if not words:
        return spark.createDataFrame([], "next_word string, n long")
    m = len(words)
    matches = load_postings_for_terms(spark, store, sorted(set(words)), want_positions=True)
    pm = matches.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "positions"))).alias("pm")
    ).filter(
        F.size(F.map_keys("pm")) >= len(set(words))
    )

    def q(w):
        return "'" + w.replace("'", "\\'") + "'"

    # positions p where words[0]@p, words[1]@p+1, ... -> next position p+m
    conds = " AND ".join(
        f"array_contains(pm[{q(w)}], p + {i})" for i, w in enumerate(words[1:], start=1)
    ) or "true"
    starts = pm.select(
        "doc_id",
        F.explode(F.expr(f"filter(pm[{q(words[0])}], p -> {conds})")).alias("p"),
    )
    doc_tokens = store.read_table(spark, "doc_tokens")
    nxt = (
        starts.join(doc_tokens, "doc_id")
        .select(F.expr(f"get(tokens, p + {m})").alias("next_word"))
        .filter(F.col("next_word").isNotNull())
    )
    return (
        nxt.groupBy("next_word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("next_word"))
        .limit(top_n)
    )
