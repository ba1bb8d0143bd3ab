"""Query-time retrieval — the Spark-first replacement for ``--mode=serve``
(`/search`, QueryHandler.java:244-501; lifecycle traced in SURVEY.md §3.2).

Path (DataFrame fallback, the correctness-reference path):

    parse (QueryPhrase semantics) -> stem query words (P7/P8)
    -> postings scan FILTERED to the query terms (Catalyst pushes the
       ``term IN (...)`` predicate into the parquet row-group stats)
    -> Arrow decode of posting blocks (mapInPandas)
    -> conjunctive candidate set (J1) as groupBy(doc_id) count == k
    -> phrase adjacency (J2) as native higher-order EXISTS over position
       arrays (no Python in the check)
    -> scorer columns (R1/R2/R3/BM25) over candidates ⋈ docs ⋈ term_stats
    -> global top-k: orderBy(score desc, doc_id asc).limit(k)
       (Catalyst TakeOrderedAndProject — the distributed bounded heap)

The block-max WAND kernel (operators/topk.py) replaces the middle of
this path at scale; this module is also its correctness oracle inside
the test suite.

Reference semantics pinned (SURVEY.md §7.3):
  * phrase tokens are conjunctive members needing consecutive positions
    (IndexerInvertedCompressed.java:379-436) but are split into words for
    scoring (RankerComprehensive.java:51-56).  We count a phrase at
    position 0 (the reference's ``result > 0`` check at :433 silently
    drops a doc whose only phrase occurrence starts at position 0 — a
    bug we do not reproduce; our NumPy oracle pins the fixed semantics).
  * comprehensive score = 1.4*QL + 0.3*log(pr+1) + 0.3*log(nv+1) with
    JM smoothing lambda=0.5 (RankerComprehensive.java:20-23,42-45,59-60;
    the 1.4 factor is the ``logScore += lambda_1 * logScore`` self-add).
  * tie-break everywhere: (score desc, doc_id asc).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.functions.analyze import analyze_query_word
from websearchengine_spark.functions.codec import decode_posting_blocks
from websearchengine_spark.operators.util import as_dataframe
from websearchengine_spark.sources.storage import IndexStorage

LAMBDA_JM = 0.5
LAMBDA_1 = 0.4  # score self-add -> effective 1.4x
LAMBDA_2 = 0.3  # log(pagerank+1) weight
LAMBDA_3 = 0.3  # log(numviews+1) weight

BM25_K1 = 1.2
BM25_B = 0.75


def parse_query(query: str) -> list[str]:
    """QueryPhrase.processQuery semantics (QueryPhrase.java:19-48).

    Returns tokens; a phrase token contains spaces.  Deviation from the
    reference (documented): consecutive spaces produce no empty tokens
    (the reference's ``split(" ")`` yields empty strings that can never
    match; we split on whitespace runs).
    """
    tokens: list[str] = []
    start = 0
    in_phrase = False
    n = len(query)
    while start < n or (start == 0 and n == 0):
        end = query.find('"', start)
        if end == -1:
            sentence = query[start:].replace('"', "").strip()
            if sentence:
                tokens.extend(sentence.split())
            break
        sentence = query[start:end].replace('"', "").strip()
        if in_phrase:
            if sentence:
                tokens.append(sentence)
            in_phrase = False
        else:
            if sentence:
                tokens.extend(sentence.split())
            in_phrase = True
        start = end + 1
    return tokens


def analyze_tokens(tokens: list[str], analyzer: str = "reference") -> list[list[str]]:
    """Analyze each word of each token with the INDEX's analyzer; drop
    words that come out empty.  "reference" = lowercase + Porter step 1;
    "whitespace" = lowercase only (must match the build-side analyzer)."""
    out = []
    for tok in tokens:
        if analyzer == "whitespace":
            words = [w.lower() for w in tok.split()]
        else:
            words = [analyze_query_word(w) for w in tok.split()]
        words = [w for w in words if w]
        if words:
            out.append(words)
    return out


def index_analyzer(store: IndexStorage) -> str:
    return store.read_manifest().get("config", {}).get("analyzer", "reference")


def load_postings_for_terms(
    spark: SparkSession,
    store: IndexStorage,
    terms: list[str],
    want_positions: bool,
) -> DataFrame:
    """postings rows for ``terms`` decoded to (doc_id, term, tf[, positions]).

    The term filter is pushed into the parquet scan; decode is one Arrow
    pass.  Output is doc-sharded exactly like the index, so downstream
    groupBy(doc_id) shuffles only matched rows.
    """
    if want_positions and not store.read_manifest().get("config", {}).get(
        "positions", True
    ):
        raise ValueError(
            "this index was built positionless (positions=False, doconly-"
            "style); phrase/positional queries need a positional build"
        )
    postings = store.read_partitioned(spark, "postings").filter(
        F.col("term").isin(list(terms))
    )
    schema = "doc_id long, term string, tf int, doc_len int" + (
        ", positions array<int>" if want_positions else ""
    )

    def decode(batches):
        for pdf in batches:
            doc_ids, terms_out, tfs, dls, poss = [], [], [], [], []
            for term, blocks in zip(pdf["term"], pdf["blocks"]):
                blks = [
                    (
                        b["first_docid"],
                        b["last_docid"],
                        b["n"],
                        b["max_tf"],
                        b["max_impact"],
                        b["data"],
                    )
                    for b in blocks
                ]
                d, t, dl, p = decode_posting_blocks(
                    blks, want_positions=want_positions, want_doclens=True
                )
                doc_ids.append(d)
                tfs.append(t)
                dls.append(dl)
                terms_out.extend([term] * len(d))
                if want_positions:
                    off = np.zeros(len(t) + 1, dtype=np.int64)
                    np.cumsum(t, out=off[1:])
                    poss.extend(
                        [p[off[i] : off[i + 1]].astype("int32") for i in range(len(t))]
                    )
            out = {
                "doc_id": np.concatenate(doc_ids) if doc_ids else np.empty(0, np.int64),
                "term": terms_out,
                "tf": (np.concatenate(tfs) if tfs else np.empty(0, np.int64)).astype("int32"),
                # doc_len is part of every posting (the blocks carry it
                # for BM25); emitting it here saves the scorers a join
                # against the docs table (r6)
                "doc_len": (np.concatenate(dls) if dls else np.empty(0, np.int64)).astype("int32"),
            }
            if want_positions:
                out["positions"] = poss
            yield pd.DataFrame(out)

    return postings.select("term", "blocks").mapInPandas(decode, schema=schema)


def _phrase_filter(cand_terms: DataFrame, token_words: list[list[str]]) -> DataFrame:
    """Keep only docs where every multi-word token occurs consecutively.

    ``cand_terms``: (doc_id, term, tf, positions).  Builds a per-doc
    term->positions map then applies a native EXISTS over the first
    word's positions for each phrase (J2).
    """
    phrases = [ws for ws in token_words if len(ws) > 1]
    if not phrases:
        return cand_terms.select("doc_id").distinct()
    pm = cand_terms.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.col("positions")))
        ).alias("pm")
    )
    cond = None
    for words in phrases:
        def q(w: str) -> str:
            return "'" + w.replace("'", "\\'") + "'"

        inner = " AND ".join(
            f"array_contains(pm[{q(w)}], p + {i})" for i, w in enumerate(words[1:], start=1)
        )
        e = F.expr(f"exists(pm[{q(words[0])}], p -> {inner})")
        cond = e if cond is None else (cond & e)
    return pm.filter(cond).select("doc_id")


def conjunctive_candidates(
    matches: DataFrame, token_words: list[list[str]], with_positions: bool
) -> DataFrame:
    """J1 (+J2): docs containing ALL distinct query terms (and phrases)."""
    distinct_terms = sorted({w for ws in token_words for w in ws})
    have_all = (
        matches.groupBy("doc_id")
        .agg(F.count("*").alias("_nt"))
        .filter(F.col("_nt") == len(distinct_terms))
        .select("doc_id")
    )
    if with_positions and any(len(ws) > 1 for ws in token_words):
        cand_terms = matches.join(have_all, "doc_id")
        return _phrase_filter(cand_terms, token_words)
    return have_all


def _query_weights(token_words: list[list[str]]) -> dict[str, int]:
    weights: dict[str, int] = {}
    for ws in token_words:
        for w in ws:
            weights[w] = weights.get(w, 0) + 1
    return weights


def _scored_terms(
    cand: DataFrame | None,
    matches: DataFrame,
    term_stats: dict[str, tuple[int, int]],
    weights: dict[str, int],
    n_required: int | None,
):
    """Per-(doc, term) scoring rows + the conjunctive gate.

    Two gate shapes, same rows out (r6):
      * ``cand`` given — the phrase path: semi-join against the
        pre-filtered candidate set;
      * ``n_required`` given — plain conjunctive queries: matches has
        exactly one row per (doc, distinct term), so the per-doc row
        count IS the distinct-term count, and the gate rides the scoring
        aggregation itself — ONE shuffle of matches instead of two (the
        old cand agg + join-back; guide §2.4).

    ``term_stats`` is the k-entry {term: (df, ctf)} dictionary probe
    result; per-term constants (mult/df/ctf) are attached as literal-map
    lookups — pure projections, replacing two broadcast-join jobs.  The
    per-doc length comes from the postings themselves (the blocks carry
    doc_len for BM25), so no docs-table join happens before the top-k.
    Returns (scored_terms, count_aggs, finalize): ``count_aggs`` go into
    the caller's groupBy("doc_id").agg and ``finalize(per_doc)`` applies
    the count gate afterwards.
    """

    def _lit_map(pairs):
        return F.create_map(*[x for kv in pairs for x in kv])

    mult_m = _lit_map(
        (F.lit(t), F.lit(float(m))) for t, m in weights.items()
    )
    df_m = _lit_map(
        (F.lit(t), F.lit(int(d)).cast("long")) for t, (d, _c) in term_stats.items()
    )
    ctf_m = _lit_map(
        (F.lit(t), F.lit(int(c)).cast("long")) for t, (_d, c) in term_stats.items()
    )
    st = matches
    if cand is not None:
        st = st.join(cand, "doc_id")
    # matches rows exist only for terms present in the index, and the
    # maps cover exactly those terms, so no lookup returns null; terms
    # absent from the index contribute no rows (the conjunctive gate
    # then empties the result, as the old inner joins did)
    st = (
        st.filter(F.col("term").isin([t for t in term_stats]))
        .withColumn("mult", mult_m[F.col("term")])
        .withColumn("df", df_m[F.col("term")])
        .withColumn("ctf", ctf_m[F.col("term")])
    )
    count_aggs = (
        [F.count(F.lit(1)).alias("_nt")] if n_required is not None else []
    )

    def finalize(per_doc: DataFrame) -> DataFrame:
        if n_required is not None:
            return per_doc.filter(F.col("_nt") == n_required).drop("_nt")
        return per_doc

    return st, count_aggs, finalize


def score_comprehensive(
    cand: DataFrame | None,
    matches: DataFrame,
    docs: DataFrame,
    term_stats: DataFrame,
    token_words: list[list[str]],
    total_tf: int,
    n_required: int | None = None,
) -> DataFrame:
    """R1: 1.4*QL_JM + 0.3*log(pr+1) + 0.3*log(nv+1); word multiplicity
    kept.  Returns (doc_id, ql, score)."""
    weights = _query_weights(token_words)
    st, count_aggs, finalize = _scored_terms(
        cand, matches, term_stats, weights, n_required
    )
    per_doc = finalize(
        st.withColumn(
            "_logp",
            F.col("mult")
            * F.log(
                (1 - LAMBDA_JM) * F.col("tf") / F.col("doc_len")
                + LAMBDA_JM * F.col("ctf") / F.lit(float(total_tf))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("_logp").alias("ql"), *count_aggs)
    )
    return (
        per_doc.join(docs.select("doc_id", "pagerank", "numviews"), "doc_id")
        .withColumn(
            "score",
            (1.0 + LAMBDA_1) * F.col("ql")
            + LAMBDA_2 * F.log(F.col("pagerank") + 1.0)
            + LAMBDA_3 * F.log(F.col("numviews").cast("double") + 1.0),
        )
        .select("doc_id", "ql", "score")
    )


def score_favorite(
    cand, matches, docs, term_stats, token_words, total_tf, n_required=None
):
    """R2 (RankerFavorite.java:23,31-59): exp(QL), no static signals —
    so no docs/signals join at all (r6)."""
    weights = _query_weights(token_words)
    st, count_aggs, finalize = _scored_terms(
        cand, matches, term_stats, weights, n_required
    )
    per_doc = finalize(
        st.withColumn(
            "_logp",
            F.col("mult")
            * F.log(
                (1 - LAMBDA_JM) * F.col("tf") / F.col("doc_len")
                + LAMBDA_JM * F.col("ctf") / F.lit(float(total_tf))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("_logp").alias("ql"), *count_aggs)
    )
    return per_doc.select("doc_id", F.exp(F.col("ql")).alias("score"))


def score_conjunctive(cand, matches, docs, *_args, n_required=None):
    """R3 (RankerConjunctive.java:29-35): score == 1.0 for every match."""
    if cand is None:
        cand = (
            matches.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_nt"))
            .filter(F.col("_nt") == n_required)
            .select("doc_id")
        )
    return cand.withColumn("score", F.lit(1.0))


def score_bm25(
    cand,
    matches,
    docs,
    term_stats,
    token_words,
    total_tf,
    num_docs,
    avg_dl,
    n_required=None,
):
    """Standard BM25 (k1=1.2, b=0.75), Lucene-style non-negative idf.

    The north_rule names BM25; the reference's own scorer is R1 (see
    SURVEY.md §2.8 note).  Both are exposed behind the same machinery.
    """
    weights = _query_weights(token_words)
    st, count_aggs, finalize = _scored_terms(
        cand, matches, term_stats, weights, n_required
    )
    idf = F.log(
        (F.lit(float(num_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_doc = finalize(
        st.withColumn(
            "_s",
            F.col("mult")
            * idf
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("doc_len") / F.lit(float(avg_dl)))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("_s").alias("bm25"), *count_aggs)
    )
    return per_doc.select("doc_id", F.col("bm25").alias("score"))


RESULT_COLS = ["doc_id", "url", "title", "score", "pagerank", "numviews"]

# The returned DataFrame is lazy (callers and the plan audit rely on the
# unexecuted plan), so matches can't be unpersisted inside run_query.
# Instead each call evicts the previous call's cached matches — a
# long-lived session holds at most ONE query's posting cache.
_LIVE_MATCHES: list = []


def _swap_cached_matches(new_df) -> None:
    while _LIVE_MATCHES:
        try:
            _LIVE_MATCHES.pop().unpersist(blocking=False)
        except Exception:
            pass
    if new_df is not None:
        _LIVE_MATCHES.append(new_df)


def run_query(
    spark: SparkSession,
    index_root: str,
    query: str,
    ranker: str = "comprehensive",
    k: int = 10,
) -> DataFrame:
    """End-to-end /search: returns top-k (doc_id, url, title, score, pr, nv).

    Results ordered by (score desc, doc_id asc) — the pinned tie-break.
    """
    store = IndexStorage(index_root)
    token_words = analyze_tokens(parse_query(query), index_analyzer(store))
    docs = store.read_table(spark, "docs")
    if not token_words:
        return docs.limit(0).withColumn("score", F.lit(0.0)).select(*RESULT_COLS)

    # manifest-first corpus stats (zero Spark jobs on the serve path),
    # stats-table fallback for pre-recording indexes — the SAME helper
    # the WAND path uses, so the two query paths can never diverge on
    # num_docs/total_tf (lazy import: topk imports from this module)
    from websearchengine_spark.operators.topk import _corpus_stats

    num_docs, total_tf, _avg = _corpus_stats(spark, store)
    distinct_terms = sorted({w for ws in token_words for w in ws})
    # term-dictionary probe (see topk._df_lookup): the scorers only need
    # the query terms' (df, ctf) entries, passed down as a dict and
    # attached as literal maps — no term_stats scan or broadcast job
    term_rows = store.lookup_rows(
        "term_stats", "term", distinct_terms, columns=["term", "df", "ctf"]
    )
    if term_rows is None:
        term_rows = (
            store.read_table(spark, "term_stats")
            .filter(F.col("term").isin(distinct_terms))
            .select("term", "df", "ctf")
            .collect()
        )
    term_stats = {r["term"]: (int(r["df"]), int(r["ctf"])) for r in term_rows}
    if len(term_stats) < len(distinct_terms):
        # a query term absent from the dictionary can never satisfy the
        # conjunctive gate — the result is empty without running a job
        # (the old plan computed its way to the same zero rows)
        return docs.limit(0).withColumn("score", F.lit(0.0)).select(*RESULT_COLS)
    need_pos = any(len(ws) > 1 for ws in token_words)

    matches = load_postings_for_terms(spark, store, distinct_terms, want_positions=need_pos)
    if need_pos:
        # the phrase path references matches several times (candidate
        # filter + scoring); cache the decoded postings across them
        matches = matches.persist()
        _swap_cached_matches(matches)
        cand = conjunctive_candidates(matches, token_words, with_positions=True)
        n_required = None
    else:
        # plain conjunctive queries: the ALL-terms gate rides the
        # scoring aggregation itself (r6 — one shuffle of matches, not
        # a candidate agg plus a join-back), so the decoded postings
        # appear exactly once in the plan and need no cache
        _swap_cached_matches(None)
        cand = None
        n_required = len(distinct_terms)
    matches_tf = matches.select("doc_id", "term", "tf", "doc_len")

    if ranker == "comprehensive":
        scored = score_comprehensive(
            cand, matches_tf, docs, term_stats, token_words, total_tf,
            n_required=n_required,
        )
    elif ranker == "favorite":
        scored = score_favorite(
            cand, matches_tf, docs, term_stats, token_words, total_tf,
            n_required=n_required,
        )
    elif ranker == "conjunctive":
        scored = score_conjunctive(
            cand, matches_tf, docs, n_required=n_required
        )
    elif ranker == "bm25":
        avg_dl = total_tf / max(1, num_docs)
        scored = score_bm25(
            cand, matches_tf, docs, term_stats, token_words, total_tf,
            num_docs, avg_dl, n_required=n_required,
        )
    else:
        raise ValueError(f"unknown ranker: {ranker}")

    # bounded top-k on (doc_id, score) FIRST, metadata join AFTER (J3,
    # same shape as the WAND path): the old plan joined the full docs
    # table into every scored candidate before the limit — fine at 5k
    # docs, a full docs shuffle at 10^9 (r6).  The k-row side is
    # broadcast explicitly (Catalyst cannot size it).
    topk = (
        scored.select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    out = (
        F.broadcast(topk).join(docs, "doc_id")
        .select(*RESULT_COLS)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    return out


def search(
    spark: SparkSession,
    index_root: str,
    query: str,
    ranker: str = "comprehensive",
    k: int = 10,
    stats_cache: dict | None = None,
) -> DataFrame:
    """The engine's front door: routes BM25 plain queries to the
    block-max WAND kernel and everything else (phrase queries, the
    reference scorers) through the DataFrame path.  Same result either
    way — the routing is purely physical.

    A LIVE root (streaming/ingest.py catalog present) serves BM25 via
    search_live (multi-segment, union statistics — identical results to
    the compacted index).  The reference scorers need a single segment's
    statistics tables; on a compacted (single-segment) live root they
    run against that segment transparently, and on a multi-segment root
    they raise with the fix spelled out rather than silently mis-scoring."""
    return as_dataframe(
        spark, _search(spark, index_root, query, ranker, k, stats_cache)
    )


def _search(
    spark: SparkSession,
    index_root: str,
    query: str,
    ranker: str,
    k: int,
    stats_cache: dict | None,
) -> pa.Table | DataFrame:
    """search's core: the bm25 cores' pyarrow table when the query ran
    in this process, else a lazy DataFrame (util.as_rows /
    as_dataframe read either)."""
    import os

    from websearchengine_spark.streaming.ingest import (
        CATALOG_NAME,
        _search_live,
        live_segment_roots,
    )

    if os.path.exists(os.path.join(index_root, CATALOG_NAME)):
        if ranker == "bm25":
            return _search_live(spark, index_root, query, k)
        segs = live_segment_roots(index_root)
        if len(segs) == 1:
            return run_query(spark, segs[0], query, ranker=ranker, k=k)
        raise ValueError(
            f"live index at {index_root} has {len(segs)} segments; "
            f"ranker={ranker!r} needs a single segment's statistics — "
            "run compact_live(spark, root) first (bm25 serves live roots "
            "directly)"
        )
    if ranker == "bm25":
        from websearchengine_spark.operators.topk import _wand_topk

        return _wand_topk(spark, index_root, query, k=k, stats_cache=stats_cache)
    return run_query(spark, index_root, query, ranker=ranker, k=k)


CGI_RANKER_TYPES = frozenset(
    ["none", "fullscan", "conjunctive", "favorite", "cosine", "phrase",
     "ql", "linear", "comprehensive",
     "bm25"]  # engine extension beyond the reference's RankerType enum
)
CGI_OUTPUT_FORMATS = frozenset(["text", "html"])


def parse_cgi_args(uri_query: str, url_decode: bool = False) -> dict:
    """F8: the reference's CGI-argument parse (QueryHandler.java:105-155,
    CgiArguments): split on '&', split each param on the FIRST '=' only
    (keyless params skipped), keys lowercased, invalid numbers/enums
    silently ignored ("search engine should never fail upon invalid user
    input").  Defaults: query='', num=10, numdocs=10, numterms=5,
    ranker='none', format='text', redirect=False.

    ``url_decode=True`` additionally percent/plus-decodes values — an
    extension the reference omits (it stores the raw value)."""
    from urllib.parse import unquote_plus

    out = {
        "query": "",
        "num": 10,
        "numdocs": 10,
        "numterms": 5,
        "ranker": "none",
        "format": "text",
        "redirect": False,
    }
    for param in uri_query.split("&"):
        keyval = param.split("=", 1)
        if len(keyval) < 2:
            continue
        key, val = keyval[0].lower(), keyval[1]
        if url_decode:
            val = unquote_plus(val)
        if key == "query":
            out["query"] = val
        elif key == "redirect":
            out["redirect"] = True
        elif key in ("num", "numdocs", "numterms"):
            try:
                out[key] = int(val)
            except ValueError:
                pass
        elif key == "ranker":
            if val.lower() in CGI_RANKER_TYPES:
                out["ranker"] = val.lower()
        elif key == "format":
            if val.lower() in CGI_OUTPUT_FORMATS:
                out["format"] = val.lower()
    return out


FULLSCAN_FAMILY = frozenset(["fullscan", "cosine", "phrase", "ql", "linear"])


def search_uri(
    spark: SparkSession,
    index_root: str,
    uri_query: str,
    fullscan_prep: dict | None = None,
    docs_fs: DataFrame | None = None,
    stats_cache: dict | None = None,
) -> DataFrame:
    """Serve a raw '?query=...&ranker=...&num=...' string — the /search
    front door one level up from search(), dispatching EVERY reference
    RankerType from one endpoint (QueryHandler.java:297,
    Ranker.java:63-89).  Indexed rankers (conjunctive/favorite/
    comprehensive/bm25) go to search(); the fullscan family
    (fullscan/cosine/phrase/ql/linear) goes to run_fullscan_query over a
    prepared TSV-style corpus — pass either ``fullscan_prep`` (the dict
    from prepare_fullscan, reusable across queries) or ``docs_fs`` (a
    (doc_id, title, body, numviews) DataFrame, prepared on the fly).
    'none' raises like the reference's 'ranker type none' error page.

    Non-positive ``num`` falls back to the default 10 — the parser's
    "never fail upon invalid user input" contract extends to values that
    parse as ints but are meaningless as result counts."""
    return as_dataframe(
        spark,
        _search_uri(
            spark, index_root, uri_query, fullscan_prep, docs_fs, stats_cache
        ),
    )


def _search_uri(
    spark: SparkSession,
    index_root: str,
    uri_query: str,
    fullscan_prep: dict | None,
    docs_fs: DataFrame | None,
    stats_cache: dict | None,
) -> pa.Table | DataFrame:
    """search_uri's core: a pyarrow table when the query ran in this
    process, else a lazy DataFrame (util.as_rows / as_dataframe read
    either) — what render.serve_search renders."""
    args = parse_cgi_args(uri_query, url_decode=True)
    ranker = args["ranker"]
    k = args["num"] if args["num"] > 0 else 10
    if ranker == "none":
        raise ValueError("ranker type none: specify ranker=...")
    if ranker in FULLSCAN_FAMILY:
        from websearchengine_spark.operators.fullscan import (
            prepare_fullscan,
            run_fullscan_query,
        )

        if fullscan_prep is None:
            if docs_fs is None:
                raise ValueError(
                    f"ranker '{ranker}' scores the fullscan corpus: pass "
                    "fullscan_prep= (from prepare_fullscan) or docs_fs="
                )
            fullscan_prep = prepare_fullscan(docs_fs)
        return run_fullscan_query(spark, fullscan_prep, args["query"], ranker, k=k)
    return _search(spark, index_root, args["query"], ranker, k, stats_cache)


def page_summary(
    spark: SparkSession, index_root: str, doc_id: int, n_terms: int = 50
) -> DataFrame:
    """The result-page snippet: first ``n_terms`` position-ordered terms
    of one document (/page_summary, QueryHandler.java:365-376 — the
    reference walks the positional cache and stops at 50 terms).

    Reads the ``doc_tokens`` positional forward index
    (``build_index(keep_doc_tokens=True)``); one row per position:
    (pos, term), pos 0-based ascending.
    """
    store = IndexStorage(index_root)
    doc_tokens = store.read_table(spark, "doc_tokens")
    return (
        doc_tokens.filter(F.col("doc_id") == doc_id)
        .select(
            F.posexplode(F.slice("tokens", 1, n_terms)).alias("pos", "term")
        )
        .orderBy("pos")
    )
