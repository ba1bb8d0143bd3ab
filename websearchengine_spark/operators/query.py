"""Query-time retrieval — the Spark-first replacement for ``--mode=serve``
(`/search`, QueryHandler.java:244-501; lifecycle traced in SURVEY.md §3.2).

This module is the query side's front: the reference query parser
(QueryPhrase semantics) and the index's analyzer, then the public entry
points.  Every indexed ranker (R1 comprehensive, R2 favorite, R3
conjunctive, BM25) runs the ONE block-max kernel of operators/topk.py,
in this process or in one Spark task per shard:

    parse (QueryPhrase semantics) -> stem query words (P7/P8)
    -> term-dictionary probe: (df, ctf) per query term   [topk._df_lookup]
    -> conjunctive candidates (J1), phrase adjacency (J2), tombstone
       mask, the ranker's vectorized score                [topk.shard_topk]
    -> global top-k on (score desc, doc_id asc)
    -> docs metadata (J3)

run_query is the public ranked entry (a DataFrame); search adds live
roots (streaming/ingest.py) and search_uri the reference's CGI
dispatch, including the fullscan ranker family.  The scoring semantics
are pinned in operators/topk.py; the correctness references are
tests/oracle.py and the frozen DuckDB oracles of the driver entries.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.functions.analyze import analyze_query_word
from websearchengine_spark.functions.codec import (
    arrow_posting_blocks,
    decode_posting_blocks,
)
from websearchengine_spark.operators.util import as_dataframe
from websearchengine_spark.sources.storage import IndexStorage


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
    """postings rows for ``terms`` decoded to (doc_id, term, tf, doc_len[,
    positions]) — the DataFrame form the spell-correction features read.

    The term filter is pushed into the parquet scan; each row's blocks
    decode in one vectorized pass from the Arrow batch's columns.  Output
    is doc-sharded exactly like the index, so downstream groupBy(doc_id)
    shuffles only matched rows.
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
        for batch in batches:
            blocks, offs = arrow_posting_blocks(
                batch.column("blocks"), np.zeros(batch.num_rows, dtype=np.int64)
            )
            parts = [
                decode_posting_blocks(
                    blocks.take(slice(offs[r], offs[r + 1])),
                    want_positions=want_positions,
                    want_doclens=True,
                )
                for r in range(batch.num_rows)
            ]
            terms_out = batch.column("term").to_pylist()

            def cat(i, dtype):
                return pa.array(
                    np.concatenate([np.empty(0, np.int64), *(p[i] for p in parts)]).astype(dtype)
                )

            cols = {
                "doc_id": cat(0, np.int64),
                "term": pa.array(
                    [t for t, p in zip(terms_out, parts) for _ in range(p[0].size)],
                    pa.string(),
                ),
                "tf": cat(1, np.int32),
                # doc_len is part of every posting (the blocks carry it
                # for BM25), so it costs no docs-table join
                "doc_len": cat(2, np.int32),
            }
            if want_positions:
                tfs = np.concatenate([np.empty(0, np.int64), *(p[1] for p in parts)])
                offsets = np.zeros(tfs.size + 1, dtype=np.int32)
                np.cumsum(tfs, out=offsets[1:])
                cols["positions"] = pa.ListArray.from_arrays(
                    pa.array(offsets), cat(3, np.int32)
                )
            yield pa.RecordBatch.from_pydict(cols)

    return postings.select("term", "blocks").mapInArrow(decode, schema=schema)


RESULT_COLS = ["doc_id", "url", "title", "score", "pagerank", "numviews"]


def run_query(
    spark: SparkSession,
    index_root: str,
    query: str,
    ranker: str = "comprehensive",
    k: int = 10,
) -> DataFrame:
    """End-to-end /search: returns top-k (doc_id, url, title, score, pr, nv).

    ``ranker``: comprehensive, favorite, conjunctive or bm25 — each is
    the block-max kernel's score over the conjunctive (and phrase)
    candidates, run in this process under topk.INPROC_MAX_POSTINGS or
    in one Spark task per shard (see operators/topk.py).  Results
    ordered by (score desc, doc_id asc) — the pinned tie-break."""
    from websearchengine_spark.operators.topk import _topk

    with IndexStorage.open(index_root) as store:
        return as_dataframe(spark, _topk(spark, store, query, k=k, ranker=ranker))


def search(
    spark: SparkSession,
    index_root: str,
    query: str,
    ranker: str = "comprehensive",
    k: int = 10,
) -> DataFrame:
    """The engine's front door: run_query's ranking over a plain index
    root, and over a LIVE root (streaming/ingest.py catalog present)
    search_live's multi-segment evaluation with union statistics —
    identical results to the compacted index, for every indexed ranker."""
    with IndexStorage.open(index_root) as store:
        return as_dataframe(spark, _search(spark, store, query, ranker, k))


def _search(
    spark: SparkSession,
    store: IndexStorage,
    query: str,
    ranker: str,
    k: int,
) -> pa.Table | DataFrame:
    """search's core over the opened index ``store``: a pyarrow table
    when the query ran in this process, else a lazy DataFrame
    (util.as_rows / as_dataframe read either)."""
    import os

    from websearchengine_spark.operators.topk import _topk
    from websearchengine_spark.streaming.ingest import CATALOG_NAME, _search_live

    if os.path.exists(os.path.join(store.require().root, CATALOG_NAME)):
        return _search_live(spark, store, query, k, ranker)
    return _topk(spark, store, query, k=k, ranker=ranker)


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
    with IndexStorage(index_root) as store:
        return as_dataframe(
            spark, _search_uri(spark, store, uri_query, fullscan_prep, docs_fs)
        )


def _search_uri(
    spark: SparkSession,
    store: IndexStorage,
    uri_query: str,
    fullscan_prep: dict | None,
    docs_fs: DataFrame | None,
) -> pa.Table | DataFrame:
    """search_uri's core over the opened index ``store``: a pyarrow
    table when the query ran in this process, else a lazy DataFrame
    (util.as_rows / as_dataframe read either) — what render.serve_search
    renders."""
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
    return _search(spark, store, args["query"], ranker, k)


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
