"""Block-max conjunctive top-k — the one ranking kernel behind every
indexed ranker of `/search` (SURVEY.md §4 O1/O9, north_rule: "BM25 with
block-max WAND posting-list intersection over per-partition index shards
followed by a global top-k merge"; the reference's R1 comprehensive, R2
favorite and R3 conjunctive rankers score the same candidates).

One kernel, two places.  After the dictionary probe, the query core
(_topk, behind wand_topk, query.run_query and query.search) weighs the
query terms' df sum against INPROC_MAX_POSTINGS and runs ONE complete
evaluation in exactly one place:

    in process (df sum <= INPROC_MAX_POSTINGS, zero Spark jobs):
      the query terms' postings rows          [storage.lookup_rows: only
                                                 the row groups whose
                                                 recorded term range
                                                 covers a query term, from
                                                 files the store opened once]
        -> per-term block columns                [_term_columns: Arrow
                                                   buffers, no per-block
                                                   Python]
        -> ONE kernel call over every shard      [shard_topk, in the driver;
                                                   block skip still per shard]
        -> comprehensive: docs lookup of every   [storage.lookup_rows:
           candidate, priors -> final score       priors and metadata at once,
                                                  read as columns]
        -> merge (score desc, doc_id asc)[:k]
        -> docs lookup of the k winners           [storage.lookup_rows]
        -> pyarrow.Table                          [zero JVM calls; its
                                                   schema metadata holds
                                                   the read evidence]
        -> spark.createDataFrame(table)           [only at the DataFrame API:
                                                   wand_topk, run_query; the
                                                   serve path renders the
                                                   table itself]

    in Spark (larger queries, exclude_df, and every wand_topk_batch;
    a single query is a batch of one):
      postings (doc-sharded) filtered to the queries' terms  [parquet pushdown]
        -> groupBy(shard).applyInArrow(kernel)               [one task per shard;
                                                               the same block
                                                               columns]
             kernel: per query, rarest-first block-skip intersection,
             phrase adjacency, tombstone mask, the ranker's vectorized
             score -> per-shard, per-query top-k
        -> global merge                                      [wand_topk:
             orderBy(score desc, doc_id asc).limit(k);        wand_topk_batch:
             rank window per query]
        -> broadcast join docs for url/title                 [J3]
      comprehensive: the shards return every candidate's QL, and ONE docs
      join adds the priors (and the metadata) before the bounded merge.

The kernel is the doc-at-a-time galloping intersection of the reference
(IndexerInvertedCompressed.java:438-462) re-expressed for a columnar
engine, a batch of queries at a time: for each query the rarest term's
docids drive; for every other term only the blocks whose
[first_docid, last_docid] range intersects the current candidate set
are DECODED (the block-max skip — block metadata is read, block bytes
are not; a posting is keyed by (shard, doc_id), so the skip holds per
shard however many shards one call holds), in one vectorized pass per
term (codec.decode_posting_blocks), then candidates intersect via
sorted-array intersection and the surviving docs get the ranker's exact
score over their decoded (tf, dl) — a column operation per term.  Each
(term, block) is decoded at most once per kernel call, so the queries of
a batch share their decode work.

Reference semantics pinned (SURVEY.md §7.3):
  * phrase tokens are conjunctive members needing consecutive positions
    (IndexerInvertedCompressed.java:379-436) but are split into words for
    scoring (RankerComprehensive.java:51-56).  A phrase counts at
    position 0 (the reference's ``result > 0`` check at :433 silently
    drops a doc whose only phrase occurrence starts at position 0 — a
    bug we do not reproduce; tests/oracle.py pins the fixed semantics).
  * comprehensive = 1.4*QL + 0.3*log(pr+1) + 0.3*log(nv+1) with JM
    smoothing lambda=0.5 (RankerComprehensive.java:20-23,42-45,59-60;
    the 1.4 factor is the ``logScore += lambda_1 * logScore`` self-add);
    favorite = exp(QL) (RankerFavorite.java:23,31-59); conjunctive = 1.0
    (RankerConjunctive.java:29-35); bm25 k1=1.2, b=0.75, Lucene-style
    non-negative idf.
  * tie-break everywhere: (score desc, doc_id asc).

The correctness references are the pure-Python oracle (tests/oracle.py)
and the frozen DuckDB oracles of the driver entries: skipping only
avoids work, never changes the top-k (asserted at multiple shard counts,
on both sides of the gate).
"""

from __future__ import annotations

import json
import math
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.functions.codec import (
    BM25_B,
    BM25_K1,
    PostingBlocks,
    arrow_posting_blocks,
    decode_posting_blocks,
    doc_ordered,
)
from websearchengine_spark.operators.build import MAX_DOC_ID
from websearchengine_spark.operators.query import (
    RESULT_COLS,
    analyze_tokens,
    index_analyzer,
    parse_query,
)
from websearchengine_spark.operators.util import as_dataframe
from websearchengine_spark.sources.storage import IndexStorage

LAMBDA_JM = 0.5
LAMBDA_1 = 0.4  # score self-add -> effective 1.4x
LAMBDA_2 = 0.3  # log(pagerank+1) weight
LAMBDA_3 = 0.3  # log(numviews+1) weight


# the kernel keys a posting by (shard, doc_id) as one int64, the
# shard's index in the call << _SHARD_SHIFT | doc_id (doc_ids stay below
# build.MAX_DOC_ID)
_SHARD_SHIFT = MAX_DOC_ID.bit_length() - 1
_DOC_MASK = MAX_DOC_ID - 1


def _in_sorted(x: np.ndarray, sorted_keys: np.ndarray) -> np.ndarray:
    """Mask of the ``x`` found in the sorted ``sorted_keys``: a binary
    search (np.isin sorts both sides, which dominates at kernel sizes)."""
    if sorted_keys.size == 0:
        return np.zeros(x.size, dtype=bool)
    ix = np.minimum(np.searchsorted(sorted_keys, x), sorted_keys.size - 1)
    return sorted_keys[ix] == x


def _phrase_docs(phrase: tuple[str, ...], cand: np.ndarray, per_term: dict) -> np.ndarray:
    """Candidates in ``cand`` (sorted keys) containing the words
    adjacently: intersect the per-word sets {candidate index << 32 |
    (pos - i)} — fully vectorized across all candidates at once."""
    keys = None
    for i, w in enumerate(phrase):
        d, tf, _dl, pos = per_term[w]
        rep = np.repeat(d, tf)
        m = _in_sorted(rep, cand)
        # arithmetic add, not OR: (pos - i) can be negative for later
        # words at small positions (such keys match nothing — a doc's
        # valid offsets are far from 2^32, so no cross-candidate collision)
        kw = (np.searchsorted(cand, rep[m]) << 32) + (pos[m].astype(np.int64) - i)
        keys = kw if keys is None else np.intersect1d(keys, kw, assume_unique=False)
        if keys.size == 0:
            return np.empty(0, np.int64)
    return cand[np.unique(keys >> 32)]


def _score(
    ranker: str,
    const: dict[str, float],
    avg_dl: float,
    qweights: dict[str, float],
    order: list[str],
    per_term: dict,
    cand: np.ndarray,
) -> np.ndarray:
    """The ranker's exact score of the surviving candidates ``cand`` from
    their decoded (tf, dl), summed over the query's terms in ``order``
    with the query weights (word multiplicity):

      bm25:        Σ w·idf·(k1+1)tf / (tf + k1(1−b+b·dl/avg_dl)),
                   ``const`` = idf
      QL:          Σ w·log((1−λ)tf/dl + λ·ctf/total_tf),
                   ``const`` = λ·ctf/total_tf
      favorite:    exp(QL)
      comprehensive: QL (its per-doc priors are added after the kernel)
      conjunctive: 1.0

    ``order`` is the candidates' shards' rarest-first term order, so a
    score's rounding is the same wherever the kernel runs (one call per
    shard or one over all)."""
    if ranker == "conjunctive":
        return np.ones(cand.size)
    scores = np.zeros(cand.size, dtype=np.float64)
    dl_cand = None
    for t in order:
        d, tf, dl, _pos = per_term[t]
        ix = np.searchsorted(d, cand)
        tf_c = tf[ix].astype(np.float64)
        if dl_cand is None:
            dl_cand = dl[ix].astype(np.float64)
        if ranker == "bm25":
            scores += (
                qweights[t]
                * const[t]
                * ((BM25_K1 + 1.0) * tf_c)
                / (tf_c + BM25_K1 * (1.0 - BM25_B + BM25_B * dl_cand / avg_dl))
            )
        else:
            scores += qweights[t] * np.log((1.0 - LAMBDA_JM) * tf_c / dl_cand + const[t])
    return np.exp(scores) if ranker == "favorite" else scores


def _comprehensive(ql, pagerank, numviews, log):
    """R1 from the kernel's QL and a doc's priors — one formula for numpy
    arrays (in process, ``log=np.log``) and Spark columns (``F.log``)."""
    return (
        (1.0 + LAMBDA_1) * ql
        + LAMBDA_2 * log(pagerank + 1.0)
        + LAMBDA_3 * log(numviews + 1.0)
    )


def shard_topk(
    term_lists: dict[str, PostingBlocks],
    query_specs: list[tuple[int, dict[str, float], list[tuple[str, ...]]]],
    ranker: str,
    const: dict[str, float],
    avg_dl: float,
    k: int,
    exclude: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Pure kernel: score every query of ``query_specs`` against the
    posting blocks of ``term_lists`` (term -> its blocks as columns, of
    one shard or of many: the Spark side calls it once per shard, the
    in-process side once over every shard).

    Candidate generation is the same for every ranker, and per shard:
    in each shard the query's rarest term there drives, and for every
    other term only the blocks whose [first, last] range meets that
    shard's candidates are decoded (a posting is keyed by (shard,
    doc_id), so a block is tested against its own shard's candidates
    only).  Shards that share the query's term order are evaluated
    together, one vectorized step per term.  Each (term, block) is
    decoded at most once per call, so the queries of a batch share their
    decode work.
    ``query_specs``: [(query_id, {term: weight}, phrases)...] where
    ``phrases`` is a (possibly empty) list of word tuples that must occur
    ADJACENTLY (positions p, p+1, ...); positions are decoded only for
    terms that take part in some phrase.  Conjunctive semantics: a doc
    must contain ALL of a query's terms.  ``exclude``: doc_ids masked out
    of the candidate sets BEFORE scoring (live-index tombstones: docs
    superseded by a re-crawl but not yet physically removed by
    compaction) — the surviving top-k is exact over the non-excluded
    corpus.  ``ranker``, ``const`` and ``avg_dl`` then pick the score
    (see _score).

    Returns parallel arrays (query_ids, doc_ids, scores) of per-query
    top-k on the ranker's final score, each query's rows in (score desc,
    doc_id asc) order — except comprehensive, whose priors are per-doc:
    it returns every candidate with its QL.  ``stats``
    {"blocks_total", "blocks_decoded"} is the block-max skip evidence
    over the call's term lists."""
    if ranker == "comprehensive":
        k = None
    empty = np.empty(0, np.int64)
    pos_terms = {w for _, _, phrases in query_specs for ph in phrases for w in ph}
    shards = np.unique(np.concatenate([empty, *(b.shard for b in term_lists.values())]))
    # inside the call a posting is keyed (shard's index in ``shards``,
    # doc_id), so a shard mask gathers by key instead of searching
    at_block: dict[str, np.ndarray] = {}
    keyed: dict[str, PostingBlocks] = {}
    for t, b in term_lists.items():
        at_block[t] = np.searchsorted(shards, b.shard)
        base = at_block[t] << _SHARD_SHIFT
        keyed[t] = b._replace(first=base + b.first, last=base + b.last)
    # postings per (term, shard): each shard's rarest-first term order
    size = {
        t: np.bincount(at_block[t], weights=b.n, minlength=shards.size)
        for t, b in keyed.items()
    }
    done = {t: np.zeros(b.n.size, dtype=bool) for t, b in keyed.items()}
    decoded: dict[str, tuple] = {}

    def postings(t: str, need: np.ndarray) -> tuple:
        """t's (keys, tfs, dls, positions-or-None) over every block
        decoded so far, after decoding the ``need`` blocks not yet
        decoded (a superset of the candidates' postings is as good)."""
        new = need & ~done[t]
        if new.any() or t not in decoded:
            part = decode_posting_blocks(
                keyed[t].take(new), t in pos_terms, want_doclens=True
            )
            done[t] |= new
            old = decoded.get(t)
            decoded[t] = part if old is None else doc_ordered(
                *(
                    None if a is None else np.concatenate([a, b])
                    for a, b in zip(old, part)
                )
            )
        return decoded[t]

    out_q, out_d, out_s = [], [], []
    for qid, qweights, phrases in query_specs:
        if any(t not in keyed for t in qweights):
            continue
        terms = sorted(qweights)
        sz = np.stack([size[t] for t in terms])
        # shards holding every query term: no other shard can match
        live = np.flatnonzero((sz > 0).all(axis=0))
        # each live shard's rarest-first order (size, then term), and
        # the shards grouped by it: a group is evaluated like one shard
        by_rank = np.argsort(sz[:, live], axis=0, kind="stable")
        groups: dict[tuple, list[int]] = {}
        for s, col in zip(live.tolist(), by_rank.T.tolist()):
            groups.setdefault(tuple(col), []).append(s)
        per_term: dict[str, tuple] = {}
        found, scored = [], []
        for col, members in groups.items():
            at = np.zeros(shards.size, dtype=bool)
            at[members] = True
            order = [terms[i] for i in col]
            cand = None
            for t in order:
                b = keyed[t]
                need = at[at_block[t]]
                if cand is not None:
                    # the block-max skip: only blocks meeting a candidate
                    j = np.minimum(np.searchsorted(cand, b.first), cand.size - 1)
                    need &= (cand[j] >= b.first) & (cand[j] <= b.last)
                per_term[t] = postings(t, need)
                d = per_term[t][0]
                cand = d[at[d >> _SHARD_SHIFT]] if cand is None else cand[_in_sorted(cand, d)]
                if cand.size == 0:
                    break
            for ph in phrases:
                if cand.size == 0:
                    break
                cand = _phrase_docs(ph, cand, per_term)
            if exclude is not None and exclude.size and cand.size:
                cand = cand[~np.isin(cand & _DOC_MASK, exclude)]
            if cand.size:
                found.append(cand)
                scored.append(_score(ranker, const, avg_dl, qweights, order, per_term, cand))
        if not found:
            continue
        cand, scores = np.concatenate(found), np.concatenate(scored)
        # top-k with the pinned tie-break (score desc, doc_id asc)
        if k is not None and cand.size > k:
            # keep every doc scoring >= the k-th best (ties resolved below)
            kth = np.partition(-scores, k - 1)[k - 1]
            keep = np.flatnonzero(-scores <= kth)
            cand, scores = cand[keep], scores[keep]
        ids = cand & _DOC_MASK
        best = np.lexsort((ids, -scores))[:k]
        out_q.append(np.full(best.size, qid, dtype=np.int64))
        out_d.append(ids[best])
        out_s.append(scores[best])

    stats = {
        "blocks_total": sum(b.n.size for b in keyed.values()),
        "blocks_decoded": sum(int(m.sum()) for m in done.values()),
    }
    if not out_q:
        return empty, empty, np.empty(0, np.float64), stats
    return np.concatenate(out_q), np.concatenate(out_d), np.concatenate(out_s), stats


def _term_columns(tbl: pa.Table) -> dict[str, PostingBlocks]:
    """{term: its blocks as columns, by shard} from stored (shard, term,
    blocks) postings rows — one Arrow pass, no per-block Python."""
    shard_of = tbl.column("shard").to_numpy()
    blocks, offsets = arrow_posting_blocks(tbl.column("blocks"), shard_of)
    rows: dict[str, list[int]] = {}
    for r, t in enumerate(tbl.column("term").to_pylist()):
        rows.setdefault(t, []).append(r)
    out = {}
    for t, rs in rows.items():
        rs.sort(key=lambda r: shard_of[r])
        out[t] = blocks.take(
            np.concatenate([np.arange(offsets[r], offsets[r + 1]) for r in rs])
        )
    return out


def _corpus_stats(spark, store: IndexStorage) -> tuple[int, int, float]:
    """num_docs/total_tf/avg_dl from the manifest (zero Spark jobs) with
    a stats-table fallback for indexes built before they were recorded."""
    cfg = store.read_manifest().get("config", {})
    if "num_docs" in cfg and "total_tf" in cfg:
        nd, tt = int(cfg["num_docs"]), int(cfg["total_tf"])
    else:
        srow = store.read_table(spark, "stats").collect()[0]
        nd, tt = srow["num_docs"], srow["total_tf"]
    return nd, tt, tt / max(1, nd)


def _exclude_by_shard(exclude_df: DataFrame) -> "object":
    """Normalize an exclude_df to (shard int, doc_id long) grouped by
    shard, ready to cogroup with the postings."""
    return exclude_df.select(
        F.col("shard").cast("int").alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
    ).groupBy("shard")


def _term_consts(
    ranker: str,
    num_docs: int,
    total_tf: int,
    stats: dict[str, tuple[int, int]],
    stats_override: dict[str, tuple] | None,
) -> dict[str, float]:
    """The kernel's per-term constant (see _score) for every query term
    present in THIS index (``stats``), from the override statistics when
    given.  A partial override is a caller contract error (the
    multi-index path always supplies every term's global statistics) —
    raise a clear ValueError instead of an opaque KeyError."""
    src = stats if stats_override is None else stats_override
    if stats_override is not None:
        missing = sorted(t for t in stats if t not in stats_override)
        if missing:
            raise ValueError(
                "df_override must cover every query term present in this "
                f"index's term_stats; missing: {missing}"
            )
    if ranker == "bm25":
        return {
            t: math.log((num_docs - src[t][0] + 0.5) / (src[t][0] + 0.5) + 1.0)
            for t in stats
        }
    if ranker == "conjunctive":
        return {}
    return {t: LAMBDA_JM * src[t][1] / total_tf for t in stats}


def _df_lookup(
    spark, store: IndexStorage, terms: list[str], reads: dict | None = None
) -> dict[str, tuple[int, int]]:
    """{term: (df, ctf)} for the query's terms present in this index —
    the one dictionary probe of every ranker.

    storage.lookup_rows reads only the row groups whose recorded term
    range covers a query term, driver-side (term_stats is written
    term-sorted within each file, in ROW_GROUP_BYTES row groups),
    replacing a per-query Spark job whose fixed scheduling cost dwarfed
    its 2-3-row result.  Falls back to the Spark collect when the
    pyarrow path is unavailable.  Both numbers are memoized on the store
    (``store.term_stats``), so a store kept open across queries (the
    HTTP server keeps one per index generation) reads each term once.
    ``reads``: the lookup's evidence (see IndexStorage.lookup_rows)."""
    known = store.term_stats
    missing = [t for t in terms if t not in known]
    if missing:
        cols = ["term", "df", "ctf"]
        tbl = store.lookup_rows("term_stats", "term", missing, columns=cols, reads=reads)
        rows = (
            tbl.to_pylist()
            if tbl is not None
            else store.read_table(spark, "term_stats")
            .filter(F.col("term").isin(missing))
            .select(*cols)
            .collect()
        )
        found = {r["term"]: (int(r["df"]), int(r["ctf"])) for r in rows}
        for t in missing:
            known[t] = found.get(t)  # None pins "absent from index"
    return {t: known[t] for t in terms if known[t] is not None}


# The one gate between the two places the kernel runs.  A query whose
# terms' df sum (on a live segment with tombstones, plus the catalog's
# pending tombstone count) is at most this runs in the calling process:
# a range-directed read of its postings, the kernel per shard, a
# driver-side merge and metadata lookup — zero Spark jobs.  A larger one
# runs the kernel in one Spark task per shard.  In-process cost follows
# the query's own postings: the read decodes only the row groups that
# hold its terms (not the whole postings table), from files the store
# opened once, and the kernel — one call over every shard, blocks kept
# as Arrow columns from the read to the score — decodes the blocks it
# keeps in one vectorized pass per term, so its cost grows with the df
# sum, not with the shard count.  The Spark side pays ~0.5 s of fixed job cost
# per query however many cores run it.  Measured on 4 cores while the
# read still decoded the whole postings table (CHANGES.md): in-process
# won everywhere at sf0.1 and up to ~0.9M postings at the sf1 shape; the
# bound stays under that crossover.
INPROC_MAX_POSTINGS = 500_000


# (doc_ids, scores, docs rows already fetched, read evidence) of an
# index where the query cannot match
NO_HITS = (np.empty(0, np.int64), np.empty(0, np.float64), None, {})


class _Scoring(NamedTuple):
    """A resolved query batch: the kernel's specs, ranker and scoring
    constants (see _score), the terms whose postings it reads, their df
    sum in this index (the work the gate weighs), and the evidence of
    what this evaluation read (its own dict: see _read_evidence)."""

    specs: list[tuple[int, dict[str, float], list[tuple[str, ...]]]]
    ranker: str
    const: dict[str, float]
    avg_dl: float
    terms: list[str]
    postings: int
    reads: dict


def _prepare(
    spark: SparkSession,
    store: IndexStorage,
    queries: list[str],
    corpus_stats: tuple[int, int] | None,
    stats_override: dict[str, tuple] | None,
    local_stats: dict[str, tuple] | None,
    ranker: str = "bm25",
) -> _Scoring | None:
    """Analyze ``queries`` and resolve their term statistics and the
    ranker's constants — driver-side, no Spark job.  None when no query can
    match.  ``stats_override`` (the union statistics of a multi-index
    caller, or wand_topk's df_override) and ``local_stats`` (THIS index's
    statistics, when the caller already probed them) are {term: (df,
    ctf)}; the other parameters are documented on wand_topk."""
    if ranker not in ("comprehensive", "favorite", "conjunctive", "bm25"):
        raise ValueError(f"unknown ranker: {ranker}")
    analyzer = index_analyzer(store)
    specs: list[tuple[int, dict[str, float], list[tuple[str, ...]]]] = []
    for qid, q in enumerate(queries):
        token_words = analyze_tokens(parse_query(q), analyzer)
        qw: dict[str, float] = {}
        for ws in token_words:
            for w in ws:
                qw[w] = qw.get(w, 0.0) + 1.0
        phrases = [tuple(ws) for ws in token_words if len(ws) > 1]
        if qw:
            specs.append((qid, qw, phrases))
    if any(ph for _, _, ph in specs) and not store.read_manifest().get(
        "config", {}
    ).get("positions", True):
        raise ValueError(
            "this index was built positionless (positions=False, doconly-"
            "style); phrase queries need a positional build"
        )
    all_terms = sorted({t for _, qw, _ in specs for t in qw})
    if not all_terms:
        return None

    num_docs, total_tf, avg_dl = _corpus_stats(spark, store)
    if corpus_stats is not None:
        num_docs, total_tf = corpus_stats
        avg_dl = total_tf / max(1, num_docs)
    reads: dict = {}
    if local_stats is not None:
        stats = {t: local_stats[t] for t in all_terms if t in local_stats}
    else:
        stats = _df_lookup(spark, store, all_terms, reads)
    # a query with a term absent from this index can never match
    specs = [s for s in specs if all(t in stats for t in s[1])]
    if not specs:
        return None
    const = _term_consts(ranker, num_docs, total_tf, stats, stats_override)
    terms = sorted({t for _, qw, _ in specs for t in qw})
    return _Scoring(
        specs, ranker, const, avg_dl, terms, sum(stats[t][0] for t in terms), reads
    )


def _shard_topk(
    spark: SparkSession,
    store: IndexStorage,
    sc: _Scoring,
    k: int,
    exclude_df: DataFrame | None,
) -> DataFrame:
    """The Spark side's kernel stage, shared by every query path: scan
    the postings of every query term once and run shard_topk in one task
    per shard.  Returns the per-shard top-k (every candidate for
    comprehensive) as (qid, doc_id, score) rows, qid indexing the
    queries ``sc`` was prepared from."""
    specs, ranker, const, avg_dl = sc.specs, sc.ranker, sc.const, sc.avg_dl

    # kernels run as GROUPED ARROW udfs (r6): the blocks column is a
    # list<struct<..., binary>>; the pandas path materialized it as an
    # object Series per group, while Arrow hands the record batch over
    # directly (~20% off the kernel stage wall at bench; same numbers)
    def score_shard(tbl, exclude):
        q, d, s, _stats = shard_topk(
            _term_columns(tbl), specs, ranker, const, avg_dl, k, exclude=exclude
        )
        return pa.table(
            {
                "qid": pa.array(q, pa.int64()),
                "doc_id": pa.array(d, pa.int64()),
                "score": pa.array(s, pa.float64()),
            }
        )

    def kernel(tbl):
        return score_shard(tbl, None)

    def kernel_cogroup(tbl, extbl):
        # a shard with tombstones but no postings yields an empty left
        # side; score_shard handles it (no terms -> empty result)
        return score_shard(tbl, extbl.column("doc_id").to_numpy())

    postings = (
        store.read_partitioned(spark, "postings")
        .filter(F.col("term").isin(sc.terms))
        .select("shard", "term", "blocks")
        .groupBy("shard")
    )
    schema = "qid long, doc_id long, score double"
    if exclude_df is None:
        return postings.applyInArrow(kernel, schema=schema)
    return postings.cogroup(_exclude_by_shard(exclude_df)).applyInArrow(
        kernel_cogroup, schema=schema
    )


# the docs columns a result row carries besides its score
_META_COLS = [c for c in RESULT_COLS if c != "score"]
# what the kernel reads of a postings row: the stored block fields
# max_tf, max_impact and head stay undecoded
_POSTING_COLS = ["shard", "term"] + [
    f"blocks.list.element.{f}" for f in ("first_docid", "last_docid", "n", "data")
]


def _local_topk(
    store: IndexStorage, sc: _Scoring, k: int, exclude: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, pa.Table | None, dict] | None:
    """The in-process side for ONE query: ONE kernel call over every
    shard's blocks of the query terms, read as Arrow columns by
    storage.lookup_rows's range-directed read (postings are
    term-clustered, so it decodes about one row group per term and
    group, not the table).  ``exclude``: doc_ids masked before scoring,
    as on the Spark side.

    Returns (doc_ids, scores, docs rows, read evidence) for
    _local_result to merge: the top-k with no rows yet — or, for
    comprehensive, every candidate with its final score and its docs
    rows (a table aligned with the doc_ids), fetched in ONE lookup and
    read as columns (priors and metadata together; a candidate missing
    from docs is dropped, as by the Spark side's join).  The evidence
    is ``sc.reads`` with the kernel's block-max stats added.  None when
    the pyarrow path is unavailable (the caller runs the Spark side
    instead)."""
    import pyarrow.compute as pc

    tbl = store.lookup_rows("postings", "term", sc.terms, columns=_POSTING_COLS, reads=sc.reads)
    if tbl is None:
        return None
    _q, ids, scores, kstats = shard_topk(
        _term_columns(tbl), sc.specs, sc.ranker, sc.const, sc.avg_dl, k, exclude
    )
    sc.reads.update(kstats)
    if sc.ranker != "comprehensive":
        return ids, scores, None, sc.reads
    docs = store.lookup_rows("docs", "doc_id", ids.tolist(), columns=_META_COLS, reads=sc.reads)
    if docs is None:
        return None
    at = pc.index_in(pa.array(ids), value_set=docs.column("doc_id"))
    keep = at.is_valid().to_numpy(zero_copy_only=False)
    rows = docs.take(at.drop_null())
    return (
        ids[keep],
        _comprehensive(
            scores[keep],
            rows.column("pagerank").to_numpy().astype(np.float64),
            rows.column("numviews").to_numpy().astype(np.float64),
            np.log,
        ),
        rows,
        sc.reads,
    )


def _read_evidence(hits: list) -> dict:
    """What an in-process evaluation read, summed over ``hits``
    (_local_result's input): the kernel's block-max stats and, per
    table, the files and row groups its lookups read versus the tables'
    totals (IndexStorage.lookup_rows)."""
    out = dict.fromkeys(("blocks_decoded", "blocks_total"), 0)
    for h in hits:
        for key, v in h[5].items():
            if isinstance(v, dict):
                mine = out.setdefault(key, dict.fromkeys(v, 0))
                for c, n in v.items():
                    mine[c] += n
            else:
                out[key] += v
    return out


def _local_result(
    hits: list[tuple[IndexStorage, int, np.ndarray, np.ndarray, pa.Table | None, dict]],
    k: int,
    docs_join: bool,
) -> pa.Table:
    """Merge in-process top-ks into ONE pyarrow table — no JVM call to
    build it or to read it.  ``hits``: per index, (store, doc_id offset,
    local doc_ids, scores, docs rows, read evidence) as _local_topk
    returns them; the result keeps the k best on (score desc, doc_id
    asc) over the offset ids.  With ``docs_join`` each winner's metadata
    comes from its index's rows, looked up driver-side for an index
    that has none yet, and the columns are RESULT_COLS with the docs
    table's own types, nullable as Spark reads parquet (what the Spark
    side's docs join yields); without it, bare (doc_id, score).  The
    table's schema metadata ``read`` holds _read_evidence as JSON."""
    import pyarrow.compute as pc

    owner = np.concatenate([np.full(h[2].size, i) for i, h in enumerate(hits)])
    gids = np.concatenate([h[2] + h[1] for h in hits])
    scores = np.concatenate([h[3] for h in hits])
    order = np.lexsort((gids, -scores))[:k]
    owner, gids, scores = owner[order], gids[order], scores[order]
    top = list(zip(gids.tolist(), scores.tolist()))
    if not docs_join:
        schema = pa.schema([("doc_id", pa.int64()), ("score", pa.float64())])
        rows = [{"doc_id": g, "score": sc} for g, sc in top]
    else:
        types = hits[0][0].point_schema("docs")
        schema = pa.schema(
            [
                (c, pa.float64() if c == "score" else types.field(c).type)
                for c in RESULT_COLS
            ]
        )
        meta: dict[int, dict] = {}
        for i, (store, off, _d, _s, known, reads) in enumerate(hits):
            mine = gids[owner == i] - off
            if mine.size == 0:
                continue
            if known is None:
                known = store.lookup_rows(
                    "docs", "doc_id", mine.tolist(), columns=_META_COLS, reads=reads
                )
                if known is None:
                    raise OSError(f"cannot read {store.table_path('docs')}")
            at = pc.index_in(pa.array(mine), value_set=known.column("doc_id"))
            meta.update(
                {r["doc_id"] + off: r for r in known.take(at.drop_null()).to_pylist()}
            )
        # inner-join semantics: a doc missing from docs is dropped
        rows = [{**meta[g], "doc_id": g, "score": sc} for g, sc in top if g in meta]
    schema = schema.with_metadata({"read": json.dumps(_read_evidence(hits))})
    return pa.Table.from_pylist(rows, schema=schema)


def wand_topk(
    spark: SparkSession,
    index_root: str,
    query: str,
    k: int = 10,
    corpus_stats: tuple[int, int] | None = None,
    df_override: dict[str, int] | None = None,
    docs_join: bool = True,
    exclude_df: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k over the sharded index via the block-max kernel.

    One complete evaluation runs in exactly one of two places, chosen
    after the dictionary probe: in this process when the query terms'
    df sum is at most INPROC_MAX_POSTINGS (and no ``exclude_df`` is
    given), else in one Spark task per shard.  Both return the same
    rows with the same column types.  query.run_query runs the same
    core for every ranker.

    Phrase tokens are supported: positions are decoded in the kernel for
    the phrase terms only, and candidates are filtered to docs where the
    words occur adjacently.  A positionless index raises ValueError on
    them.

    ``corpus_stats=(num_docs, total_tf)`` and ``df_override={term: df}``
    replace this index's OWN statistics with caller-supplied (e.g.
    GLOBAL, multi-index) ones.  Term PRESENCE is still checked against
    this index (a doc here can only match if its terms are here).
    ``docs_join=False`` returns bare (doc_id, score) without the
    url/title metadata join — for callers that merge several indexes and
    join metadata once at the end.  (The live-search path,
    streaming/ingest.py, resolves union statistics once per query and
    calls the cores directly.)

    ``exclude_df`` is the EXECUTOR-RESIDENT tombstone mask: a
    (shard, doc_id) DataFrame cogrouped with the postings by shard, so
    the exclusion set reaches each shard's kernel through the shuffle —
    never collected to the driver, never serialized into task closures
    (10^8 pending tombstones cost one small parquet-scan+shuffle, not
    driver memory).  It always takes the Spark side; live-index search
    (streaming/ingest.py) reads a small tombstone set in-process itself
    under the same gate.

    Returns the same columns as query.run_query, ordered by
    (score desc, doc_id asc)."""
    # the cores take {term: (df, ctf)}; bm25 reads no ctf
    stats_override = (
        None if df_override is None else {t: (d, None) for t, d in df_override.items()}
    )
    with IndexStorage.open(index_root) as store:
        return as_dataframe(
            spark,
            _topk(
                spark, store, query, k=k, corpus_stats=corpus_stats,
                stats_override=stats_override, docs_join=docs_join,
                exclude_df=exclude_df,
            ),
        )


def _topk(
    spark: SparkSession,
    store: IndexStorage,
    query: str,
    k: int = 10,
    corpus_stats: tuple[int, int] | None = None,
    stats_override: dict[str, tuple] | None = None,
    docs_join: bool = True,
    exclude_df: DataFrame | None = None,
    ranker: str = "bm25",
) -> pa.Table | DataFrame:
    """The query core of wand_topk, query.run_query and query.search:
    the in-process side's pyarrow table, or the Spark side's lazy
    DataFrame (util.as_rows / as_dataframe read either).  ``ranker``:
    bm25, comprehensive, favorite or conjunctive; ``stats_override`` is
    wand_topk's df_override as {term: (df, ctf)}; ``store`` is the
    index opened for reading (the HTTP server's is kept across
    queries)."""
    sc = _prepare(spark, store, [query], corpus_stats, stats_override, None, ranker)
    if sc is None:
        return _local_result([(store, 0, *NO_HITS)], k, docs_join)
    if exclude_df is None and sc.postings <= INPROC_MAX_POSTINGS:
        hits = _local_topk(store, sc, k)
        if hits is not None:
            return _local_result([(store, 0, *hits)], k, docs_join)
    return _spark_topk(spark, store, sc, k, docs_join, exclude_df)


def _spark_topk(
    spark: SparkSession,
    store: IndexStorage,
    sc: _Scoring,
    k: int,
    docs_join: bool,
    exclude_df: DataFrame | None,
) -> DataFrame:
    """The Spark side of one query: the per-shard kernel tasks, a
    bounded (score desc, doc_id asc) merge and the broadcast metadata
    join — or, for comprehensive, whose shards return every candidate's
    QL, ONE docs join that brings the priors (and the metadata) before
    the bounded merge."""
    hits = _shard_topk(spark, store, sc, k, exclude_df).select("doc_id", "score")

    def top(df: DataFrame) -> DataFrame:
        # .limit makes the sort a TakeOrderedAndProject: a bounded heap,
        # and no range-sampling job when it re-orders <= k joined rows
        return df.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    if sc.ranker == "comprehensive":
        docs = store.read_table(spark, "docs")
        scored = hits.withColumnRenamed("score", "ql").join(docs, "doc_id")
        return top(
            scored.withColumn(
                "score",
                _comprehensive(
                    F.col("ql"), F.col("pagerank"), F.col("numviews"), F.log
                ),
            ).select(*(RESULT_COLS if docs_join else ["doc_id", "score"]))
        )
    if not docs_join:
        return top(hits)
    docs = store.read_table(spark, "docs")
    # metadata join: broadcast the K-ROW result side explicitly.  Catalyst
    # can't size the kernel's UDF output, so past ~10 MB of docs it would
    # fall back to a sort-merge join that SHUFFLES THE WHOLE DOCS TABLE
    # for k rows (caught by the sf1 plan audit — fine at 500 docs, wrong
    # at 50k, catastrophic at 10^9)
    return top(F.broadcast(top(hits)).join(docs, "doc_id").select(*RESULT_COLS))


def _batch_ranked(
    spark: SparkSession,
    store: IndexStorage,
    sc: _Scoring,
    queries: list[str],
    k: int,
    exclude_df: DataFrame | None,
) -> DataFrame:
    """wand_topk_batch's Spark side up to its metadata join: the
    per-shard top-ks ranked per query by a window, as (qid, doc_id,
    score, rank, query) rows with rank <= k."""
    from pyspark.sql import Window

    per_shard = _shard_topk(spark, store, sc, k, exclude_df)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    qnames = spark.createDataFrame(
        [(i, q) for i, q in enumerate(queries)], "qid long, query string"
    )
    return (
        per_shard.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(qnames), "qid")
    )


def _empty_batch(spark: SparkSession) -> DataFrame:
    """wand_topk_batch's result schema, no rows."""
    return spark.createDataFrame(
        [],
        "query string, doc_id long, url string, title string, score double, "
        "pagerank double, numviews long, rank int",
    )


def wand_topk_batch(
    spark: SparkSession,
    index_root: str,
    queries: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k for MANY queries in one job: postings for the union of
    all query terms are scanned once; each shard task scores every query
    (decode shared across queries); per-query global merge via a ranking
    window.  Phrase tokens are supported.  Returns (query, doc_id, url,
    title, score, pagerank, numviews, rank) ordered by (query, rank)."""
    with IndexStorage.open(index_root) as store:
        sc = _prepare(spark, store, queries, None, None, None)
    if sc is None:
        return _empty_batch(spark)
    ranked = _batch_ranked(spark, store, sc, queries, k, None)
    # n_queries x k rows vs the full docs table: broadcast the ranked
    # side (same sf1 plan-audit rationale as wand_topk's metadata join)
    docs = store.read_table(spark, "docs")
    out = (
        F.broadcast(ranked).join(docs, "doc_id").select(
            "query", "doc_id", "url", "title", "score", "pagerank", "numviews", "rank"
        ).orderBy("query", "rank")
    )
    # the result is <= len(queries)*k rows; .limit of that bound is a
    # no-op on the rows but compiles the final orderBy down to
    # TakeOrderedAndProject (no range-partitioner sampling job).  Only
    # when the bound is small: TakeOrdered gathers the rows into ONE
    # driver-side heap, so a 10^6-query batch must keep the distributed
    # sort instead (guide §5: the driver does no data work).
    n_bound = max(1, len(queries)) * k
    return out.limit(n_bound) if n_bound <= 100_000 else out
