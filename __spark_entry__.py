"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship: map sf0.001 ``documents`` to the pages
shape, build the full inverted index (doc-sharded varbyte blocks) and
run a conjunctive BM25 query through the block-max WAND kernel.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family from SURVEY.md §2 plus the training-data-pipeline operators
(dedup, similarity search, text analysis).  Every aggregate/computed
column is aliased identically on both sides; floats are rounded on both
sides so value-hashes compare stably.

An entry is a thin call into the package operator it checks (the
rankers and suggestion features read one shared whitespace-analyzer
index, ``_index_for``), so the DuckDB oracle verifies the code users
call.  Entries with no package operator, or whose oracle semantics
legitimately differ from it, stay inline and are listed with their
reason in ``INLINE_ENTRIES``.  Entries that run Python UDFs (index
build, WAND, the Arrow kernels) ship the package zip explicitly.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from websearchengine_spark.operators.prf import STOPWORDS as _PRF_STOPWORDS
from websearchengine_spark.operators.util import widen_for_explode
from websearchengine_spark.sources.storage import read_parquet

QUERY_TERMS = ["data", "stream", "join"]  # present in the documents vocab
QL_TERMS = ["data", "stream"]
PHRASE = "data stream"

# Entries that do NOT call a package operator, each with its reason.
# tests/test_entry_contract.py::test_entries_call_the_package holds every
# other registered entry to reaching an operators/streaming import.
INLINE_ENTRIES: dict[str, str] = {
    "term_df_top100": "no package operator; bench.py term_stats_agg times this plan",
    "term_ctf_top100": "no package operator: corpus ctf scan scenario",
    "doc_len": "no package operator: per-doc token count scenario",
    "corpus_stats": "no package operator: corpus statistics scenario",
    "conjunctive_count": "no package operator: token-table conjunctive count scenario",
    "phrase_count": "no package operator: string-form phrase count scenario",
    "cosine_tfidf_top20": "standard tf-idf cosine, not fullscan's R5 query-as-document variant",
    "dedup_exact": "exact_duplicates keeps only groups of >1 and returns doc_ids lists",
    "minhash_signatures": "4-lane single-md5 layout; bench.py minhash_dedup times this plan",
    "doc_fingerprint": "doc_fingerprints salts its hash; the oracle hashes unsalted",
    "lang_id_heuristic": "lang_id scores 4 language profiles; the oracle is English-only",
    "mm_binary_meta": "no package operator: binary payload metadata scenario",
    "ann_cosine_top20": "bench.py ann_cosine times this exact plan",
    "tpch_q1": "relational scenario; bench.py tpch_q1 times this plan",
    "tpch_q3ish": "relational scenario, no package operator",
    "tpch_q14ish": "relational scenario, no package operator",
    "top_order_per_customer": "relational scenario, no package operator",
    "supplier_nation_rollup": "relational scenario, no package operator",
    "region_rollup": "relational scenario, no package operator",
    "events_agg": "events-log scenario, no package operator",
    "events_hourly": "events-log scenario, no package operator",
    "events_sessionize": "events-log scenario; the package sessionizer is a streaming one",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")


def _pq_nrows(path: str) -> int | None:
    """Exact row count from the parquet footers (driver-side metadata
    read, no Spark job); None if the pyarrow path is unavailable."""
    try:
        import pyarrow.dataset as pads

        return pads.dataset(path, format="parquet").count_rows()
    except Exception:
        return None


def _tok_expr():
    """Filtered lowercase whitespace tokens (matches the SQL oracle)."""
    return F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")


def _toks(spark, sf_dir) -> DataFrame:
    """(doc_id, term) one row per occurrence."""
    return widen_for_explode(_docs(spark, sf_dir)).select(
        "doc_id", F.explode(_tok_expr()).alias("term")
    )


_TOKS_CTE = (
    "WITH toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS term "
    "FROM documents)"
)


# --------------------------------------------------------------------------
# Search-engine core over the pre-tokenized documents table
# --------------------------------------------------------------------------

def q_term_df(spark, sf_dir):
    """A3: corpus document frequency, top 100 (df desc, term asc).

    count(DISTINCT doc_id) per term == count of per-doc DISTINCT terms
    (doc_id is the documents table's unique key), so dedup happens in the
    array BEFORE the explode: one plain count agg instead of the
    two-level distinct aggregation — one Exchange fewer, and the shuffle
    carries (term, partial_count) rows instead of every (term, doc_id)
    pair (r6; value- and schema-identical at all SFs)."""
    return (
        widen_for_explode(_docs(spark, sf_dir))
        .select(F.explode(F.array_distinct(_tok_expr())).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


SQL_TERM_DF = (
    _TOKS_CTE
    + " SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term"
    " ORDER BY df DESC, term LIMIT 100"
)


def q_term_ctf(spark, sf_dir):
    """A4: corpus term frequency, top 100 (ctf desc, term asc)."""
    return (
        _toks(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("ctf"))
        .orderBy(F.desc("ctf"), F.asc("term"))
        .limit(100)
    )


SQL_TERM_CTF = (
    _TOKS_CTE
    + " SELECT term, count(*) AS ctf FROM toks GROUP BY term"
    " ORDER BY ctf DESC, term LIMIT 100"
)


def q_doc_len(spark, sf_dir):
    """A2: per-doc kept-token count."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(_tok_expr()).cast("long").alias("doc_len")
    )


SQL_DOC_LEN = (
    "SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(lower(text),"
    " '\\s+'), t -> t <> '')) AS BIGINT) AS doc_len FROM documents"
)


def q_corpus_stats(spark, sf_dir):
    """A5 + stats table: num_docs, total_tf, avg_dl."""
    return q_doc_len(spark, sf_dir).agg(
        F.count("*").alias("num_docs"),
        F.sum("doc_len").alias("total_tf"),
        F.round(F.avg("doc_len"), 6).alias("avg_dl"),
    )


SQL_CORPUS_STATS = (
    # CAST: DuckDB sum(BIGINT) yields HUGEINT, which the driver's value hash
    # renders differently from Spark's BIGINT even when values are equal.
    "WITH dl AS (" + SQL_DOC_LEN + ") SELECT count(*) AS num_docs,"
    " CAST(sum(doc_len) AS BIGINT) AS total_tf,"
    " round(avg(doc_len), 6) AS avg_dl FROM dl"
)


def _sql_conjunctive(terms) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    return (
        f"SELECT doc_id FROM toks WHERE term IN ({tl}) "
        f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(terms)}"
    )


def q_conjunctive_count(spark, sf_dir):
    """J1: how many docs contain ALL query terms."""
    return (
        _toks(spark, sf_dir)
        .filter(F.col("term").isin(QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == len(QUERY_TERMS))
        .agg(F.count("*").alias("n_docs_all_terms"))
    )


SQL_CONJUNCTIVE_COUNT = (
    _TOKS_CTE
    + f", cand AS ({_sql_conjunctive(QUERY_TERMS)})"
    + " SELECT count(*) AS n_docs_all_terms FROM cand"
)


def q_bm25_topk(spark, sf_dir):
    """R-BM25 over conjunctive candidates, k1=1.2 b=0.75, top 20, via
    the public ranked entry (query.run_query(ranker="bm25"))."""
    from websearchengine_spark.operators.query import run_query

    root = _index_for(spark, sf_dir)
    q = " ".join(QUERY_TERMS)
    return _rounded_top20(spark, lambda k: run_query(spark, root, q, ranker="bm25", k=k))


SQL_BM25_TOPK = (
    _TOKS_CTE
    + f""",
 dl AS ({SQL_DOC_LEN}),
 st AS (SELECT count(*) AS n, avg(doc_len) AS avg_dl FROM dl),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('data','stream','join') GROUP BY doc_id, term),
 dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
         WHERE term IN ('data','stream','join') GROUP BY term),
 cand AS ({_sql_conjunctive(QUERY_TERMS)})
 SELECT tf.doc_id,
        round(sum(ln((st.n - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2*(0.25 + 0.75*dl.doc_len/st.avg_dl))), 6) AS score
 FROM tf JOIN cand ON tf.doc_id = cand.doc_id
      JOIN dfs ON tf.term = dfs.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN st
 GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20"""
)


def q_ql_topk(spark, sf_dir):
    """R1 comprehensive (query.run_query(ranker="comprehensive")):
    1.4*QL_JM(0.5) + 0.3*log(pr+1) + 0.3*log(nv+1) with the entry
    index's signals pr := 0.0, nv := doc_id % 100."""
    from websearchengine_spark.operators.query import run_query

    root = _index_for(spark, sf_dir)
    q = " ".join(QL_TERMS)
    return _rounded_top20(
        spark, lambda k: run_query(spark, root, q, ranker="comprehensive", k=k)
    )


SQL_QL_TOPK = (
    _TOKS_CTE
    + f""",
 dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY doc_id),
 st AS (SELECT sum(doc_len) AS total_tf FROM dl),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('data','stream') GROUP BY doc_id, term),
 ctfs AS (SELECT term, count(*) AS ctf FROM toks
          WHERE term IN ('data','stream') GROUP BY term),
 cand AS ({_sql_conjunctive(QL_TERMS)}),
 ql AS (SELECT tf.doc_id,
               sum(ln(0.5*tf.tf/dl.doc_len + 0.5*ctfs.ctf/st.total_tf)) AS ql
        FROM tf JOIN cand ON tf.doc_id = cand.doc_id
             JOIN ctfs ON tf.term = ctfs.term
             JOIN dl ON tf.doc_id = dl.doc_id
             CROSS JOIN st
        GROUP BY tf.doc_id)
 SELECT doc_id, round(1.4*ql + 0.3*ln(doc_id % 100 + 1.0), 6) AS score
 FROM ql ORDER BY score DESC, doc_id LIMIT 20"""
)


def q_phrase_count(spark, sf_dir):
    """J2 (string form): docs containing the adjacent pair 'data stream'."""
    norm = F.concat(
        F.lit(" "), F.regexp_replace(F.lower("text"), r"\s+", " "), F.lit(" ")
    )
    return (
        _docs(spark, sf_dir)
        .select(norm.alias("norm"))
        .filter(F.col("norm").contains(f" {PHRASE} "))
        .agg(F.count("*").alias("n_docs_phrase"))
    )


SQL_PHRASE_COUNT = (
    "SELECT count(*) AS n_docs_phrase FROM documents WHERE "
    "(' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ')"
    f" LIKE '% {PHRASE} %'"
)


def q_cosine_topk(spark, sf_dir):
    """R5-family tf-idf cosine, idf = ln((N+1)/(df+1))+1, query qtf=1."""
    toks = _toks(spark, sf_dir)
    stats = q_corpus_stats(spark, sf_dir).collect()[0]
    n = float(stats["num_docs"] + 1)
    tf_all = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfs_all = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(F.lit(n) / (F.col("df") + 1.0)) + 1.0
    weighted = tf_all.join(dfs_all, "term").withColumn("w", F.col("tf") * idf)
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm")
    )
    dot = (
        weighted.filter(F.col("term").isin(QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * idf).alias("_x"))
    )
    # qnorm uses idf too: sqrt(sum over query terms of idf^2)
    qnorm = (
        dfs_all.filter(F.col("term").isin(QUERY_TERMS))
        .agg(F.sqrt(F.sum(idf * idf)).alias("qn"))
        .collect()[0]["qn"]
    )
    return (
        dot.join(norms, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("_x") / (F.col("dnorm") * F.lit(float(qnorm))), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(20)
    )


SQL_COSINE_TOPK = (
    _TOKS_CTE
    + """,
 st AS (SELECT count(DISTINCT doc_id) + 1 AS n FROM toks),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
 dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
 wt AS (SELECT tf.doc_id, tf.term, tf.tf * (ln(st.n/(dfs.df+1.0))+1) AS w,
               (ln(st.n/(dfs.df+1.0))+1) AS idf
        FROM tf JOIN dfs USING (term) CROSS JOIN st),
 norms AS (SELECT doc_id, sqrt(sum(w*w)) AS dnorm FROM wt GROUP BY doc_id),
 qnorm AS (SELECT sqrt(sum(idf*idf)) AS qn FROM
           (SELECT DISTINCT term, idf FROM wt
            WHERE term IN ('data','stream','join'))),
 dot AS (SELECT doc_id, sum(w * idf) AS x FROM wt
         WHERE term IN ('data','stream','join') GROUP BY doc_id)
 SELECT dot.doc_id, round(dot.x/(norms.dnorm*qnorm.qn), 6) AS cosine
 FROM dot JOIN norms USING (doc_id) CROSS JOIN qnorm
 ORDER BY cosine DESC, doc_id LIMIT 20"""
)


def _synthetic_graph(spark, sf_dir):
    """Deterministic graph shared by the pagerank entries: dst =
    (doc_id*7+j) % N, j in 1..5, self-loops dropped.  Returns
    (nodes, edges, n_docs)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    n = _pq_nrows(f"{sf_dir}/documents.parquet")
    if n is None:
        n = docs.count()
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("j"),
        )
        .withColumn("dst", (F.col("src") * 7 + F.col("j")) % n)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        # dedup clustered by src: hash-partitioning on src alone already
        # satisfies the (src, dst) aggregate's distribution, and leaves
        # the cached edges clustered the way pagerank_iterate's outdeg
        # window needs them — one exchange total instead of two
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )
    # not persisted here: pagerank_iterate caches the topology it derives
    # from these edges, and nothing else reads them
    return docs.select(F.col("doc_id").alias("node")), edges, n


def q_pagerank(spark, sf_dir):
    """G2 on the synthetic deterministic graph: 2 Jacobi iterations,
    lambda = 0.9, no dangling mass — via the PACKAGE operator
    (graph.pagerank_iterate), not an inline loop."""
    from websearchengine_spark.operators.graph import pagerank_iterate

    nodes, edges, n_docs = _synthetic_graph(spark, sf_dir)
    # doc_id is the documents table's unique key -> the defensive
    # node-dedup exchange is skippable (pagerank_iterate(nodes_unique=))
    ranks = pagerank_iterate(nodes, edges, lam=0.9, iters=2, nodes_unique=True)
    # exactly num_docs rows come out; the limit is a no-op on the rows
    # but turns the global sort into TakeOrderedAndProject (no
    # range-partitioner sampling job before the driver collects anyway)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 9).alias("pagerank")
    ).orderBy("doc_id").limit(n_docs)


def q_pagerank_10iter(spark, sf_dir):
    """The generalized iteration path (round 4): 10 Jacobi rounds with
    per-4-rounds localCheckpoint (lineage truncation) — oracled against
    a mechanically unrolled 10-stage SQL chain."""
    from websearchengine_spark.operators.graph import pagerank_iterate

    nodes, edges, n_docs = _synthetic_graph(spark, sf_dir)
    ranks = pagerank_iterate(nodes, edges, lam=0.9, iters=10, nodes_unique=True)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 9).alias("pagerank")
    ).orderBy("doc_id").limit(n_docs)


def _pagerank_sql(iters: int) -> str:
    head = """
WITH n AS (SELECT count(*) AS n FROM documents),
 edges AS (SELECT DISTINCT d.doc_id AS src, (d.doc_id*7 + g.j) % n.n AS dst
           FROM documents d CROSS JOIN n CROSS JOIN generate_series(1,5) g(j)
           WHERE (d.doc_id*7 + g.j) % n.n <> d.doc_id),
 outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
 r0 AS (SELECT doc_id AS node, 1.0 AS rank FROM documents)"""
    stages = []
    for i in range(1, iters + 1):
        stages.append(
            f""",
 c{i} AS (SELECT e.dst AS node, sum(r{i-1}.rank/o.od) AS inb
        FROM edges e JOIN r{i-1} ON r{i-1}.node = e.src JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst),
 r{i} AS (SELECT r{i-1}.node, 0.9*coalesce(c{i}.inb, 0) + 0.1 AS rank
        FROM r{i-1} LEFT JOIN c{i} USING (node))"""
        )
    return (
        head
        + "".join(stages)
        + f"""
SELECT node AS doc_id, round(rank, 9) AS pagerank FROM r{iters} ORDER BY doc_id"""
    )


SQL_PAGERANK = _pagerank_sql(2)
SQL_PAGERANK_10ITER = _pagerank_sql(10)


def q_spearman(spark, sf_dir):
    """G4: rho between ranking by n_chars and by token count
    (graph.spearman)."""
    from websearchengine_spark.operators.graph import spearman

    by_chars = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("name"), F.col("n_chars").alias("value")
    )
    by_len = q_doc_len(spark, sf_dir).select(
        F.col("doc_id").alias("name"), F.col("doc_len").alias("value")
    )
    rho = spearman(by_chars, by_len)
    return spark.createDataFrame([(rho,)], "rho double").select(
        F.round("rho", 9).alias("spearman_rho")
    )


SQL_SPEARMAN = (
    "WITH dl AS (" + SQL_DOC_LEN + "),"
    """
 r AS (SELECT row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id) AS rx,
              row_number() OVER (ORDER BY dl.doc_len DESC, d.doc_id) AS ry
       FROM documents d JOIN dl ON d.doc_id = dl.doc_id),
 z AS (SELECT (count(*) + 1)/2.0 AS z FROM r)
SELECT round(sum((rx - z.z)*(ry - z.z))
       / sqrt(sum((rx - z.z)*(rx - z.z)) * sum((ry - z.z)*(ry - z.z))), 9)
       AS spearman_rho
FROM r CROSS JOIN z"""
)


# --------------------------------------------------------------------------
# Deduplication / fingerprinting
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5(text) groups (hash, n, min doc)."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_dups") >= 1)
    )


SQL_DEDUP_EXACT = (
    "SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS"
    " min_doc_id FROM documents GROUP BY md5(text) HAVING count(*) >= 1"
)

_NORM = "regexp_replace(lower(text), '\\s+', ' ', 'g')"


def _spark_norm():
    return F.regexp_replace(F.lower("text"), r"\s+", " ")


def _shingles_spark(spark, sf_dir):
    """(doc_id, shingle): char-8-grams of normalized text."""
    return (
        widen_for_explode(_docs(spark, sf_dir))
        .select("doc_id", _spark_norm().alias("norm"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("norm") - 7, F.lit(1)))
            ).alias("i"),
            "norm",
        )
        .select("doc_id", F.expr("substring(norm, i, 8)").alias("shingle"))
    )


_SQL_SHINGLES = (
    "sh AS (SELECT doc_id, substr(norm, i, 8) AS shingle FROM "
    "(SELECT doc_id, norm, unnest(generate_series(1, greatest(length(norm) - 7,"
    f" 1))) AS i FROM (SELECT doc_id, {_NORM} AS norm FROM documents)))"
)


def _hex32(col):
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8), 16, 10).cast("long")


def q_minhash_signatures(spark, sf_dir):
    """MinHash (4 hashes) over char-8-gram shingles -> (doc_id, mh0..mh3).

    The 4 hash functions are the 4 independent 32-bit LANES of ONE md5
    digest per shingle (md5 is computed once, not 4 times — at corpus
    scale the digest dominates the shingle pass); DuckDB slices the same
    hex lanes, so engine and oracle stay value-identical.
    """
    # the digest is PROJECTED once per shingle row before the aggregate:
    # embedding it in all four min() inputs made codegen evaluate md5
    # four times per row (CollapseProject keeps a non-cheap expression
    # referenced >1x in its own projection, so this stays one md5 — r6)
    sh = _shingles_spark(spark, sf_dir).select(
        "doc_id", F.md5(F.encode(F.col("shingle"), "UTF-8")).alias("_dg")
    )
    aggs = [
        F.min(
            F.conv(F.substring(F.col("_dg"), 1 + 8 * h, 8), 16, 10).cast("long")
        ).alias(f"mh{h}")
        for h in range(4)
    ]
    out = sh.groupBy("doc_id").agg(*aggs).orderBy("doc_id")
    # exactly one signature row per doc comes out; bounding the final
    # sort turns it into TakeOrderedAndProject (no range-sampling job —
    # same r6 pattern as the pagerank entries) with the usual driver-heap
    # guard for corpora past collect scale
    n = _pq_nrows(f"{sf_dir}/documents.parquet")
    return out.limit(n) if n and n <= 100_000 else out


SQL_MINHASH = (
    "WITH " + _SQL_SHINGLES + " SELECT doc_id, "
    + ", ".join(
        f"min(CAST(('0x' || substr(md5(shingle), {1 + 8 * h}, 8)) AS BIGINT)) AS mh{h}"
        for h in range(4)
    )
    + " FROM sh GROUP BY doc_id ORDER BY doc_id"
)


def q_simhash(spark, sf_dir):
    """SimHash-16: sign bits of tf-weighted pseudo-random term vectors.

    Calls the package operator (operators/dedup.py::simhash), whose
    per-bit sums are conditional aggregates of one groupBy — no per-bit
    explode (round-4 de-amplification); same tokenizer as the SQL
    oracle."""
    from websearchengine_spark.operators.dedup import simhash

    return (
        simhash(_docs(spark, sf_dir), bits=16)
        .select("doc_id", F.col("simhash").alias("simhash16"))
        .orderBy("doc_id")
    )


SQL_SIMHASH = (
    _TOKS_CTE
    + """,
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
 bits AS (SELECT doc_id, g.b,
                 sum(tf * CASE WHEN substr(md5(term), g.b + 1, 1) IN
                     ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s
          FROM tf CROSS JOIN generate_series(0, 15) g(b)
          GROUP BY doc_id, g.b)
 SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END) AS BIGINT)
        AS simhash16
 FROM bits GROUP BY doc_id ORDER BY doc_id"""
)


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup: token-set Jaccard (dedup.token_jaccard_pairs) for
    consecutive same-source doc pairs."""
    from websearchengine_spark.operators.dedup import token_jaccard_pairs

    docs = _docs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    pairs = (
        src.alias("a")
        .join(
            src.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("b.doc_id") == F.col("a.doc_id") + 20),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return (
        token_jaccard_pairs(docs, pairs)
        .select(
            F.col("doc_a").alias("da"),
            F.col("doc_b").alias("db"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy("da")
    )


SQL_NGRAM_JACCARD = (
    _TOKS_CTE
    + """,
 d AS (SELECT DISTINCT doc_id, term FROM toks),
 sizes AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
 pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
           FROM documents a JOIN documents b
           ON a.source = b.source AND b.doc_id = a.doc_id + 20),
 inter AS (SELECT p.da, p.db, count(*) AS c
           FROM pairs p JOIN d x ON x.doc_id = p.da
                JOIN d y ON y.doc_id = p.db AND y.term = x.term
           GROUP BY p.da, p.db)
 SELECT i.da, i.db, round(i.c / (sa.sz + sb.sz - i.c), 6) AS jaccard
 FROM inter i JOIN sizes sa ON sa.doc_id = i.da
      JOIN sizes sb ON sb.doc_id = i.db
 ORDER BY da"""
)


def q_fingerprint(spark, sf_dir):
    """Rolling-hash-style doc fingerprint: min shingle hash per doc."""
    sh = _shingles_spark(spark, sf_dir)
    return (
        sh.groupBy("doc_id")
        .agg(F.min(_hex32(F.col("shingle"))).alias("fingerprint"))
        .orderBy("doc_id")
    )


SQL_FINGERPRINT = (
    "WITH " + _SQL_SHINGLES + " SELECT doc_id, "
    "min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS fingerprint"
    " FROM sh GROUP BY doc_id ORDER BY doc_id"
)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

EN_STOP = ["the", "a", "of", "and", "to", "in", "is"]


def q_lang_id(spark, sf_dir):
    """n-gram/stopword-ratio language heuristic."""
    toks = _toks(spark, sf_dir)
    agg = toks.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("term").isin(EN_STOP), 1).otherwise(0)).alias("hits"),
    )
    return agg.select(
        "doc_id",
        F.round(F.col("hits") / F.col("n"), 6).alias("en_ratio"),
        F.when(F.col("hits") / F.col("n") > 0.02, "en").otherwise("other").alias("lang_pred"),
    ).orderBy("doc_id")


SQL_LANG_ID = (
    _TOKS_CTE
    + """
 SELECT doc_id, round(sum(CASE WHEN term IN ('the','a','of','and','to','in','is')
        THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS en_ratio,
        CASE WHEN sum(CASE WHEN term IN ('the','a','of','and','to','in','is')
        THEN 1 ELSE 0 END) * 1.0 / count(*) > 0.02 THEN 'en' ELSE 'other' END
        AS lang_pred
 FROM toks GROUP BY doc_id ORDER BY doc_id"""
)


def q_quality(spark, sf_dir):
    """Quality scoring (textstats.quality_scores): token count,
    type-token ratio, mean token length."""
    from websearchengine_spark.operators.textstats import quality_scores

    return (
        quality_scores(_docs(spark, sf_dir))
        .select("doc_id", "n_tokens", "ttr", "mean_tok_len")
        .orderBy("doc_id")
    )


SQL_QUALITY = (
    _TOKS_CTE
    + """
 SELECT doc_id, count(*) AS n_tokens,
        round(count(DISTINCT term) * 1.0 / count(*), 6) AS ttr,
        round(avg(length(term)), 6) AS mean_tok_len
 FROM toks GROUP BY doc_id ORDER BY doc_id"""
)


def q_token_counts(spark, sf_dir):
    """Whitespace vs BPE-ish regex token counting (textstats.token_counts)."""
    from websearchengine_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir)).orderBy("doc_id")


SQL_TOKEN_COUNTS = (
    "SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(lower(text),"
    " '\\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,"
    " CAST(len(regexp_extract_all(regexp_replace(lower(text), '\\s+', ' ', 'g'),"
    " '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpeish_tokens"
    " FROM documents ORDER BY doc_id"
)


def q_mm_binary_meta(spark, sf_dir):
    """Multimodal plumbing: treat text bytes as an opaque binary payload;
    typed metadata extraction (size + head-byte checksum)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: F.ascii(F.substring(F.col("text"), i, F.lit(1))),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("long").alias("head8_sum"),
    ).orderBy("doc_id")


SQL_MM_BINARY_META = """
SELECT doc_id, min(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)) AS n_bytes,
       CAST(sum(ascii(substr(text, g.i, 1))) AS BIGINT) AS head8_sum
FROM documents CROSS JOIN generate_series(1, 8) g(i)
GROUP BY doc_id ORDER BY doc_id"""


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

def q_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-20 vs the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    ).collect()[0]["qv"]
    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # Integer micro-cosine: CAST(double AS BIGINT) truncates in Spark but
    # rounds in DuckDB, so round(x*1e6) explicitly on both sides first —
    # the driver's value hash then compares exact integers, immune to
    # float formatting.
    cos = dot / (norm(F.col("embedding").cast("array<double>")) * norm(qlit))
    return (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(cos * 1e6, 0).cast("long").alias("cosine_e6"),
        )
        .orderBy(F.desc("cosine_e6"), F.asc("vec_id"))
        .limit(20)
    )


SQL_ANN_COSINE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       CAST(round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qv, q.qv))) * 1e6, 0) AS BIGINT)
           AS cosine_e6
FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
ORDER BY cosine_e6 DESC, vec_id LIMIT 20"""


# IVF ANN with full SQL oracle: residue-class centroids (vec_id % nlist,
# per ivf_build_centroids), assignment = argmax dot (ties -> lowest c),
# probe = nprobe nearest centroids to the query, exact cosine within the
# probed lists.  Cross-engine reproducibility: centroids AND the
# assignment/probe dot products are rounded to 6dp on both sides, so
# neither avg() nor dot-product summation-order ulps can flip a list
# choice; the query vector is excluded from the index (ann_cosine
# semantics — no degenerate self-match row).
_IVF_NLIST = 4
_IVF_NPROBE = 2
_IVF_DIM = 64
_IVF_INDEX_CACHE: dict[str, tuple] = {}


def _rounded_topk_rows(fetch, n: int, start_k: int = 40) -> list[tuple]:
    """Grow-k fetch until the n-th ROUNDED score strictly exceeds the
    last fetched row's — proving the rounded-tie cluster at the n
    boundary is fully contained (a doc outside the exact top-k can
    round-tie the n-th score and win the id tie-break).  ``fetch(k)``
    returns >=0 (id, rounded_score) tuples already ordered by
    (rounded score desc, id asc); it must return fewer than k rows ONLY
    when the data is exhausted."""
    k = start_k
    while True:
        rows = fetch(k)
        if len(rows) < k or rows[n - 1][1] > rows[-1][1]:
            return rows[:n]
        k *= 4


def _rounded_top20(spark, topk, col="score", digits=6, scale=1.0):
    """Top-20 (doc_id, ``col``) on the oracle's key round(score * scale,
    digits), with the k-boundary rounded-tie cluster fully fetched.
    ``topk(k)`` is the operator's own top-k (doc_id, score) DataFrame."""

    def fetch(k):
        return [
            (r["doc_id"], float(r["s"]))
            for r in topk(k)
            .select("doc_id", F.round(F.col("score") * scale, digits).alias("s"))
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .collect()
        ]

    return spark.createDataFrame(
        _rounded_topk_rows(fetch, 20), f"doc_id long, {col} double"
    )


def _ivf_index_for(spark, sf_dir):
    import tempfile

    cached = _IVF_INDEX_CACHE.get(sf_dir)
    if cached and os.path.exists(cached[0]):
        return cached
    from websearchengine_spark.operators.similarity import (
        ivf_build_centroids,
        ivf_write_index,
    )

    # the query vector (vec_id 0) is EXCLUDED from the index — matching
    # SQL_ANN_COSINE's semantics and removing the degenerate self-match
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    cents = ivf_build_centroids(emb, nlist=_IVF_NLIST)
    cents = [[round(float(x), 6) for x in c] for c in cents]
    path = tempfile.mkdtemp(prefix="wse_entry_ivf_")
    # round_dots=6: assignment/probe argmaxes compare ROUNDED dot
    # products, so cross-engine float summation-order ulps cannot flip
    # a list assignment (review finding; mirrored in SQL_IVF_ANN)
    ivf_write_index(emb, cents, path, round_dots=6)
    _IVF_INDEX_CACHE[sf_dir] = (path, cents)
    return path, cents


def q_ivf_ann_top10(spark, sf_dir):
    """IVF ANN through the REAL scale path (ivf_write_index once,
    partition-pruned ivf_topk_indexed per query): top-10 by cosine
    within the nprobe=2 probed lists of an nlist=4 index built over all
    vectors except the query.  Rounded-tie boundary handled like
    bm25_index_path."""
    from websearchengine_spark.operators.similarity import ivf_topk_indexed

    path, cents = _ivf_index_for(spark, sf_dir)
    qv = [
        float(x)
        for x in _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .collect()[0]["embedding"]
    ]

    def fetch(k):
        return [
            (r["vec_id"], r["cosine_e6"])
            for r in ivf_topk_indexed(
                spark, path, cents, qv, k=k, nprobe=_IVF_NPROBE, round_dots=6
            )
            .select(
                "vec_id",
                F.round(F.col("cosine") * 1e6, 0).cast("long").alias("cosine_e6"),
            )
            .orderBy(F.desc("cosine_e6"), F.asc("vec_id"))
            .collect()
        ]

    return spark.createDataFrame(
        _rounded_topk_rows(fetch, 10), "vec_id long, cosine_e6 long"
    )


_IVF_CENT_COLS = ", ".join(
    f"round(avg(v[{i + 1}]), 6) AS m{i}" for i in range(_IVF_DIM)
)
_IVF_CENT_LIST = "list_value(" + ", ".join(f"m{i}" for i in range(_IVF_DIM)) + ")"

SQL_IVF_ANN = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
 q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
 e2 AS (SELECT * FROM e WHERE vec_id <> 0),
 cent AS (SELECT vec_id % {_IVF_NLIST} AS c, {_IVF_CENT_COLS}
          FROM e2 GROUP BY 1),
 centv AS (SELECT c, {_IVF_CENT_LIST} AS cv FROM cent),
 probe AS (SELECT c FROM centv, q
           ORDER BY round(list_dot_product(cv, q.qv), 6) DESC, c
           LIMIT {_IVF_NPROBE}),
 ass AS (SELECT e2.vec_id, e2.v,
           (SELECT c FROM centv
            ORDER BY round(list_dot_product(centv.cv, e2.v), 6) DESC, c
            LIMIT 1) AS list_id
         FROM e2),
 sub AS (SELECT vec_id, v FROM ass WHERE list_id IN (SELECT c FROM probe))
SELECT s.vec_id,
       CAST(round(list_dot_product(s.v, q.qv)
             / (sqrt(list_dot_product(s.v, s.v))
                * sqrt(list_dot_product(q.qv, q.qv))) * 1e6, 0) AS BIGINT)
           AS cosine_e6
FROM sub s CROSS JOIN q
ORDER BY cosine_e6 DESC, vec_id LIMIT 10"""


def q_lsh_buckets(spark, sf_dir):
    """LSH bucketing: 8 deterministic hyperplanes -> bucket histogram.

    Calls the package operator (operators/similarity.py::lsh_bucket),
    which computes every plane's dot product in ONE explode-free
    projection over the array column (round-4 de-amplification); the
    oracle SQL mirrors the same (i, p) weight hash."""
    from websearchengine_spark.operators.similarity import lsh_bucket

    emb = _t(spark, sf_dir, "embeddings")
    buckets = lsh_bucket(emb, n_planes=8)
    return buckets.groupBy("bucket").agg(F.count("*").alias("n_vecs")).orderBy("bucket")


SQL_LSH_BUCKETS = """
WITH planes AS (
  SELECT e.vec_id, g.p, i.i, e.embedding[i.i] AS v,
         ((i.i * (g.p + 3) * 2654435761) % 1000) / 1000.0 - 0.5 AS w
  FROM embeddings e
  CROSS JOIN generate_series(0, 7) g(p)
  CROSS JOIN generate_series(1, 64) i(i)),
 dots AS (SELECT vec_id, p, sum(v * w) AS d FROM planes GROUP BY vec_id, p),
 buckets AS (SELECT vec_id,
             CAST(sum(CASE WHEN d > 0 THEN power(2, p) ELSE 0 END) AS BIGINT)
             AS bucket FROM dots GROUP BY vec_id)
SELECT bucket, count(*) AS n_vecs FROM buckets GROUP BY bucket ORDER BY bucket"""


def q_next_word(spark, sf_dir):
    """Q6 next-word suggestion (nextFollowing,
    IndexerInvertedOccurrence.java:913-957) via
    spell.next_word_suggestions: count the tokens that FOLLOW
    occurrences of the phrase 'data stream', top-5 by (n desc, word asc)."""
    from websearchengine_spark.operators.spell import next_word_suggestions

    return next_word_suggestions(spark, _index_for(spark, sf_dir), PHRASE, top_n=5)


SQL_NEXT_WORD = """
WITH base AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
 tri AS (SELECT toks[i] AS w0, toks[i + 1] AS w1, toks[i + 2] AS w2
         FROM (SELECT toks,
                      unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                          AS i
               FROM base WHERE len(toks) > 2))
SELECT w2 AS next_word, count(*) AS n FROM tri
WHERE w0 = 'data' AND w1 = 'stream'
GROUP BY w2 ORDER BY n DESC, next_word LIMIT 5"""


def q_emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs through the REAL bucketed operator
    (similarity.cosine_near_dup_pairs): sign-LSH bucket join -> exact
    cosine within buckets.  The oracle mirrors the bucket hash exactly,
    so the driver verifies the SCALE path, not a brute-force stand-in.
    Threshold compared on the rounded integer micro-cosine (boundary-
    and hash-stable on both sides)."""
    from websearchengine_spark.operators.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pairs = cosine_near_dup_pairs(emb, threshold=-2.0, n_planes=8)
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(F.col("cosine") * 1e6, 0).cast("long").alias("cosine_e6"),
        )
        .filter(F.col("cosine_e6") >= 300000)
        .orderBy("id_a", "id_b")
    )


SQL_EMB_NEAR_DUP = """
WITH planes AS (
  SELECT e.vec_id, g.p, i.i, e.embedding[i.i] AS v,
         ((i.i * (g.p + 3) * 2654435761) % 1000) / 1000.0 - 0.5 AS w
  FROM embeddings e
  CROSS JOIN generate_series(0, 7) g(p)
  CROSS JOIN generate_series(1, 64) i(i)),
 dots AS (SELECT vec_id, p, sum(v * w) AS d FROM planes GROUP BY vec_id, p),
 buckets AS (SELECT vec_id,
             CAST(sum(CASE WHEN d > 0 THEN power(2, p) ELSE 0 END) AS BIGINT)
             AS bucket FROM dots GROUP BY vec_id),
 bb AS (SELECT b.vec_id, b.bucket, e.embedding
        FROM buckets b JOIN embeddings e USING (vec_id)),
 cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 CAST(round(list_dot_product(a.embedding, b.embedding)
                      / (sqrt(list_dot_product(a.embedding, a.embedding))
                         * sqrt(list_dot_product(b.embedding, b.embedding)))
                      * 1e6, 0) AS BIGINT) AS cosine_e6
          FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine_e6 FROM cand WHERE cosine_e6 >= 300000
ORDER BY id_a, id_b"""


# --------------------------------------------------------------------------
# Relational breadth (Catalyst-native: joins/aggs/windows)
# --------------------------------------------------------------------------

def _clicks(spark, sf_dir) -> DataFrame:
    """The events log in the clicklog shape: session = user_id, query =
    event_type; event_id rides along as the same-timestamp tie-break."""
    return _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("session_id"),
        F.col("event_type").alias("query"),
        "ts",
        "event_id",
    )


def q_history_suggestions(spark, sf_dir):
    """querySearch 'history' branch (IndexerInvertedOccurrence.java:
    830-840) via clicklog.history_suggestions over the events log: past
    'queries' (event_types) case-insensitively containing a substring,
    most frequent first."""
    from websearchengine_spark.streaming.clicklog import history_suggestions

    return history_suggestions(_clicks(spark, sf_dir), "e", top_n=10)


SQL_HISTORY_SUGGESTIONS = """
SELECT event_type AS query, count(*) AS n
FROM events WHERE contains(lower(event_type), 'e')
GROUP BY event_type ORDER BY n DESC, query LIMIT 10"""


def q_title_hit_count(spark, sf_dir):
    """R8 fullscan title-hit (RankerFullScan.java:38-61,
    fullscan.score_fullscan_title) with title := the doc's first 3 raw
    tokens: how many docs score 1.0 for the query (any query token among
    the title tokens)."""
    from websearchengine_spark.operators.fullscan import score_fullscan_title

    raw = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    with _fullscan_prep(spark, sf_dir, F.concat_ws(" ", F.slice(raw, 1, 3))) as prep:
        n = (
            score_fullscan_title(spark, prep, " ".join(_FS_TERMS))
            .agg(F.sum("score").cast("long"))
            .collect()[0][0]
        )
    return spark.createDataFrame([(n,)], "n_title_hits long")


SQL_TITLE_HIT_COUNT = """
WITH base AS (SELECT list_slice(list_filter(
                  regexp_split_to_array(text, '\\s+'), x -> x <> ''), 1, 3)
                  AS title_toks
              FROM documents)
SELECT CAST(sum(CASE WHEN list_has_any(title_toks, ['data', 'stream'])
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_title_hits
FROM base"""


def q_tpch_q14ish(spark, sf_dir):
    """TPC-H Q14-flavored promotion effect: PROMO revenue share per
    brand over a one-year ship window — lineitem ⋈ broadcast(part)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


SQL_TPCH_Q14ISH = """
SELECT p_brand,
       round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY p_brand ORDER BY p_brand"""


def q_region_rollup(spark, sf_dir):
    """Customers per region with average account balance —
    customer ⋈ nation ⋈ region (both dims broadcast)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


SQL_REGION_ROLLUP = """
SELECT r_name, count(*) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
     JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name"""


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""


def q_tpch_q3ish(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_TPCH_Q3ISH = """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"""


def q_top_order_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("best_price"))
        .orderBy("o_custkey")
    )


SQL_TOP_ORDER_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
WHERE rn = 1 ORDER BY o_custkey"""


def q_supplier_nation_rollup(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


SQL_SUPPLIER_NATION = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
     JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name"""


def q_events_agg(spark, sf_dir):
    """S4/A6-style log aggregation over the events stream table."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_AGG = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type"""


def q_events_hourly(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("hour", "event_type")
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""


def q_events_sessionize(spark, sf_dir):
    """Sessionization: 30-min inactivity gap, per-user session count."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Fractional-epoch comparison: the events data carries microsecond
    # precision, and unix_timestamp() truncates to whole seconds — a gap in
    # (1800.0, 1801.0) would split a session on one side only vs the
    # oracle's epoch().
    gaps = e.withColumn("prev", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev").isNull()
            | (
                F.col("ts").cast("timestamp").cast("double")
                - F.col("prev").cast("timestamp").cast("double")
                > 1800.0
            ),
            1,
        ).otherwise(0),
    )
    return (
        gaps.groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


SQL_EVENTS_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
              ORDER BY ts, event_id)) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id ORDER BY user_id"""


# --------------------------------------------------------------------------
# Round-2 driver entries: the pytest-only SURVEY §2 families, SQL-oracled
# over the pre-tokenized documents/events tables
# --------------------------------------------------------------------------

# the reference's PRF stop list (QueryHandler.java:51-77), inlined into
# the oracle SQL below
_SQL_STOPLIST = ", ".join(
    "'" + w.replace("'", "''") + "'" for w in sorted(_PRF_STOPWORDS)
)


def _prf(spark, sf_dir, terms) -> DataFrame:
    """(term, prob) PRF expansion (prf.prf_expand over BM25) for the
    query given by ``terms``, prob rounded as the oracle rounds it."""
    from websearchengine_spark.operators.prf import prf_expand

    return prf_expand(
        spark, _index_for(spark, sf_dir), " ".join(terms), ranker="bm25"
    ).select("term", F.round("prob", 6).alias("prob"))


def q_prf_expansion(spark, sf_dir):
    """A7/Q1 (QueryHandler.java:397-497) via prf.prf_expand over BM25:
    top-10 docs -> term mass over those docs -> top-5 non-stopword
    terms, prob renormalized."""
    return _prf(spark, sf_dir, QUERY_TERMS)


def _sql_prf(terms) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    return (
        _TOKS_CTE
        + f""",
 dl AS ({SQL_DOC_LEN}),
 st AS (SELECT count(*) AS n, avg(doc_len) AS avg_dl FROM dl),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ({tl}) GROUP BY doc_id, term),
 dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
         WHERE term IN ({tl}) GROUP BY term),
 cand AS ({_sql_conjunctive(terms)}),
 top10 AS (SELECT tf.doc_id,
        round(sum(ln((st.n - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2*(0.25 + 0.75*dl.doc_len/st.avg_dl))), 6) AS score
   FROM tf JOIN cand ON tf.doc_id = cand.doc_id
        JOIN dfs ON tf.term = dfs.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN st
   GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 10),
 mass AS (SELECT term, count(*) AS mass FROM toks
          JOIN top10 ON toks.doc_id = top10.doc_id GROUP BY term),
 sel AS (SELECT term, mass FROM mass
         WHERE term NOT IN ({_SQL_STOPLIST})
         ORDER BY mass DESC, term LIMIT 5),
 tot AS (SELECT sum(mass) AS t FROM sel)
 SELECT term, round(mass * 1.0 / tot.t, 6) AS prob
 FROM sel CROSS JOIN tot ORDER BY prob DESC, term"""
    )


SQL_PRF_EXPANSION = _sql_prf(QUERY_TERMS)


def q_bhattacharyya(spark, sf_dir):
    """Q2 (Bhattacharyya.java:118-148, prf.bhattacharyya): beta(q1, q2)
    = sum over shared expansion terms of sqrt(p1 * p2) — expansions are
    the PRF distributions for 'data stream join' and 'data stream',
    probabilities rounded as the oracle's expansions are."""
    from websearchengine_spark.operators.prf import bhattacharyya

    beta = bhattacharyya(
        _prf(spark, sf_dir, QUERY_TERMS), _prf(spark, sf_dir, QL_TERMS)
    )
    return spark.createDataFrame([(beta,)], "beta double").select(
        F.round("beta", 6).alias("beta")
    )


SQL_BHATTACHARYYA = (
    f"SELECT round(coalesce(sum(sqrt(a.prob * b.prob)), 0.0), 6) AS beta"
    f" FROM ({_sql_prf(QUERY_TERMS)}) a JOIN ({_sql_prf(QL_TERMS)}) b"
    f" USING (term)"
)


def q_ql_fullscan(spark, sf_dir):
    """R4 ql fullscan (SignalFactory.java:14-88,
    fullscan.score_ql_fullscan): score EVERY doc with
    exp(sum_q ln(0.5*tf/len + 0.5*ctf/total)); docs missing a query term
    use the collection term (tf=0).  Top-20 on score * 1e9, RAW
    whitespace tokens (the fullscan indexer does not lowercase)."""
    return _fullscan_top20(spark, sf_dir, "ql", "score_e9", scale=1e9)


SQL_QL_FULLSCAN = """
WITH base AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
 t AS (SELECT doc_id, unnest(toks) AS term FROM base),
 dl AS (SELECT doc_id, len(toks) AS body_len FROM base),
 st AS (SELECT (SELECT sum(body_len) FROM dl) * 1.0 AS total),
 q(term) AS (VALUES ('data'), ('stream')),
 ctfs AS (SELECT q.term, count(*) * 1.0 AS ctf FROM t JOIN q USING (term)
          GROUP BY q.term),
 qb AS (SELECT sum(ln(0.5 * ctf / st.total)) AS ql_base
        FROM ctfs CROSS JOIN st),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
 adj AS (SELECT tf.doc_id,
                sum(ln(0.5 * tf.tf / dl.body_len + 0.5 * ctfs.ctf / st.total)
                    - ln(0.5 * ctfs.ctf / st.total)) AS ql_adj
         FROM tf JOIN ctfs USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         GROUP BY tf.doc_id)
SELECT dl.doc_id,
       round(exp(qb.ql_base + coalesce(adj.ql_adj, 0)) * 1e9, 6) AS score_e9
FROM dl LEFT JOIN adj USING (doc_id) CROSS JOIN qb
ORDER BY score_e9 DESC, doc_id LIMIT 20"""


def q_session_pmi(spark, sf_dir):
    """Q4 session suggestion (SessionHandler.java:237-292,
    clicklog.pmi_suggestions) over events: session=user_id,
    query=event_type; consecutive distinct queries <=60s apart pair up;
    pmi = ln(f_pair/(f1*f2) + 1), top-3 per q1."""
    from websearchengine_spark.streaming.clicklog import pmi_suggestions

    return (
        pmi_suggestions(_clicks(spark, sf_dir), top_n=3)
        .select("q1", "q2", "pmi", F.col("rn").cast("long").alias("rn"))
        .orderBy("q1", "rn")
    )


SQL_SESSION_PMI = """
WITH e AS (SELECT user_id AS session_id, event_type AS query, ts, event_id
           FROM events),
 p AS (SELECT session_id, query,
              lag(query) OVER (PARTITION BY session_id ORDER BY ts, event_id) AS prev_q,
              epoch(ts) - epoch(lag(ts) OVER (PARTITION BY session_id
                                              ORDER BY ts, event_id)) AS gap
       FROM e),
 pairs AS (SELECT prev_q AS q1, query AS q2, count(*) AS f_pair
           FROM p
           WHERE prev_q IS NOT NULL AND prev_q <> query AND gap <= 60.0
           GROUP BY 1, 2),
 freq AS (SELECT query, count(*) AS f FROM e GROUP BY query),
 j AS (SELECT pairs.q1, pairs.q2, ln(f_pair / (f1.f * f2.f) + 1.0) AS pmi
       FROM pairs JOIN freq f1 ON pairs.q1 = f1.query
            JOIN freq f2 ON pairs.q2 = f2.query
       WHERE ln(f_pair / (f1.f * f2.f) + 1.0) > 0.0),
 rk AS (SELECT q1, q2, pmi,
               row_number() OVER (PARTITION BY q1 ORDER BY pmi DESC, q2) AS rn
        FROM j)
SELECT q1, q2, round(pmi, 9) AS pmi, rn FROM rk WHERE rn <= 3
ORDER BY q1, rn"""


def q_session_pmi_incr(spark, sf_dir):
    """Q4 served from the INCREMENTAL count tables (round-4;
    LogDBManager.java:18-48 maintains querycount/paircount per click):
    the events log is split into two micro-batches at the median
    timestamp, each folded into count deltas via apply_suggestion_batch
    (the carry state closes session pairs straddling the boundary), and
    pmi is computed from the pre-aggregated tables.  Output — and
    oracle SQL — identical to session_pmi: incremental maintenance
    never changes what suggestions return."""
    import shutil
    import tempfile

    from websearchengine_spark.streaming.clicklog import (
        apply_suggestion_batch,
        pmi_suggestions_from_counts,
        read_pair_counts,
        read_query_counts,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _clicks(spark, sf_dir)
    lo, hi = e.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).collect()[0]
    cut = (lo + hi) / 2.0
    root = tempfile.mkdtemp(prefix="wse_suggest_")
    try:
        apply_suggestion_batch(
            spark, e.filter(F.unix_timestamp("ts") <= cut), 0, root
        )
        apply_suggestion_batch(
            spark, e.filter(F.unix_timestamp("ts") > cut), 1, root
        )
        out = pmi_suggestions_from_counts(
            read_query_counts(spark, root), read_pair_counts(spark, root)
        )
        out = (
            out.withColumn("rn", F.col("rn").cast("long"))
            .select("q1", "q2", "pmi", "rn")
            .orderBy("q1", "rn")
        )
        rows = out.collect()  # materialize before the tmp dir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_dedup_clusters(spark, sf_dir):
    """Connected components of the simhash(hamming<=2) near-dup graph —
    the collapse-ready clustering step (pair thresholds are not
    transitive, so components genuinely chain).  Iterative min-label
    propagation (dedup.duplicate_clusters); oracle = recursive-CTE
    transitive closure over the same edges."""
    from websearchengine_spark.operators.dedup import (
        duplicate_clusters,
        simhash_duplicate_pairs,
    )

    pairs = simhash_duplicate_pairs(_docs(spark, sf_dir), bits=16, max_hamming=2)
    return duplicate_clusters(pairs).orderBy("doc_id")


# WITH RECURSIVE over the same simhash edge set: reach(node, r) is the
# transitive closure, cluster_id = min reachable id (incl. self).
SQL_DEDUP_CLUSTERS = (
    "WITH RECURSIVE" + _TOKS_CTE[len("WITH"):]
    + """,
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
 bits AS (SELECT doc_id, g.b,
                 sum(tf * CASE WHEN substr(md5(term), g.b + 1, 1) IN
                     ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s
          FROM tf CROSS JOIN generate_series(0, 15) g(b)
          GROUP BY doc_id, g.b),
 sh AS (SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END) AS BIGINT)
                   AS sim
        FROM bits GROUP BY doc_id),
 edges AS (SELECT a.doc_id AS src, b.doc_id AS dst
           FROM sh a JOIN sh b
           ON a.doc_id <> b.doc_id
              AND bit_count(xor(a.sim, b.sim)) <= 2),
 reach(node, r) AS (
   SELECT src, dst FROM edges
   UNION
   SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
 )
SELECT node AS doc_id, least(node, min(r)) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id"""
)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/C4 protocol): flag training docs
    sharing any 8-token n-gram with a benchmark table (here: the docs
    with doc_id % 100 == 0 stand in for an eval set).  Reports
    (doc_id, n_hits) per contaminated doc — the drop is never silent."""
    from websearchengine_spark.operators.dedup import ngram_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 100 == 0).select("text")
    _clean, flagged = ngram_decontaminate(docs, bench, n=8)
    return flagged.orderBy("doc_id")


SQL_DECONTAMINATE = """
WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                       t -> t <> '') AS toks
            FROM documents),
 grams AS (SELECT doc_id, array_to_string(toks[i : i + 7], ' ') AS gram
           FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
                 FROM tk)),
 bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM grams g JOIN bench USING (gram)
GROUP BY g.doc_id ORDER BY g.doc_id"""


SPELL_TARGET = "strem"  # misspelling of 'stream' (in the documents vocab)
_SPELL_FREQ_GATE = 100


def q_spell_candidates(spark, sf_dir):
    """Q3/F2-F4 (IndexerInvertedOccurrence.java:660-911) via
    spell.token_candidates: candidates for one misspelled token through
    ALL the reference gates — shared char-bigram positions, |len
    diff|<3, all-alphabetic, edit distance <=1, frequency gate
    (posting-list length = 2*ctf), top-2 by freq.  The target itself is
    not a candidate row; freq is read back from term_stats."""
    from websearchengine_spark.operators.spell import token_candidates
    from websearchengine_spark.sources.storage import IndexStorage

    store = IndexStorage.open(_index_for(spark, sf_dir))
    alts = [
        t
        for t in token_candidates(spark, store, SPELL_TARGET, _SPELL_FREQ_GATE)
        if t != SPELL_TARGET
    ]
    return (
        store.read_table(spark, "term_stats")
        .filter(F.col("term").isin(alts))
        .select("term", (2 * F.col("ctf")).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
    )


_SPELL_BIGRAM_VALUES = ", ".join(
    f"({i}, '{SPELL_TARGET[i:i+2]}')" for i in range(len(SPELL_TARGET) - 1)
)
# One shared definition of the bigram-match gate for BOTH the Spark query
# and the oracle — interpolated into the SQL so changing SPELL_TARGET
# can't desynchronize them (reference: SpellCorrector boundary rule).
_SPELL_MATCH_BOUNDARY = 1 if len(SPELL_TARGET) <= 5 else 2

SQL_SPELL_CANDIDATES = (
    _TOKS_CTE
    + f""",
 vocab AS (SELECT term, CAST(2 * count(*) AS BIGINT) AS freq
           FROM toks GROUP BY term),
 tb(pos, bigram) AS (VALUES {_SPELL_BIGRAM_VALUES}),
 vbi AS (SELECT term, freq,
                unnest(generate_series(1, greatest(length(term) - 1, 1))) AS i
         FROM vocab),
 cb AS (SELECT DISTINCT v.term, v.freq, tb.pos
        FROM vbi v JOIN tb ON substr(v.term, CAST(v.i AS INT), 2) = tb.bigram),
 m AS (SELECT term, freq, count(DISTINCT pos) AS matches
       FROM cb GROUP BY term, freq)
 SELECT term, freq FROM m
 WHERE matches >= {_SPELL_MATCH_BOUNDARY}
   AND abs(length(term) - {len(SPELL_TARGET)}) < 3
   AND term <> '{SPELL_TARGET}'
   AND regexp_matches(term, '^[a-zA-Z]+$')
   AND levenshtein(term, '{SPELL_TARGET}') <= 1
   AND freq > {_SPELL_FREQ_GATE}
 ORDER BY freq DESC, term LIMIT 2"""
)


def q_eval_metrics(spark, sf_dir):
    """E2 (Evaluator.java:107-259) through the REAL evalx operator:
    ranked list = top-10 docs by (doc_len desc, doc_id asc); judgments
    derived deterministically from doc_id (doc_id%7 -> grade scale)."""
    from websearchengine_spark.operators.evalx import evaluate_query

    ranked = [
        r["doc_id"]
        for r in q_doc_len(spark, sf_dir)
        .orderBy(F.desc("doc_len"), F.asc("doc_id"))
        .limit(10)
        .collect()
    ]
    grades = {0: 10.0, 1: 7.0, 2: 5.0, 3: 1.0, 4: 0.0}
    judgments = {
        r["doc_id"]: grades[r["doc_id"] % 7]
        for r in _docs(spark, sf_dir).select("doc_id").collect()
        if r["doc_id"] % 7 in grades
    }
    m = evaluate_query(ranked, judgments)
    row = [
        (
            round(m["P@5"], 6),
            round(m["R@5"], 6),
            round(m["MAP"], 6),
            round(m["MRR"], 6),
            round(m["NDCG@10"], 6),
        )
    ]
    return spark.createDataFrame(
        row, "p5 double, r5 double, map double, mrr double, ndcg10 double"
    )


SQL_EVAL_METRICS = (
    _TOKS_CTE
    + f""",
 dl AS ({SQL_DOC_LEN}),
 ranked AS (SELECT doc_id,
                   row_number() OVER (ORDER BY doc_len DESC, doc_id) AS n
            FROM dl ORDER BY doc_len DESC, doc_id LIMIT 10),
 j AS (SELECT doc_id,
              CASE doc_id % 7 WHEN 0 THEN 10.0 WHEN 1 THEN 7.0
                   WHEN 2 THEN 5.0 WHEN 3 THEN 1.0 WHEN 4 THEN 0.0 END AS g
       FROM documents WHERE doc_id % 7 <= 4),
 mrel AS (SELECT count(*) AS m FROM j WHERE g > 1.0),
 rj AS (SELECT r.n, j.g FROM ranked r LEFT JOIN j USING (doc_id)),
 acc AS (SELECT n, g,
                sum(CASE WHEN g > 1.0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY n) AS rr
         FROM rj),
 tot AS (SELECT max(rr) AS rr10,
                sum(CASE WHEN g > 1.0 THEN rr * 1.0 / n ELSE 0 END) AS ap,
                min(CASE WHEN g > 1.0 THEN n END) AS first_rel,
                sum(CASE WHEN g IS NOT NULL AND n <= 10
                         THEN g * ln(2) / ln(n + 1) ELSE 0 END) AS dcg10,
                max(CASE WHEN n = 5 THEN rr END) AS rr5
         FROM acc),
 ig AS (SELECT g, row_number() OVER (ORDER BY g DESC) AS i FROM j),
 idcg AS (SELECT sum(g * ln(2) / ln(i + 1)) AS v
          FROM ig CROSS JOIN mrel WHERE i <= least(mrel.m, 10))
 SELECT round(rr5 / 5.0, 6) AS p5,
        round(rr5 * 1.0 / mrel.m, 6) AS r5,
        round(CASE WHEN rr10 > 0 THEN ap / rr10 ELSE 0 END, 6) AS map,
        round(CASE WHEN first_rel IS NULL THEN 0.0
                   ELSE 1.0 / first_rel END, 6) AS mrr,
        round(CASE WHEN idcg.v > 0 THEN dcg10 / idcg.v ELSE 0 END, 6) AS ndcg10
 FROM tot CROSS JOIN mrel CROSS JOIN idcg"""
)


def q_favorite_topk(spark, sf_dir):
    """R2 (RankerFavorite.java:31-59): exp(QL_JM(0.5)) over conjunctive
    candidates — no static signals (query.run_query(ranker="favorite"))."""
    from websearchengine_spark.operators.query import run_query

    root = _index_for(spark, sf_dir)
    q = " ".join(QL_TERMS)
    return _rounded_top20(
        spark, lambda k: run_query(spark, root, q, ranker="favorite", k=k), digits=9
    )


SQL_FAVORITE_TOPK = (
    _TOKS_CTE
    + f""",
 dl AS ({SQL_DOC_LEN}),
 st AS (SELECT CAST(sum(doc_len) AS BIGINT) AS total_tf FROM dl),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('data','stream') GROUP BY doc_id, term),
 ctfs AS (SELECT term, count(*) AS ctf FROM toks
          WHERE term IN ('data','stream') GROUP BY term),
 cand AS ({_sql_conjunctive(QL_TERMS)})
 SELECT tf.doc_id,
        round(exp(sum(ln(0.5*tf.tf/dl.doc_len + 0.5*ctfs.ctf/st.total_tf))), 9)
            AS score
 FROM tf JOIN cand ON tf.doc_id = cand.doc_id
      JOIN ctfs ON tf.term = ctfs.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN st
 GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20"""
)


_FS_TERMS = ["data", "stream"]


@contextmanager
def _fullscan_prep(spark, sf_dir, title):
    """prepare_fullscan over documents mapped to the fullscan corpus
    shape: (doc_id, title, body = raw text, numviews = doc_id % 100).
    The frames it caches are released on exit."""
    from websearchengine_spark.operators.fullscan import prepare_fullscan

    prep = prepare_fullscan(
        _docs(spark, sf_dir).select(
            "doc_id",
            title.alias("title"),
            F.col("text").alias("body"),
            (F.col("doc_id") % 100).alias("numviews"),
        )
    )
    try:
        yield prep
    finally:
        for v in prep.values():
            if isinstance(v, DataFrame):
                v.unpersist()


def _fullscan_top20(spark, sf_dir, ranker, col, scale=1.0):
    """Top-20 of a fullscan ranker (fullscan.run_fullscan_query) with an
    empty title, on the oracle's rounded ``score * scale`` key."""
    from websearchengine_spark.operators.fullscan import run_fullscan_query

    q = " ".join(_FS_TERMS)
    with _fullscan_prep(spark, sf_dir, F.lit("")) as prep:
        return _rounded_top20(
            spark, lambda k: run_fullscan_query(spark, prep, q, ranker, k=k),
            col=col, scale=scale,
        )


def q_linear_fullscan(spark, sf_dir):
    """R7 linear (SignalFactory.java:182-222,
    fullscan.score_linear_fullscan): 1.0*cosine + 10.0*ql +
    0.001*phrase + 0.01*ln(nv+1) over a fullscan corpus mapped from
    documents (body=RAW whitespace tokens — the reference does not
    lowercase in fullscan mode; nv := doc_id % 100).

    cosine is the R5 query-counted-as-document variant: query
    occurrences bump df (idf_adj = ln(n/(df+qtf))+1 for shared terms),
    doc/query norms corrected by overlap deltas."""
    return _fullscan_top20(spark, sf_dir, "linear", "score")


SQL_LINEAR_FULLSCAN = """
WITH base AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
 t AS (SELECT doc_id, unnest(toks) AS term FROM base),
 dl AS (SELECT doc_id, len(toks) AS body_len FROM base),
 st AS (SELECT (SELECT count(*) FROM documents) + 1.0 AS n,
               (SELECT sum(body_len) FROM dl) * 1.0 AS total),
 ts AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ctf
        FROM t GROUP BY term),
 q(term) AS (VALUES ('data'), ('stream')),
 qd AS (SELECT q.term, ts.ctf * 1.0 AS ctf,
               pow(ln(st.n / (ts.df + 1.0)) + 1, 2) AS adj2,
               pow(ln(st.n / ts.df) + 1, 2) AS base2,
               pow(ln(st.n) + 1, 2) AS qonly2
        FROM q JOIN ts USING (term) CROSS JOIN st),
 qb AS (SELECT sum(ln(0.5 * ctf / st.total)) AS ql_base,
               sum(qonly2) AS qnorm2_base
        FROM qd CROSS JOIN st),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
 n2 AS (SELECT tf.doc_id,
               sum(tf.tf * tf.tf * pow(ln(st.n / ts.df) + 1, 2)) AS norm2_base
        FROM tf JOIN ts USING (term) CROSS JOIN st GROUP BY tf.doc_id),
 ov AS (SELECT tf.doc_id,
               sum(tf.tf * qd.adj2) AS num,
               sum(tf.tf * tf.tf * (qd.adj2 - qd.base2)) AS dnd,
               sum(qd.adj2 - qd.qonly2) AS qnd,
               sum(ln(0.5 * tf.tf / dl.body_len + 0.5 * qd.ctf / st.total)
                   - ln(0.5 * qd.ctf / st.total)) AS ql_adj
        FROM tf JOIN qd USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        GROUP BY tf.doc_id),
 grams AS (SELECT doc_id, toks[i] || toks[i + 1] AS g
           FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM base WHERE len(toks) > 1)),
 ph AS (SELECT doc_id, count(*) AS phc FROM grams
        WHERE g = 'datastream' GROUP BY doc_id)
SELECT dl.doc_id,
       round(CASE WHEN ov.num IS NOT NULL THEN
                 ov.num / (sqrt(qb.qnorm2_base + coalesce(ov.qnd, 0))
                           * sqrt(coalesce(n2.norm2_base, 0)
                                  + coalesce(ov.dnd, 0)))
             ELSE 0 END
             + 10.0 * exp(qb.ql_base + coalesce(ov.ql_adj, 0))
             + 0.001 * coalesce(ph.phc, 0)
             + 0.01 * ln(dl.doc_id % 100 + 1.0), 6) AS score
FROM dl LEFT JOIN n2 USING (doc_id) LEFT JOIN ov USING (doc_id)
     LEFT JOIN ph USING (doc_id) CROSS JOIN qb
ORDER BY score DESC, doc_id LIMIT 20"""


def q_page_summary(spark, sf_dir):
    """/page_summary (QueryHandler.java:365-376, query.page_summary):
    first <=50 position-ordered terms of doc 42."""
    from websearchengine_spark.operators.query import page_summary

    return page_summary(spark, _index_for(spark, sf_dir), 42).select(
        F.col("pos").cast("long").alias("pos"), "term"
    )


SQL_PAGE_SUMMARY = """
WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     x -> x <> '')) AS term,
                  generate_subscripts(list_filter(regexp_split_to_array(
                      lower(text), '\\s+'), x -> x <> ''), 1) AS i
           FROM documents WHERE doc_id = 42)
SELECT CAST(i - 1 AS BIGINT) AS pos, term FROM t WHERE i <= 50 ORDER BY pos"""


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, hamming <= 2, via the REAL banded-join
    operator (dedup.simhash_duplicate_pairs) — oracle is brute-force."""
    from websearchengine_spark.operators.dedup import simhash_duplicate_pairs

    return (
        simhash_duplicate_pairs(_docs(spark, sf_dir), bits=16, max_hamming=2)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


SQL_SIMHASH_PAIRS = (
    _TOKS_CTE
    + """,
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
 bits AS (SELECT doc_id, g.b,
                 sum(tf * CASE WHEN substr(md5(term), g.b + 1, 1) IN
                     ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s
          FROM tf CROSS JOIN generate_series(0, 15) g(b)
          GROUP BY doc_id, g.b),
 sh AS (SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END) AS BIGINT)
                   AS sim
        FROM bits GROUP BY doc_id)
 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
 FROM sh a JOIN sh b ON a.doc_id < b.doc_id
 WHERE bit_count(xor(a.sim, b.sim)) <= 2
 ORDER BY doc_a, doc_b"""
)


# --------------------------------------------------------------------------
# Full engine path (index build + block-max WAND) — SQL-oracled because the
# whitespace analyzer makes the token stream SQL-reproducible
# --------------------------------------------------------------------------

_INDEX_CACHE: dict[str, str] = {}
_DOCONLY_INDEX_CACHE: dict[str, str] = {}


def _ship_package(spark) -> None:
    """Ship the package zip to the executors (index build and WAND run
    Python UDFs there)."""
    from websearchengine_spark.session import make_pyfiles_zip

    try:
        spark.sparkContext.addPyFile(make_pyfiles_zip())
    except Exception:
        pass


def _doc_url():
    """doc_id -> zero-padded url, so rank-of-url doc_id assignment gives
    back the documents table's doc_id."""
    return F.concat(F.lit("doc"), F.lpad(F.col("doc_id").cast("string"), 9, "0"))


def _build_entry_index(
    spark, sf_dir: str, cache: dict, prefix: str, **build_kwargs
) -> str:
    """Build (once per sf_dir per cache) a whitespace-analyzer index over
    the documents table; doc_id assignment is rank-of-url = the original
    doc_id, so results align with the SQL oracles over documents."""
    import tempfile

    root = cache.get(sf_dir)
    if root and os.path.exists(os.path.join(root, "_manifest.json")):
        return root
    from websearchengine_spark.operators.build import build_index

    _ship_package(spark)
    root = tempfile.mkdtemp(prefix=prefix)
    pages = _docs(spark, sf_dir).select(_doc_url().alias("url"), "text")
    build_index(
        spark, pages, root, n_shards=8, n_groups=2, analyzer="whitespace",
        **build_kwargs,
    )
    cache[sf_dir] = root
    return root


def _index_for(spark, sf_dir: str) -> str:
    """The shared entry index: forward tables for PRF (doc_terms) and
    next-word / page summary (doc_tokens), and signals pagerank 0.0,
    numviews doc_id % 100 (the nv rule of the SQL oracles).  BM25 reads
    none of these."""
    signals = _docs(spark, sf_dir).select(
        _doc_url().alias("url"),
        F.lit(0.0).alias("pagerank"),
        (F.col("doc_id") % 100).alias("numviews"),
    )
    return _build_entry_index(
        spark, sf_dir, _INDEX_CACHE, "wse_entry_idx_",
        keep_doc_terms=True, keep_doc_tokens=True, signals=signals,
    )


def _wand_rounded_top20(spark, root: str):
    """WAND BM25 top-20 on the ROUNDED-score key the oracle orders by."""
    from websearchengine_spark.operators.topk import wand_topk

    q = " ".join(QUERY_TERMS)
    return _rounded_top20(spark, lambda k: wand_topk(spark, root, q, k=k))


def q_bm25_index_path(spark, sf_dir):
    """The REAL engine: build (varbyte blocks, doc-sharded) + WAND top-20."""
    return _wand_rounded_top20(spark, _index_for(spark, sf_dir))


SQL_BM25_INDEX_PATH = SQL_BM25_TOPK  # identical semantics by construction


def q_bm25_doconly_path(spark, sf_dir):
    """The positionless build path (build_index(positions=False) —
    doconly-style blocks, IndexerInvertedDoconly.java:140-147): BM25
    top-20 must equal the positional index's, since plain conjunctive
    BM25 never reads positions.  Oracle = the same SQL_BM25_TOPK."""
    root = _build_entry_index(
        spark, sf_dir, _DOCONLY_INDEX_CACHE, "wse_entry_idx_doconly_",
        keep_doc_terms=False, positions=False,
    )
    return _wand_rounded_top20(spark, root)


SQL_BM25_DOCONLY_PATH = SQL_BM25_TOPK  # positionless index, same ranking


_LIVE_INDEX_CACHE: dict[str, str] = {}


def _live_index_for(spark, sf_dir: str) -> str:
    """Streaming-incremental (LSM) index over documents: the corpus is
    split at a shard-multiple url-rank cut and ingested as TWO
    micro-batches (streaming/ingest.py::apply_pages_batch), producing a
    live root with two delta segments and NO full-corpus build.  The cut
    being a multiple of n_shards makes the live global doc_id space
    identical to a from-scratch build's (merge.doc_id_offsets), so the
    full-corpus SQL oracle applies unchanged."""
    import tempfile

    root = _LIVE_INDEX_CACHE.get(sf_dir)
    if root and os.path.exists(os.path.join(root, "_live.json")):
        return root
    from websearchengine_spark.streaming.ingest import apply_pages_batch

    _ship_package(spark)
    root = tempfile.mkdtemp(prefix="wse_entry_live_")
    docs = _docs(spark, sf_dir)
    cut = (docs.count() // 2) // 8 * 8
    pages = docs.select("doc_id", _doc_url().alias("url"), "text")
    batches = [
        pages.filter(F.col("doc_id") < cut),
        pages.filter(F.col("doc_id") >= cut),
    ]
    for i, part in enumerate(batches):
        apply_pages_batch(
            spark, part.drop("doc_id"), i, root,
            n_shards=8, n_groups=2, analyzer="whitespace", keep_doc_terms=False,
        )
    _LIVE_INDEX_CACHE[sf_dir] = root
    return root


def q_live_bm25_top20(spark, sf_dir):
    """Incremental == batch, driver-gated: BM25 WAND top-20 via
    search_live over two streaming delta segments scored with union
    statistics — must hash-match the SAME oracle as the from-scratch
    index build (SQL_BM25_TOPK), proving LSM maintenance never changes
    results."""
    from websearchengine_spark.streaming.ingest import search_live

    root = _live_index_for(spark, sf_dir)
    q = " ".join(QUERY_TERMS)
    return _rounded_top20(spark, lambda k: search_live(spark, root, q, k=k))


SQL_LIVE_BM25_TOP20 = SQL_BM25_TOPK  # live segments reproduce the batch build


_RECRAWL_PREFIX = "recrawl fresh data stream join probe v"
_LIVE_RECRAWL_CACHE: dict[str, str] = {}


def _live_recrawl_root(spark, sf_dir: str) -> str:
    """Live root exercising the UPSERT path: batch 0 ingests the whole
    documents corpus; batch 1 RE-CRAWLS the last quarter (doc_id >=
    3n/4) with replacement text; compact_live physically drops the
    superseded versions and corrects the statistics.  The replacement
    text is SQL-reproducible so the oracle can rebuild the latest-
    version corpus in a CTE."""
    import tempfile

    root = _LIVE_RECRAWL_CACHE.get(sf_dir)
    if root and os.path.exists(os.path.join(root, "_live.json")):
        return root
    from websearchengine_spark.streaming.ingest import (
        apply_pages_batch,
        compact_live,
    )

    _ship_package(spark)
    root = tempfile.mkdtemp(prefix="wse_entry_recrawl_")
    docs = _docs(spark, sf_dir)
    cut = docs.count() * 3 // 4
    url = _doc_url().alias("url")
    apply_pages_batch(
        spark, docs.select(url, "text"), 0, root,
        n_shards=8, n_groups=2, analyzer="whitespace", keep_doc_terms=False,
    )
    recrawl = docs.filter(F.col("doc_id") >= cut).select(
        url,
        F.concat(
            F.lit(_RECRAWL_PREFIX), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    apply_pages_batch(spark, recrawl, 1, root)
    compact_live(spark, root)
    _LIVE_RECRAWL_CACHE[sf_dir] = root
    return root


def q_live_recrawl_bm25_top20(spark, sf_dir):
    """Upsert == rebuild, driver-gated: after a re-crawl batch replaces
    the last quarter's text and compaction drops the superseded docs,
    BM25 top-20 must hash-match the oracle computed over the LATEST-
    version corpus (a CASE CTE over documents).  Returned ids map from
    the live id space back to url-rank ids via the url (the stable
    key); ordering re-pins (rounded score desc, url-rank id asc)."""
    from websearchengine_spark.streaming.ingest import search_live

    root = _live_recrawl_root(spark, sf_dir)
    q = " ".join(QUERY_TERMS)
    return _rounded_top20(
        spark,
        lambda k: search_live(spark, root, q, k=k).select(
            F.col("url").substr(4, 9).cast("long").alias("doc_id"), "score"
        ),
    )


SQL_LIVE_RECRAWL_BM25_TOP20 = (
    "WITH latest AS (SELECT doc_id, CASE WHEN doc_id >= "
    "(SELECT count(*) * 3 // 4 FROM documents) "
    f"THEN '{_RECRAWL_PREFIX}' || CAST(doc_id AS VARCHAR) "
    "ELSE text END AS text FROM documents), "
    + SQL_BM25_TOPK.replace("WITH toks", "toks").replace(
        "FROM documents", "FROM latest"
    )
)


# --------------------------------------------------------------------------
# Round-5 training-data-pipeline entries: Gopher filters, PII, hash split
# --------------------------------------------------------------------------

# The sf documents have single-line digit-free text, so these entries
# DERIVE richer text deterministically from (text, doc_id) — identically
# on both engines — to make the line/PII features non-trivial at gate SF.


def _gopher_text_spark():
    t = F.col("text")
    t = F.replace(t, F.lit(" scan "), F.lit("\nscan\n"))
    t = F.replace(t, F.lit(" fast "), F.lit("\n- fast "))
    t = F.replace(t, F.lit(" slow "), F.lit(" slow...\n"))
    return t


_GOPHER_TEXT_SQL = (
    "replace(replace(replace(text, ' scan ', chr(10) || 'scan' || chr(10)), "
    "' fast ', chr(10) || '- fast '), ' slow ', ' slow...' || chr(10))"
)


def q_gopher_quality(spark, sf_dir):
    """Gopher-style repetition/quality filter features (Rae et al. 2021
    A1 family) over documents with deterministically planted structure
    (newlines, bullets, ellipses) so every feature is exercised."""
    from websearchengine_spark.operators.textstats import gopher_stats

    docs = _docs(spark, sf_dir).select("doc_id", _gopher_text_spark().alias("text"))
    return gopher_stats(docs).orderBy("doc_id")


SQL_GOPHER_QUALITY = f"""
WITH g AS (SELECT doc_id, {_GOPHER_TEXT_SQL} AS text FROM documents),
 base AS (SELECT doc_id, text,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks,
    list_filter(string_split(text, chr(10)), l -> l <> '') AS lines
  FROM g),
 feat AS (SELECT doc_id, toks,
    len(toks) AS n_words,
    coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS word_chars,
    len(lines) AS n_lines,
    len(list_distinct(lines)) AS n_distinct_lines,
    coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
      - coalesce(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0)
      AS dup_line_chars,
    coalesce(list_sum(list_transform(lines, l -> length(l))), 0) AS line_chars,
    (length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '...', ''))) / 3 AS symbols,
    len(list_filter(lines, l -> substr(l, 1, 2) IN ('- ', '* '))) AS bullet_lines,
    len(list_filter(lines, l -> ends_with(l, '...'))) AS ellipsis_lines
  FROM base),
 grams AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1]) ELSE [] END) AS gram
  FROM feat),
 gc AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram),
 topg AS (SELECT doc_id, cnt AS top_cnt, length(gram) - 1 AS top_gram_chars
  FROM (SELECT doc_id, gram, cnt,
          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
        FROM gc) WHERE rn = 1),
 u AS (SELECT f.doc_id, f.n_words,
    word_chars * 1.0 / greatest(n_words, 1) AS mean_word_len,
    f.n_lines,
    (n_lines - n_distinct_lines) * 1.0 / greatest(n_lines, 1) AS dup_line_frac,
    dup_line_chars * 1.0 / greatest(line_chars, 1) AS dup_line_char_frac,
    coalesce(top_cnt * top_gram_chars * 1.0 / greatest(word_chars, 1), 0.0)
      AS top_2gram_char_frac,
    symbols / greatest(n_words, 1) AS symbol_word_ratio,
    bullet_lines * 1.0 / greatest(n_lines, 1) AS bullet_line_frac,
    ellipsis_lines * 1.0 / greatest(n_lines, 1) AS ellipsis_line_frac
  FROM feat f LEFT JOIN topg ON f.doc_id = topg.doc_id)
SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len, n_lines,
  round(dup_line_frac, 6) AS dup_line_frac,
  round(dup_line_char_frac, 6) AS dup_line_char_frac,
  round(top_2gram_char_frac, 6) AS top_2gram_char_frac,
  round(symbol_word_ratio, 6) AS symbol_word_ratio,
  round(bullet_line_frac, 6) AS bullet_line_frac,
  round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
  CASE WHEN n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3 AND 10
        AND symbol_word_ratio <= 0.1
        AND dup_line_frac <= 0.3
        AND top_2gram_char_frac <= 0.2
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
   THEN 1 ELSE 0 END AS gopher_pass
FROM u ORDER BY doc_id
"""


def _pii_text_spark():
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".0.1 call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("-9876 bye"),
    )


_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.' "
    "|| CAST(doc_id % 250 AS VARCHAR) || '.0.1 call 555-01' "
    "|| lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-9876 bye'"
)


def q_pii_redact(spark, sf_dir):
    """C4-style PII scrub (emails -> IPv4 -> phone runs) over documents
    with a deterministic per-doc PII suffix; value-hash compares the
    redacted text via md5 so every replacement position matters."""
    from websearchengine_spark.operators.textstats import pii_redact

    docs = _docs(spark, sf_dir).select("doc_id", _pii_text_spark().alias("text"))
    out = pii_redact(docs)
    return out.select(
        "doc_id", "n_emails", "n_ipv4", "n_phones",
        F.md5(F.encode("redacted", "UTF-8")).alias("redacted_md5"),
    ).orderBy("doc_id")


def _sql_pii() -> str:
    from websearchengine_spark.operators.textstats import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
WITH p AS (SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents),
 s1 AS (SELECT doc_id,
    len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
    regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1 FROM p),
 s2 AS (SELECT doc_id, n_emails,
    len(regexp_extract_all(t1, '{IPV4_RE}')) AS n_ipv4,
    regexp_replace(t1, '{IPV4_RE}', '<IP>', 'g') AS t2 FROM s1),
 s3 AS (SELECT doc_id, n_emails, n_ipv4,
    len(regexp_extract_all(t2, '{PHONE_RE}')) AS n_phones,
    regexp_replace(t2, '{PHONE_RE}', '<PHONE>', 'g') AS t3 FROM s2)
SELECT doc_id, n_emails, n_ipv4, n_phones, md5(t3) AS redacted_md5
FROM s3 ORDER BY doc_id
"""


SQL_PII_REDACT = _sql_pii()


def q_hash_split(spark, sf_dir):
    """Deterministic md5-bucket train/val/test split by doc_id."""
    from websearchengine_spark.operators.textstats import hash_split

    return hash_split(_docs(spark, sf_dir)).orderBy("doc_id")


SQL_HASH_SPLIT = """
SELECT doc_id,
  CAST(('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
    AS bucket,
  CASE WHEN CAST(('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
       WHEN CAST(('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val'
       ELSE 'test' END AS split
FROM documents ORDER BY doc_id
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over embeddings ∪ exact copies of
    every 5th vector (shifted ids) — the synthetic embeddings are
    near-orthogonal (max organic cosine ≈0.49), so the planted copies
    are exactly the near-dup set and exercise the drop logic with a wide
    margin from the 0.9 threshold.  Centroids = residue-class means
    rounded to 6dp (the IVF oracle mode); round_dots/round_cos=6 keep
    the argmax and threshold compares ulp-immune cross-engine."""
    from websearchengine_spark.operators.similarity import (
        ivf_build_centroids,
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # +100000 offset mirrors the SQL literal; collision-free because the
    # driver SFs top out at 5,000 vectors (bench/llmpipe.py asserts it)
    copies = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    cents = ivf_build_centroids(emb, nlist=_IVF_NLIST)
    cents = [[round(float(x), 6) for x in c] for c in cents]
    return semantic_dedup(
        emb.unionByName(copies), cents, threshold=0.9, round_dots=6, round_cos=6
    ).orderBy("vec_id")


SQL_SEMANTIC_DEDUP = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
 e AS (SELECT * FROM base
       UNION ALL SELECT vec_id + 100000, v FROM base WHERE vec_id % 5 = 0),
 cent AS (SELECT vec_id % {_IVF_NLIST} AS c, {_IVF_CENT_COLS}
          FROM base GROUP BY 1),
 centv AS (SELECT c, {_IVF_CENT_LIST} AS cv FROM cent),
 ass AS (SELECT e.vec_id, e.v,
           (SELECT c FROM centv
            ORDER BY round(list_dot_product(centv.cv, e.v), 6) DESC, c
            LIMIT 1) AS list_id
         FROM e),
 dropped AS (SELECT DISTINCT b.vec_id
   FROM ass a JOIN ass b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
   WHERE round(list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9)
SELECT ass.vec_id, CAST(list_id AS INT) AS list_id,
       ass.vec_id NOT IN (SELECT vec_id FROM dropped) AS keep
FROM ass ORDER BY vec_id"""


def _bp_text_spark():
    """Plant newline structure so corpus-level boilerplate lines exist:
    every ' scan ' / ' join ' occurrence becomes its own line shared
    across documents (mirrored in _BP_TEXT_SQL)."""
    t = F.col("text")
    t = F.replace(t, F.lit(" scan "), F.lit("\nscan line\n"))
    t = F.replace(t, F.lit(" join "), F.lit("\njoin line\n"))
    return t


_BP_TEXT_SQL = (
    "replace(replace(text, ' scan ', chr(10) || 'scan line' || chr(10)), "
    "' join ', chr(10) || 'join line' || chr(10))"
)
_BP_MIN_DOCS = 10


def q_strip_boilerplate(spark, sf_dir):
    """RefinedWeb/CCNet-style boilerplate line removal: lines appearing
    in >= 10 distinct docs are stripped, remaining lines keep original
    order.  md5 of the rebuilt text keeps the value-hash compact."""
    from websearchengine_spark.operators.textstats import strip_boilerplate

    docs = _docs(spark, sf_dir).select("doc_id", _bp_text_spark().alias("text"))
    return (
        strip_boilerplate(docs, min_docs=_BP_MIN_DOCS)
        .select(
            "doc_id",
            F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
            "n_removed",
        )
        .orderBy("doc_id")
    )


SQL_STRIP_BOILERPLATE = f"""
WITH g AS (SELECT doc_id, {_BP_TEXT_SQL} AS text FROM documents),
 l AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
      (x, i) -> struct_pack(pos := i, line := x))) AS u FROM g)),
 bp AS (SELECT line AS bpline FROM l WHERE line <> ''
        GROUP BY line HAVING count(DISTINCT doc_id) >= {_BP_MIN_DOCS}),
 m AS (SELECT l.doc_id, l.pos, l.line, bp.bpline IS NOT NULL AS isbp
       FROM l LEFT JOIN bp ON l.line = bp.bpline)
SELECT doc_id,
  md5(coalesce(string_agg(CASE WHEN NOT isbp THEN line END,
                          chr(10) ORDER BY pos), '')) AS text_md5,
  CAST(sum(CASE WHEN isbp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM m GROUP BY doc_id ORDER BY doc_id"""


def _url_spark():
    """Deterministic URL synthesis from doc_id (documents carry no url
    column): varies scheme case, default port, trailing slash, tracking
    params, and fragments so every normalize_url rule collapses at
    least one group (mirrored in SQL_URL_DEDUP's u CTE)."""
    d = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    return F.concat(
        F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("http://")),
        F.lit("Host"), s(d % 7), F.lit(".COM"),
        F.when(d % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p"), s(d % 5),
        F.when(d % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=x&id="), s(d % 11)))
        .when(d % 4 == 1, F.concat(F.lit("?id="), s(d % 11), F.lit("&fbclid=z")))
        .when(d % 4 == 2, F.concat(F.lit("?id="), s(d % 11)))
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_url_dedup(spark, sf_dir):
    """URL-level dedup (the first stage of every web-corpus pipeline):
    normalize scheme/host case, default ports, trailing slash, tracking
    params, fragments -> group, count, elect smallest doc_id."""
    from websearchengine_spark.operators.textstats import url_dedup

    docs = _docs(spark, sf_dir).select("doc_id", _url_spark().alias("url"))
    return url_dedup(docs).orderBy("norm_url")


SQL_URL_DEDUP = r"""
WITH u AS (SELECT doc_id,
   (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
   || 'Host' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
   || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
   || '/p' || CAST(doc_id % 5 AS VARCHAR)
   || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
   || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&id=' || CAST(doc_id % 11 AS VARCHAR)
            WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id % 11 AS VARCHAR) || '&fbclid=z'
            WHEN doc_id % 4 = 2 THEN '?id=' || CAST(doc_id % 11 AS VARCHAR)
            ELSE '' END)
   || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents),
 n1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS s FROM u),
 n2 AS (SELECT doc_id, s,
        regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*') AS head FROM n1),
 n3 AS (SELECT doc_id,
    CASE WHEN starts_with(lower(head), 'http://')
           THEN regexp_replace(lower(head), ':80$', '')
         WHEN starts_with(lower(head), 'https://')
           THEN regexp_replace(lower(head), ':443$', '')
         ELSE lower(head) END AS head_n,
    substr(s, length(head) + 1) AS rest FROM n2),
 n4 AS (SELECT doc_id, head_n,
    regexp_replace(regexp_extract(rest, '^[^?]*'), '/$', '') AS path_n,
    regexp_extract(rest, '\?(.*)$', 1) AS qs FROM n3),
 n5 AS (SELECT doc_id, head_n, path_n,
    array_to_string(list_filter(string_split(qs, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid)(=|$)')), '&') AS q_n
  FROM n4)
SELECT head_n || path_n
       || (CASE WHEN q_n <> '' THEN '?' || q_n ELSE '' END) AS norm_url,
       count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM n5 GROUP BY 1 ORDER BY norm_url"""


def q_scrub_repeated(spark, sf_dir):
    """Lee-et-al-style repeated-window scrub: 8-token windows occurring
    >= 2 times across the corpus are removed from every document (~45
    of 500 docs affected at the driver SFs — a non-trivial mix).  md5
    of the rebuilt token stream keeps the value hash compact."""
    from websearchengine_spark.operators.dedup import scrub_repeated_ngrams

    out = scrub_repeated_ngrams(
        _docs(spark, sf_dir).select("doc_id", "text"), n=8, min_count=2
    )
    return out.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        "n_removed",
    ).orderBy("doc_id")


SQL_SCRUB_REPEATED = r"""
WITH base AS (SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
  FROM documents),
 g AS (SELECT doc_id, u.start AS start, u.gram AS gram FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
      i -> struct_pack(start := i,
             gram := lower(array_to_string(toks[i:i+7], ' '))))) AS u
    FROM base)),
 rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
 cov0 AS (SELECT doc_id, unnest(generate_series(start, start + 7)) AS pos
          FROM g JOIN rep USING (gram)),
 cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
 t AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
    SELECT doc_id, unnest(list_transform(toks,
      (x, i) -> struct_pack(pos := i, tok := x))) AS u FROM base)),
 m AS (SELECT t.doc_id, t.pos, t.tok, cov.pos IS NOT NULL AS isc
       FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
 agg AS (SELECT doc_id,
      string_agg(CASE WHEN NOT isc THEN tok END, ' ' ORDER BY pos) AS txt,
      CAST(sum(CASE WHEN isc THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM m GROUP BY doc_id)
SELECT b.doc_id, md5(coalesce(a.txt, '')) AS text_md5,
       CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id"""


def _clean_text_spark():
    """Deterministic per-doc text for the clean_corpus entry, planting
    every pipeline stage's trigger: exact-dup pairs keyed by doc_id//2
    (ids 20m+6 / 20m+7 share a 60-word synthetic body — exactly TWO
    copies, below the scrub's min_count=3, so the pair survives the
    repeated-window scrub and is caught by the exact near-dup stage
    AFTER redaction+stripping equalize the docs); tiny quality-fail
    docs at doc_id%10==9; a corpus-wide boilerplate line at doc_id%3==0;
    a per-doc PII suffix on every doc (redaction-equalized)."""
    d = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    dup_body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.concat(F.lit("w"), s(F.floor(d / 2)), F.lit("x"), s(i)),
        ),
    )
    base = (
        F.when((d % 20).isin(6, 7), dup_body)
        .when(d % 10 == 9, F.concat(F.lit("tiny doc "), s(d)))
        .otherwise(F.col("text"))
    )
    pii = F.concat(
        F.lit(" contact user"), s(d), F.lit("@example.com from 10."),
        s(d % 250), F.lit(".0.1 call 555-01"),
        F.lpad(s(d % 100), 2, "0"), F.lit("-9876 bye"),
    )
    bp = F.when(d % 3 == 0, F.lit("\nSubscribe to our newsletter today")).otherwise(
        F.lit("")
    )
    return F.concat(base, pii, bp)


def q_clean_corpus(spark, sf_dir):
    """The WHOLE cleaning pipeline in one call — URL dedup -> PII
    redact -> boilerplate strip -> repeated-window scrub -> Gopher
    quality filter -> exact near-dup collapse -> hash split — over
    documents with synthesized urls + planted stage triggers; per-doc
    audit row (status, cleaned-text md5, stage counters, split)."""
    from websearchengine_spark.operators.pipeline import clean_corpus

    docs = _docs(spark, sf_dir).select(
        "doc_id", _url_spark().alias("url"), _clean_text_spark().alias("text")
    )
    out = clean_corpus(
        docs, boilerplate_min_docs=10, scrub_n=8, scrub_min_count=3,
        near_dup="exact",
    )
    # NULL-able numeric columns surface as float64 through the driver's
    # pandas hop and hash-mismatch the BIGINT side — sentinel-coalesce
    # (-1 = "stage never ran") keeps every column non-null and typed
    m1 = F.lit(-1).cast("long")
    return out.select(
        "doc_id", "status",
        F.coalesce(F.md5(F.encode("text", "UTF-8")), F.lit("")).alias("text_md5"),
        F.coalesce("n_pii", m1).alias("n_pii"),
        F.coalesce("n_boilerplate", m1).alias("n_boilerplate"),
        F.coalesce("n_scrubbed", m1).alias("n_scrubbed"),
        F.coalesce("bucket", m1).alias("bucket"),
        F.coalesce("split", F.lit("-")).alias("split"),
    ).orderBy("doc_id")


def _sql_clean_corpus() -> str:
    from websearchengine_spark.operators.textstats import (
        EMAIL_RE, IPV4_RE, PHONE_RE,
    )

    return f"""
WITH d0 AS (SELECT doc_id,
   (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
   || 'Host' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
   || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
   || '/p' || CAST(doc_id % 5 AS VARCHAR)
   || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
   || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&id=' || CAST(doc_id % 11 AS VARCHAR)
            WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id % 11 AS VARCHAR) || '&fbclid=z'
            WHEN doc_id % 4 = 2 THEN '?id=' || CAST(doc_id % 11 AS VARCHAR)
            ELSE '' END)
   || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url,
   (CASE WHEN doc_id % 20 IN (6, 7) THEN
       array_to_string(list_transform(generate_series(1, 60),
         i -> 'w' || CAST(doc_id // 2 AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ')
     WHEN doc_id % 10 = 9 THEN 'tiny doc ' || CAST(doc_id AS VARCHAR)
     ELSE text END)
   || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.'
   || CAST(doc_id % 250 AS VARCHAR) || '.0.1 call 555-01'
   || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-9876 bye'
   || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to our newsletter today'
       ELSE '' END) AS text
  FROM documents),
 n2 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS s FROM d0),
 n3 AS (SELECT doc_id, s,
        regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*') AS head FROM n2),
 n4 AS (SELECT doc_id,
    CASE WHEN starts_with(lower(head), 'http://')
           THEN regexp_replace(lower(head), ':80$', '')
         WHEN starts_with(lower(head), 'https://')
           THEN regexp_replace(lower(head), ':443$', '')
         ELSE lower(head) END AS head_n,
    substr(s, length(head) + 1) AS rest FROM n3),
 n5 AS (SELECT doc_id, head_n,
    regexp_replace(regexp_extract(rest, '^[^?]*'), '/$', '') AS path_n,
    regexp_extract(rest, '\\?(.*)$', 1) AS qs FROM n4),
 nu AS (SELECT doc_id, head_n || path_n ||
    (CASE WHEN q_n <> '' THEN '?' || q_n ELSE '' END) AS norm_url FROM
    (SELECT doc_id, head_n, path_n,
       array_to_string(list_filter(string_split(qs, '&'),
         p -> p <> '' AND NOT regexp_matches(p,
           '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid)(=|$)')), '&') AS q_n
     FROM n5)),
 ukeep AS (SELECT norm_url, min(doc_id) AS keep FROM nu GROUP BY 1),
 url_losers AS (SELECT nu.doc_id FROM nu JOIN ukeep USING (norm_url)
                WHERE nu.doc_id <> ukeep.keep),
 surv AS (SELECT d0.doc_id, d0.text FROM d0
          LEFT JOIN url_losers ul ON d0.doc_id = ul.doc_id
          WHERE ul.doc_id IS NULL),
 s1 AS (SELECT doc_id,
    len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
    regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1 FROM surv),
 s2 AS (SELECT doc_id, n_emails,
    len(regexp_extract_all(t1, '{IPV4_RE}')) AS n_ipv4,
    regexp_replace(t1, '{IPV4_RE}', '<IP>', 'g') AS t2 FROM s1),
 red AS (SELECT doc_id,
    CAST(n_emails + n_ipv4
         + len(regexp_extract_all(t2, '{PHONE_RE}')) AS BIGINT) AS n_pii,
    regexp_replace(t2, '{PHONE_RE}', '<PHONE>', 'g') AS text FROM s2),
 bl AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
      (x, i) -> struct_pack(pos := i, line := x))) AS u FROM red)),
 bpv AS (SELECT line AS bpline FROM bl WHERE line <> ''
         GROUP BY line HAVING count(DISTINCT doc_id) >= 10),
 bm AS (SELECT bl.doc_id, bl.pos, bl.line, bpv.bpline IS NOT NULL AS isbp
        FROM bl LEFT JOIN bpv ON bl.line = bpv.bpline),
 sb AS (SELECT doc_id,
    coalesce(string_agg(CASE WHEN NOT isbp THEN line END,
                        chr(10) ORDER BY pos), '') AS text,
    CAST(sum(CASE WHEN isbp THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
  FROM bm GROUP BY doc_id),
 tb AS (SELECT doc_id, n_boilerplate,
    list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM sb),
 g AS (SELECT doc_id, u.start AS start, u.gram AS gram FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
      i -> struct_pack(start := i,
             gram := lower(array_to_string(toks[i:i+7], ' '))))) AS u
    FROM tb)),
 rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 3),
 cov AS (SELECT DISTINCT doc_id, pos FROM
    (SELECT doc_id, unnest(generate_series(start, start + 7)) AS pos
     FROM g JOIN rep USING (gram))),
 tkr AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
    SELECT doc_id, unnest(list_transform(toks,
      (x, i) -> struct_pack(pos := i, tok := x))) AS u FROM tb)),
 sm AS (SELECT t.doc_id, t.pos, t.tok, cov.pos IS NOT NULL AS isc
        FROM tkr t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
 sagg AS (SELECT doc_id,
    coalesce(string_agg(CASE WHEN NOT isc THEN tok END, ' ' ORDER BY pos), '')
      AS text,
    CAST(sum(CASE WHEN isc THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed
  FROM sm GROUP BY doc_id),
 sc AS (SELECT tb.doc_id, tb.n_boilerplate, red.n_pii,
        coalesce(sagg.text, '') AS text,
        coalesce(sagg.n_scrubbed, CAST(0 AS BIGINT)) AS n_scrubbed
    FROM tb LEFT JOIN sagg ON tb.doc_id = sagg.doc_id
    JOIN red ON tb.doc_id = red.doc_id),
 gb AS (SELECT doc_id, text,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks,
    list_filter(string_split(text, chr(10)), l -> l <> '') AS lines
  FROM sc),
 gf AS (SELECT doc_id, toks,
    len(toks) AS n_words,
    coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS word_chars,
    len(lines) AS n_lines,
    len(list_distinct(lines)) AS n_distinct_lines,
    (length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '...', ''))) / 3 AS symbols,
    len(list_filter(lines, l -> substr(l, 1, 2) IN ('- ', '* '))) AS bullet_lines,
    len(list_filter(lines, l -> ends_with(l, '...'))) AS ellipsis_lines
  FROM gb),
 gg AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1]) ELSE [] END) AS gram
  FROM gf),
 gtop AS (SELECT doc_id, cnt AS top_cnt, length(gram) - 1 AS top_gram_chars
  FROM (SELECT doc_id, gram, count(*) AS cnt,
          row_number() OVER (PARTITION BY doc_id
                             ORDER BY count(*) DESC, gram ASC) AS rn
        FROM gg GROUP BY doc_id, gram) WHERE rn = 1),
 qp AS (SELECT f.doc_id,
    CASE WHEN f.n_words BETWEEN 50 AND 100000
          AND word_chars * 1.0 / greatest(n_words, 1) BETWEEN 3 AND 10
          AND symbols / greatest(n_words, 1) <= 0.1
          AND (n_lines - n_distinct_lines) * 1.0 / greatest(n_lines, 1) <= 0.3
          AND coalesce(top_cnt * top_gram_chars * 1.0
                       / greatest(word_chars, 1), 0.0) <= 0.2
          AND bullet_lines * 1.0 / greatest(n_lines, 1) <= 0.9
          AND ellipsis_lines * 1.0 / greatest(n_lines, 1) <= 0.3
     THEN 1 ELSE 0 END AS gopher_pass
  FROM gf f LEFT JOIN gtop ON f.doc_id = gtop.doc_id),
 dk AS (SELECT md5(text) AS k, min(doc_id) AS keep
        FROM sc JOIN qp USING (doc_id) WHERE gopher_pass = 1 GROUP BY 1),
 st AS (SELECT sc.doc_id, sc.text, sc.n_pii, sc.n_boilerplate, sc.n_scrubbed,
    CASE WHEN qp.gopher_pass = 0 THEN 'quality'
         WHEN dk.keep <> sc.doc_id THEN 'near_dup'
         ELSE 'kept' END AS status
  FROM sc JOIN qp USING (doc_id)
  LEFT JOIN dk ON qp.gopher_pass = 1 AND md5(sc.text) = dk.k)
SELECT doc_id, status, md5(text) AS text_md5,
   n_pii, n_boilerplate, n_scrubbed,
   CASE WHEN status = 'kept' THEN
     CAST(('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
   ELSE CAST(-1 AS BIGINT) END AS bucket,
   CASE WHEN status = 'kept' THEN
     (CASE WHEN CAST(('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
           WHEN CAST(('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val'
           ELSE 'test' END)
   ELSE '-' END AS split
FROM st
UNION ALL
SELECT doc_id, 'url_dup', '', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), '-' FROM url_losers
ORDER BY doc_id"""


SQL_CLEAN_CORPUS = _sql_clean_corpus()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: full build + conjunctive BM25 WAND top-10."""
    sf_dir = "/root/testdata/sf0.001"
    from websearchengine_spark.operators.topk import wand_topk

    root = _index_for(spark, sf_dir)
    return wand_topk(spark, root, "data stream", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "term_df_top100": q_term_df,
        "term_ctf_top100": q_term_ctf,
        "doc_len": q_doc_len,
        "corpus_stats": q_corpus_stats,
        "conjunctive_count": q_conjunctive_count,
        "bm25_top20": q_bm25_topk,
        "ql_signals_top20": q_ql_topk,
        "phrase_count": q_phrase_count,
        "cosine_tfidf_top20": q_cosine_topk,
        "pagerank_2iter": q_pagerank,
        "pagerank_10iter": q_pagerank_10iter,
        "spearman_rank_corr": q_spearman,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "simhash16": q_simhash,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "doc_fingerprint": q_fingerprint,
        "lang_id_heuristic": q_lang_id,
        "quality_scores": q_quality,
        "token_counts": q_token_counts,
        "mm_binary_meta": q_mm_binary_meta,
        "ann_cosine_top20": q_ann_cosine,
        "lsh_buckets": q_lsh_buckets,
        "tpch_q1": q_tpch_q1,
        "tpch_q3ish": q_tpch_q3ish,
        "top_order_per_customer": q_top_order_per_customer,
        "supplier_nation_rollup": q_supplier_nation_rollup,
        "events_agg": q_events_agg,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "bm25_index_path": q_bm25_index_path,
        "bm25_doconly_path": q_bm25_doconly_path,
        "live_bm25_top20": q_live_bm25_top20,
        "live_recrawl_bm25_top20": q_live_recrawl_bm25_top20,
        "ivf_ann_top10": q_ivf_ann_top10,
        "prf_expansion": q_prf_expansion,
        "session_pmi": q_session_pmi,
        "session_pmi_incr": q_session_pmi_incr,
        "spell_candidates": q_spell_candidates,
        "eval_metrics": q_eval_metrics,
        "favorite_top20": q_favorite_topk,
        "linear_fullscan_top20": q_linear_fullscan,
        "page_summary": q_page_summary,
        "simhash_dup_pairs": q_simhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "decontaminate_flagged": q_decontaminate,
        "emb_near_dup_pairs": q_emb_near_dup,
        "next_word_top5": q_next_word,
        "bhattacharyya": q_bhattacharyya,
        "ql_fullscan_top20": q_ql_fullscan,
        "tpch_q14ish": q_tpch_q14ish,
        "region_rollup": q_region_rollup,
        "history_suggestions": q_history_suggestions,
        "title_hit_count": q_title_hit_count,
        "gopher_quality": q_gopher_quality,
        "pii_redact": q_pii_redact,
        "hash_split": q_hash_split,
        "semantic_dedup": q_semantic_dedup,
        "strip_boilerplate": q_strip_boilerplate,
        "url_dedup": q_url_dedup,
        "scrub_repeated_ngrams": q_scrub_repeated,
        "clean_corpus_report": q_clean_corpus,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "term_df_top100": SQL_TERM_DF,
        "term_ctf_top100": SQL_TERM_CTF,
        "doc_len": SQL_DOC_LEN,
        "corpus_stats": SQL_CORPUS_STATS,
        "conjunctive_count": SQL_CONJUNCTIVE_COUNT,
        "bm25_top20": SQL_BM25_TOPK,
        "ql_signals_top20": SQL_QL_TOPK,
        "phrase_count": SQL_PHRASE_COUNT,
        "cosine_tfidf_top20": SQL_COSINE_TOPK,
        "pagerank_2iter": SQL_PAGERANK,
        "pagerank_10iter": SQL_PAGERANK_10ITER,
        "spearman_rank_corr": SQL_SPEARMAN,
        "dedup_exact": SQL_DEDUP_EXACT,
        "minhash_signatures": SQL_MINHASH,
        "simhash16": SQL_SIMHASH,
        "ngram_jaccard_pairs": SQL_NGRAM_JACCARD,
        "doc_fingerprint": SQL_FINGERPRINT,
        "lang_id_heuristic": SQL_LANG_ID,
        "quality_scores": SQL_QUALITY,
        "token_counts": SQL_TOKEN_COUNTS,
        "mm_binary_meta": SQL_MM_BINARY_META,
        "ann_cosine_top20": SQL_ANN_COSINE,
        "lsh_buckets": SQL_LSH_BUCKETS,
        "tpch_q1": SQL_TPCH_Q1,
        "tpch_q3ish": SQL_TPCH_Q3ISH,
        "top_order_per_customer": SQL_TOP_ORDER_PER_CUSTOMER,
        "supplier_nation_rollup": SQL_SUPPLIER_NATION,
        "events_agg": SQL_EVENTS_AGG,
        "events_hourly": SQL_EVENTS_HOURLY,
        "events_sessionize": SQL_EVENTS_SESSIONIZE,
        "bm25_index_path": SQL_BM25_INDEX_PATH,
        "bm25_doconly_path": SQL_BM25_DOCONLY_PATH,
        "live_bm25_top20": SQL_LIVE_BM25_TOP20,
        "live_recrawl_bm25_top20": SQL_LIVE_RECRAWL_BM25_TOP20,
        "ivf_ann_top10": SQL_IVF_ANN,
        "prf_expansion": SQL_PRF_EXPANSION,
        "session_pmi": SQL_SESSION_PMI,
        "session_pmi_incr": SQL_SESSION_PMI,
        "spell_candidates": SQL_SPELL_CANDIDATES,
        "eval_metrics": SQL_EVAL_METRICS,
        "favorite_top20": SQL_FAVORITE_TOPK,
        "linear_fullscan_top20": SQL_LINEAR_FULLSCAN,
        "page_summary": SQL_PAGE_SUMMARY,
        "simhash_dup_pairs": SQL_SIMHASH_PAIRS,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "decontaminate_flagged": SQL_DECONTAMINATE,
        "emb_near_dup_pairs": SQL_EMB_NEAR_DUP,
        "next_word_top5": SQL_NEXT_WORD,
        "bhattacharyya": SQL_BHATTACHARYYA,
        "ql_fullscan_top20": SQL_QL_FULLSCAN,
        "tpch_q14ish": SQL_TPCH_Q14ISH,
        "region_rollup": SQL_REGION_ROLLUP,
        "history_suggestions": SQL_HISTORY_SUGGESTIONS,
        "title_hit_count": SQL_TITLE_HIT_COUNT,
        "gopher_quality": SQL_GOPHER_QUALITY,
        "pii_redact": SQL_PII_REDACT,
        "hash_split": SQL_HASH_SPLIT,
        "semantic_dedup": SQL_SEMANTIC_DEDUP,
        "strip_boilerplate": SQL_STRIP_BOILERPLATE,
        "url_dedup": SQL_URL_DEDUP,
        "scrub_repeated_ngrams": SQL_SCRUB_REPEATED,
        "clean_corpus_report": SQL_CLEAN_CORPUS,
    }
