"""Pseudo-relevance-feedback query expansion (Q1) + Bhattacharyya query
similarity (Q2) — SURVEY.md §2.10.

Reference semantics (QueryHandler.java:397-497):
  * run the ranker, take top ``num_docs`` (default 10)
  * sum term frequencies over those docs' forward-index maps;
    ``all_occ`` = ALL occurrences in those docs (stopwords included —
    the stopword skip inside the accumulation loop is commented out)
  * select top ``num_terms`` (default 5) terms EXCLUDING stopwords
    (the 120+ word list at QueryHandler.java:51-77); tie-break pinned
    to (mass desc, term asc) — the reference's heap is tie-unstable
  * prob = mass / all_occ, then renormalized over the selected terms

Bhattacharyya (Bhattacharyya.java:118-148):
  beta(q1, q2) = sum over shared terms of sqrt(p1(t) * p2(t))

Spark shape: top-k docs come from the engine; the term mass is one
groupBy over ``doc_terms`` filtered by a broadcast doc_id set (A7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators.query import run_query
from websearchengine_spark.sources.storage import IndexStorage

# the reference's stop list (QueryHandler.java:51-77): NLTK list + course
# "statistics" extras (already-stemmed forms like 'wa', 'thi', 'ye', 'hi')
STOPWORDS = frozenset(
    [
        "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
        "your", "yours", "yourself", "yourselves", "he", "him", "his",
        "himself", "she", "her", "hers", "herself", "it", "its", "itself",
        "they", "them", "their", "theirs", "themselves", "what", "which",
        "who", "whom", "this", "that", "these", "those", "am", "is", "are",
        "was", "were", "be", "been", "being", "have", "has", "had", "having",
        "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if",
        "or", "because", "as", "until", "while", "of", "at", "by", "for",
        "with", "about", "against", "between", "into", "through", "during",
        "before", "after", "above", "below", "to", "from", "up", "down",
        "in", "out", "on", "off", "over", "under", "again", "further",
        "then", "once", "here", "there", "when", "where", "why", "how",
        "all", "any", "both", "each", "few", "more", "most", "other",
        "some", "such", "no", "nor", "not", "only", "own", "same", "so",
        "than", "too", "very", "s", "t", "can", "will", "just", "don",
        "should", "now",
        "many", '"the', "?", "1", "b", "&", "", "wikipedia", "also",
        "[edit]", "^", "[1]", "n/a", "wa", "us", "thi", "ha", "ye", "hi",
    ]
)


def prf_expand(
    spark: SparkSession,
    index_root: str,
    query: str,
    ranker: str = "comprehensive",
    num_docs: int = 10,
    num_terms: int = 5,
) -> DataFrame:
    """Returns (term, prob) for the top expansion terms, prob summing to 1.

    Ordered by (prob desc, term asc).
    """
    store = IndexStorage.open(index_root)
    top = run_query(spark, index_root, query, ranker=ranker, k=num_docs)
    top_ids = [r["doc_id"] for r in top.select("doc_id").collect()]
    if not top_ids:
        return spark.createDataFrame([], "term string, prob double")
    doc_terms = store.read_table(spark, "doc_terms").filter(
        F.col("doc_id").isin(top_ids)
    )
    mass = doc_terms.groupBy("term").agg(F.sum("tf").alias("mass"))
    all_occ = mass.agg(F.sum("mass").alias("t")).collect()[0]["t"]
    top_terms = (
        mass.filter(~F.col("term").isin(list(STOPWORDS)))
        .orderBy(F.col("mass").desc(), F.col("term").asc())
        .limit(num_terms)
    )
    probs = top_terms.withColumn("prob", F.col("mass") / F.lit(float(all_occ)))
    norm = probs.agg(F.sum("prob").alias("s")).collect()[0]["s"]
    return probs.select(
        "term", (F.col("prob") / F.lit(float(norm))).alias("prob")
    ).orderBy(F.col("prob").desc(), F.col("term").asc())


def bhattacharyya(expansion_a: DataFrame, expansion_b: DataFrame) -> float:
    """beta(q1, q2) = sum over shared terms of sqrt(pa * pb)."""
    a = expansion_a.select("term", F.col("prob").alias("pa"))
    b = expansion_b.select("term", F.col("prob").alias("pb"))
    row = (
        a.join(b, "term")
        .agg(F.sum(F.sqrt(F.col("pa") * F.col("pb"))).alias("beta"))
        .collect()[0]
    )
    return float(row["beta"]) if row["beta"] is not None else 0.0
