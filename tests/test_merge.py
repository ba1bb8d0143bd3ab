"""Index merge (log-structured compaction, operators/merge.py): merging
two half-corpus builds must be SCORE-identical to the from-scratch build
of the union corpus — same BM25/QL scores (<1e-9), same urls (modulo
exact-tie order, since doc_ids differ), same term_stats and corpus
stats — with B's doc_ids shifted by a shard-preserving offset and no
token rescan.  Mirrors the reference's per-round partial-index merge
(IndexerInvertedCompressed.java:167-277) as a distributed compaction."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import REFERENCE_QUERIES
from websearchengine_spark.operators.build import build_index
from websearchengine_spark.operators.merge import merge_indexes
from websearchengine_spark.operators.query import run_query
from websearchengine_spark.operators.topk import wand_topk
from websearchengine_spark.sources.corpus import url_of
from websearchengine_spark.sources.storage import IndexStorage

N_SHARDS = 3


@pytest.fixture(scope="module")
def merge_roots(spark, corpus_pdf, tmp_path_factory):
    base = tmp_path_factory.mktemp("merge")
    pages = spark.createDataFrame(corpus_pdf)
    cut = url_of(100)
    full, a, b, merged = (str(base / n) for n in ("full", "a", "b", "merged"))
    build_index(spark, pages, full, n_shards=N_SHARDS, n_groups=2)
    build_index(spark, pages.filter(F.col("url") < cut), a, n_shards=N_SHARDS, n_groups=2)
    build_index(spark, pages.filter(F.col("url") >= cut), b, n_shards=N_SHARDS, n_groups=2)
    merge_indexes(spark, a, b, merged)
    return {"full": full, "merged": merged, "a": a, "b": b}


def _url_scores(spark, root, q, ranker, k):
    rows = run_query(spark, root, q, ranker=ranker, k=k).collect()
    return [(r["url"], r["score"]) for r in rows]


def _assert_rank_identical(got, want):
    """Same ranked scores; same urls, order-free within exact score ties
    (doc_id tie-breaks legitimately differ between the two id spaces)."""
    assert len(got) == len(want)
    for (_, s1), (_, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9, (s1, s2)
    by_score_got, by_score_want = {}, {}
    for (u, s), (v, t) in zip(got, want):
        by_score_got.setdefault(round(s, 9), []).append(u)
        by_score_want.setdefault(round(t, 9), []).append(v)
    for key in by_score_want:
        assert sorted(by_score_got[key]) == sorted(by_score_want[key]), key


def test_merged_stats_and_term_stats_match_full_build(spark, merge_roots):
    full_cfg = IndexStorage(merge_roots["full"]).read_manifest()["config"]
    m_cfg = IndexStorage(merge_roots["merged"]).read_manifest()["config"]
    assert m_cfg["num_docs"] == full_cfg["num_docs"] == 200
    assert m_cfg["total_tf"] == full_cfg["total_tf"]
    assert abs(m_cfg["avg_dl"] - full_cfg["avg_dl"]) < 1e-12
    assert m_cfg["n_shards"] == N_SHARDS
    # offset is the smallest multiple of n_shards >= |A| (shard-preserving)
    assert m_cfg["doc_id_offsets"] == [0, 102]

    def ts(root):
        return {
            r["term"]: (r["df"], r["ctf"])
            for r in IndexStorage(root).read_table(spark, "term_stats").collect()
        }

    assert ts(merge_roots["merged"]) == ts(merge_roots["full"])


def test_merged_doc_ids_unique_and_shard_preserving(spark, merge_roots):
    docs = IndexStorage(merge_roots["merged"]).read_table(spark, "docs")
    assert docs.count() == docs.select("doc_id").distinct().count() == 200
    # every B doc keeps its pre-shift shard: doc_id % n == (doc_id-102) % n
    b_docs = IndexStorage(merge_roots["b"]).read_table(spark, "docs")
    m = {r["url"]: r["doc_id"] for r in docs.collect()}
    for r in b_docs.collect():
        assert m[r["url"]] == r["doc_id"] + 102
        assert m[r["url"]] % N_SHARDS == r["doc_id"] % N_SHARDS


@pytest.mark.parametrize("query", REFERENCE_QUERIES)
def test_merge_bm25_rank_identity_vs_full_build(spark, merge_roots, query):
    got = _url_scores(spark, merge_roots["merged"], query, "bm25", 10)
    want = _url_scores(spark, merge_roots["full"], query, "bm25", 10)
    _assert_rank_identical(got, want)


@pytest.mark.parametrize("query", ["data mining", "web search", "apple"])
def test_merge_comprehensive_rank_identity_vs_full_build(spark, merge_roots, query):
    got = _url_scores(spark, merge_roots["merged"], query, "comprehensive", 10)
    want = _url_scores(spark, merge_roots["full"], query, "comprehensive", 10)
    _assert_rank_identical(got, want)


@pytest.mark.parametrize("query", ['"data mining"', 'new "york" city'])
def test_merge_preserves_positions_for_phrases(spark, merge_roots, query):
    """Positions survive decode -> shift -> re-encode: phrase queries on
    the merged index equal the full build."""
    got = [
        (r["url"], r["score"])
        for r in wand_topk(spark, merge_roots["merged"], query, k=10).collect()
    ]
    want = [
        (r["url"], r["score"])
        for r in wand_topk(spark, merge_roots["full"], query, k=10).collect()
    ]
    _assert_rank_identical(got, want)


def test_merge_rerun_resumes_as_noop(spark, merge_roots):
    """A second merge over a completed output resumes: all groups are
    already committed, postings bytes stay identical, queries still work."""
    store = IndexStorage(merge_roots["merged"])
    before = (
        store.read_partitioned(spark, "postings")
        .agg(F.sum(F.crc32(F.to_json(F.struct("shard", "term", "df_shard")))))
        .collect()[0][0]
    )
    merge_indexes(spark, merge_roots["a"], merge_roots["b"], merge_roots["merged"])
    after = (
        store.read_partitioned(spark, "postings")
        .agg(F.sum(F.crc32(F.to_json(F.struct("shard", "term", "df_shard")))))
        .collect()[0][0]
    )
    assert before == after
    assert len(wand_topk(spark, merge_roots["merged"], "google", k=5).collect()) == 5


def test_merge_mismatched_format_raises(spark, merge_roots, tmp_path):
    fake = IndexStorage(str(tmp_path / "fake"))
    m = fake.read_manifest()
    m["config"] = {"n_shards": 5, "num_docs": 1, "total_tf": 1}
    fake.write_manifest(m)
    with pytest.raises(ValueError, match="n_shards"):
        merge_indexes(spark, merge_roots["a"], fake.root, str(tmp_path / "out"))


def test_configs_record_the_id_span(merge_roots):
    """Offset computation must clear a segment's OCCUPIED id range, and
    every config records it: a build's ids are dense (span ==
    num_docs), a merge's span ends at its last input's offset plus that
    input's span rounded up to a shard multiple (so a post-delete merge
    keeps the span of the ids it never remapped)."""
    from websearchengine_spark.operators.merge import doc_id_offsets

    cfg = {
        k: IndexStorage(merge_roots[k]).read_manifest()["config"]
        for k in ("a", "b", "merged")
    }
    for k in ("a", "b"):
        assert cfg[k]["id_span"] == cfg[k]["num_docs"]
    offs = doc_id_offsets([cfg["a"]["id_span"], cfg["b"]["id_span"]], N_SHARDS)
    assert cfg["merged"]["doc_id_offsets"] == offs
    assert cfg["merged"]["id_span"] == offs[1] + -(-cfg["b"]["id_span"] // N_SHARDS) * N_SHARDS


def _postings_content(spark, root):
    rows = spark.read.parquet(f"{root}/postings").orderBy("shard", "term").collect()
    return [
        (r["shard"], r["term"], r["df_shard"], r["ctf_shard"],
         [bytes(b["data"]) for b in r["blocks"]])
        for r in rows
    ]


def test_torn_compaction_resumes_missing_groups(spark, merge_roots, tmp_path):
    """Crash after group 0 of a compaction committed: the rerun writes only
    group 1 (group 0's files are left in place) and the final postings
    bytes equal an uninterrupted merge — the merge twin of
    test_build.py::test_resume_skips_completed_groups."""
    import shutil

    torn = str(tmp_path / "torn")
    store = IndexStorage(torn)
    shutil.copytree(
        f"{merge_roots['merged']}/postings/group=0", f"{torn}/postings/group=0"
    )
    full_m = IndexStorage(merge_roots["merged"]).read_manifest()
    m = store.read_manifest()
    m["completed_groups"] = [0]
    m["group_metrics"] = {"0": full_m["group_metrics"]["0"]}
    store.write_manifest(m)
    g0_files = sorted(os.listdir(f"{torn}/postings/group=0"))

    merge_indexes(spark, merge_roots["a"], merge_roots["b"], torn)

    assert sorted(os.listdir(f"{torn}/postings/group=0")) == g0_files
    assert _postings_content(spark, torn) == _postings_content(
        spark, merge_roots["merged"]
    )
    got = store.read_manifest()
    assert got["attempts"][-1]["resumed_groups"] == [0]
    assert got["completed_groups"] == [0, 1]
    assert got["group_metrics"]["1"]["n_terms"] == (
        full_m["group_metrics"]["1"]["n_terms"]
    )


def test_merge_job_count_independent_of_n_groups(spark, merge_roots, tmp_path):
    """One shuffle and one postings write whatever the group count: the
    merge runs the same number of Spark jobs at n_groups=1 and 3."""
    from websearchengine_spark.operators.merge import merge_many_indexes

    sc = spark.sparkContext
    jobs = {}
    for n_groups in (1, 3):
        group = f"merge-jobs-{n_groups}"
        sc.setJobGroup(group, "merge job count")
        try:
            merge_many_indexes(
                spark, [merge_roots["a"], merge_roots["b"]],
                str(tmp_path / f"g{n_groups}"), n_groups=n_groups,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n_groups] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[1] == jobs[3], jobs
    assert sorted(os.listdir(str(tmp_path / "g3" / "postings"))) == [
        "group=0", "group=1", "group=2",
    ]


@pytest.mark.parametrize("op", ["build", "merge"])
def test_failed_write_restores_arrow_batch_conf(spark, corpus_pdf, merge_roots, tmp_path, monkeypatch, op):
    """A build or merge that dies mid-write leaves the session's Arrow
    batch size as it found it (the 512-row cap is scoped to the call)."""
    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.merge import merge_many_indexes

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "777")

    def boom(*args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(IndexStorage, "write_partitions_atomic", boom)
    try:
        with pytest.raises(RuntimeError, match="injected"):
            if op == "build":
                build_index(
                    spark, spark.createDataFrame(corpus_pdf.iloc[:40]),
                    str(tmp_path / "out"), n_shards=N_SHARDS, n_groups=2,
                )
            else:
                merge_many_indexes(
                    spark, [merge_roots["a"], merge_roots["b"]], str(tmp_path / "out")
                )
        assert spark.conf.get(key) == "777"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
