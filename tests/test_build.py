"""Operator-level build tests vs brute-force pandas oracle (SURVEY §5.2(3)):
df/ctf/doc_len/postings content, doc_id determinism, resumability."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from websearchengine_spark.sources.storage import IndexStorage


@pytest.fixture(scope="module")
def store(built_index):
    return IndexStorage(built_index)


def test_docs_table(spark, store, oracle_index, corpus_pdf):
    docs = store.read_table(spark, "docs").orderBy("doc_id").collect()
    assert len(docs) == 200
    # doc_id = rank of url in sorted order, dense from 0
    assert [d["doc_id"] for d in docs] == list(range(200))
    assert [d["url"] for d in docs] == sorted(corpus_pdf["url"])
    for d in docs:
        assert d["doc_len"] == oracle_index.doc_len[d["doc_id"]], d["url"]


def test_stats_table(spark, store, oracle_index):
    s = store.read_manifest()["config"]
    assert s["num_docs"] == oracle_index.num_docs
    assert s["total_tf"] == oracle_index.total_tf
    assert s["max_dl"] == max(oracle_index.doc_len.values())
    assert s["id_span"] == s["num_docs"]  # a build's doc_ids are dense
    assert not store.exists("stats")


def test_term_stats(spark, store, oracle_index):
    rows = store.read_table(spark, "term_stats").collect()
    got = {r["term"]: (r["df"], r["ctf"]) for r in rows}
    want = {
        t: (len(pl), sum(len(v) for v in pl.values()))
        for t, pl in oracle_index.postings.items()
    }
    assert got == want


def test_postings_roundtrip_content(spark, store, oracle_index):
    """Decode every posting list and compare docids/tfs/positions."""
    from websearchengine_spark.operators.query import load_postings_for_terms

    terms = list(oracle_index.postings.keys())
    decoded = load_postings_for_terms(spark, store, terms, want_positions=True).collect()
    by_term: dict[str, dict[int, list[int]]] = {}
    for r in decoded:
        by_term.setdefault(r["term"], {})[r["doc_id"]] = list(r["positions"])
    assert set(by_term) == set(oracle_index.postings)
    for t, pl in oracle_index.postings.items():
        assert by_term[t] == pl, t


def test_postings_sharding(spark, store):
    p = store.read_partitioned(spark, "postings")
    shards = p.select("shard").distinct().collect()
    assert sorted(r["shard"] for r in shards) == [0, 1, 2]
    # every posting's docids belong to its shard (doc_id % 3 == shard)
    bad = (
        p.select("shard", F.explode("blocks").alias("b"))
        .filter(
            (F.col("b.first_docid") % 3 != F.col("shard"))
            | (F.col("b.last_docid") % 3 != F.col("shard"))
        )
        .count()
    )
    assert bad == 0


def test_manifest_and_build_meta(spark, store):
    m = store.read_manifest()
    assert m["snapshot_id"]
    assert m["completed_groups"] == [0, 1]
    assert len(m["attempts"]) >= 1
    meta = store.read_table(spark, "build_meta").collect()
    assert {r["grp"] for r in meta} == {0, 1}
    assert all(r["n_postings"] > 0 for r in meta)


def test_resume_skips_completed_groups(spark, corpus_pdf, tmp_path):
    """Kill-and-restart: a build with group 0 already committed must only
    rebuild group 1, and the final index bytes must match a fresh build."""
    from websearchengine_spark.operators.build import build_index

    pages = spark.createDataFrame(corpus_pdf)
    root_a = str(tmp_path / "a")
    build_index(spark, pages, root_a, n_shards=4, n_groups=2)

    # simulate a crash after group 0: copy group 0 + manifest, drop group 1
    import json
    import shutil

    root_b = str(tmp_path / "b")
    sb = IndexStorage(root_b)
    shutil.copytree(
        f"{root_a}/postings/group=0", f"{root_b}/postings/group=0"
    )
    ma = IndexStorage(root_a).read_manifest()
    mb = sb.read_manifest()
    mb["completed_groups"] = [0]
    mb["group_metrics"] = {"0": ma["group_metrics"]["0"]}
    sb.write_manifest(mb)

    build_index(spark, pages, root_b, n_shards=4, n_groups=2, resume=True)

    pa = spark.read.parquet(f"{root_a}/postings").orderBy("shard", "term")
    pb = spark.read.parquet(f"{root_b}/postings").orderBy("shard", "term")
    a = [(r["shard"], r["term"], r["df_shard"], r["ctf_shard"], [bytes(b["data"]) for b in r["blocks"]]) for r in pa.collect()]
    b = [(r["shard"], r["term"], r["df_shard"], r["ctf_shard"], [bytes(b["data"]) for b in r["blocks"]]) for r in pb.collect()]
    assert a == b
    # lineage: resumed build recorded group 0 as pre-completed
    att = sb.read_manifest()["attempts"]
    assert att[-1]["resumed_groups"] == [0]


def test_build_leaves_session_conf_alone(spark, corpus_pdf, tmp_path, monkeypatch):
    """build_index never toggles adaptive execution on the shared session
    (a query planned while a build runs would see it off), and its doc
    ids stay the dense url rank."""
    from pyspark.sql.conf import RuntimeConfig

    from websearchengine_spark.operators.build import build_index

    calls = []
    real_set = RuntimeConfig.set

    def record(self, key, value):
        calls.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus_pdf), root, n_shards=4, n_groups=2)
    assert not [k for k in calls if "adaptive.enabled" in k], calls
    docs = IndexStorage(root).read_table(spark, "docs").orderBy("doc_id").collect()
    urls = [r["url"] for r in docs]
    assert [r["doc_id"] for r in docs] == list(range(len(corpus_pdf)))
    assert urls == sorted(urls)


def test_text_column_matches_pinned_extractor(corpus_pdf):
    """Byte-identity: pages.text == extractor(pages.html) per url."""
    from websearchengine_spark.functions.extract import extract_text_and_title

    for _, row in corpus_pdf.iterrows():
        _, text = extract_text_and_title(row["html"])
        assert text == row["text"], row["url"]


def test_generator_determinism():
    from websearchengine_spark.sources.corpus import gen_pages_pdf

    a = gen_pages_pdf(np.arange(20), n_docs=200, seed=42)
    b = gen_pages_pdf(np.arange(20), n_docs=200, seed=42)
    pd.testing.assert_frame_equal(a, b)
    # partitioning-independence: generating a sub-range gives same rows
    c = gen_pages_pdf(np.arange(5, 15), n_docs=200, seed=42)
    pd.testing.assert_frame_equal(
        a.iloc[5:15].reset_index(drop=True), c.reset_index(drop=True)
    )


def test_distributed_generation_matches_local(spark, corpus_pdf):
    from websearchengine_spark.sources.corpus import gen_pages_df

    sdf = gen_pages_df(spark, 200, seed=42, partitions=7).orderBy("url").toPandas()
    local = corpus_pdf.sort_values("url").reset_index(drop=True)
    assert sdf["url"].tolist() == local["url"].tolist()
    assert sdf["text"].tolist() == local["text"].tolist()
    assert [bytes(x) for x in sdf["html"]] == [bytes(x) for x in local["html"]]


def test_skew_report(spark, store):
    from websearchengine_spark.sources.storage import skew_report

    rep = skew_report(store, spark)
    assert rep["n_shards"] == 3
    assert rep["head_terms"], "head terms present"
    # doc-sharding bound: no term's per-shard list exceeds the shard's
    # doc capacity ceil(num_docs/n_shards)
    assert rep["shard_doc_cap"] == 67
    assert all(h["bound_ok"] for h in rep["head_terms"])
    # super-head terms ('the', 'of', 'and') are in >90% of docs
    heads = {h["term"] for h in rep["head_terms"]}
    assert {"the", "of", "and"} & heads


# --------------------------------------------------------------------------
# Positionless (doconly-style) build flag — round 2
# --------------------------------------------------------------------------

def _postings_bytes(root: str) -> int:
    import pathlib

    return sum(
        f.stat().st_size
        for f in pathlib.Path(root, "postings").rglob("*.parquet")
    )


def test_positionless_build_smaller_and_rank_identical(
    spark, corpus_pdf, oracle_index, tmp_path_factory
):
    import pytest as _pytest

    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.topk import wand_topk

    pages = spark.createDataFrame(corpus_pdf)
    root_pos = str(tmp_path_factory.mktemp("idx_pos"))
    root_nopos = str(tmp_path_factory.mktemp("idx_nopos"))
    build_index(spark, pages, root_pos, n_shards=3, n_groups=2)
    build_index(spark, pages, root_nopos, n_shards=3, n_groups=2, positions=False)

    # doconly blocks drop the position stream -> materially smaller index.
    # At this 200-doc fixture tf~1 so positions are ~1 of 4 varbytes per
    # occurrence (~25% of the stream); on real text (tf>1, multi-byte
    # position deltas) the savings approach the reference's 2-3x.
    b_pos, b_nopos = _postings_bytes(root_pos), _postings_bytes(root_nopos)
    assert b_nopos < 0.85 * b_pos, (b_nopos, b_pos)

    # plain conjunctive BM25 is rank-identical to the oracle
    for q in ("web search", "google map"):
        got = [
            (r["doc_id"], r["score"])
            for r in wand_topk(spark, root_nopos, q, k=10).collect()
        ]
        want = oracle_index.bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, s1), (_, s2) in zip(got, want):
            assert abs(s1 - s2) < 1e-9

    # phrase queries need positions -> clear error, not silent garbage
    from websearchengine_spark.operators.query import run_query

    with _pytest.raises(ValueError, match="positionless"):
        run_query(spark, root_nopos, '"data mining"', ranker="bm25", k=5).collect()


def test_positionless_batch_phrase_raises(spark, corpus_pdf, tmp_path_factory):
    """Batch phrase queries on a positionless index must fail with the
    clear ValueError, not an opaque executor IndexError."""
    import pytest as _pytest

    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.topk import wand_topk_batch

    root = str(tmp_path_factory.mktemp("idx_nopos_batch"))
    build_index(
        spark, spark.createDataFrame(corpus_pdf), root,
        n_shards=3, n_groups=2, positions=False,
    )
    with _pytest.raises(ValueError, match="positionless"):
        wand_topk_batch(spark, root, ['"data mining"', "google"], k=5).collect()
    # plain queries still work
    assert wand_topk_batch(spark, root, ["google"], k=5).count() > 0


def test_whitespace_analyzer_jvm_fast_path_equivalence(spark):
    """Round-3: text-only whitespace analysis takes a JVM-native codegen
    path (no Python UDF in the plan) and produces EXACTLY the tokens of
    the Python mapInPandas path, including odd-whitespace/empty/None
    edge rows."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators.build import analyze_pages
    from websearchengine_spark.plans.audit import plan_of

    rows = [
        ("u1", "Hello  World\tTAB\nline"),
        ("u2", "  leading and trailing  "),
        ("u3", ""),
        ("u4", None),
        ("u5", "MiXeD\x0bvertical\x0cformfeed\rcr"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    fast = analyze_pages(pages, analyzer="whitespace")
    plan = plan_of(fast)
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    # the Python path, forced by including an (all-null) html column
    slow = analyze_pages(
        pages.withColumn("html", F.lit(None).cast("binary")),
        analyzer="whitespace",
    )
    got = {r["url"]: r["tokens"] for r in fast.collect()}
    want = {r["url"]: r["tokens"] for r in slow.collect()}
    assert got == want
    assert got["u1"] == ["hello", "world", "tab", "line"]
    assert got["u3"] == [] and got["u4"] == []
