"""Point-read layout (sources/storage.py POINT_KEYS): the one postings
shuffle is term-clustered and docs are doc_id-clustered in every writer
(fresh build, resumed build, compaction), each committed file's
row-group key ranges are recorded, and the in-process point read opens
only the files whose ranges cover the query's keys — so a gated query's
read follows its own postings, not the index.  The layout changes where
rows live, never what they are."""

import glob
import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from websearchengine_spark.operators import build as build_mod
from websearchengine_spark.operators import topk
from websearchengine_spark.operators.build import build_index
from websearchengine_spark.operators.merge import merge_indexes
from websearchengine_spark.operators.query import run_query
from websearchengine_spark.sources.corpus import gen_pages_df, url_of
from websearchengine_spark.sources.storage import RANGES_FILE, IndexStorage

N_SHARDS, N_GROUPS = 3, 2


@pytest.fixture(scope="module")
def roots(spark, corpus_pdf, tmp_path_factory):
    """A fresh build, a resumed build (group 0 committed, group 1
    rebuilt) and a merge of two half-corpus builds, all of the 200-doc
    corpus."""
    base = tmp_path_factory.mktemp("layout")
    pages = spark.createDataFrame(corpus_pdf)
    kw = {"n_shards": N_SHARDS, "n_groups": N_GROUPS}
    fresh, resumed, a, b, merged = (
        str(base / n) for n in ("fresh", "resumed", "a", "b", "merged")
    )
    build_index(spark, pages, fresh, **kw)

    shutil.copytree(f"{fresh}/postings/group=0", f"{resumed}/postings/group=0")
    store = IndexStorage(resumed)
    m = store.read_manifest()
    m["completed_groups"] = [0]
    m["group_metrics"] = {"0": IndexStorage(fresh).read_manifest()["group_metrics"]["0"]}
    store.write_manifest(m)
    build_index(spark, pages, resumed, resume=True, **kw)

    cut = url_of(100)
    build_index(spark, pages.filter(F.col("url") < cut), a, **kw)
    build_index(spark, pages.filter(F.col("url") >= cut), b, **kw)
    merge_indexes(spark, a, b, merged)
    return {"fresh": fresh, "resumed": resumed, "merged": merged, "a": a, "b": b}


def _file_keys(path: str, col: str) -> list:
    """The key column of one data file, in file order."""
    return pq.read_table(path, columns=[col]).column(col).to_pylist()


def _assert_clustered(files: list[str], col: str, shared_ok: bool) -> None:
    """Each file is sorted on ``col`` and the files cover disjoint
    ranges; with ``shared_ok`` a boundary key may be the last key of one
    file and the first of the next (a term split by shard)."""
    spans = []
    for f in files:
        keys = _file_keys(f, col)
        assert keys == sorted(keys), f
        if keys:
            spans.append((keys[0], keys[-1]))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo or (shared_ok and hi == lo), spans


@pytest.mark.parametrize("kind", ["fresh", "resumed", "merged"])
def test_postings_term_clustered_per_group(roots, kind):
    root = roots[kind]
    for g in range(N_GROUPS):
        files = sorted(glob.glob(f"{root}/postings/group={g}/*.parquet"))
        assert len(files) > 1, files  # several tasks wrote this group
        _assert_clustered(files, "term", shared_ok=True)
        # the commit recorded every file's row-group term ranges
        with open(f"{root}/postings/group={g}/{RANGES_FILE}") as fh:
            rec = json.load(fh)
        assert rec["key"] == "term"
        assert sorted(rec["files"]) == [os.path.basename(f) for f in files]


@pytest.mark.parametrize("kind", ["fresh", "merged"])
def test_docs_doc_id_clustered(roots, kind):
    files = sorted(glob.glob(f"{roots[kind]}/docs/*.parquet"))
    _assert_clustered(files, "doc_id", shared_ok=False)
    assert os.path.exists(f"{roots[kind]}/docs/{RANGES_FILE}")


def _postings_sha(spark, root: str) -> str:
    """sha256 of the postings rows (shard, term, df, ctf, every block
    field) sorted on (shard, term): independent of file order and
    layout."""
    rows = sorted(
        (
            r["shard"], r["term"], r["df_shard"], r["ctf_shard"],
            tuple(
                (b["first_docid"], b["last_docid"], b["n"], b["max_tf"],
                 b["max_impact"], bytes(b["data"]), b["head"])
                for b in r["blocks"]
            ),
        )
        for r in spark.read.parquet(f"{root}/postings").collect()
    )
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_postings_rows_equal_unclustered_reference(spark, corpus_pdf, roots, tmp_path, monkeypatch):
    """The term-clustered shuffle moves rows, never changes them: a
    fresh build, a resumed build and a merge hash the same as a build
    and a merge whose one shuffle is the aggregation's plain hash
    partitioning."""
    from websearchengine_spark.operators import merge as merge_mod

    ref, ref_merged = str(tmp_path / "ref"), str(tmp_path / "ref_merged")
    monkeypatch.setattr(build_mod, "_term_clustered", lambda rows: rows)
    monkeypatch.setattr(merge_mod, "_term_clustered", lambda rows: rows)
    build_index(
        spark, spark.createDataFrame(corpus_pdf), ref,
        n_shards=N_SHARDS, n_groups=N_GROUPS,
    )
    merge_indexes(spark, roots["a"], roots["b"], ref_merged)
    want = _postings_sha(spark, ref)
    assert _postings_sha(spark, roots["fresh"]) == want
    assert _postings_sha(spark, roots["resumed"]) == want
    assert _postings_sha(spark, roots["merged"]) == _postings_sha(spark, ref_merged)


@pytest.fixture(scope="module")
def larger_index(spark, tmp_path_factory):
    """1200 generated docs, same layout parameters."""
    root = str(tmp_path_factory.mktemp("layout_large") / "idx")
    build_index(spark, gen_pages_df(spark, 1200, seed=5), root, n_shards=4, n_groups=2)
    return root


def _top_terms(spark, root: str, n: int) -> list[str]:
    return [
        r["term"]
        for r in IndexStorage(root).read_table(spark, "term_stats")
        .orderBy(F.desc("df"), F.asc("term")).limit(n).collect()
    ]


@pytest.mark.parametrize("which", ["fresh", "larger"])
def test_gated_read_opens_at_most_two_files_per_term_and_group(
    spark, roots, larger_index, which
):
    """The in-process postings read of a gated query opens at most 2
    files per (query term, group) — the file holding the term, plus its
    neighbour when the term is a range boundary — out of every file of
    the table."""
    root = roots["fresh"] if which == "fresh" else larger_index
    n_groups = IndexStorage(root).read_manifest()["config"]["n_groups"]
    terms = _top_terms(spark, root, 40)
    for q in (terms[0], terms[7], f"{terms[3]} {terms[21]}", terms[39]):
        store = IndexStorage(root)
        sc = topk._prepare(spark, store, [q], None, None, None, "bm25")
        assert sc.postings <= topk.INPROC_MAX_POSTINGS
        assert topk._local_topk(store, sc, 10) is not None
        seen = sc.reads["postings"]
        bound = 2 * len(sc.terms) * n_groups
        assert seen["files_total"] > bound, seen
        assert seen["files_read"] <= bound, (q, seen)


@pytest.mark.parametrize("side", ["inproc", "spark"])
def test_root_without_recorded_ranges_answers_identically(
    spark, roots, tmp_path, monkeypatch, side
):
    """A root whose _ranges.json files are gone (written before ranges
    were recorded, or damaged) takes its ranges from the footers through
    the same function: identical answers on both sides of the gate, and
    the same files read in process."""
    bare = str(tmp_path / "bare")
    shutil.copytree(roots["fresh"], bare)
    gone = glob.glob(f"{bare}/**/{RANGES_FILE}", recursive=True)
    assert gone
    for f in gone:
        os.remove(f)
    if side == "spark":
        monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", 0)
    for q, ranker in (
        ("web search", "bm25"), ('"data mining"', "comprehensive"),
        ("google", "favorite"), ("google map", "conjunctive"),
    ):
        got = run_query(spark, bare, q, ranker=ranker, k=10).collect()
        want = run_query(spark, roots["fresh"], q, ranker=ranker, k=10).collect()
        assert [r.asDict() for r in got] == [r.asDict() for r in want], (q, ranker)

    reads = {}
    for root in (roots["fresh"], bare):
        store, reads[root] = IndexStorage(root), {}
        assert store.lookup_rows(
            "postings", "term", ["web", "google"], ["term"], reads=reads[root]
        ).num_rows
        assert store.lookup_rows(
            "docs", "doc_id", [3, 150], ["doc_id"], reads=reads[root]
        ).to_pylist() == [{"doc_id": 3}, {"doc_id": 150}]
    assert reads[roots["fresh"]] == reads[bare]
    assert not glob.glob(f"{bare}/**/{RANGES_FILE}", recursive=True)
