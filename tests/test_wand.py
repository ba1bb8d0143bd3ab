"""Block-max WAND kernel tests: rank identity vs the oracle and between
the query entries (wand_topk, run_query) on both sides of the
in-process gate, plus direct kernel tests proving block skipping."""

import numpy as np
import pytest

from tests.conftest import REFERENCE_QUERIES, count_jobs
from websearchengine_spark.functions.codec import encode_posting_blocks, posting_blocks
from websearchengine_spark.operators import topk
from websearchengine_spark.operators.query import run_query
from websearchengine_spark.operators.topk import shard_topk, wand_topk
from websearchengine_spark.sources.storage import IndexStorage


@pytest.mark.parametrize("query", REFERENCE_QUERIES)
def test_wand_matches_oracle_and_dataframe_path(spark, built_index, oracle_index, query):
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(spark, built_index, query, k=10).collect()
    ]
    want = oracle_index.bm25(query, 10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (d1, s1), (d2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9
    df_path = [
        (r["doc_id"], r["score"])
        for r in run_query(spark, built_index, query, ranker="bm25", k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in df_path]


def test_wand_phrase_falls_back(spark, built_index, oracle_index):
    q = '"data mining"'
    got = [(r["doc_id"], r["score"]) for r in wand_topk(spark, built_index, q).collect()]
    # oracle.bm25 applies phrase adjacency through candidates()
    want = oracle_index.bm25(q, 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_wand_unknown_term_empty(spark, built_index):
    assert wand_topk(spark, built_index, "zzzznope").count() == 0
    assert wand_topk(spark, built_index, "").count() == 0


@pytest.mark.parametrize("ranker", ["bm25", "comprehensive", "favorite", "conjunctive"])
@pytest.mark.parametrize("query", ["web search", '"data mining"'])
def test_gate_sides_identical(spark, built_index, monkeypatch, query, ranker):
    """The same query forced to each side of the in-process gate returns
    the same doc ids, scores and column types for every indexed ranker;
    the in-process side runs zero Spark jobs, the Spark side runs its
    kernel job."""
    got = {}
    for side, cap in (("inproc", 10**12), ("spark", 0)):
        monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", cap)

        def run():
            df = run_query(spark, built_index, query, ranker=ranker, k=10)
            return df.schema, [(r["doc_id"], r["score"]) for r in df.collect()]

        got[side] = count_jobs(spark, run)
    (schema_in, rows_in), jobs_in = got["inproc"]
    (schema_sp, rows_sp), jobs_sp = got["spark"]
    assert rows_in and rows_in == rows_sp
    assert schema_in == schema_sp
    assert jobs_in == 0 and jobs_sp > 0


def test_gate_boundary_is_the_df_sum(spark, built_index, monkeypatch):
    """A query whose df sum equals the budget runs in-process; one
    posting over it runs Spark jobs."""
    store = IndexStorage(built_index)
    sc = topk._prepare(spark, store, ["web search"], None, None, None)
    for cap, spark_side in ((sc.postings, False), (sc.postings - 1, True)):
        monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", cap)
        _rows, jobs = count_jobs(
            spark, lambda: wand_topk(spark, built_index, "web search").collect()
        )
        assert (jobs > 0) == spark_side, (cap, jobs)


def _mk_lists(avg_dl=10.0):
    """Two synthetic terms: rare (3 docs) and common (many blocks)."""
    rare_docs = np.array([5, 500, 900], dtype=np.int64)
    rare = encode_posting_blocks(
        rare_docs,
        np.array([2, 1, 3]),
        np.array([10, 12, 8]),
        np.array([0, 1, 4, 2, 3, 7]),
        avg_dl,
        block_size=2,
    )
    common_docs = np.arange(0, 1000, 2, dtype=np.int64)  # 500 docs, evens
    tfs = np.ones(500, dtype=np.int64)
    # doc_len must be CONSISTENT per doc across terms (it is in real data)
    dls = np.full(500, 10, dtype=np.int64)
    dls[common_docs == 500] = 12
    dls[common_docs == 900] = 8
    pos = np.arange(500, dtype=np.int64)
    common = encode_posting_blocks(common_docs, tfs, dls, pos, avg_dl, block_size=16)
    return {"rare": posting_blocks(rare), "common": posting_blocks(common)}


def _spec(*terms, phrases=()):
    return [(0, {t: 1.0 for t in terms}, list(phrases))]


def test_kernel_block_skipping():
    tl = _mk_lists()
    idf = {"rare": 3.0, "common": 0.5}
    q, d, s, stats = shard_topk(tl, _spec("rare", "common"), "bm25", idf, 10.0, k=10)
    # conjunctive: docs 500 and 900 are even (in common), 5 is odd (not)
    assert d.tolist() == [900, 500]  # 900 has tf=3 for rare -> higher score
    assert q.tolist() == [0, 0]
    assert s[0] > s[1]
    # the common term has ceil(500/16)=32 blocks; only the ones containing
    # candidates {5,500,900} may be decoded (2 blocks)
    assert stats["blocks_total"] == 2 + 32
    assert stats["blocks_decoded"] <= 2 + 3
    assert stats["blocks_decoded"] < stats["blocks_total"]


def test_kernel_batch_shares_decode_and_keeps_skip():
    """Several queries in one kernel call: each (term, block) is decoded
    at most once, the per-query block skip still holds, and each query's
    rows equal its single-query run."""
    tl = _mk_lists()
    idf = {"rare": 3.0, "common": 0.5}
    specs = [
        (0, {"rare": 1.0, "common": 1.0}, []),
        (1, {"rare": 2.0}, []),
        (2, {"rare": 1.0, "common": 1.0}, []),
        (3, {"absent": 1.0}, []),
    ]
    q, d, s, stats = shard_topk(tl, specs, "bm25", idf, 10.0, k=10)
    assert stats["blocks_decoded"] <= 2 + 3  # shared, not 3x
    for qid, qw, ph in specs:
        _q1, d1, s1, _ = shard_topk(tl, [(qid, qw, ph)], "bm25", idf, 10.0, k=10)
        assert d[q == qid].tolist() == d1.tolist()
        np.testing.assert_array_equal(s[q == qid], s1)
    assert not (q == 3).any()
    assert (q == 1).sum() == 3


def test_kernel_phrase_adjacency():
    """Phrase specs keep only docs whose words are adjacent: rare's
    positions are {5: [0, 1], 500: [4], 900: [2, 3, 7]}.  Common at the
    doc's rank among the evens (500 -> 250, 900 -> 450) never follows
    it; common at position 5 in docs 500 and 900 follows it in 500 only."""
    tl = _mk_lists()
    idf = {"rare": 3.0, "common": 0.5}
    _q, d, _s, _ = shard_topk(
        tl, _spec("rare", "common", phrases=[("rare", "common")]), "bm25", idf,
        10.0, k=10,
    )
    assert d.size == 0
    tl["common"] = posting_blocks(encode_posting_blocks(
        np.array([500, 900]), np.array([1, 1]), np.array([12, 8]),
        np.array([5, 5]), 10.0, block_size=16,
    ))
    _q, d, _s, _ = shard_topk(
        tl, _spec("rare", "common", phrases=[("rare", "common")]), "bm25", idf,
        10.0, k=10,
    )
    assert d.tolist() == [500]


def test_kernel_exclude_masks_before_topk():
    tl = _mk_lists()
    idf = {"rare": 3.0, "common": 0.5}
    _q, d, _s, _ = shard_topk(
        tl, _spec("rare", "common"), "bm25", idf, 10.0, k=1, exclude=np.array([900])
    )
    assert d.tolist() == [500]


def test_kernel_missing_term_means_empty():
    tl = _mk_lists()
    q, d, s, stats = shard_topk(
        tl, _spec("rare", "common", "absent"), "bm25",
        {"rare": 1, "common": 1, "absent": 1}, 10.0, 10,
    )
    assert d.size == 0 and q.size == 0


def test_kernel_tie_break_doc_id_asc():
    avg_dl = 10.0
    docs = np.array([3, 7, 11], dtype=np.int64)
    same = encode_posting_blocks(
        docs, np.ones(3, dtype=np.int64), np.full(3, 10), np.arange(3), avg_dl
    )
    _q, d, s, _ = shard_topk(
        {"t": posting_blocks(same)}, _spec("t"), "bm25", {"t": 1.0}, avg_dl, k=2
    )
    assert d.tolist() == [3, 7]  # equal scores -> lowest doc_ids win


@pytest.fixture(scope="module")
def fine_block_index(spark, corpus_pdf, tmp_path_factory):
    """Index with block_size=8: at 200 docs the default 128-doc blocks
    collapse each shard to 1-2 blocks per term, leaving the block-range
    skip nothing to skip — fine blocks give it the resolution the default
    has at real scale."""
    from websearchengine_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("fine_idx"))
    pages = spark.createDataFrame(corpus_pdf)
    build_index(spark, pages, root, n_shards=3, n_groups=2, block_size=8)
    return root


def test_serve_path_fine_blocks_rank_identity(spark, fine_block_index, oracle_index):
    """The serve path on 8-doc blocks (many blocks per shard, so the
    block skip has real work to do) stays rank-identical to the oracle
    on a high-df query at small k."""
    q = "the of"
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(spark, fine_block_index, q, k=3).collect()
    ]
    want = oracle_index.bm25(q, 3)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9


def test_hybrid_head_blocks_exist_and_rank_identity(spark, corpus_pdf, oracle_index, tmp_path):
    """Both serve paths stay rank-identical on a one-shard index with
    8-doc blocks, where head terms span ~24 blocks in a single shard."""
    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.query import run_query

    root = str(tmp_path / "hyb_idx")
    pages = spark.createDataFrame(corpus_pdf)
    build_index(spark, pages, root, n_shards=1, n_groups=1, block_size=8)

    # WAND on a high-df and a mid-df query
    for q in ["the of", "web search"]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in wand_topk(spark, root, q, k=10).collect()
        ]
        want = [(d, round(s, 9)) for d, s in oracle_index.bm25(q, 10)]
        assert got == want, q
    # phrase, comprehensive
    got_ph = [
        r["doc_id"]
        for r in run_query(spark, root, '"data mining"', ranker="comprehensive", k=10).collect()
    ]
    want_ph = [d for d, _ in oracle_index.query('"data mining"', "comprehensive", 10)]
    assert got_ph == want_ph


class TestSparkSide:
    """The oracle rank-identity tests above, rerun with the gate forced
    to the Spark side: these corpora are far under INPROC_MAX_POSTINGS,
    so by default they exercise only the in-process side."""

    @pytest.fixture(autouse=True)
    def _spark_side(self, monkeypatch):
        monkeypatch.setattr(topk, "INPROC_MAX_POSTINGS", 0)

    test_wand_matches_oracle_and_dataframe_path = staticmethod(
        test_wand_matches_oracle_and_dataframe_path
    )
    test_wand_phrase_falls_back = staticmethod(test_wand_phrase_falls_back)
    test_serve_path_fine_blocks_rank_identity = staticmethod(
        test_serve_path_fine_blocks_rank_identity
    )
    test_hybrid_head_blocks_exist_and_rank_identity = staticmethod(
        test_hybrid_head_blocks_exist_and_rank_identity
    )


# ---- one kernel call over many shards ---------------------------------

def _sharded_lists(n_shards: int, n_docs: int, seed: int):
    """Per-shard block columns of three terms over a doc-sharded corpus
    (doc_id % n_shards == shard), 8-doc blocks: {shard: {term: blocks}}
    and the same blocks as ONE term -> columns map over every shard."""
    from websearchengine_spark.functions.codec import PostingBlocks

    rng = np.random.default_rng(seed)
    dls = rng.integers(20, 60, size=n_docs)
    per_shard: dict[int, dict] = {s: {} for s in range(n_shards)}
    for term, share in (("a", 0.6), ("b", 0.3), ("c", 0.02)):
        has = rng.random(n_docs) < share
        for s in range(n_shards):
            docs = np.flatnonzero(has & (np.arange(n_docs) % n_shards == s))
            if docs.size == 0:
                continue
            tfs = rng.integers(1, 4, size=docs.size)
            pos = np.concatenate([np.sort(rng.choice(19, t, replace=False)) for t in tfs])
            per_shard[s][term] = posting_blocks(
                encode_posting_blocks(docs, tfs, dls[docs], pos, 40.0, block_size=8), shard=s
            )
    merged = {}
    for term in ("a", "b", "c"):
        parts = [per_shard[s][term] for s in range(n_shards) if term in per_shard[s]]
        shift = np.cumsum([0] + [p.buf.size for p in parts[:-1]])
        merged[term] = PostingBlocks(
            *(
                np.concatenate([getattr(p, f) + (o if f in ("start", "end") else 0) for p, o in zip(parts, shift)])
                for f in ("shard", "first", "last", "n", "start", "end")
            ),
            np.concatenate([p.buf for p in parts]),
        )
    return per_shard, merged


@pytest.mark.parametrize("ranker", ["bm25", "favorite", "comprehensive", "conjunctive"])
def test_one_call_over_shards_equals_per_shard_loop(ranker):
    """At 40 shards, one kernel call over every shard returns what one
    call per shard merged on (score desc, doc_id asc) returns — same
    doc ids, bit-identical scores — and decodes no more blocks: a
    block's [first, last] meets only its own shard's candidates."""
    n_shards, k = 40, 10
    per_shard, merged = _sharded_lists(n_shards, 6000, seed=1)
    specs = [
        (0, {"a": 1.0, "c": 1.0}, []),
        (1, {"c": 1.0, "a": 1.0, "b": 1.0}, []),
        (2, {"b": 2.0, "c": 1.0}, [("b", "c")]),
    ]
    const = {"a": 0.3, "b": 0.9, "c": 2.1} if ranker == "bm25" else {"a": 0.2, "b": 0.1, "c": 0.01}
    q1, d1, s1, st1 = shard_topk(merged, specs, ranker, const, 40.0, k)
    loop = [shard_topk(per_shard[s], specs, ranker, const, 40.0, k) for s in range(n_shards)]
    q2, d2, s2 = (np.concatenate([r[i] for r in loop]) for i in range(3))
    decoded_loop = sum(r[3]["blocks_decoded"] for r in loop)
    assert st1["blocks_total"] == sum(r[3]["blocks_total"] for r in loop)
    assert 0 < st1["blocks_decoded"] <= decoded_loop < st1["blocks_total"]
    for qid, *_ in specs:
        m1, m2 = q1 == qid, q2 == qid
        o2 = np.lexsort((d2[m2], -s2[m2]))[: None if ranker == "comprehensive" else k]
        o1 = np.lexsort((d1[m1], -s1[m1]))
        assert d1[m1][o1].tolist() == d2[m2][o2].tolist(), (ranker, qid)
        np.testing.assert_array_equal(s1[m1][o1], s2[m2][o2])
    assert (q1 == 1).any()


def test_query_batch_decodes_each_block_once(monkeypatch):
    """A batch of queries sharing terms decodes each (term, block) at
    most once in one kernel call, over many shards."""
    _per_shard, merged = _sharded_lists(32, 4000, seed=2)
    seen = []
    decode = topk.decode_posting_blocks

    def counting(blocks, *a, **kw):
        seen.extend((id(blocks.buf), s) for s in blocks.start.tolist())
        return decode(blocks, *a, **kw)

    monkeypatch.setattr(topk, "decode_posting_blocks", counting)
    specs = [
        (0, {"a": 1.0, "c": 1.0}, []),
        (1, {"b": 1.0, "c": 1.0}, []),
        (2, {"a": 1.0, "b": 1.0}, []),
        (3, {"a": 1.0, "b": 1.0, "c": 1.0}, [("a", "b")]),
    ]
    _q, _d, _s, stats = shard_topk(merged, specs, "bm25", {"a": 1, "b": 1, "c": 1}, 40.0, 10)
    assert len(seen) == len(set(seen)) == stats["blocks_decoded"]


def test_comprehensive_priors_read_as_columns(spark, built_index):
    """The in-process comprehensive side reads its candidates' docs rows
    as ONE table aligned with the candidates (priors as columns, no row
    dict per candidate)."""
    import pyarrow as pa

    store = IndexStorage(built_index)
    sc = topk._prepare(spark, store, ["the of"], None, None, None, "comprehensive")
    ids, _scores, rows, _reads = topk._local_topk(store, sc, 10)
    assert ids.size > 10 and isinstance(rows, pa.Table)
    assert rows.column("doc_id").to_numpy().tolist() == ids.tolist()


def test_missing_root_read_names_it_and_creates_nothing(spark, tmp_path):
    """A read of a missing index root raises one FileNotFoundError that
    names the root and leaves no directory behind; the write paths
    still create their root."""
    from websearchengine_spark.operators.query import search

    missing = str(tmp_path / "no" / "such" / "root")
    for read in (
        lambda: wand_topk(spark, missing, "web search"),
        lambda: run_query(spark, missing, "web search", ranker="bm25"),
        lambda: search(spark, missing, "web search"),
    ):
        with pytest.raises(FileNotFoundError, match=missing):
            read()
    assert not (tmp_path / "no").exists()
    fresh = tmp_path / "fresh"
    IndexStorage(str(fresh)).write_manifest({"config": {}})
    assert (fresh / "_manifest.json").exists()
