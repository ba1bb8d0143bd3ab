"""Physical-plan regression tests: the plans PLANS.md documents must be
the plans Catalyst produces (pushdown, pruning, broadcast, bounded-heap
top-k)."""

from websearchengine_spark.plans.audit import audit_plans, plan_of


def test_audit_plans_all_ok(spark, built_index):
    results = audit_plans(spark, built_index)
    failed = {k: ev for k, (ok, ev) in results.items() if not ok}
    assert not failed, failed


def test_build_has_single_wide_shuffle(spark, corpus_pdf):
    """The postings job plan contains exactly one Exchange caused by the
    occurrence groupBy (plus AQE artifacts), not a chain of them."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators.build import analyze_pages

    from websearchengine_spark.operators.build import PACK_BITS

    pages = spark.createDataFrame(corpus_pdf)
    analyzed = analyze_pages(pages)
    occs = analyzed.select(
        F.lit(0).cast("long").alias("doc_id"),
        F.size("tokens").alias("doc_len"),
        F.posexplode("tokens").alias("pos", "term"),
    )
    pk = F.shiftleft(F.col("doc_id"), PACK_BITS)
    plists = occs.select(
        "term",
        (pk + F.col("pos")).alias("occ_p"),
        (pk + F.col("doc_len")).alias("dl_p"),
    ).groupBy("term").agg(
        F.sort_array(F.collect_list("occ_p")).alias("occs"),
        F.sort_array(F.collect_set("dl_p")).alias("dls"),
    )
    import re

    p = plan_of(plists, "formatted")
    # one Exchange NODE (the formatted output mentions each node in both
    # the tree and the detail section; count detail headers)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_build_postings_plan_single_range_exchange(
    spark, corpus_pdf, tmp_path, monkeypatch
):
    """The frame build_index hands to the postings writer has exactly
    ONE Exchange and it is the term-clustered range partitioning: the
    occurrence groupBy reuses it (no second, hash Exchange), so the
    build stays single-shuffle while every write task holds one
    contiguous term range."""
    import re

    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.sources.storage import IndexStorage

    plans = []
    write = IndexStorage.write_partitions_atomic

    def capture(self, df, *args, **kwargs):
        # explained while the build's analyzed relation is still cached
        plans.append(plan_of(df, "simple"))
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(IndexStorage, "write_partitions_atomic", capture)
    build_index(
        spark, spark.createDataFrame(corpus_pdf), str(tmp_path / "idx"),
        n_shards=3, n_groups=2,
    )
    assert len(plans) == 1
    p = plans[0]
    # the url-rank exchanges live inside the cached analyzed relation
    # (computed once, before the postings job); the postings job's own
    # exchanges are those above its scan
    top = p[: p.index("InMemoryTableScan")]
    assert len(re.findall(r"Exchange ", top)) == 1, p
    assert re.search(
        r"Exchange rangepartitioning\(term#\d+ ASC NULLS FIRST, shard#\d+ ASC", top
    ), p
    assert "hashpartitioning(shard" not in p, p


def test_kway_merge_plan_single_compressed_shuffle(
    spark, corpus_pdf, tmp_path, monkeypatch
):
    """K-way compaction's only wide operation is ONE Exchange over the
    already-compressed postings tables — no token rescan, no occurrence
    shuffle, regardless of how many segments merge or how many groups
    the output has (the LSM scale claim in operators/merge.py).  Pinned
    on the frame merge_many_indexes actually hands to the writer; a
    resumed merge filters to the missing groups BELOW that Exchange."""
    import re

    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.merge import merge_many_indexes
    from websearchengine_spark.sources.storage import IndexStorage

    roots = []
    for i in range(3):
        lo, hi = 60 * i, min(60 * (i + 1), 200)
        pages = spark.createDataFrame(corpus_pdf.iloc[lo:hi])
        r = str(tmp_path / f"seg{i}")
        build_index(spark, pages, r, n_shards=3, n_groups=2)
        roots.append(r)

    written = []
    write = IndexStorage.write_partitions_atomic

    def capture(self, df, *args, **kwargs):
        written.append(df)
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(IndexStorage, "write_partitions_atomic", capture)
    out = str(tmp_path / "merged")
    merge_many_indexes(spark, roots, out)
    assert len(written) == 1
    p = plan_of(written[0], "formatted")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    # that Exchange is the build's term-clustered range partitioning
    assert re.search(r"Arguments: rangepartitioning\(term#\d+ ASC NULLS FIRST, shard", p), p
    # the scan reads the compressed postings tables, not pages/tokens
    assert "postings" in p
    assert "tokens" not in p

    # torn compaction: group 0 committed, the rerun writes group 1 only
    store = IndexStorage(out)
    m = store.read_manifest()
    m["completed_groups"] = [0]
    store.write_manifest(m)
    merge_many_indexes(spark, roots, out)
    assert len(written) == 2
    p = plan_of(written[1], "simple")
    assert len(re.findall(r"Exchange rangepartitioning", p)) == 1, p
    below = p[p.index("Exchange rangepartitioning"):]
    assert re.search(r"Filter .*\(shard#\d+ % 2\)", below), p


def test_lsh_bucket_plan_is_explode_free_and_shuffle_free(spark):
    """Round-4 de-amplification pin: sign-LSH computes every plane's dot
    product inside ONE projection over the array column — no per-(plane,
    dimension) Generate (the old shape emitted n_planes x n_dim rows per
    vector) and no Exchange at all (it used to need two aggregations to
    fold the exploded rows back)."""
    from websearchengine_spark.operators.similarity import lsh_bucket

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -0.5, 2.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    p = plan_of(lsh_bucket(emb), "formatted")
    assert "Generate" not in p, p
    assert "Exchange" not in p, p


def test_simhash_plan_has_single_generate_two_exchanges(spark):
    """Round-4 de-amplification pin: simhash's only Generate is the
    tokenizer explode (the old per-bit sequence explode multiplied
    distinct-(doc, term) rows by ``bits``), and the per-bit sums ride
    the per-doc groupBy — two Exchanges total (tf, per-doc), not three."""
    import re

    from websearchengine_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b c d")], "doc_id long, text string"
    )
    p = plan_of(simhash(docs), "formatted")
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p


def test_minhash_signatures_plan_is_explode_free_and_shuffle_free(spark):
    """Round-5 de-amplification pin: the MinHash signature is array_min
    over transform(sequence) shingle hashes in ONE projection — no
    Generate (the old shape emitted ~len(text) shingle rows per doc, the
    only near-data-proportional bench phase at sf1) and no Exchange (the
    groupBy(doc_id) min-agg shuffle is gone)."""
    from websearchengine_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"some text number {i} with words") for i in range(4)],
        "doc_id long, text string",
    )
    p = plan_of(minhash_signatures(docs), "formatted")
    assert "Generate" not in p, p
    assert "Exchange" not in p, p


def test_pii_redact_and_hash_split_plans_are_map_only(spark):
    """Round-5 pins: PII scrubbing and hash-split assignment are pure
    projections — no Generate, no Exchange — so they run as map-only
    passes fused into whatever scan precedes them at any corpus size."""
    from websearchengine_spark.operators.textstats import hash_split, pii_redact

    docs = spark.createDataFrame(
        [(i, f"text {i} a@b.co") for i in range(4)], "doc_id long, text string"
    )
    for df in (pii_redact(docs), hash_split(docs)):
        p = plan_of(df, "formatted")
        assert "Generate" not in p, p
        assert "Exchange" not in p, p


def test_gopher_stats_plan_single_generate(spark):
    """Round-5 pin: every Gopher feature except the 2-gram mode is
    explode-free array algebra; the plan carries exactly ONE Generate
    (the linear gram explode, n_words-1 rows/doc — same order as the tf
    pass the index build already does), never a line- or char-level
    amplification."""
    from websearchengine_spark.operators.textstats import gopher_stats

    docs = spark.createDataFrame(
        [(i, f"line one\nline two {i}\nline one") for i in range(4)],
        "doc_id long, text string",
    )
    import re

    p = plan_of(gopher_stats(docs), "formatted")
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1, p
    # three keyed Exchanges: gram count, per-doc argmax, join co-partition
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 3, p


def test_normalize_url_plan_map_only(spark):
    """Round-5 pin: URL normalization is pure column algebra — no
    Generate, no Exchange — and url_dedup adds exactly ONE keyed
    Exchange (the groupBy on the normalized key, with a map-side
    partial aggregate below it)."""
    import re

    from websearchengine_spark.operators.textstats import normalize_url, url_dedup
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"https://Example.com/p{i}?utm_source=x&id={i}") for i in range(4)],
        "doc_id long, url string",
    )
    p = plan_of(docs.select(normalize_url(F.col("url")).alias("n")), "formatted")
    assert "Generate" not in p, p
    assert "Exchange" not in p, p
    p2 = plan_of(url_dedup(docs), "formatted")
    assert len(re.findall(r"\(\d+\) Exchange", p2)) == 1, p2
    assert "partial_count" in p2 or "HashAggregate" in p2, p2


def test_semantic_dedup_assignment_is_one_projection(spark):
    """Round-5 pin: the SemDeDup default path has no Generate (no row
    amplification anywhere) and at most 4 Exchanges — the list_id
    cogroup for the Arrow pair stage plus the final id-keyed keep join
    (both sides; AQE converts the tiny drop side to broadcast at
    runtime) — never a pair-materializing stage."""
    import re

    from websearchengine_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    p = plan_of(
        semantic_dedup(emb, [[1.0, 0.0], [0.0, 1.0]], threshold=0.9), "formatted"
    )
    assert "Generate" not in p, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 4, p


def test_strip_boilerplate_plan_single_generate_per_scan(spark):
    """Round-5 pin: boilerplate stripping explodes each document into
    its own lines exactly once per scan (2 scans: boilerplate vocab +
    rebuild) — linear in total line count, never a cross-product."""
    import re

    from websearchengine_spark.operators.textstats import strip_boilerplate

    docs = spark.createDataFrame(
        [(i, "a\nshared\nb") for i in range(4)], "doc_id long, text string"
    )
    p = plan_of(strip_boilerplate(docs, min_docs=2), "formatted")
    assert len(re.findall(r"\(\d+\) Generate", p)) <= 2, p


def test_scrub_repeated_ngrams_plan_linear_generates(spark):
    """Round-5 pin: the repeated-window scrub emits windows (not
    window x token rows) and stays linear — at most 4 Generates (the
    gram-window explode appears TWICE because the count pass and the
    hit-join pass each recompute it rather than caching corpus-sized
    window rows, plus covered-span expansion bounded by hits x n and
    the token posexplode), never a pairwise or token-amplified stage."""
    import re

    from websearchengine_spark.operators.dedup import scrub_repeated_ngrams

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(4)],
        "doc_id long, text string",
    )
    p = plan_of(scrub_repeated_ngrams(docs, n=4, min_count=2), "formatted")
    assert len(re.findall(r"\(\d+\) Generate", p)) <= 4, p
