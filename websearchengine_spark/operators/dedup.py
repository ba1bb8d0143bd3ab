"""Large-scale deduplication operators over a documents-shaped DataFrame
``(doc_id: long, text: string, ...)`` — the training-data-pipeline tier.

All operators are pure ``pyspark.sql`` column expressions (JVM-side,
whole-stage-codegen'd; no Python UDFs), so they scale with Catalyst and
are DuckDB-oracle-checkable (__spark_entry__.py pairs each with SQL).

Scale notes (100 TB story):
  * exact dedup: one hash-aggregate on md5(text) — map-side partial agg,
    no skew (hashes are uniform).
  * MinHash/LSH: shingling explodes ~|text| rows per doc but each row is
    tiny; the minhash groupBy reduces back to one row per doc BEFORE the
    band join, so the only pairwise work happens inside LSH buckets.
    Bucket skew (a degenerate shingle shared by everything) is bounded
    by banding over multiple independent hashes.
  * SimHash: linear in corpus token count; candidate pairs come from
    exact simhash-key equality (a hash-join), optionally relaxed by
    rotating bit-bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from websearchengine_spark.operators.util import widen_for_explode

DEFAULT_N_HASHES = 8
DEFAULT_BANDS = 4

# Hot-bucket cap default: ON for MinHash-LSH, where a shared band
# signature IMPLIES high Jaccard — an over-cap bucket is a genuine
# near-identical mega-cluster (boilerplate, empty docs, spam) whose
# intra-cluster pairs exact dedup already collapses, and whose m^2/2
# pair blowup can consume the whole job.  10k members = 50M pairs per
# bucket, the most a single bucket should ever cost; ``None`` disables.
#
# NOT defaulted on for SimHash bands or sign-LSH cosine buckets: those
# keys are COARSE RANDOM PARTITIONS of the corpus (<= 2^band_bits resp.
# 2^n_planes distinct buckets), so bucket size grows with corpus size,
# not with duplication — a default cap there would silently drop
# genuinely distinct documents once the corpus exceeds cap * n_buckets
# (round-3 review finding).  For those ops the cap stays opt-in, for
# users who know their key space.
DEFAULT_MAX_BUCKET_SIZE = 10_000


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: (text_hash, n_dups, doc_ids) for groups > 1."""
    return (
        docs.select("doc_id", F.md5(F.encode(text_col, "UTF-8")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def _norm(text_col: str):
    return F.regexp_replace(F.lower(text_col), r"\s+", " ")


def char_shingles(docs: DataFrame, text_col: str = "text", k: int = 8) -> DataFrame:
    """(doc_id, shingle): character k-grams of whitespace-normalized text."""
    return (
        widen_for_explode(docs).select("doc_id", _norm(text_col).alias("norm"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1)))
            ).alias("i"),
            "norm",
        )
        .select("doc_id", F.expr(f"substring(norm, i, {k})").alias("shingle"))
    )


def _hash32(col, salt: int):
    """Deterministic 32-bit hash of a string column (md5-based, portable)."""
    return F.conv(
        F.substring(F.md5(F.encode(F.concat(F.lit(f"{salt}|"), col), "UTF-8")), 1, 8),
        16,
        10,
    ).cast("long")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_k: int = 8,
) -> DataFrame:
    """(doc_id, mh: array<long>) MinHash signature per doc.

    Hash family: each md5 digest yields FOUR independent 32-bit lanes,
    so n_hashes functions cost only ceil(n_hashes/4) digests per shingle
    (the digest, not the min-agg, dominates the shingle pass at corpus
    scale); digests are salted per 4-lane group.

    EXPLODE-FREE (r5): the per-doc signature is array_min over a
    transform(sequence) of shingle hashes in ONE projection — no
    Generate (the old shape emitted ~len(text) shingle ROWS per doc,
    ~300x amplification, the only near-data-proportional phase in the
    sf1 session) and no groupBy shuffle (signatures never leave their
    input partition).  min over a multiset equals min over the set, so
    duplicate shingles need no dedup.  Shingle semantics are
    char_shingles' exactly: whitespace-normalized lowercase text,
    positions 1..greatest(len-k+1, 1) (short docs keep their one
    truncated shingle).  Legacy explode shape + A/B:
    bench/deamplify.py::legacy_minhash_signatures.
    """
    norm = _norm(text_col)
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(norm) - (shingle_k - 1), F.lit(1))
    )

    def group_digests(g: int):
        # one md5 per (shingle, 4-lane group); the identical expression
        # backs all four of the group's lanes, deduplicated by Catalyst
        # subexpression elimination within the projection
        return F.transform(
            positions,
            lambda i: F.md5(
                F.encode(
                    F.concat(F.lit(f"{g}|"), norm.substr(i, F.lit(shingle_k))),
                    "UTF-8",
                )
            ),
        )

    lanes = [
        F.array_min(
            F.transform(
                group_digests(h // 4),
                lambda d: F.conv(
                    F.substring(d, 1 + 8 * (h % 4), 8), 16, 10
                ).cast("long"),
            )
        )
        for h in range(n_hashes)
    ]
    return docs.select("doc_id", F.array(*lanes).alias("mh"))


def _drop_hot_buckets(
    df: DataFrame, key_cols: list[str], cap: int | None, drop_obs: Observation | None
) -> DataFrame:
    """Skew guard for bucket self-joins: a bucket of m members yields
    m^2/2 pairs, so one hot bucket (boilerplate page, empty doc, spam
    cluster) can dominate the whole job at corpus scale.  Buckets larger
    than ``cap`` are dropped BEFORE the join — their members are
    near-identical mega-clusters that exact dedup already collapses.
    The count join is on the same key as the subsequent self-join, so it
    reuses the co-partitioning.

    The drop is never silent: the caller's ``drop_obs`` Observation
    (zero extra jobs — metrics ride the action) receives rows_dropped /
    rows_total once the result runs; rows_dropped is 0 without a cap."""
    if cap is None:
        if drop_obs is None:
            return df
        return df.observe(
            drop_obs, F.lit(0).alias("rows_dropped"), F.count(F.lit(1)).alias("rows_total")
        )
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("_bn"))
    joined = df.join(counts, key_cols)
    if drop_obs is not None:
        joined = joined.observe(
            drop_obs,
            F.count_if(F.col("_bn") > cap).alias("rows_dropped"),
            F.count(F.lit(1)).alias("rows_total"),
        )
    return joined.filter(F.col("_bn") <= cap).drop("_bn")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    shingle_k: int = 8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    drop_obs: Observation | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    shingle -> minhash -> band -> bucket-join: docs sharing any band
    bucket become a candidate pair; the pair's estimated Jaccard is the
    fraction of agreeing minhashes; pairs >= threshold survive.
    Returns (doc_a, doc_b, jaccard_est) with doc_a < doc_b.

    ``max_bucket_size``: hot-bucket cap (see _drop_hot_buckets) — the
    quadratic-blowup guard for web-scale corpora; ON by default
    (DEFAULT_MAX_BUCKET_SIZE), ``None`` disables.  ``drop_obs``: an
    Observation that receives the drop counts (see _drop_hot_buckets).
    """
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(docs, text_col, n_hashes, shingle_k).persist()
    banded = sig.select(
        "doc_id",
        "mh",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).select(
        "doc_id",
        "mh",
        "band",
        F.concat_ws(
            ":",
            F.col("band"),
            *[
                F.expr(f"mh[{'band'} * {rows_per_band} + {r}]")
                for r in range(rows_per_band)
            ],
        ).alias("bucket"),
    )
    banded = _drop_hot_buckets(banded, ["bucket"], max_bucket_size, drop_obs)
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"), "bucket"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"), "bucket"
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "mh_a", "mh_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.withColumn("jaccard_est", agree / F.lit(float(n_hashes)))
        .filter(F.col("jaccard_est") >= threshold)
        .select("doc_a", "doc_b", "jaccard_est")
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash: long): tf-weighted sign-bit fingerprint.

    All ``bits`` per-bit contribution sums are conditional aggregates of
    ONE groupBy(doc_id) over the (doc_id, term, tf) rows — no per-bit
    explode (the old shape emitted bits x distinct-(doc,term) rows and
    an extra (doc, bit) shuffle; round-3 review).  Catalyst's
    subexpression elimination computes each term's md5 digest once even
    though every bit's aggregate references it.  Pinned explode-free by
    test_plans.py."""
    toks = widen_for_explode(docs).select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")).alias(
            "term"
        ),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    if bits > 64:
        raise ValueError(f"simhash: bits={bits} exceeds the 64-bit key")
    odd = ("1", "3", "5", "7", "9", "b", "d", "f")

    def bit_char(b: int):
        # one fingerprint bit per hex char; an md5 digest yields 32 chars,
        # so bits > 32 draw from additional SALTED digests of the same
        # term (substring past char 32 is "" — the old code silently
        # zeroed bits 32..63; caught by the r5 sf1 session's 64-bit run)
        salt = b // 32
        src = (
            F.md5(F.encode(F.concat(F.col("term"), F.lit(f"#s{salt}")), "UTF-8"))
            if salt
            else F.md5(F.encode("term", "UTF-8"))
        )
        return F.substring(src, (b % 32) + 1, 1)

    aggs = [
        F.sum(
            F.col("tf") * F.when(bit_char(b).isin(*odd), 1).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(bits)
    ]
    per_doc = tf.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        # bit 63's weight is -(2^63): setting the sign bit in two's
        # complement (the literal 2^63 overflows a signed long — py4j
        # NumberFormatException, found at bits=64)
        coef = (1 << b) if b < 63 else -(1 << 63)
        bit = F.when(F.col(f"_s{b}") > 0, F.lit(coef)).otherwise(F.lit(0)).cast("long")
        sim = bit if sim is None else sim + bit
    return per_doc.select("doc_id", sim.alias("simhash"))


def simhash_duplicate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 0,
    max_bucket_size: int | None = None,
    drop_obs: Observation | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    max_hamming=0 is a plain equality hash join on the full key.  For
    k>0 the key is split into k+1 bit-bands: if two keys differ in at
    most k bits then, by pigeonhole, at least one band is bit-identical
    — so candidates are the union of k+1 equality joins on
    (band_id, band_bits), then verified with an exact popcount on the
    XOR.  Every stage is an equi-join/aggregation; no all-pairs work,
    so the shape survives 10^9 docs (each doc emits k+1 band rows).

    ``max_bucket_size`` is OPT-IN here (unlike minhash_lsh_pairs):
    simhash band buckets are coarse random partitions (<= 2^band_bits
    buckets), so their size grows with corpus size, not duplication —
    a default cap would silently drop distinct documents at scale.  At
    web scale, size ``bits`` so that 2^(bits/(k+1)) comfortably exceeds
    corpus_size / tolerable_bucket_size.  ``drop_obs``: an Observation
    that receives the drop counts (see _drop_hot_buckets).
    """
    s = simhash(docs, text_col, bits)
    if max_hamming == 0:
        s = _drop_hot_buckets(s, ["simhash"], max_bucket_size, drop_obs)
        a = s.select(F.col("doc_id").alias("doc_a"), "simhash")
        b = s.select(F.col("doc_id").alias("doc_b"), "simhash")
        # same schema as the banded path so callers can vary max_hamming
        # without branching: (doc_a, doc_b, hamming)
        return (
            a.join(b, "simhash")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", F.lit(0).alias("hamming"))
        )

    n_bands = max_hamming + 1
    # band i covers bit positions [floor(i*bits/n_bands), floor((i+1)*bits/n_bands))
    bounds = [(i * bits) // n_bands for i in range(n_bands + 1)]
    band_cols = []
    for i in range(n_bands):
        lo, hi = bounds[i], bounds[i + 1]
        width = hi - lo
        band_cols.append(
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftrightunsigned(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_bits"),
            )
        )
    banded = s.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.band_bits")
    banded = _drop_hot_buckets(banded, ["band_id", "band_bits"], max_bucket_size, drop_obs)

    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band_id",
        "band_bits",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "band_id",
        "band_bits",
    )
    return (
        a.join(b, ["band_id", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def token_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact token-set Jaccard for given (doc_a, doc_b) candidate pairs."""
    toks = widen_for_explode(docs).select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")).alias(
            "term"
        ),
    ).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ta = toks.withColumnRenamed("doc_id", "doc_a")
    tb = toks.withColumnRenamed("doc_id", "doc_b")
    inter = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sa"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("c") / (F.col("sa") + F.col("sb") - F.col("c"))).alias("jaccard"),
        )
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id): connected components of the candidate-pair
    graph — the step that turns pairwise near-dup evidence into
    DEDUPLICATABLE GROUPS (pair transitivity does not hold for hamming/
    jaccard thresholds, so clusters genuinely chain).  cluster_id is the
    component's minimum doc_id (stable, join-friendly canonical).

    Iterative min-label propagation with POINTER JUMPING: each round a
    node takes the minimum of its own, its neighbors', and its current
    label's label (label[label[v]] — path halving), so convergence
    needs O(log diameter) rounds, not diameter.  Converged when no
    label changes; ``max_iter`` guards pathological inputs (raises
    rather than returning a half-labeled graph).

    Scale shape: two equi-joins + one groupBy-min per round over the
    EDGE resp. LABEL tables — nothing reaches the driver but the
    per-round change count.  Label state is ``localCheckpoint``ed
    every round: iterative DataFrame loops otherwise double their
    logical plan per round (the re-analysis cost dominates wall time
    long before the data does).  On a cluster swap in
    ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` if
    executor loss matters mid-computation.
    """
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nb = edges.join(
            labels.select(
                F.col("node").alias("dst"), F.col("label").alias("nb_label")
            ),
            "dst",
        ).select(F.col("src").alias("node"), F.col("nb_label").alias("label"))
        new = (
            labels.unionByName(nb)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: follow the label one hop (labels are node ids,
        # so label[label[v]] is a self-join) and keep the minimum
        ptr = new.select(
            F.col("node").alias("label"), F.col("label").alias("parent")
        )
        new = (
            new.join(ptr, "label", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("parent"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("label", "old"), "node")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise ValueError(
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            "label-propagation rounds (pathologically long chain?)"
        )
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def collapse_duplicates(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The collapse step of a dedup pipeline: keep each cluster's
    canonical doc (the one whose id IS the cluster_id) and drop the
    other members; docs in no cluster pass through untouched.  One
    anti-join — broadcastable whenever the loser set is small relative
    to the corpus (the usual case)."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "anti")


def token_ngrams(
    docs: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram): every n-token window of the lowercased whitespace
    tokenization, as the space-joined string.  One slice expression per
    row — the explode emits windows, not (window x token) rows."""
    toks = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")
    # guard: sequence(1, 0) yields DESCENDING [1, 0] and slice(_, 0, n)
    # throws — a doc with fewer than n tokens has NO windows, not a crash
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return widen_for_explode(docs).select(
        F.col(id_col), F.explode(grams).alias("gram")
    )


def ngram_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    bench_text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination (the GPT-3/C4 protocol): flag every
    training document sharing ANY n-token n-gram with a benchmark/
    eval-set table, so test data never leaks into training data.

    Returns ``(clean_docs, flagged)`` where ``flagged`` is
    (doc_id, n_hits) — the contaminated docs with their overlapping-
    window counts (report it, don't just drop silently) — and
    ``clean_docs`` is ``docs`` minus those ids.

    Scale shape: both sides reduce to (id, gram) rows; the benchmark's
    DISTINCT grams (eval sets are tiny next to the corpus — broadcast
    when yours is) equi-join the corpus grams, one aggregation counts
    hits per doc, one anti-join drops them.  No pairwise doc x doc
    work anywhere."""
    corpus_grams = token_ngrams(docs, n=n, text_col=text_col)
    bench_grams = (
        token_ngrams(
            bench.select(F.lit(0).alias("doc_id"), F.col(bench_text_col)),
            n=n,
            text_col=bench_text_col,
        )
        .select("gram")
        .distinct()
    )
    flagged = (
        corpus_grams.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    clean = docs.join(flagged.select("doc_id"), "doc_id", "anti")
    return clean, flagged


def scrub_repeated_ngrams(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-substring scrubbing (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    token-window approximation of ExactSubstr): every n-token window
    whose occurrence count across the WHOLE corpus reaches
    ``min_count`` is removed from every document (all occurrences),
    leaving the surviving tokens in order.

    Returns (id, text, n_removed) for EVERY input document — text is
    the scrubbed token stream joined with single spaces (whitespace is
    normalized; original token case survives; window matching is
    case-insensitive), n_removed counts removed token instances.  A
    fully-repeated document comes back with empty text, never silently
    vanishes.

    Scale shape (all linear in total token count — no doc x doc work):
    a windows-not-tokens explode emits (doc, start, gram) rows; ONE
    aggregation reduces them to the repeated-gram vocabulary (tiny —
    AQE broadcasts it into the hit join when it fits); hits expand to
    covered (doc, pos) pairs bounded by hits x n; the rebuild is one
    posexplode of tokens, a co-keyed left join against covered, and ONE
    groupBy(doc) reassembly via array_sort(collect_list) — the same
    rebuild shape as textstats.strip_boilerplate.  The window explode
    is deliberately RECOMPUTED on the hit-join branch instead of
    cached: two linear scans beat materializing corpus-sized window
    rows (pinned in test_plans.py at <= 4 Generates)."""
    toks_raw = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    base = widen_for_explode(docs).select(
        F.col(id_col).alias("_id"), toks_raw.alias("_toks")
    )
    # windows over the LOWERCASED tokens; same sequence guard as
    # token_ngrams (a doc with < n tokens has no windows, not a crash)
    low = F.transform(F.col("_toks"), F.lower)
    idx = F.when(
        F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    win = F.transform(idx, lambda i: F.struct(
        i.alias("start"), F.array_join(F.slice(low, i, n), " ").alias("gram")
    ))
    grams = base.select("_id", F.explode(win).alias("w")).select(
        "_id", F.col("w.start").alias("start"), F.col("w.gram").alias("gram")
    )
    repeated = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("gram")
    )
    covered = (
        grams.join(repeated, "gram")
        .select(
            "_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (n - 1))).alias(
                "pos"
            ),
        )
        .distinct()
        .withColumn("_cov", F.lit(True))
    )
    tok_rows = base.select(
        "_id", F.posexplode_outer("_toks").alias("pos0", "tok")
    ).select("_id", (F.col("pos0") + 1).alias("pos"), "tok")
    marked = tok_rows.join(covered, ["_id", "pos"], "left")
    return marked.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_cov").isNull(), F.struct("pos", "tok"))
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias(text_col),
        F.sum(F.when(F.col("_cov"), 1).otherwise(0)).cast("long").alias("n_removed"),
    ).withColumnRenamed("_id", id_col)
