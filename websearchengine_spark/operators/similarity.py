"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline; the scale paths are
sign-LSH bucketing (hash join instead of cross join) and an IVF-style
coarse quantizer (search only the closest partitions).  All math is
native higher-order functions (zip_with/aggregate) — JVM-side, no
Python.

Scale notes: brute force is O(N) per query but embarrassingly parallel
and shuffle-free (a scan + TakeOrderedAndProject); IVF cuts the scanned
fraction to nprobe/nlist ONLY when the assignment is computed once and
persisted partitioned by ``list_id`` (``ivf_write_index``) — a query
then partition-prunes to the nprobe lists it probes.  Assigning at
query time would re-scan 100% of the vectors per query.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators.dedup import _drop_hot_buckets


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def _as_double(col):
    return col.cast("array<double>")


def cosine_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (id, cosine), tie-break id asc."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = _as_double(F.col(vec_col))
    return (
        emb.select(
            F.col(id_col),
            (_dot(v, q) / (_norm(v) * _norm(q))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def lsh_bucket(
    emb: DataFrame, n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, bucket): sign-LSH over deterministic pseudo-random hyperplanes.

    Plane p's weight for dimension i is a fixed hash of (i, p) — no
    stored model, reproducible everywhere (including in plain SQL).

    NO row amplification: every plane's dot product is a zip_with/
    aggregate fold over the array column inside one projection, so the
    plan is a single narrow scan (round-3 review: the old per-(plane,
    dimension) explode emitted n_planes x n_dim rows per vector — a
    ~10^3 constant at real embedding widths — and needed two
    aggregations to fold back; pinned explode-free by test_plans.py)."""
    v = _as_double(F.col(vec_col))
    idx = F.sequence(F.lit(1), F.size(F.col(vec_col)))

    def dot_plane(p: int):
        # weight(i, p) = hash of (i, p) in [-0.5, 0.5): same formula the
        # SQL oracle mirrors; (p+3)*2654435761 is folded to a literal
        mult = (p + 3) * 2654435761
        return F.aggregate(
            F.zip_with(
                v,
                idx,
                lambda x, i: x * (((i * F.lit(mult)) % 1000) / 1000.0 - 0.5),
            ),
            F.lit(0.0),
            lambda s, t: s + t,
        )

    bucket = None
    for p in range(n_planes):
        bit = (
            F.when(dot_plane(p) > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        )
        bucket = bit if bucket is None else bucket + bit
    # null/empty vectors are dropped, matching the explode shape (and
    # the SQL oracle), which produced no rows for them — without this
    # they would surface as bucket 0 (null dot -> otherwise branch)
    return emb.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).select(F.col(id_col), bucket.alias("bucket"))


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exhaustive: bool = False,
    max_bucket_size: int | None = None,
    drop_obs: Observation | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine >= threshold and id_a < id_b.

    Scale path (default): candidates come from a sign-LSH BUCKET JOIN
    (vectors agreeing on all n_planes hyperplane signs), then exact
    cosine verifies within buckets — pairwise work is confined to
    buckets, never all-pairs.  Recall is governed by n_planes (each
    plane halves the bucket; a near-dup pair at cosine c agrees on one
    plane with prob 1 - arccos(c)/pi).  ``exhaustive=True`` switches to
    the all-pairs self-join — the oracle path for tests/small data.

    ``max_bucket_size`` is OPT-IN (see dedup.DEFAULT_MAX_BUCKET_SIZE
    note): sign buckets are 2^n_planes coarse partitions whose size
    grows with corpus size — a default cap would silently drop distinct
    vectors past ~cap * 2^n_planes rows.  Scale n_planes with the
    corpus instead (buckets halve per plane), and cap only when a
    degenerate embedding cluster is known to exist.  ``drop_obs``: an
    Observation that receives the drop counts of the bucket path (see
    dedup._drop_hot_buckets).
    """
    v = _as_double(F.col(vec_col))
    base = emb.select(F.col(id_col).alias("_id"), v.alias("_v"))
    if exhaustive:
        cand = (
            base.alias("a")
            .crossJoin(base.alias("b"))
            .filter(F.col("a._id") < F.col("b._id"))
        )
    else:
        buckets = lsh_bucket(emb, n_planes=n_planes, id_col=id_col, vec_col=vec_col)
        bb = base.join(buckets, base["_id"] == buckets[id_col]).select(
            "_id", "_v", "bucket"
        )
        bb = _drop_hot_buckets(bb, ["bucket"], max_bucket_size, drop_obs)
        cand = (
            bb.alias("a")
            .join(bb.alias("b"), "bucket")
            .filter(F.col("a._id") < F.col("b._id"))
        )
    cos = _dot(F.col("a._v"), F.col("b._v")) / (
        _norm(F.col("a._v")) * _norm(F.col("b._v"))
    )
    return (
        cand.select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def ivf_build_centroids(
    emb: DataFrame, nlist: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic coarse quantizer: centroids = mean of each residue
    class (id % nlist) — one aggregation, no iterative k-means (the
    assignment structure, not clustering quality, is what the engine
    path exercises; swap in k-means|| offline for production)."""
    head = emb.select(vec_col).head(1)
    if not head:
        raise ValueError("ivf_build_centroids: embeddings DataFrame is empty")
    n_dim = len(head[0][0])
    agg = (
        emb.select((F.col(id_col) % nlist).alias("c"), _as_double(F.col(vec_col)).alias("v"))
        .groupBy("c")
        .agg(
            F.array(
                *[F.avg(F.element_at("v", i + 1)) for i in range(n_dim)]
            ).alias("centroid")
        )
        .orderBy("c")
        .collect()
    )
    return [list(r["centroid"]) for r in agg]


def _uniform_hash(ids, salt: int):
    """Vectorized deterministic uniform(0,1) draw per id (Knuth
    multiplicative hash lanes xor-folded with the salt) — reproducible
    sampling without RNG state on executors."""
    import numpy as np

    x = (ids.astype(np.uint64) * np.uint64(2654435761)) ^ np.uint64(
        salt * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
    )
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xFF51AFD7ED558CCD)
    x ^= x >> np.uint64(33)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def ivf_train_centroids_kmeans(
    emb: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rounds: int = 3,
    oversample: float = 2.0,
    n_iters: int = 5,
    seed: int = 13,
) -> list[list[float]]:
    """k-means|| coarse quantizer (Bahmani et al., VLDB'12) — the
    production replacement for ivf_build_centroids' residue-class
    placeholder (which stays as the deterministic oracle mode).

    Scale shape: every step is a full-scan mapInPandas whose output is a
    PARTIAL AGGREGATE (per-Arrow-batch cost sums, candidate weights, or
    per-cluster count+sum partials), so the driver only ever collects
    O(n_batches x nlist) tiny rows — no embedding shuffle, no
    per-iteration groupBy over the vectors, centers travel by broadcast.

      1. seeding: n_rounds of D^2-weighted oversampling (each point
         sampled w.p. min(1, l * d2/cost) with l = oversample*nlist,
         deterministic per-id hash draws), giving ~l*n_rounds candidates;
      2. candidates weighted by the size of their nearest-candidate
         cluster (one pass), then reduced to nlist centers by a local
         weighted Lloyd on the driver (numpy, deterministic init);
      3. n_iters distributed Lloyd refinements (one pass each).

    Deterministic for fixed inputs/seed.  Returns nlist centroids
    ordered by first dimension (stable downstream ids)."""
    import numpy as np

    df = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
    )
    spark = df.sparkSession
    sc = spark.sparkContext

    # deterministic seed point: the min-id row.  min + filtered lookup
    # (two tiny jobs) rather than orderBy().limit(1), and an explicit
    # error on empty input instead of an IndexError from collect()[0]
    min_id = df.agg(F.min("_id")).collect()[0][0]
    if min_id is None:
        raise ValueError(
            "ivf_train_centroids_kmeans: embeddings DataFrame is empty"
        )
    first = df.filter(F.col("_id") == min_id).limit(1).collect()[0]
    centers = np.asarray([first["_v"]], dtype=np.float64)
    n_dim = centers.shape[1]
    l = float(oversample) * nlist

    def _mats(pdf):
        ids = pdf["_id"].to_numpy().astype(np.int64)
        X = np.array(list(pdf["_v"]), dtype=np.float64).reshape(len(pdf), n_dim)
        return ids, X

    def _d2(X, C):
        # squared distance to the nearest center, numerically safe
        d = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * X @ C.T
            + (C * C).sum(axis=1)[None, :]
        )
        return np.maximum(d.min(axis=1), 0.0), d.argmin(axis=1)

    # ---- k-means|| seeding rounds --------------------------------------
    for r in range(n_rounds):
        bc = sc.broadcast(centers)

        def cost_partials(batches):
            for pdf in batches:
                _ids, X = _mats(pdf)
                c, _ = _d2(X, bc.value)
                yield pd.DataFrame({"cost": [float(c.sum())]})

        total_cost = (
            df.mapInPandas(cost_partials, schema="cost double")
            .agg(F.sum("cost"))
            .collect()[0][0]
            or 0.0
        )
        if total_cost <= 0.0:
            break  # every point sits on a center already

        def sample_candidates(batches, _r=r, _cost=total_cost):
            for pdf in batches:
                ids, X = _mats(pdf)
                c, _ = _d2(X, bc.value)
                p = np.minimum(1.0, l * c / _cost)
                take = _uniform_hash(ids, seed * 1000 + _r) < p
                if take.any():
                    yield pd.DataFrame(
                        {"v": [row.tolist() for row in X[take]]}
                    )

        cand = [
            np.asarray(r_["v"], dtype=np.float64)
            for r_ in df.mapInPandas(
                sample_candidates, schema="v array<double>"
            ).collect()
        ]
        if cand:
            centers = np.unique(
                np.concatenate([centers, np.stack(cand)]), axis=0
            )
        bc.destroy()

    # ---- weight candidates by nearest-candidate cluster size -----------
    bc = sc.broadcast(centers)

    def weight_partials(batches):
        for pdf in batches:
            _ids, X = _mats(pdf)
            if not len(X):
                continue
            _, a = _d2(X, bc.value)
            w = np.bincount(a, minlength=len(bc.value))
            nz = np.flatnonzero(w)
            yield pd.DataFrame({"c": nz.astype(np.int64), "w": w[nz].astype(np.int64)})

    wrows = (
        df.mapInPandas(weight_partials, schema="c long, w long")
        .groupBy("c")
        .agg(F.sum("w").alias("w"))
        .collect()
    )
    weights = np.zeros(len(centers), dtype=np.float64)
    for r_ in wrows:
        weights[r_["c"]] = float(r_["w"])
    bc.destroy()

    # ---- local weighted Lloyd reduces candidates -> nlist centers ------
    rng = np.random.default_rng(seed)
    if len(centers) <= nlist:
        C = centers[np.argsort(centers[:, 0], kind="stable")]
    else:
        # weighted kmeans++ init over the candidate set
        picks = [int(np.argmax(weights))]
        for _ in range(nlist - 1):
            d = ((centers[:, None, :] - centers[picks][None, :, :]) ** 2).sum(-1)
            d2 = d.min(axis=1) * weights
            if d2.sum() <= 0:
                probs = weights / weights.sum()
            else:
                probs = d2 / d2.sum()
            picks.append(int(rng.choice(len(centers), p=probs)))
        C = centers[picks]
        for _ in range(25):
            d = ((centers[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d.argmin(axis=1)
            newC = C.copy()
            for j in range(nlist):
                m = a == j
                wj = weights[m]
                if wj.sum() > 0:
                    newC[j] = (centers[m] * wj[:, None]).sum(0) / wj.sum()
            if np.allclose(newC, C):
                break
            C = newC
        C = C[np.argsort(C[:, 0], kind="stable")]

    # ---- distributed Lloyd refinement ----------------------------------
    for _ in range(n_iters):
        bc = sc.broadcast(C)

        def lloyd_partials(batches):
            for pdf in batches:
                _ids, X = _mats(pdf)
                if not len(X):
                    continue
                _, a = _d2(X, bc.value)
                rows = {"c": [], "n": [], "s": []}
                for j in np.unique(a):
                    m = a == j
                    rows["c"].append(int(j))
                    rows["n"].append(int(m.sum()))
                    rows["s"].append(X[m].sum(axis=0).tolist())
                yield pd.DataFrame(rows)

        parts = df.mapInPandas(
            lloyd_partials, schema="c int, n long, s array<double>"
        ).collect()
        bc.destroy()
        cnt = np.zeros(nlist, dtype=np.float64)
        sums = np.zeros_like(C)
        for r_ in parts:
            cnt[r_["c"]] += float(r_["n"])
            sums[r_["c"]] += np.asarray(r_["s"], dtype=np.float64)
        moved = cnt > 0
        newC = C.copy()
        newC[moved] = sums[moved] / cnt[moved, None]
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    C = C[np.argsort(C[:, 0], kind="stable")]
    return [list(map(float, row)) for row in C]


def ivf_assign(
    emb: DataFrame, centroids: list[list[float]], id_col: str = "vec_id",
    vec_col: str = "embedding", round_dots: int | None = None,
) -> DataFrame:
    """(id, list_id): nearest centroid by dot product (broadcast arith).

    ``round_dots``: round each centroid dot product to this many decimal
    places before the argmax — makes the assignment reproducible across
    engines whose float summation order differs (used by the driver
    oracle contract; irrelevant to recall)."""
    v = _as_double(F.col(vec_col))

    def _s(c):
        d = _dot(v, F.array(*[F.lit(float(x)) for x in c]))
        return F.round(d, round_dots) if round_dots is not None else d

    scores = [_s(c).alias(f"_s{i}") for i, c in enumerate(centroids)]
    scored = emb.select(F.col(id_col), *scores)
    arr = F.array(*[F.col(f"_s{i}") for i in range(len(centroids))])
    return scored.select(
        id_col,
        (F.array_position(arr, F.array_max(arr)) - 1).cast("int").alias("list_id"),
    )


def _probe_lists(
    centroids: list[list[float]], query_vec: list[float], nprobe: int,
    round_dots: int | None = None,
) -> list[int]:
    """The nprobe centroid ids closest to the query (dot product, ties by id)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=float)
    sims = [float(np.dot(q, np.asarray(c))) for c in centroids]
    if round_dots is not None:
        sims = [round(s, round_dots) for s in sims]
    return sorted(range(len(centroids)), key=lambda i: (-sims[i], i))[:nprobe]


def _assign_inline(emb: DataFrame, centroids: list[list[float]], vec_col: str):
    """emb columns + list_id in ONE mapInPandas pass: the centroid
    matrix travels by broadcast and assignment is a numpy matmul argmax.

    The scale path for ivf_write_index: the SQL expression route builds
    nlist x dim literal nodes and evaluates nlist aggregate folds PER
    ROW (at 64x256 that was ~2.5x the whole write wall, measured in the
    r5 sf1 session), and joining a separate (id, list_id) table back
    costs a shuffle of the full embedding payload.  numpy ties break to
    the FIRST max — same rule as array_position(max)."""
    import numpy as np

    from pyspark.sql import types as T

    spark = emb.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    cb = spark.sparkContext.broadcast(C)
    out_schema = T.StructType(
        emb.schema.fields + [T.StructField("list_id", T.IntegerType())]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                X = np.array(list(pdf[vec_col]), dtype=np.float64)
                lids = (X @ cb.value.T).argmax(axis=1).astype("int32")
            else:
                lids = np.empty(0, dtype="int32")
            pdf = pdf.copy()
            pdf["list_id"] = lids
            yield pdf

    return emb.mapInPandas(kernel, out_schema), cb


def ivf_write_index(
    emb: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dots: int | None = None,
) -> None:
    """Assign ONCE and persist partitioned by ``list_id``.

    This is the index-build step: one full scan total, amortized over
    every subsequent query.  The partitioned layout is what lets
    ``ivf_topk_indexed`` touch only nprobe/nlist of the files.

    ``round_dots=None`` (production) assigns via the vectorized
    mapInPandas kernel inline with the scan — no join, no per-row
    Catalyst folds.  ``round_dots=N`` keeps the exact SQL-expression
    assignment (rounded-dot argmax, reproducible across engines — the
    driver-oracle mode)."""
    cb = None
    if round_dots is None:
        assigned_rows, cb = _assign_inline(emb, centroids, vec_col)
    else:
        assigned = ivf_assign(emb, centroids, id_col, vec_col, round_dots)
        assigned_rows = emb.join(assigned, id_col)
    try:
        (
            assigned_rows.write.partitionBy("list_id")
            .mode("overwrite")
            .parquet(path)
        )
    finally:
        # the write is the only action over the kernel — release the
        # centroid broadcast (same discipline as the k-means trainer)
        if cb is not None:
            cb.destroy()


def ivf_topk_indexed(
    spark: SparkSession,
    index_path: str,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dots: int | None = None,
) -> DataFrame:
    """IVF search over a persisted index: the ``list_id IN probe`` filter
    is a PARTITION filter on the parquet layout, so the scan reads only
    the nprobe probed lists — nprobe/nlist of the data, per query."""
    probe = _probe_lists(centroids, query_vec, nprobe, round_dots)
    from websearchengine_spark.sources.storage import read_parquet

    # footer-typed read: no schema-inference job per query
    subset = read_parquet(spark, index_path).filter(F.col("list_id").isin(probe))
    return cosine_topk(subset, query_vec, k, id_col, vec_col)


def ivf_topk(
    emb: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF search against an in-memory DataFrame.

    Pass ``assigned`` (the cached/persisted output of ``ivf_assign``) to
    avoid recomputing nearest-centroid for every vector on every query.
    Without it this is a one-off convenience that scans the full table —
    use ``ivf_write_index`` + ``ivf_topk_indexed`` for the scale path
    (partition-pruned reads)."""
    probe = _probe_lists(centroids, query_vec, nprobe)
    if assigned is None:
        assigned = ivf_assign(emb, centroids, id_col, vec_col)
    subset = emb.join(assigned.filter(F.col("list_id").isin(probe)), id_col)
    return cosine_topk(subset, query_vec, k, id_col, vec_col)


def _semantic_drops_arrow(pool: DataFrame, threshold: float) -> DataFrame:
    """Vectorized pair stage for semantic_dedup: ONE shuffle cogroups
    each cluster (list_id) into an Arrow batch; a numpy Gram matrix of
    the unit rows marks every _id with a cosine >= threshold neighbor of
    smaller _id.  Column-blocked (B=4096) so peak memory is O(m·B) per
    cluster, never m² for huge clusters; zero-norm vectors produce NaN
    cosines which compare False (never dropped, never drop others) —
    identical to the SQL path's NULL-compare behavior."""
    import numpy as np
    import pandas as pd

    def _drops(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id")
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"_id": pd.Series([], dtype="int64")})
        V = np.array(pdf["_v"].tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            U = V / np.linalg.norm(V, axis=1, keepdims=True)
        ids = pdf["_id"].to_numpy()
        hit = np.zeros(n, dtype=bool)
        B = 4096
        for j0 in range(0, n, B):
            j1 = min(j0 + B, n)
            # rows >= j1 are never read (only i < j matters), so the
            # slice stops at j1 — half the matmul flops of a full Gram
            with np.errstate(invalid="ignore"):
                ge = (U[:j1] @ U[j0:j1].T) >= threshold  # j1 x (j1-j0); NaN -> False
            if j0 > 0:
                hit[j0:j1] |= ge[:j0].any(axis=0)
            hit[j0:j1] |= np.triu(ge[j0:j1], 1).any(axis=0)
        return pd.DataFrame({"_id": ids[hit]})

    return pool.groupBy("list_id").applyInPandas(_drops, "_id long")


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_cos: int | None = None,
    round_dots: int | None = None,
    max_cluster_size: int | None = None,
    drop_obs: Observation | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus.  Assign every vector to its
    nearest centroid (broadcast dot-product argmax — a projection, no
    shuffle), compare cosines ONLY within a cluster, and drop each
    vector that has a near-duplicate (cosine >= threshold) of smaller id
    in its cluster.  Greedy keep-smallest-id is the paper's "keep one
    per epsilon-ball" rule with a deterministic keeper: the survivor set
    is exactly the ids with no kept-or-dropped near-dup before them.

    Returns (id, list_id, keep) for EVERY input vector, keep=false for
    the dropped ones — callers semi-join or filter as needed.

    Scale: quadratic work is confined to clusters.  nlist grows with the
    corpus (the SemDeDup paper uses ~#vectors/10k clusters) so the mean
    cluster stays bounded; ``max_cluster_size`` caps degenerate clusters
    BEFORE the pair stage with the same observed-drop contract as the
    LSH ops (the caller's ``drop_obs`` Observation receives the counts;
    a dropped cluster's members are all KEPT — no silent deletion).

    Two implementations per stage, one semantics:

    * assignment: ``round_dots is None`` (default) reuses
      ``_assign_inline`` — ONE mapInPandas matmul-argmax pass with the
      centroid matrix broadcast (the measured scale path; the SQL
      expression route evaluates nlist folds PER ROW).  ``round_dots=N``
      keeps the expression route with rounded dots for the DuckDB
      mirror.  Ties break to the first max under both.
    * pair stage: default (``round_cos is None``) ONE shuffle cogroups
      each cluster into an Arrow batch and a numpy Gram matrix
      (unit-row matmul in column blocks, O(block·m) memory) marks the
      drops — the pairs never exist as rows at all.  ~50x the per-pair
      throughput of expression folds; memory bounded by
      ``max_cluster_size``.  Oracle mode (``round_cos=N``): pure column
      algebra — list_id equi-self-join with the cosine rounded to N dp
      before the threshold compare, so a DuckDB mirror running
      dot/(norm·norm) at the same rounding is bit-reproducible.

    Dirty vectors (NULL, zero-length, or containing NULL elements) get
    ``list_id`` NULL and ``keep`` true — they cannot be anyone's
    near-duplicate, are excluded from the pair stage, and are never
    silently deleted.  Zero-NORM vectors are assigned but their cosines
    are NaN/NULL, which compare false on both paths: kept, and never
    drop others.  The final keep join is an id equi-join against the
    (typically tiny) drop set; AQE sizes the post-shuffle drop side at
    runtime and converts to a broadcast join when it fits.
    """
    if not centroids:
        raise ValueError("semantic_dedup: centroids must be non-empty")
    v = _as_double(F.col(vec_col))
    base = emb.select(F.col(id_col).alias("_id"), v.alias("_v"))
    dirty = (
        F.col("_v").isNull()
        | (F.size("_v") == 0)
        | F.exists("_v", lambda x: x.isNull())
    )
    clean = base.filter(~dirty)
    if round_dots is None:
        ac, _cb = _assign_inline(clean, centroids, "_v")  # nlist x dim bc; GC'd
    else:

        def _s(c):
            d = _dot(F.col("_v"), F.array(*[F.lit(float(x)) for x in c]))
            return F.round(d, round_dots)

        scores = [_s(c).alias(f"_s{i}") for i, c in enumerate(centroids)]
        arr = F.array(*[F.col(f"_s{i}") for i in range(len(centroids))])
        ac = clean.select("_id", "_v", *scores).select(
            "_id",
            "_v",
            (F.array_position(arr, F.array_max(arr)) - 1).cast("int").alias("list_id"),
        )
    assigned = ac.unionByName(
        base.filter(dirty).withColumn("list_id", F.lit(None).cast("int"))
    )
    pool = _drop_hot_buckets(ac, ["list_id"], max_cluster_size, drop_obs)
    if round_cos is None:
        dropped = _semantic_drops_arrow(pool, threshold)
    else:
        denom = _norm(F.col("a._v")) * _norm(F.col("b._v"))
        # when-guard, not a filter: ANSI mode raises on the 0/0 a filter
        # would only hide after reorder; NULL cosine compares false
        cos = F.when(
            denom != F.lit(0.0),
            F.round(_dot(F.col("a._v"), F.col("b._v")) / denom, round_cos),
        )
        dropped = (
            pool.alias("a")
            .join(pool.alias("b"), "list_id")
            .filter(F.col("a._id") < F.col("b._id"))
            .filter(cos >= F.lit(threshold))
            .select(F.col("b._id").alias("_id"))
            .distinct()
        )
    dropped = dropped.withColumn("_dropped", F.lit(True))
    return assigned.join(dropped, "_id", "left").select(
        F.col("_id").alias(id_col),
        "list_id",
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
    )
