"""Plan audit helpers: assert the physical plans we designed for are the
plans Catalyst actually produces.

``audit_plans(spark, index_root)`` returns {check_name: (ok, evidence)}
and is used both by tests and by ``python -m websearchengine_spark.plans.audit``
to regenerate PLANS.md.
"""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame, functions as F


def plan_of(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def audit_plans(spark, index_root: str) -> dict[str, tuple[bool, str]]:
    from websearchengine_spark.operators.topk import (
        INPROC_MAX_POSTINGS,
        _prepare,
        _spark_topk,
        wand_topk,
    )
    from websearchengine_spark.sources.storage import IndexStorage

    store = IndexStorage.open(index_root)
    out: dict[str, tuple[bool, str]] = {}

    # 1. query-term filter reaches the parquet scan (PushedFilters) and
    #    only term+blocks columns are read (ReadSchema pruning)
    postings = store.read_partitioned(spark, "postings").filter(
        F.col("term").isin(["web", "search"])
    ).select("term", "blocks")
    p = plan_of(postings)
    ok = ("PushedFilters: [In(term" in p or "PushedFilters: [In(`term`" in p) and "html" not in p
    out["postings_scan_pushdown"] = (ok, _scan_lines(p))

    # 1b. the in-process point read (storage.lookup_rows) is range-
    #     directed: postings are term-clustered, so a term's rows sit in
    #     one file per group (two when the term is a range boundary), and
    #     the recorded row-group ranges open only those — the read
    #     follows the query's postings, not the table
    terms = ["web", "search"]
    n_groups = int(store.read_manifest().get("config", {}).get("n_groups", 1))
    reads: dict = {}
    store.lookup_rows("postings", "term", terms, columns=["term"], reads=reads)
    seen = reads["postings"]
    ok = 0 < seen["files_read"] <= 2 * len(terms) * n_groups < seen["files_total"]
    out["postings_point_read_range_directed"] = (
        ok,
        f"{terms}: {seen['files_read']}/{seen['files_total']} files, "
        f"{seen['row_groups_read']}/{seen['row_groups_total']} row groups "
        f"({n_groups} groups)",
    )

    # audit query = two high-df terms of THIS index's own vocabulary — a
    # fixed "web search" probe audits the EMPTY-RESULT short-circuit on
    # corpora that lack those words (the r5 sf1 false-negative: the plan
    # was fine, the query matched nothing).  Candidates are restricted to
    # ANALYZER FIXED POINTS: term_stats holds analyzer output, and Porter
    # step 1 is not idempotent ('housing'->'hous' but stem('hous')='hou'),
    # so a non-fixed-point stem fed back through the query path would
    # miss the vocabulary and re-create the same false negative
    from websearchengine_spark.operators.query import (
        analyze_tokens,
        index_analyzer,
        parse_query,
    )

    analyzer = index_analyzer(store)
    candidates = [
        r["term"]
        for r in store.read_table(spark, "term_stats")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
        .collect()
    ]
    top_terms = [
        t
        for t in candidates
        if analyze_tokens(parse_query(t), analyzer) == [[t]]
    ][:2]
    audit_q = " ".join(top_terms) if top_terms else "web search"

    # 2. WAND Spark side (forced: the in-process gate would serve a
    #    small index without a plan): metadata join is a broadcast,
    #    global top-k is TakeOrderedAndProject (bounded heap merge, no
    #    full sort)
    def spark_side(q: str, ranker: str = "bm25") -> str:
        sc = _prepare(spark, store, [q], None, None, None, ranker)
        return plan_of(_spark_topk(spark, store, sc, 10, True, None))

    wp = spark_side(audit_q)
    ok = "TakeOrderedAndProject" in wp and "BroadcastHashJoin" in wp
    out["wand_topk_merge_and_broadcast"] = (ok, _grep(wp, ["TakeOrderedAndProject", "BroadcastHashJoin"]))

    # 2b. one WAND query path: plain and phrase queries both merge with a
    #     bounded TakeOrderedAndProject (no rank Window), and the shard
    #     grouping is the plan's only shuffle
    shapes = []
    for q in (audit_q, f'"{audit_q}"'):
        qp = wp if q == audit_q else spark_side(q)
        n_exchange = len(re.findall(r"\(\d+\) Exchange", qp))
        ok = "TakeOrderedAndProject" in qp and "Window" not in qp and n_exchange == 1
        shapes.append((ok, f"{q}: {n_exchange} Exchange, Window={'Window' in qp}"))
    out["wand_topk_one_shell"] = (
        all(ok for ok, _ in shapes), "\n".join(ev for _, ev in shapes)
    )

    # 2c. a query under INPROC_MAX_POSTINGS is answered in-process: its
    #     plan is a local relation, no Exchange, no job to collect
    gated = [
        r["term"]
        for r in store.read_table(spark, "term_stats")
        .filter(F.col("df") <= INPROC_MAX_POSTINGS)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
        .collect()
        if analyze_tokens(parse_query(r["term"]), analyzer) == [[r["term"]]]
    ][:1]
    gated_q = gated[0] if gated else audit_q
    gp = plan_of(wand_topk(spark, index_root, gated_q, k=10))
    ok = "LocalTableScan" in gp and "Exchange" not in gp
    out["wand_topk_gated_local"] = (
        ok, f"{gated_q}: " + _grep(gp, ["LocalTableScan", "Exchange"])
    )

    # 3. run_query's Spark side, every indexed ranker: one kernel shell
    #    and a bounded TakeOrderedAndProject merge, no rank Window; the
    #    shard grouping is the only shuffle except for comprehensive,
    #    whose every-candidate docs join (the priors) may shuffle too
    shapes = []
    for ranker in ("bm25", "favorite", "conjunctive", "comprehensive"):
        qp = spark_side(audit_q, ranker)
        n_exchange = len(re.findall(r"\(\d+\) Exchange", qp))
        ok = "TakeOrderedAndProject" in qp and "Window" not in qp
        if ranker != "comprehensive":
            ok = ok and n_exchange == 1
        shapes.append(
            (ok, f"{ranker}: {n_exchange} Exchange, Window={'Window' in qp}")
        )
    out["run_query_one_kernel"] = (
        all(ok for ok, _ in shapes), "\n".join(ev for _, ev in shapes)
    )

    # 4. docs lookup by doc_id list (J3): predicate pushed to scan
    docs = store.read_table(spark, "docs").filter(F.col("doc_id").isin([1, 2, 3]))
    dp = plan_of(docs)
    ok = "PushedFilters: [In(doc_id" in dp or "PushedFilters: [In(`doc_id`" in dp
    out["docs_lookup_pushdown"] = (ok, _scan_lines(dp))

    # 5. IVF probe: list_id filter is a PARTITION filter on the persisted
    #    index — a query reads nprobe/nlist of the files, never the rest
    from websearchengine_spark.operators.similarity import (
        ivf_build_centroids,
        ivf_write_index,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(4)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    ivf_path = os.path.join(index_root, "_ivf_audit")
    if not os.path.exists(os.path.join(ivf_path, "_SUCCESS")):
        cents = ivf_build_centroids(emb, nlist=4)
        ivf_write_index(emb, cents, ivf_path)
    probe = spark.read.parquet(ivf_path).filter(F.col("list_id").isin([1]))
    ip = plan_of(probe)
    ok = "PartitionFilters" in ip and "list_id" in ip
    out["ivf_probe_partition_pruned"] = (
        ok,
        _grep(ip, ["PartitionFilters", "Location"]),
    )

    # 6. the one postings writer's input, in both callers: exactly ONE
    #    Exchange of the postings job, the term-clustered range
    #    partitioning (build._term_clustered), reused by the
    #    groupBy(shard, term) above it
    for name, plan in postings_write_plans(spark, os.path.join(index_root, "_write_audit")).items():
        # a build's url-rank exchanges sit inside its cached analyzed
        # relation, computed before the postings job
        top = plan.split("InMemoryTableScan")[0]
        ranges = re.findall(r"Exchange rangepartitioning\([^)]*\)", top)
        ok = len(re.findall(r"Exchange ", top)) == 1 and len(ranges) == 1 and (
            re.match(r"Exchange rangepartitioning\(term#\d+ ASC NULLS FIRST, shard#", ranges[0])
            is not None
        )
        out[f"{name}_postings_one_range_exchange"] = (ok, _grep(top, ["Exchange", "HashAggregate"]))

    return out


def postings_write_plans(spark, work_dir: str) -> dict[str, str]:
    """The physical plans of the frames build_index and
    merge_many_indexes hand to the postings writer
    (IndexStorage.write_partitions_atomic), explained at write time: two
    120-doc builds under ``work_dir`` and their merge."""
    import shutil

    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.merge import merge_many_indexes
    from websearchengine_spark.sources.corpus import gen_pages_df
    from websearchengine_spark.sources.storage import IndexStorage

    plans: list[str] = []
    write = IndexStorage.write_partitions_atomic

    def capture(self, df, *args, **kwargs):
        plans.append(plan_of(df, "simple"))
        return write(self, df, *args, **kwargs)

    shutil.rmtree(work_dir, ignore_errors=True)
    roots = [os.path.join(work_dir, f"seg{i}") for i in range(2)]
    IndexStorage.write_partitions_atomic = capture
    try:
        for i, r in enumerate(roots):
            build_index(
                spark, gen_pages_df(spark, 120, seed=11 + i), r, n_shards=3, n_groups=2
            )
        merge_many_indexes(spark, roots, os.path.join(work_dir, "merged"))
    finally:
        IndexStorage.write_partitions_atomic = write
    return {"build": plans[0], "merge": plans[-1]}


def _grep(plan: str, needles: list[str]) -> str:
    lines = [l.strip() for l in plan.splitlines() if any(n in l for n in needles)]
    return "\n".join(dict.fromkeys(lines))


def _scan_lines(plan: str) -> str:
    keep = [
        l.strip()
        for l in plan.splitlines()
        if "PushedFilters" in l or "ReadSchema" in l or "Scan parquet" in l
    ]
    return "\n".join(keep[:6])


def main() -> None:  # pragma: no cover - manual utility
    import sys
    import tempfile

    sys.path.insert(0, ".")
    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.session import get_spark
    from websearchengine_spark.sources.corpus import gen_pages_df

    spark = get_spark("plan-audit", cores=4)
    root = tempfile.mkdtemp(prefix="wse_plans_")
    build_index(spark, gen_pages_df(spark, 500, seed=42), root, n_shards=4, n_groups=2)
    for name, (ok, ev) in audit_plans(spark, root).items():
        print(f"### {name}: {'OK' if ok else 'NOT OK'}\n{ev}\n")


if __name__ == "__main__":  # pragma: no cover
    main()
