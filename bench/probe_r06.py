#!/usr/bin/env python
"""Round-6 probe: per-step breakdown of the bench's two heaviest phases
(index_build, wand_bm25 per-query) so optimization targets the actual
cost, not a guess (guide section 1).  NOT part of the frozen bench.py.

Usage: python bench/probe_r06.py [build|wand|entries]
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import functions as F

    from websearchengine_spark.operators.build import build_index
    from websearchengine_spark.operators.topk import wand_topk
    from websearchengine_spark.session import get_spark

    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("wse-probe-r06")
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    pages = docs.select(
        F.concat(F.lit("doc"), F.lpad(F.col("doc_id").cast("string"), 9, "0")).alias("url"),
        "text",
    )

    if what in ("build", "all"):
        for rep in range(3):
            root = tempfile.mkdtemp(prefix="wse_probe_idx_")
            sc.setJobDescription(f"probe build rep{rep}")
            t0 = time.time()
            store = build_index(
                spark, pages, root, n_shards=32, n_groups=2,
                analyzer="whitespace", keep_doc_terms=False,
            )
            wall = time.time() - t0
            cfg = store.read_manifest().get("config", {})
            print(json.dumps({
                "rep": rep, "build_wall": round(wall, 3),
                "phases": cfg.get("phase_timings_sec", {}),
            }))

    if what in ("wand", "all"):
        # build one index to query against
        root = tempfile.mkdtemp(prefix="wse_probe_widx_")
        build_index(spark, pages, root, n_shards=32, n_groups=2,
                    analyzer="whitespace", keep_doc_terms=False)
        import websearchengine_spark.operators.topk as topk_mod
        from websearchengine_spark.sources.storage import IndexStorage

        store = IndexStorage.open(root)
        for rep in range(3):
            for q in ["data stream join", "hash merge", "customer query batch"]:
                t0 = time.time()
                # step 1: everything up to (and incl) the term_stats collect
                terms = sorted(set(q.split()))
                ts = (
                    store.read_table(spark, "term_stats")
                    .filter(F.col("term").isin(terms))
                    .collect()
                )
                t1 = time.time()
                out = wand_topk(spark, root, q, k=10)
                t2 = time.time()
                out.collect()
                t3 = time.time()
                print(json.dumps({
                    "rep": rep, "q": q,
                    "stats_collect": round(t1 - t0, 3),
                    "wand_plan_build(incl its own stats collect)": round(t2 - t1, 3),
                    "main_collect": round(t3 - t2, 3),
                    "total": round(t3 - t0, 3),
                }))


if __name__ == "__main__":
    main()
