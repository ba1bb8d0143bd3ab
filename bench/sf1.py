#!/usr/bin/env python
"""sf1 scale-proof session (round-5, VERDICT r4 item 1).

The driver's largest dataset is sf0.1 (5,000 docs / 2,000 vectors /
600k lineitem).  This harness synthesizes a DETERMINISTIC sf1-shaped
dataset at 10x that size — same schemas, same vocabulary, same flat
word distribution, same dup/near-dup seeding style as
/root/testdata/sf0.1 (TESTDATA.md: no external data; everything derives
from doc_id/vec_id) — then:

  1. runs the standard bench.py suite at BOTH sf0.1 and sf1 in the same
     host window (subprocesses, BENCH_REPS=2) so per-phase 10x-data
     scaling ratios are probe-comparable;
  2. builds the sf1 index in-process and re-runs the physical-plan
     audit (plans.audit.audit_plans) against it, asserting no plan-shape
     change;
  3. times the dedup/cluster/ANN tier — the registered driver entries —
     at sf1, recording the MinHash-LSH hot-bucket drop counts (its
     drop_obs Observation).

Prints ONE JSON document; BENCH/BASELINE.md §BENCH_SF1 is written from
it.  Usage:

    python bench/sf1.py            # gen (if absent) + full session
    WSE_SF1_DIR=/tmp/wse_sf1 WSE_SF1_DOCS=50000 python bench/sf1.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.environ.get("WSE_SF1_DIR", "/tmp/wse_sf1")
SRC_SF_DIR = os.environ.get("WSE_SF1_SRC", "/root/testdata/sf0.1")
N_DOCS = int(os.environ.get("WSE_SF1_DOCS", "50000"))
N_VECS = N_DOCS * 2 // 5  # sf0.1 ratio: 2,000 vecs per 5,000 docs
LINEITEM_COPIES = 10

# the sf0.1 documents vocabulary (30 words, flat draw; "dup" marks the
# seeded near-duplicate docs) — measured from the driver's parquet
VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast the row agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr"]
LANG_P = [0.64, 0.12, 0.12, 0.12]


def _doc_words(i: int):
    import numpy as np

    rng = np.random.default_rng(42_000_000 + i)
    nw = int(rng.integers(10, 101))
    return list(rng.choice(VOCAB, size=nw)), rng


def _doc_row(i: int) -> tuple[str, str, str]:
    """(text, lang, source) for doc i — pure function of i, so the
    near-dup seeding can re-derive its base doc without cross-row state."""
    words, rng = _doc_words(i)
    if i >= 100 and i % 97 == 1:
        # near-duplicate of doc i-1 (sf0.1 seeds ~0.5-1% of docs with a
        # "dup"-marked close copy): same text with the tail perturbed
        base, _ = _doc_words(i - 1)
        words = base[:-2] + ["dup", "dup"]
    lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
    src = f"src{int(rng.integers(0, 20))}"
    return " ".join(words), lang, src


def generate(spark) -> None:
    import numpy as np

    from pyspark.sql import functions as F

    os.makedirs(SF1_DIR, exist_ok=True)
    try:
        # run as __main__, closures pickle by value; imported as a module
        # (tests/smokes), executors need this file on their pythonpath
        spark.sparkContext.addPyFile(os.path.abspath(__file__))
    except Exception:
        pass  # already shipped in this context

    def gen_docs(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
            for i in pdf["id"].to_numpy():
                text, lang, src = _doc_row(int(i))
                rows["doc_id"].append(int(i))
                rows["text"].append(text)
                rows["lang"].append(lang)
                rows["source"].append(src)
                rows["n_chars"].append(len(text))
            yield pd.DataFrame(rows)

    (
        spark.range(N_DOCS, numPartitions=32)
        .mapInPandas(gen_docs, "doc_id long, text string, lang string, source string, n_chars int")
        .write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "documents.parquet"))
    )

    protos = np.random.default_rng(7).normal(size=(10, 64))
    protos /= np.linalg.norm(protos, axis=1, keepdims=True)
    protos_b = spark.sparkContext.broadcast(protos)

    def gen_vecs(batches):
        import pandas as pd

        P = protos_b.value
        for pdf in batches:
            rows = {"vec_id": [], "embedding": [], "label": []}
            for i in pdf["id"].to_numpy():
                i = int(i)
                base = i - 1 if (i >= 10 and i % 331 == 1) else i  # near-dups
                r = np.random.default_rng(43_000_000 + base)
                lab = int(r.integers(0, 10))
                v = P[lab] + r.normal(size=64) * 0.35
                if base != i:  # tiny perturbation of the copied vector
                    v = v + np.random.default_rng(i).normal(size=64) * 1e-3
                v = v / np.linalg.norm(v)
                rows["vec_id"].append(i)
                rows["embedding"].append([float(x) for x in v])
                rows["label"].append(lab)
            yield pd.DataFrame(rows)

    (
        spark.range(N_VECS, numPartitions=16)
        .mapInPandas(gen_vecs, "vec_id long, embedding array<float>, label int")
        .write.mode("overwrite")
        .parquet(os.path.join(SF1_DIR, "embeddings.parquet"))
    )

    li = spark.read.parquet(os.path.join(SRC_SF_DIR, "lineitem.parquet"))
    shifted = None
    for c in range(LINEITEM_COPIES):
        part = li.withColumn(
            "l_orderkey", (F.col("l_orderkey") + F.lit(c * 10_000_000)).cast("long")
        )
        shifted = part if shifted is None else shifted.unionByName(part)
    shifted.write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "lineitem.parquet")
    )


def _bench_subprocess(sf_dir: str, reps: int = 2) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["BENCH_REPS"] = str(reps)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench.py failed at {sf_dir} (rc={out.returncode}); "
            f"stderr tail:\n{out.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


TIER_ENTRIES = [
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash_dup_pairs",
    "dedup_clusters",
    "decontaminate_flagged",
    "lsh_buckets",
    "emb_near_dup_pairs",
    "ann_cosine_top20",
    "ivf_ann_top10",
]


def main() -> None:
    from websearchengine_spark.session import get_spark

    spark = get_spark("wse-sf1")
    if not os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        t0 = time.time()
        generate(spark)
        print(f"# generated {SF1_DIR} in {time.time() - t0:.0f}s", flush=True)

    report: dict = {"sf1_dir": SF1_DIR, "n_docs": N_DOCS, "n_vecs": N_VECS}

    # ---- 1. bench.py suite at sf0.1 and sf1, same host window ----------
    report["bench_sf0.1"] = _bench_subprocess(SRC_SF_DIR)
    print("# bench @ sf0.1 done", flush=True)
    report["bench_sf1"] = _bench_subprocess(SF1_DIR)
    print("# bench @ sf1 done", flush=True)
    q01 = report["bench_sf0.1"]["queries"]
    q1 = report["bench_sf1"]["queries"]
    report["wall_ratio_10x_data"] = {
        k: round(q1[k] / q01[k], 2) for k in q1 if k in q01
    }

    # ---- 2. sf1 index in-process: plan audit ----------------------------
    import tempfile

    from pyspark.sql import functions as F

    from websearchengine_spark.operators.build import build_index

    docs = spark.read.parquet(os.path.join(SF1_DIR, "documents.parquet"))
    pages = docs.select(
        F.concat(F.lit("doc"), F.lpad(F.col("doc_id").cast("string"), 9, "0")).alias("url"),
        "text",
    )
    root = tempfile.mkdtemp(prefix="wse_sf1_idx_")
    t0 = time.time()
    build_index(
        spark, pages, root, n_shards=32, n_groups=2,
        analyzer="whitespace", keep_doc_terms=False,
    )
    report["sf1_index_build_sec"] = round(time.time() - t0, 2)

    from websearchengine_spark.plans.audit import audit_plans

    audits = audit_plans(spark, root)
    report["plan_audit"] = {k: ok for k, (ok, _) in audits.items()}
    report["plan_audit_all_ok"] = all(ok for ok, _ in audits.values())
    print("# plan audit done", flush=True)

    # ---- 3. dedup/cluster/ANN tier at sf1 ------------------------------
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    tier: dict = {}
    for name in TIER_ENTRIES:
        t0 = time.time()
        n = qs[name](spark, SF1_DIR).count()
        tier[name] = {"wall_sec": round(time.time() - t0, 2), "rows": n}
        print(f"# tier {name}: {tier[name]}", flush=True)
    report["tier_sf1"] = tier

    # library-path measurements the oracle-faithful entries can't show:
    # simhash SIZED for the corpus (the 16-bit entry mode degenerates at
    # 50k docs on the 30-word flat vocab — 2^(16/3)-bucket bands; the
    # docstring's sizing rule says bits=64 here), and the default-capped
    # MinHash-LSH pair path with its observed drops
    from pyspark.sql import Observation

    from websearchengine_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_duplicate_pairs,
    )

    drops = Observation()
    minhash_label = "minhash_lsh_pairs (library, default cap)"
    docs_sf1 = spark.read.parquet(os.path.join(SF1_DIR, "documents.parquet"))
    for label, fn in (
        (
            "simhash64_dup_pairs (library, sized per docstring rule)",
            lambda: simhash_duplicate_pairs(docs_sf1, bits=64, max_hamming=2),
        ),
        (
            minhash_label,
            # default 10k bucket cap
            lambda: minhash_lsh_pairs(docs_sf1, drop_obs=drops),
        ),
    ):
        t0 = time.time()
        try:
            n = fn().count()
            tier[label] = {"wall_sec": round(time.time() - t0, 2), "rows": n}
        except Exception as e:  # noqa: BLE001 — never lose the report
            tier[label] = {"error": f"{type(e).__name__}: {e}"[:300]}
        print(f"# tier {label}: {tier[label]}", flush=True)
    # Observation.get waits for a run that completed: read it only then
    report["bucket_drops"] = {
        "minhash_lsh": "unavailable: the run failed"
        if "error" in tier[minhash_label]
        else drops.get
    }

    print(json.dumps(report))


if __name__ == "__main__":
    main()
