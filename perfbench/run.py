#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads, a correctness gate.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads (see BENCHMARK.json):

  serve  read only.  Set-up mines link/view signals and builds one index
         (signals, doc tokens, spell assist) from a seeded corpus, starts
         ``serve.SearchHTTPServer`` and warms it.  One closed-loop HTTP
         client then sends whole passes over three query pools:
         /search bm25 (the WAND path), /search comprehensive (the
         DataFrame path) and /prediction.
  live   writes beside reads in one thread.  Seeded micro-batches with
         re-crawled urls (tombstones under upsert) and one marker page
         each go through ``apply_pages_batch``, each followed by its
         marker query.  A round is one batch, then the pool's
         ``search_live`` queries, then ``compact_live``.

``--seconds`` sets the amount of timed work, not a clock: serve sends
round(seconds / 10) passes and live runs round(seconds / 20) rounds
(at least one).  On a 4-core host a serve pass takes 4.5 s when the
host is quiet and 8 s when it is loaded; a live round takes 11 s when
quiet.  So the work, the repeat share and the index a run ends with
depend on the seed and ``--seconds`` only, never on the program's
speed.

End-to-end metrics (``--trace 0``), the same on both workloads:

  setup_s              process start to the first timed operation
  success_frac         operations that succeeded and answered correctly
                       over operations attempted
  search_p50_ms        median /search over HTTP (serve) or
                       ``search_live(...).collect()`` of the pool
                       queries (live)
  index_bytes_per_doc  on-disk index bytes per doc (live: after the last
                       compaction)

Everything the program gets is generated from ``--seed`` before timing
starts.  Operations never overlap: one client, no concurrent Spark
callers.  With ``--trace 0`` the result line carries the end-to-end
metrics; ``--trace 1`` wraps the engine's public functions (spans.py)
and carries the per-layer metrics instead, with the traced end-to-end
values in the diagnostics line.  ``perfbench/overhead.py`` runs both
for one seed and prints the tracing overhead per end-to-end metric.

Output: a diagnostics JSON line (host probe at start and end, operation
counts, per-phase set-up times and the figures that exist on one
workload only or rest on too few samples to bound: search p90, peak
RSS, /prediction latency, ingest rate, freshness, compaction time),
then the result line ``{"correct", "attempted", "failed", "metrics"}``.
Every HTTP request, batch, query, compaction, build and mining step is
an operation; an exception, a non-200 answer, a timeout or a wrong
answer fails it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "live")
# what the benchmark needs from the checkout besides its own files
PROGRAM = ("websearchengine_spark/session.py", "tests/oracle.py", "bench.py")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every scratch file of this process and its children stays inside
    # the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM of the run (the launcher too) keeps its temp files in
    # the work directory and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    sys.path.insert(0, ROOT)

    from bench import host_probe  # the frozen headline bench's probe
    from harness import Context, emit

    ctx = Context(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        work=work,
        t_start=T_START,
    )
    ctx.diagnostics["host_probe_start"] = host_probe()
    try:
        workload = importlib.import_module(f"workload_{args.workload}")
        values = workload.run(ctx)
        ctx.diagnostics["host_probe_end"] = host_probe()
        emit(ctx, spec, values)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    return 0


if __name__ == "__main__":
    sys.exit(main())
