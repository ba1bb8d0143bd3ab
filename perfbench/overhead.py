#!/usr/bin/env python3
"""Tracing overhead per end-to-end metric: traced minus untraced.

    python3 perfbench/overhead.py --workload serve --seed 1 --seconds 12

Runs ``run.py`` twice on the same seed, with ``--trace 0`` and then
``--trace 1``, and prints one JSON line: for every end-to-end metric
the untraced value, the traced value (from the traced run's
diagnostics line) and their difference, then the traced run's
per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> list[dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(trace),
    ]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    diagnostics, result = (json.loads(line) for line in out.strip().splitlines()[-2:])
    return [diagnostics["diagnostics"], result]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    _, plain = _run(args, 0)
    traced_diag, traced = _run(args, 1)
    overhead = {}
    for name, m in plain["metrics"].items():
        t = traced_diag["end_to_end_traced"][name]["value"]
        overhead[name] = {
            "untraced": m["value"],
            "traced": t,
            "overhead": t - m["value"],
            "unit": m["unit"],
        }
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "correct": plain["correct"] and traced["correct"],
        "tracing_overhead": overhead,
        "tracer_ms_per_op": traced_diag["tracer_ms_per_op"],
        "per_layer": traced["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
