"""Shared plumbing for the workloads: the run context, the Spark session,
process-level measurements and the result line."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from spans import Recorder


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    traced: bool
    work: str  # scratch directory inside the checkout, removed at exit
    t_start: float  # perf_counter at process start
    rec: Recorder = field(init=False)
    diagnostics: dict = field(default_factory=dict)

    def __post_init__(self):
        self.rec = Recorder(self.traced)
        self._last_mark = self.t_start

    def mark(self, phase: str) -> None:
        """Record the seconds since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.diagnostics.setdefault("phases_s", {})[phase] = now - self._last_mark
        self._last_mark = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @property
    def event_dir(self) -> str:
        return self.path("events")


def start_spark(ctx: Context):
    """The engine's own session factory on local[nproc]; every scratch
    path points inside the work directory."""
    from websearchengine_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')}",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.traced:
        os.makedirs(ctx.event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ctx.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # keep every job and stage for the StatusTracker read-out
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            }
        )
    spark = get_spark(
        f"perfbench-{ctx.workload}",
        cores=len(os.sched_getaffinity(0)),
        extra_conf=conf,
    )
    ctx.rec.install(spark)
    return spark


def stop_spark(ctx: Context, spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    ctx.rec.collect_counts()
    gateway = spark.sparkContext._gateway
    spark.stop()
    ctx.rec.collect_event_log(ctx.event_dir)
    ctx.rec.uninstall()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on end of its stdin
    gateway.proc.wait(timeout=60)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def setup_done(ctx: Context) -> float:
    """Marks the end of set-up; returns setup_s."""
    ctx.mark("setup_rest")
    return time.perf_counter() - ctx.t_start


def emit(ctx: Context, spec: dict, values: dict) -> None:
    """Print the diagnostics line, then the result line (last).  The
    metric names and units come from BENCHMARK.json (``spec``): the
    end-to-end set untraced, the per-layer set traced."""
    ops = ctx.rec.ops
    failed = sum(1 for o in ops if not o.ok)
    ctx.diagnostics["ops"] = {
        "attempted": len(ops),
        "succeeded": len(ops) - failed,
        "failed": failed,
    }
    if ctx.traced:
        # wrapper and job-group bookkeeping inside the timed operations
        ctx.diagnostics["tracer_ms_per_op"] = ctx.rec.tracer_ms / max(1, len(ops))
        ctx.diagnostics["end_to_end_traced"] = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    chosen = spec["per_layer" if ctx.traced else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in chosen
        },
    }
    print(json.dumps({"diagnostics": ctx.diagnostics}, default=str), flush=True)
    print(json.dumps(result), flush=True)
