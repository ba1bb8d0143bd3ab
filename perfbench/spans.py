"""Operation timing and the traced per-layer run.

``Recorder`` times the benchmark's operations (an HTTP request, a live
batch, a compaction, a set-up step).  With tracing off that is all it
does.  With tracing on it also

* wraps the engine's public functions at their module attribute (and
  every module that imported the same object), so each call opens a
  span: wall time, py4j round trips, and a Spark job group of its own;
* counts py4j round trips by wrapping py4j's client in this process;
* after the run, reads job, stage and task counts per job group from
  ``StatusTracker`` and, from the local event log, shuffle bytes
  written and executor run time per job group.

Spans are kept in memory and summarised when the run ends.  Every
operation also runs under a job group, so jobs the benchmark itself
starts (a ``collect`` of a lazy plan) are attributed to the operation.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import itertools
import json
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

# (module, attribute, layer): the public entry points the traced run
# wraps.  A dotted attribute names a method on a class.
TRACED = (
    ("websearchengine_spark.serve", "SearchHTTPServer._handle", "serve"),
    ("websearchengine_spark.operators.render", "serve_search", "render"),
    ("websearchengine_spark.operators.topk", "wand_topk", "topk"),
    ("websearchengine_spark.operators.query", "run_query", "query"),
    ("websearchengine_spark.operators.spell", "correct_query", "spell"),
    ("websearchengine_spark.operators.spell", "token_candidates", "spell.candidates"),
    ("websearchengine_spark.sources.storage", "IndexStorage.lookup_rows", "storage"),
    ("websearchengine_spark.streaming.ingest", "apply_pages_batch", "ingest.apply"),
    ("websearchengine_spark.streaming.ingest", "search_live", "ingest.search"),
    ("websearchengine_spark.streaming.ingest", "compact_live", "ingest.compact"),
    ("websearchengine_spark.operators.build", "build_index", "build"),
    ("websearchengine_spark.operators.merge", "merge_many_indexes", "merge"),
    ("websearchengine_spark.operators.graph", "mine_signals", "graph"),
)

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    group: str
    wall_ms: float = 0.0
    py4j: int = 0
    children: list = field(default_factory=list)
    jobs: int = 0  # started while this span was the innermost one
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_ms: int = 0

    def subtree(self):
        yield self
        for c in self.children:
            yield from c.subtree()

    def total(self, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.subtree())


@dataclass
class Op:
    kind: str
    group: str
    wall_ms: float = 0.0
    ok: bool = True
    spans: list = field(default_factory=list)  # top-level spans
    jobs: int = 0  # jobs started directly under the op's own group
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_ms: int = 0
    attrs: dict = field(default_factory=dict)

    def all_spans(self):
        for s in self.spans:
            yield from s.subtree()

    def calls(self, layer: str) -> list:
        return [s for s in self.all_spans() if s.layer == layer]

    def total(self, attr: str) -> int:
        return getattr(self, attr) + sum(s.total(attr) for s in self.spans)


class Recorder:
    """Times operations; with ``traced=True`` also records spans."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.ops: list[Op] = []
        self._op: Op | None = None  # one client, so one op at a time
        self._tls = threading.local()
        self._ids = itertools.count()
        self._py4j = 0
        self._py4j_lock = threading.Lock()
        self._sc = None
        self._undo: list = []
        self.tracer_ms = 0.0  # bookkeeping time spent inside timed ops

    # ---- operations -------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str, fail_soft: bool = False):
        """Time one operation.  Sets ``ok=False`` on the yielded Op if
        the body raises; the exception propagates unless ``fail_soft``,
        in which case its traceback goes to stderr and the run goes on."""
        o = Op(kind, f"op{next(self._ids)}-{kind}")
        if self.traced:
            t = time.perf_counter()
            self._set_group(o.group)
            self.tracer_ms += (time.perf_counter() - t) * 1000
        self._op = o
        t0 = time.perf_counter()
        try:
            yield o
        except Exception:
            o.ok = False
            if not fail_soft:
                raise
            traceback.print_exc()
        except BaseException:
            o.ok = False
            raise
        finally:
            o.wall_ms = (time.perf_counter() - t0) * 1000
            self._op = None
            if self.traced:
                self._set_group(None)
            self.ops.append(o)

    def success_frac(self) -> float:
        """Operations that succeeded and answered correctly, over all
        operations attempted (set-up, timed and gate)."""
        return sum(o.ok for o in self.ops) / max(1, len(self.ops))

    # ---- tracing ----------------------------------------------------

    def install(self, spark) -> None:
        """Start tracing: wrap py4j's client and the TRACED functions."""
        if not self.traced:
            return
        import py4j.clientserver as cs

        self._sc = spark.sparkContext
        rec = self
        orig_send = cs.JavaClient.send_command

        def send_command(client, *a, **k):
            if not getattr(rec._tls, "mute", False):
                with rec._py4j_lock:
                    rec._py4j += 1
            return orig_send(client, *a, **k)

        cs.JavaClient.send_command = send_command
        self._undo.append((cs.JavaClient, "send_command", orig_send))

        for mod_name, attr, layer in TRACED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = getattr(owner, meth)
                setattr(owner, meth, self._wrap(orig, layer))
                self._undo.append((owner, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, layer)
            # the defining module and every engine module that imported
            # the same function object at module level
            for m in list(sys.modules.values()):
                if (
                    getattr(m, "__name__", "").startswith("websearchengine_spark")
                    and getattr(m, attr, None) is orig
                ):
                    setattr(m, attr, wrapped)
                    self._undo.append((m, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _set_group(self, group: str | None) -> None:
        self._tls.mute = True
        try:
            self._sc.setLocalProperty(JOB_GROUP, group)
        finally:
            self._tls.mute = False

    def _wrap(self, fn, layer: str):
        rec = self

        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            stack = getattr(rec._tls, "stack", None)
            if stack is None:
                stack = rec._tls.stack = []
            parent = stack[-1] if stack else None
            op = rec._op
            outer_group = parent.group if parent else (op.group if op else None)
            span = Span(layer, f"sp{next(rec._ids)}-{layer}")
            if parent is not None:
                parent.children.append(span)
            elif op is not None:
                op.spans.append(span)
            stack.append(span)
            rec._set_group(span.group)
            with rec._py4j_lock:
                p0 = rec._py4j
            t0 = time.perf_counter()
            rec.tracer_ms += (t0 - t_in) * 1000
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                span.wall_ms = (t1 - t0) * 1000
                with rec._py4j_lock:
                    span.py4j = rec._py4j - p0
                stack.pop()
                rec._set_group(outer_group)
                rec.tracer_ms += (time.perf_counter() - t1) * 1000

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", layer)
        return traced

    def persistent_rdds(self) -> int:
        self._tls.mute = True
        try:
            return int(self._sc._jsc.getPersistentRDDs().size())
        finally:
            self._tls.mute = False

    # ---- after the run ----------------------------------------------

    def collect_counts(self) -> None:
        """Job, stage and task counts per job group from StatusTracker
        (call before the SparkContext stops)."""
        if not self.traced:
            return
        st = self._sc.statusTracker()
        self._tls.mute = True
        try:
            for unit in self._units():
                seen_stages: set[int] = set()
                jobs = list(st.getJobIdsForGroup(unit.group))
                unit.jobs = len(jobs)
                for j in jobs:
                    info = st.getJobInfo(j)
                    if info is None:
                        continue
                    for sid in info.stageIds:
                        if sid in seen_stages:
                            continue
                        seen_stages.add(sid)
                        si = st.getStageInfo(sid)
                        if si is not None and si.numCompletedTasks:
                            unit.stages += 1  # skipped stages run no tasks
                            unit.tasks += si.numCompletedTasks
        finally:
            self._tls.mute = False

    def collect_event_log(self, event_dir: str) -> None:
        """Shuffle bytes written and executor run time per job group,
        from the event log (read after the SparkContext stops)."""
        if not self.traced:
            return
        by_group = {u.group: u for u in self._units()}
        stage_group: dict[int, str] = {}
        for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
            if not os.path.isfile(path):
                continue
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get(JOB_GROUP)
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                    elif kind == "SparkListenerTaskEnd":
                        unit = by_group.get(stage_group.get(ev.get("Stage ID")))
                        m = ev.get("Task Metrics") or {}
                        if unit is None or not m:
                            continue
                        sw = m.get("Shuffle Write Metrics") or {}
                        unit.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
                        unit.executor_ms += int(m.get("Executor Run Time", 0))

    def _units(self):
        for o in self.ops:
            yield o
            yield from o.all_spans()


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _per_op(ops, layer: str, attr: str) -> float:
    """Median over the ops that call ``layer`` of the op's ``attr``
    total divided by its calls of ``layer``.  The engine returns lazy
    plans, so a call's jobs run where its caller collects the plan:
    this attributes them to the call."""
    vals = []
    for o in ops:
        n = len(o.calls(layer))
        if n:
            vals.append(o.total(attr) / n)
    return median(vals)


def _spans(ops, layer: str) -> list:
    return [s for o in ops for s in o.calls(layer)]


def layer_metrics(ops) -> dict:
    """Every per-layer metric over ``ops``; a layer the ops never call
    reports 0."""
    out: dict[str, float] = {}
    # the HTTP request's wall time outside the operator
    out["serve.self_ms"] = median(
        [o.wall_ms - o.calls("render")[0].wall_ms for o in ops if o.calls("render")]
    )
    render = _spans(ops, "render")
    out["render.collect_ms"] = median(
        [s.wall_ms - sum(c.wall_ms for c in s.children) for s in render]
    )
    for layer in ("topk", "query"):
        spans = _spans(ops, layer)
        out[f"{layer}.plan_ms"] = median([s.wall_ms for s in spans])
        out[f"{layer}.jobs"] = _per_op(ops, layer, "jobs")
        out[f"{layer}.py4j_calls"] = median([s.py4j for s in spans])
    out["topk.tasks"] = _per_op(ops, "topk", "tasks")

    spell_ops = [o for o in ops if o.calls("spell")]
    # /prediction collects correct_query's plan in the server handler,
    # so the handler span is the call plus its collect
    out["spell.ms"] = median(
        [(o.calls("serve") or o.calls("spell"))[0].wall_ms for o in spell_ops]
    )
    out["spell.jobs"] = median([o.total("jobs") for o in spell_ops])
    cands = _spans(ops, "spell.candidates")
    # a cache hit returns before touching Spark
    out["spell.cache_miss_frac"] = (
        sum(1 for s in cands if s.py4j) / len(cands) if cands else 0.0
    )

    reads = [o for o in ops if o.calls("topk") or o.calls("query") or o.calls("spell")]
    out["storage.lookup_calls"] = (
        sum(len(o.calls("storage")) for o in reads) / len(reads) if reads else 0.0
    )
    out["storage.lookup_ms"] = (
        sum(s.wall_ms for o in reads for s in o.calls("storage")) / len(reads)
        if reads else 0.0
    )

    out["ingest.apply_jobs"] = median([s.total("jobs") for s in _spans(ops, "ingest.apply")])
    out["ingest.search_jobs"] = _per_op(ops, "ingest.search", "jobs")
    out["ingest.live_segments"] = median(
        [
            sum(1 for c in s.children if c.layer == "topk")
            for s in _spans(ops, "ingest.search")
        ]
    )
    for layer in ("build", "merge"):
        spans = _spans(ops, layer)
        out[f"{layer}.ms"] = median([s.wall_ms for s in spans])
        out[f"{layer}.jobs"] = median([s.total("jobs") for s in spans])
        out[f"{layer}.shuffle_write_mb"] = median(
            [s.total("shuffle_write_bytes") / 1e6 for s in spans]
        )
    out["build.tasks"] = median([s.total("tasks") for s in _spans(ops, "build")])

    # mine_signals returns a lazy plan: the op that materializes it
    graph_ops = [o for o in ops if o.calls("graph")]
    out["graph.ms"] = median([o.wall_ms for o in graph_ops])
    out["graph.jobs"] = median([o.total("jobs") for o in graph_ops])
    out["graph.persisted_rdds_after"] = median(
        [o.attrs.get("persisted_rdds", 0) for o in graph_ops]
    )
    return out


def layer_table(ops) -> dict:
    """Totals per layer (calls, wall, jobs, tasks, shuffle, executor
    time) for the diagnostics line."""
    table: dict[str, dict] = {}
    for o in ops:
        for s in o.all_spans():
            t = table.setdefault(
                s.layer,
                {"calls": 0, "wall_ms": 0.0, "self_jobs": 0, "self_stages": 0,
                 "self_tasks": 0, "self_shuffle_write_mb": 0.0, "self_executor_ms": 0},
            )
            t["calls"] += 1
            t["wall_ms"] += s.wall_ms
            t["self_jobs"] += s.jobs
            t["self_stages"] += s.stages
            t["self_tasks"] += s.tasks
            t["self_shuffle_write_mb"] += s.shuffle_write_bytes / 1e6
            t["self_executor_ms"] += s.executor_ms
        t = table.setdefault(
            "benchmark",
            {"calls": 0, "self_jobs": 0, "self_stages": 0, "self_tasks": 0,
             "self_shuffle_write_mb": 0.0, "self_executor_ms": 0},
        )
        t["calls"] += 1
        t["self_jobs"] += o.jobs
        t["self_stages"] += o.stages
        t["self_shuffle_write_mb"] += o.shuffle_write_bytes / 1e6
        t["self_tasks"] += o.tasks
        t["self_executor_ms"] += o.executor_ms
    return table
