"""Tracing for the traced run: spans at layer boundaries, the Spark event
log, and the per-layer table.

Spans are recorded only by this directory's code, around calls into the
package's modules. :meth:`Tracer.patch` swaps a module attribute for a
timing wrapper and :meth:`Tracer.uninstall` puts the original back, so the
program itself carries no instrumentation. Each span has a name, a layer,
start and end, its parent span and a trace id shared by every span of one
query (batch) or one (query, epoch) pair (streaming). Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "stream_processing_pipeline_spark"
LAYERS = ("session", "sources", "plans", "operators", "functions", "runner", "sinks", "state")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    trace: str


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # Offset from time.time() to perf_counter(), for spans rebuilt from
        # Spark's wall-clock progress records.
        self.epoch_offset = time.perf_counter() - time.time()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace is None:
            trace = parent.trace if parent else getattr(self._local, "trace", name)
        s = Span(next(self._ids), name, layer, time.perf_counter(), 0.0,
                 parent.id if parent else None, trace)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    @contextmanager
    def trace(self, trace_id: str):
        """Spans opened inside share ``trace_id``."""
        prev = getattr(self._local, "trace", None)
        self._local.trace = trace_id
        try:
            yield
        finally:
            self._local.trace = prev

    @contextmanager
    def job_group(self, spark, group: str):
        """Tag the Spark jobs started inside with job group ``group``."""
        if not self.enabled:
            yield
            return
        spark.sparkContext.setJobGroup(group, group)
        try:
            yield
        finally:
            spark.sparkContext._jsc.clearJobGroup()

    def sink(self, fn, name: str, span_name: str = "sinks.parquet"):
        """A foreachBatch callable whose calls are spans traced per epoch."""
        if not self.enabled:
            return fn

        def traced(batch_df, epoch_id):
            with self.span(span_name, "sinks", trace=f"{name}:{epoch_id}"):
                return fn(batch_df, epoch_id)

        return traced

    def add(self, name: str, layer: str, start: float, end: float, trace: str,
            parent: int | None = None) -> Span:
        s = Span(next(self._ids), name, layer, start, end, parent, trace)
        self.spans.append(s)
        return s

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: object, attr: str, layer: str, name: str | None = None) -> None:
        """Record a span around every call of ``owner.attr``."""
        original = getattr(owner, attr)
        self.replace(owner, attr, self.wrap(original, name or f"{layer}.{attr}", layer))

    def replace(self, owner: object, attr: str, value: object) -> None:
        """Swap in ``value`` until :meth:`uninstall`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch_helpers(self, module) -> None:
        """Wrap the operator and function helpers ``module`` imported."""
        for attr, obj in list(vars(module).items()):
            owner = getattr(obj, "__module__", "") or ""
            if not inspect.isfunction(obj) or attr.startswith("_"):
                continue
            for layer in ("operators", "functions"):
                if owner.startswith(f"{PKG}.{layer}."):
                    self.patch(module, attr, layer)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def patch_plan_modules(self) -> None:
        """Wrap every operator and function helper each ``plans`` module
        calls, so plan-build time splits into plans / operators / functions."""
        import stream_processing_pipeline_spark.plans as plans

        for info in pkgutil.iter_modules(plans.__path__):
            self.patch_helpers(importlib.import_module(f"{plans.__name__}.{info.name}"))


def self_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: span count, total time and self time (seconds). Self time
    is a span's duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        row = out.setdefault(s.layer, {"spans": 0, "total_s": 0.0, "self_s": 0.0})
        row["spans"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += max(0.0, s.end - s.start - covered)
    return out


def layer_table(workload: str, spans: list[Span], overhead: tuple[str, float, float]) -> str:
    """The per-workload layer table of the traced run, as text."""
    metric, untraced, traced = overhead
    lines = [f"layer table: {workload}", f"{'layer':<10} {'spans':>7} {'total_s':>9} {'self_s':>9}"]
    rows = self_times(spans)
    for layer in LAYERS:
        if layer in rows:
            r = rows[layer]
            lines.append(f"{layer:<10} {r['spans']:>7} {r['total_s']:>9.3f} {r['self_s']:>9.3f}")
    delta = traced - untraced
    share = delta / untraced * 100 if untraced else 0.0
    lines.append(
        f"tracing overhead on {metric}: untraced {untraced:.4f}, traced {traced:.4f}, "
        f"difference {delta:+.4f} ({share:+.1f}%)"
    )
    return "\n".join(lines)


# --------------------------------------------------------------- event log

TASK_FIELDS = (
    "tasks", "failed_tasks", "executor_run_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def parse_event_log(directory: str) -> tuple[dict[str, dict[str, float]], dict[str, int]]:
    """Fold ``SparkListenerTaskEnd`` metrics per job group.

    Returns (task metrics per group, job count per group). Jobs without a
    group fall under ``""``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for fname in sorted(os.listdir(directory)):
        with open(os.path.join(directory, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    row = tasks[stage_group.get(ev.get("Stage ID"), "")]
                    m = ev.get("Task Metrics") or {}
                    row["tasks"] += 1
                    row["failed_tasks"] += bool((ev.get("Task Info") or {}).get("Failed"))
                    row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(tasks), dict(jobs)


def operator_metrics(groups: dict[str, dict[str, float]], keep, run_s: float) -> dict[str, float]:
    """Sum the task metrics of the groups ``keep(group)`` accepts."""
    total = dict.fromkeys(TASK_FIELDS, 0.0)
    for g, row in groups.items():
        if keep(g):
            for k in TASK_FIELDS:
                total[k] += row[k]
    out = {f"operators.{k}": v for k, v in total.items()}
    out["operators.run_s"] = run_s
    out["operators.cpu_share"] = total["cpu_s"] / total["executor_run_s"] if total["executor_run_s"] else 0.0
    return out


def query_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of a DataFrame's own QueryExecution. Forces its
    optimization and physical planning (analysis already ran eagerly)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
