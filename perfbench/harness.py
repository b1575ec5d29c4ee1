"""Timing, tracing and output checks shared by the workloads.

A workload pass is a sequence of *operations*. :meth:`Bench.op` times one
operation (the calls into the program plus the benchmark's forcing
action), then checks its output outside the timed region; an operation
that raises or returns a wrong output counts as failed.

Tracing is off in the end-to-end passes. In a traced pass every call
into a layer runs inside a :meth:`Tracer.span`; spans are kept in memory
(name, start, end, parent) and written out when the run ends. Each span
runs under its own Spark job group, so the jobs it starts are counted
from ``statusTracker().getJobIdsForGroup``; task time, shuffle bytes and
failed tasks are deltas of the status store's executor summary taken at
the span's edges (after draining the listener bus). A layer's *self*
figures are its span's minus what its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

LAYERS = (
    "sources",
    "pipeline",
    "exprlang",
    "encode",
    "agg",
    "model",
    "diags",
    "sampling",
    "llmops.text",
    "llmops.dedup",
    "sink",
)
LAYER_FIELDS = (
    ("calls", "count"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("task_s", "s"),
    ("shuffle_mb", "MB"),
    ("failed_tasks", "count"),
)


class OutputMismatch(AssertionError):
    """An operation returned a wrong output."""


class PassAborted(RuntimeError):
    """An operation raised; the rest of the pass depends on its result."""


def expect(cond: bool, what: str) -> None:
    """Raise :class:`OutputMismatch` unless ``cond`` holds."""
    if not cond:
        raise OutputMismatch(what)


def close(a: float, b: float, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    """Float comparison for engine-vs-twin aggregates (summation order
    differs between engines, so exact equality is not the contract)."""
    if a is None or b is None:
        return a is b
    return abs(float(a) - float(b)) <= abs_ + rel * max(abs(float(a)), abs(float(b)))


# ------------------------------------------------------------- tracing ----
@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # inner interval: excludes the span's own bookkeeping
    end: float = 0.0
    outer_start: float = 0.0  # with bookkeeping: what the parent loses
    outer_end: float = 0.0
    jobs: int = 0
    task_ms: float = 0.0  # inclusive of children
    shuffle_b: float = 0.0
    failed_tasks: float = 0.0
    plan_s: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span recorder; :meth:`span` is a no-op while ``enabled``
    is false."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._status = jsc.statusTracker()
        self._gc = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def counters(self) -> tuple[float, float, float]:
        """(task ms, shuffle bytes written, failed tasks) so far, with the
        listener bus drained first so every finished task is counted."""
        self._bus.waitUntilEmpty()
        ex = self._store.executorSummary("driver")
        return float(ex.totalDuration()), float(ex.totalShuffleWrite()), float(ex.failedTasks())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc))

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        outer_start = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp.sid)
        c0 = self.counters()
        self._set_group(sp)
        self._stack.append(sp)
        sp.outer_start = outer_start
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            c1 = self.counters()
            sp.jobs = len(self._status.getJobIdsForGroup(f"perfbench-{sp.sid}"))
            sp.task_ms, sp.shuffle_b, sp.failed_tasks = (b - a for a, b in zip(c0, c1))
            self._set_group(parent)
            sp.outer_end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": sp.sid,
                            "name": sp.name,
                            "parent": sp.parent,
                            "start": sp.start,
                            "end": sp.end,
                            "jobs": sp.jobs,
                            "task_ms": sp.task_ms,
                            "shuffle_bytes": sp.shuffle_b,
                            "failed_tasks": sp.failed_tasks,
                            "plan_s": sp.plan_s,
                        }
                    )
                    + "\n"
                )

    def layer_totals(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        """Self figures summed per span name over ``spans``."""
        by_id = {sp.sid: sp for sp in self.spans}
        out: dict[str, dict[str, float]] = {}
        for sp in spans:
            kids = [by_id[k] for k in sp.children]
            t = out.setdefault(
                sp.name,
                {"calls": 0, "self_s": 0.0, "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "failed_tasks": 0, "plan_s": 0.0},
            )
            t["calls"] += 1
            t["self_s"] += (sp.end - sp.start) - sum(k.outer_end - k.outer_start for k in kids)
            t["jobs"] += sp.jobs
            t["task_s"] += (sp.task_ms - sum(k.task_ms for k in kids)) / 1000.0
            t["shuffle_mb"] += (sp.shuffle_b - sum(k.shuffle_b for k in kids)) / 1e6
            t["failed_tasks"] += sp.failed_tasks - sum(k.failed_tasks for k in kids)
            t["plan_s"] += sp.plan_s
        return out


# ---------------------------------------------------------- operations ----
class Bench:
    """Runs operations, times them, checks them, and counts failures."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0  # time spent checking, excluded from pass walls
        self.latencies_ms: list[float] | None = None  # set to collect a pass's op times
        self.model_iterations = 0

    def op(self, name: str, fn: Callable[[], Any], check: Callable[[Any], None] | None = None) -> Any:
        """Time ``fn()`` as one operation, then run ``check(result)``
        untimed. A raise aborts the pass; a wrong output is counted and
        the pass continues."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # any program error is a failed operation
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise PassAborted(f"{name}: {type(e).__name__}: {e}") from e
        dt = time.perf_counter() - t0
        if self.latencies_ms is not None:
            self.latencies_ms.append(dt * 1000.0)
        if check is not None:
            c0 = time.perf_counter()
            try:
                check(out)
            except OutputMismatch as e:
                self.failed += 1
                print(f"perfbench: wrong output from {name}: {e}", file=sys.stderr)
            finally:
                self.check_s += time.perf_counter() - c0
        return out

    def call(self, layer: str, fn: Callable[..., Any], *args, check: Callable[[Any], None] | None = None,
             **kwargs) -> Any:
        """One operation: ``fn(*args, **kwargs)``, a public function of
        ``layer``, run inside that layer's span."""
        def run():
            with self.tr.span(layer):
                return fn(*args, **kwargs)

        return self.op(f"{layer}:{fn.__name__}", run, check)

    def force(self, df, action: Callable[[], Any], check: Callable[[Any], None] | None = None) -> Any:
        """One operation: the benchmark's own forcing action on ``df``
        (collect, write, checkpoint), where lazy layers execute. Traced,
        the physical plan is built first and its time recorded as
        ``sink.plan_s``."""
        def run():
            with self.tr.span("sink") as sp:
                if sp is not None:
                    t0 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    sp.plan_s = time.perf_counter() - t0
                return action()

        return self.op("sink", run, check)


# ------------------------------------------------------------- reports ----
def end_to_end_report(setup_s: float, rows: int, walls: list[float], rss_mb: float) -> dict[str, tuple[float, str]]:
    """End-to-end metrics of the untraced passes: set-up time, input rows
    per second of the median pass, and peak driver memory."""
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / statistics.median(walls), "1/s"),
        "driver_rss_mb": (rss_mb, "MB"),
    }


def per_layer_report(totals: dict[str, dict[str, float]], walls_t: list[float], walls_u: list[float],
                     task_s: float, cores: int, gc_s: float, iterations: int, candidates: int,
                     verified: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, as means per traced pass, from the layer
    totals of :meth:`Tracer.layer_totals` and the run's counters."""
    n = len(walls_t)
    fields = dict(LAYER_FIELDS)
    out = {
        f"{layer}.{f}": (totals.get(layer, {}).get(f, 0) / n, fields[f]) for layer in LAYERS for f in fields
    }
    model_jobs = totals.get("model", {}).get("jobs", 0) / n
    out.update({
        "executor.busy_frac": (task_s / (sum(walls_t) * cores), "fraction"),
        "jvm.gc_s": (gc_s / n, "s"),
        "sink.plan_s": (totals.get("sink", {}).get("plan_s", 0.0) / n, "s"),
        "model.iterations": (float(iterations), "count"),
        "model.jobs_per_iter": (model_jobs / iterations if iterations else 0.0, "count"),
        "llmops.dedup.candidate_pairs": (float(candidates), "count"),
        "llmops.dedup.verified_pairs": (float(verified), "count"),
        "llmops.dedup.verified_per_candidate": (verified / candidates if candidates else 0.0, "fraction"),
        "trace.overhead_frac": (statistics.median(walls_t) / statistics.median(walls_u) - 1.0, "fraction"),
    })
    return out


# ---------------------------------------------------------- statistics ----
def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts toward set-up time)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def emit(result_metrics: dict[str, tuple[float, str]], correct: bool, attempted: int, failed: int,
         extra_lines: list[str] = ()) -> None:
    """Print one ``metric`` line per metric, then the result JSON line."""
    for line in extra_lines:
        print(line)
    for name, (value, unit) in result_metrics.items():
        print(f"metric {name} {value!r} {unit}")
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in result_metrics.items()},
            }
        ),
        flush=True,
    )
