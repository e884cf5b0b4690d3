"""Spans around calls into the engine's layers, with Spark counters.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a public function of the engine, in every module that bound it,
with a wrapper that opens a span. Spans (name, start, end, parent, run
id) and their counter diffs stay in memory and are written once, by
``Tracer.dump``, when the run ends.

Counters come from Spark's application status store (the listener-backed
store the UI reads; available with the UI off). ``SparkCounters`` keeps a
monotonic running total over every job and stage the application has
finished; a span's counters are the total at its end minus the total at
its start, so nested spans diff correctly.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_mb", "shuffle_write_mb", "spill_mb", "failed_tasks",
)
_MB = 1024.0 * 1024.0


class SparkCounters:
    """Running totals of the status store's per-stage metrics.

    ``snapshot`` first drains the listener bus, so every stage of an
    action that has returned is in the store, then folds in the stages
    and jobs newer than the last ones seen (the store lists newest
    first). Retained stages are capped by ``spark.ui.retainedStages``;
    snapshots at every operation boundary keep each fold far below it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._all = self._sc._jvm.java.util.ArrayList()
        self._stage_args = [self._all] + [
            getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self._seen_stage = (-1, -1)
        self._seen_job = -1
        self.total = dict.fromkeys(COUNTERS, 0.0)
        self.snapshot()

    def snapshot(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        stages = self._store.stageList(*self._stage_args)
        newest = self._seen_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key <= self._seen_stage:
                break
            newest = max(newest, key)
            t = self.total
            t["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            t["failed_tasks"] += s.numFailedTasks()
            t["executor_run_s"] += s.executorRunTime() / 1e3
            t["executor_cpu_s"] += s.executorCpuTime() / 1e9
            t["gc_s"] += s.jvmGcTime() / 1e3
            t["input_mb"] += s.inputBytes() / _MB
            t["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            t["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        self._seen_stage = newest
        jobs = self._store.jobsList(self._all)
        if jobs.size():
            top = jobs.apply(0).jobId()
            self.total["jobs"] += top - self._seen_job if self._seen_job >= 0 else top + 1
            self._seen_job = max(self._seen_job, top)
        return dict(self.total)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    status: str = "ok"
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``counters`` may be None (no Spark)."""

    def __init__(self, run_id: str, counters: SparkCounters | None, cores: int):
        self.run_id = run_id
        self.counters = counters
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    # -- spans ---------------------------------------------------------
    def begin(self, name: str) -> tuple[int, dict]:
        t = time.perf_counter()
        before = self.counters.snapshot() if self.counters else {}
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.bookkeeping_s += time.perf_counter() - t
        return idx, before

    def end(self, token: tuple[int, dict], status: str = "ok") -> Span:
        idx, before = token
        span = self.spans[idx]
        span.end = time.perf_counter()
        t = time.perf_counter()
        if self.counters:
            after = self.counters.snapshot()
            span.counters = {k: after[k] - before[k] for k in COUNTERS}
            span.counters["slot_utilization"] = (
                span.counters["executor_run_s"] / (span.wall * self.cores)
                if span.wall > 0 else 0.0
            )
        span.status = status
        self._stack.pop()
        self.bookkeeping_s += time.perf_counter() - t
        return span

    def call(self, name: str, fn, *args, **kwargs):
        return self._run(name, {}, fn, args, kwargs)

    def _run(self, name: str, attrs: dict, fn, args, kwargs):
        token = self.begin(name)
        self.spans[token[0]].attrs.update(attrs)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            self.end(token, "error")
            raise
        self.end(token)
        return out

    # -- wrapping the engine's public functions ------------------------
    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Trace every call of ``module.attr`` under span ``name``, in every
        loaded module that bound the same function object. ``on_call``
        (args, kwargs) -> dict of span attributes is evaluated before the
        call."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            attrs = on_call(args, kwargs) if on_call else {}
            return self._run(name, attrs, original, args, kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("bigdata_processing_spark") \
                    and getattr(mod, attr, None) is original:
                self._patched.append((mod, attr, original))
                setattr(mod, attr, traced)

    def unwrap_all(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    # -- analysis -------------------------------------------------------
    def self_times(self) -> list[float]:
        """Per span: its wall minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(i, ()), key=lambda c: c.start):
                if cur_hi is None or c.start > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = c.start, c.end
                else:
                    cur_hi = max(cur_hi, c.end)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s.wall - covered)
        return out

    def layer_counters(self, layers: tuple[str, ...]) -> dict[str, float]:
        """``<layer>.<counter>`` summed over each layer's outermost spans (a
        span nested in a span of the same layer is already counted by its
        ancestor); a span's layer is its name up to the first dot."""
        layer = [s.name.split(".", 1)[0] for s in self.spans]
        out: dict[str, float] = {}
        for lay in layers:
            tops = []
            for i, s in enumerate(self.spans):
                if layer[i] != lay or not s.counters:
                    continue
                p = s.parent
                while p is not None and layer[p] != lay:
                    p = self.spans[p].parent
                if p is None:
                    tops.append(s)
            for c in COUNTERS:
                out[f"{lay}.{c}"] = sum(s.counters[c] for s in tops)
            wall = sum(s.wall for s in tops)
            out[f"{lay}.slot_utilization"] = (
                out[f"{lay}.executor_run_s"] / (wall * self.cores) if wall else 0.0)
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            for i, (s, st) in enumerate(zip(self.spans, selfs)):
                f.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                    "start": s.start, "end": s.end, "self_s": st, "status": s.status,
                    "counters": s.counters, "attrs": s.attrs,
                }) + "\n")
