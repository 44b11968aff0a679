"""Spans and counters recorded from the benchmark's side of each layer.

A span is recorded around every call the benchmark makes into a
layer's public function: name, start, end, parent span and the id of
the operation it belongs to. Spans live in memory and are written out
once, when the run ends. With tracing off every hook is a no-op, so the
untraced run measures the program alone.

Spark's own per-operation accounting (jobs, stages, tasks, executor
time, shuffle and input bytes) is read from outside, from the
application status store, for the job group the harness assigns to
each operation.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from collections import defaultdict


class Tracer:
    """Span recorder. ``enabled`` is set by the harness for the timed
    operations of a traced run and is off everywhere else."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.extra_s = 0.0
        self._stack: list[int] = []
        self._sc = None

    def begin_op(self, sc, op_id: int) -> str:
        """Start operation ``op_id``: its Spark jobs run under job group
        ``op-<id>``, which is returned."""
        self._sc, self.op_id = sc, op_id
        group = f"op-{op_id}"
        sc.setJobGroup(group, group)
        return group

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def extra(self):
        """Work that only tracing asks for (materializing a lazy stage,
        counting Bloom verdicts or LSH candidates). Its time is the
        tracing overhead, and its Spark jobs run under their own job
        group so the operation's accounting leaves them out."""
        group = f"op-{self.op_id}"
        t = time.perf_counter()
        self._sc.setJobGroup("trace-extra", "trace-extra")
        try:
            yield
        finally:
            self._sc.setJobGroup(group, group)
            self.extra_s += time.perf_counter() - t

    def count(self, name: str, value: float) -> None:
        """Record one observation of a layer count (traced ops only)."""
        if self.enabled:
            self.counts[name].append(float(value))

    def materialize(self, df):
        """Close a lazy stage at its boundary so that its work lands in
        its own span. Only traced operations pay for this."""
        if not self.enabled:
            return df
        with self.extra():
            return df.localCheckpoint(eager=True)

    def median_ms(self, name: str) -> float:
        """Median inclusive duration of the spans called ``name``, in
        ms; 0 when the layer was not called in this workload."""
        d = [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else 0.0

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"] - child[i]) * 1000
        return dict(out)

    def mean(self, name: str) -> float:
        v = self.counts.get(name)
        return sum(v) / len(v) if v else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_ms()}, f)


def trace_calls(tracer: Tracer, module, attr: str, span: str):
    """Record a span around every call of ``module.attr``, including
    calls through modules that imported the name directly (the plan
    builders do). Returns a function giving the number of calls made
    while tracing was on since the last time it was asked."""
    orig = getattr(module, attr)
    calls = [0]

    def traced(*args, **kwargs):
        if tracer.enabled:
            calls[0] += 1
        with tracer.span(span):
            return orig(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if getattr(mod, attr, None) is orig:
            setattr(mod, attr, traced)

    def take() -> int:
        n, calls[0] = calls[0], 0
        return n

    return take


class SparkCounters:
    """Per-operation totals from Spark's status store, keyed by job
    group. Reading waits for the listener bus to drain, so it runs only
    after an operation's timed region has closed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def read(self, group: str) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        jobs = stages = tasks = failed = 0
        run_ms = cpu_ns = shuffle_w = input_b = 0
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jobs += 1
            stage_ids = self._store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                st = self._store.lastStageAttempt(stage_ids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += st.numTasks()
                failed += st.numFailedTasks() + st.attemptId()
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                shuffle_w += st.shuffleWriteBytes()
                input_b += st.inputBytes()
        return {
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "task_retries": failed,
            "executor_run_ms": run_ms,
            "executor_cpu_ms": cpu_ns / 1e6,
            "shuffle_write_bytes": shuffle_w,
            "input_bytes": input_b,
        }
