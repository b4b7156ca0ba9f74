"""Spans and Spark counters recorded from outside the engine.

With tracing off every method is a no-op apart from a clock read, so
the end-to-end run pays nothing for it. With tracing on:

- each op gets its own Spark job group, and after the op its jobs'
  stages are read from ``statusTracker`` and the status store
  (``sc._jsc.sc().statusStore()``): jobs, stages, tasks, executor run
  and CPU time, the wall time during which its stages ran tasks,
  shuffle bytes, spill, input records;
- spans (name, start, end, parent, op id) are kept in memory and
  written once by :meth:`Tracer.dump`;
- a layer's self time is its duration minus the part covered by its
  child spans, summed over the spans of that name in one op;
- :meth:`Tracer.wrap` puts a span around a method of one engine object,
  so the engine's own code runs and its collaborators are timed.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "stage_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._kind: str | None = None
        self._n = 0

    @contextmanager
    def op(self, kind: str):
        """One benchmark operation: its own job group and a root span."""
        if not self.enabled:
            yield
            return
        self._n += 1
        op_id = f"{kind}-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self._op, self._kind = op_id, kind
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield
        finally:
            wall_ms = (time.perf_counter() - t0) * 1e3
            self._op = self._kind = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops.append(
                {"op": op_id, "kind": kind, "wall_ms": wall_ms, **self._counters(op_id)}
            )

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self._op,
            "kind": self._kind,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, obj, method: str, name: str) -> None:
        """Run every later ``obj.method(...)`` call inside a span
        ``name``; the wrapper is set on the instance only."""
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)

    def planning_ms(self, df) -> float:
        """Catalyst analysis + optimization + planning of a DataFrame the
        benchmark holds, after it has run."""
        if not self.enabled:
            return 0.0
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        it = phases.values().iterator()
        while it.hasNext():
            total += it.next().durationMs()
        return float(total)

    def _counters(self, op_id: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for jid in sc.statusTracker().getJobIdsForGroup(op_id):
            info = sc.statusTracker().getJobInfo(jid)
            out["jobs"] += 1
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stages never ran and have no attempt
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                first, done = st.firstTaskLaunchedTime(), st.completionTime()
                if first.isDefined() and done.isDefined():
                    out["stage_ms"] += done.get().getTime() - first.get().getTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_records"] += st.inputRecords()
        return out

    def self_times(self) -> dict[int, float]:
        """Span index -> self seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {i: s["end"] - s["start"] - child[i] for i, s in enumerate(self.spans)}

    def layer_seconds(self, name: str, kind: str | None = None) -> list[float]:
        """Per op (of ``kind``, if given), the self seconds of its spans
        called ``name``, summed."""
        st = self.self_times()
        per_op: dict = {}
        for i, s in enumerate(self.spans):
            if s["name"] == name and kind in (None, s["kind"]):
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + st[i]
        return list(per_op.values())

    def dump(self, path: str) -> None:
        st = self.self_times()
        spans = [dict(s, id=i, self_s=st[i]) for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump({"spans": spans, "ops": self.ops}, f)
