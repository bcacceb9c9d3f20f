"""Per-layer measurement from outside the engine.

Everything here reads Spark's own public metrics or times calls into
the package; nothing patches the program under test:

- ``phases`` / ``query_phases``: the ``QueryExecution`` phase tracker
  (analysis, optimization and planning ms) of a DataFrame's action or a
  streaming query's last micro-batch;
- ``StageWindow``: the status store's stage list, scoped to the stage
  ids a job created (tasks, CPU, run and GC time, shuffle and spill);
- ``plan_metrics``: SQL metrics of every node of the executed plan,
  adaptive stages included (codegen pipeline time, Python-worker time
  and Arrow bytes);
- ``Tracer``: spans with parents, kept in memory and written at exit
  with their self times.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict


def _conv(gw):
    return gw.jvm.scala.jdk.javaapi.CollectionConverters


def phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of the DataFrame's last action."""
    tracker = df._jdf.queryExecution().tracker()
    conv = _conv(df.sparkSession.sparkContext._gateway)
    out = {}
    for name, summary in conv.asJava(tracker.phases()).items():
        out[name] = float(summary.durationMs())
    return out


def query_phases(query) -> dict[str, float]:
    """The same phase tracker for a streaming query's last micro-batch."""
    from pyspark import SparkContext

    tracker = query._jsq.streamingQuery().lastExecution().tracker()
    conv = _conv(SparkContext._gateway)
    return {name: float(s.durationMs()) for name, s in conv.asJava(tracker.phases()).items()}


class StageWindow:
    """Sum the status-store metrics of the stages created between
    :meth:`open` and :meth:`close` (one job or one pass)."""

    FIELDS = {
        "exec.tasks": "numTasks",
        "exec.tasks_failed": "numFailedTasks",
        "exec.cpu_s": "executorCpuTime",
        "exec.run_s": "executorRunTime",
        "exec.gc_s": "jvmGcTime",
        "exchange.shuffle_write_bytes": "shuffleWriteBytes",
        "exchange.shuffle_read_bytes": "shuffleReadBytes",
        "exec.spill_bytes": "diskBytesSpilled",
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._conv = _conv(gw)
        self._empty = gw.new_array(gw.jvm.double, 0)
        self._first_stage = self._first_job = 0

    def _stages(self):
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        return self._conv.asJava(store.stageList(None, False, False, self._empty, None))

    def _jobs(self):
        return self._conv.asJava(self._jsc.statusStore().jobsList(None))

    def _max_ids(self) -> tuple[int, int]:
        s = max((st.stageId() for st in self._stages()), default=-1)
        j = max((j.jobId() for j in self._jobs()), default=-1)
        return s, j

    def open(self) -> None:
        s, j = self._max_ids()
        self._first_stage, self._first_job = s + 1, j + 1

    def close(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        last_job = -1
        for st in self._stages():
            if st.stageId() < self._first_stage or st.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            for key, attr in self.FIELDS.items():
                out[key] += float(getattr(st, attr)())
            out["exec.spill_bytes"] += float(st.memoryBytesSpilled())
        for j in self._jobs():
            last_job = max(last_job, j.jobId())
        out["exec.jobs"] = float(max(last_job - self._first_job + 1, 0))
        out["exec.cpu_s"] /= 1e9  # executorCpuTime is in ns
        out["exec.run_s"] /= 1e3
        out["exec.gc_s"] /= 1e3
        return dict(out)


_PLAN_METRICS = {
    "pipelineTime": "codegen.pipeline_ms",
    "pythonBootTime": "pyworker.boot_ms",
    "pythonInitTime": "pyworker.init_ms",
    "pythonTotalTime": "pyworker.total_ms",
    "pythonDataSent": "pyworker.arrow_bytes_sent",
}


def _children(node, conv):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.finalPhysicalPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = list(conv.asJava(node.children()))
    kids += list(conv.asJava(node.subqueries()))
    return kids


def plan_metrics(df) -> dict[str, float]:
    """Sum the SQL metrics this benchmark tracks over every node of the
    executed plan (timings in ms, whatever unit the node keeps)."""
    conv = _conv(df.sparkSession.sparkContext._gateway)
    out: dict[str, float] = defaultdict(float)
    stack, seen = [df._jdf.queryExecution().executedPlan()], set()
    while stack:
        node = stack.pop()
        key = node.hashCode(), node.getClass().getName()
        if key in seen:
            continue
        seen.add(key)
        for name, metric in conv.asJava(node.metrics()).items():
            target = _PLAN_METRICS.get(name)
            if target is None:
                continue
            value = float(metric.value())
            if metric.metricType() == "nsTiming":
                value /= 1e6
            out[target] += value
        stack.extend(_children(node, conv))
    return dict(out)


class Tracer:
    """Spans (name, id, parent, start, end, attrs) kept in memory; the
    report adds each span's self time: its duration minus the part its
    children cover."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent recording spans

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        t = time.perf_counter()
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        self.cost_s += time.perf_counter() - t
        return sid

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self):
                self.t0 = time.perf_counter()
                self.id = tracer.add(name, self.t0, self.t0, **attrs)
                if tracer.enabled:
                    tracer._stack.append(self.id)
                return self

            def __exit__(self, *exc):
                if tracer.enabled:
                    tracer._stack.pop()
                    tracer.spans[self.id]["end"] = time.perf_counter()
                return False

        return _Span()

    def report(self) -> list[dict]:
        covered: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["parent"] >= 0:
                covered[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            child = 0.0
            end_seen = s["start"]
            for a, b in sorted(covered[s["id"]]):
                a, b = max(a, end_seen), min(b, s["end"])
                if b > a:
                    child += b - a
                    end_seen = b
            out.append({**s, "dur_ms": (s["end"] - s["start"]) * 1e3,
                        "self_ms": (s["end"] - s["start"] - child) * 1e3})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.report(), fh)
