"""Spans and Spark status-store folding for the traced run.

A :class:`Tracer` records spans around calls into the engine's layers
(name, start, end, parent span, op id). Spans live in memory and are
written out once, at the end of the run. While a span is open its
Spark jobs carry a job group of their own (``SparkContext.setJobGroup``),
so after each op the tracer can fold, per span:

- stage metrics from ``sc._jsc.sc().statusStore()`` (tasks, executor
  run and CPU time, shuffle bytes, spill, input bytes);
- SQL plan-node metrics from
  ``spark._jsparkSession.sharedState().statusStore()`` (aggregation
  build time, sort time, broadcast build time, peak memory, scan rows,
  bytes and files).

The stores keep only the most recent stages and executions
(``spark.ui.retainedStages`` defaults to 1000), so they are read after
every op, never once at the end.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL metric name -> (stat key, kind). Kinds: "s" seconds, "mb" bytes
# as MB, "n" plain count. Peak memory is folded with max, the rest sum.
_NODE_METRICS = {
    "time in aggregation build": ("agg_build_s", "s"),
    "sort time": ("sort_s", "s"),
    "time to build": ("broadcast_build_s", "s"),
    "peak memory": ("peak_mem_mb", "mb"),
}
_SCAN_METRICS = {
    "number of output rows": ("scan_rows", "n"),
    "size of files read": ("scan_mb", "mb"),
    "number of files read": ("files_read", "n"),
}


def parse_metric(text: str, kind: str) -> float:
    """Value of one formatted SQL metric (``SQLMetrics.stringValue``).

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value of the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "s":
        return num * _TIME.get(unit, 1e-3)
    if kind == "mb":
        return num * _SIZE.get(unit, 1) / 1e6
    return num


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    group: str
    stats: dict = field(default_factory=lambda: defaultdict(float))


class Tracer:
    """In-memory span recorder with per-op Spark folding."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op_id = 0
        self._app_store = self.sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = self._last_execution_id()

    # ---- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time a call into one layer; its Spark jobs get their own group."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op_id += 1
        group = f"perfbench-{idx}"
        sp = Span(name, time.perf_counter(), 0.0, parent, self._op_id, group)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                up = self.spans[self._stack[-1]]
                self.sc.setJobGroup(up.group, up.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self._fold_op(self._op_id)

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        sp = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    # ---- Spark folding -----------------------------------------------
    def _wait_listener(self) -> None:
        # status stores are fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _last_execution_id(self) -> int:
        store = self._sql_store
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(n - 1, 1).apply(0).executionId()

    def _new_executions(self) -> list:
        """SQL executions with an id above the last one folded."""
        store = self._sql_store
        n = store.executionsCount()
        k = 16
        while True:
            take = min(k, n)
            lst = store.executionsList(n - take, take)
            out = [lst.apply(i) for i in range(lst.size())]
            if take == n or not out or out[0].executionId() <= self._seen_exec:
                break
            k *= 2
        out = [e for e in out if e.executionId() > self._seen_exec]
        if out:
            self._seen_exec = max(e.executionId() for e in out)
        return out

    def _fold_op(self, op_id: int) -> None:
        self._wait_listener()
        store = self._app_store
        tracker = self.sc.statusTracker()
        job_span: dict[int, Span] = {}
        for sp in self.spans:
            if sp.op_id != op_id:
                continue
            for job_id in tracker.getJobIdsForGroup(sp.group):
                job_span[job_id] = sp
                st = sp.stats
                st["jobs"] += 1
                job = store.job(job_id)
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    try:
                        sd = store.lastStageAttempt(stage_ids.apply(i))
                    except Exception:  # skipped stage: never attempted
                        continue
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    st["stages"] += 1
                    st["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    st["run_s"] += sd.executorRunTime() / 1e3
                    st["cpu_s"] += sd.executorCpuTime() / 1e9
                    st["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                    st["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                    st["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        root = next(sp for sp in self.spans if sp.op_id == op_id and sp.parent is None)
        for ex in self._new_executions():
            keys = ex.jobs().keys().toList()
            owner = root
            for i in range(keys.size()):
                owner = job_span.get(int(keys.apply(i)), owner)
            self._fold_execution(ex.executionId(), owner.stats)

    def _fold_execution(self, exec_id: int, st: dict) -> None:
        store = self._sql_store
        values = store.executionMetrics(exec_id)
        nodes = store.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            is_scan = name.startswith("Scan ") or name.startswith("FileScan")
            table = _SCAN_METRICS if is_scan else _NODE_METRICS
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                hit = table.get(m.name())
                if hit is None:
                    continue
                raw = values.get(m.accumulatorId())
                if raw.isEmpty():
                    continue
                key, kind = hit
                val = parse_metric(raw.get(), kind)
                if key == "peak_mem_mb":
                    st[key] = max(st[key], val)
                else:
                    st[key] += val

    # ---- output ------------------------------------------------------
    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": sp.name,
                "start": round(sp.start - t0, 6),
                "end": round(sp.end - t0, 6),
                "parent": sp.parent,
                "op": sp.op_id,
                "self_s": round(self.self_time(i), 6),
                "spark": {k: round(v, 6) for k, v in sp.stats.items()},
            }
            for i, sp in enumerate(self.spans)
        ]


class NullTracer:
    """Tracing off: spans cost one context-manager entry and nothing else."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None
