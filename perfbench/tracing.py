"""Tracing from outside the engine: spans around the benchmark's calls
into each public function, plus what Spark and the OS already count.

A span records name, start, end and parent. While a span is open its
Spark jobs run under a job group named after the span, so the span
owns exactly the jobs, stages and tasks it caused. At close it
collects:

  - per-node SQL metrics of every query executed inside it (a
    QueryExecutionListener hands over each finished QueryExecution;
    the AQE final plan carries Python-runner, exchange and scan
    metrics as exact integers);
  - per-stage totals from the status store (shuffle bytes and write
    time, task count);
  - the number of Spark jobs.

Spans stay in memory and are written as one JSON file when the run
ends. The listener is only registered for a traced run; untraced runs
pay none of this.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_STAGE_FIELDS = {
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteTime": "shuffle_write_ns",
    "numTasks": "tasks",
}


class _QueryListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self):
        self.lock = threading.Lock()
        self.finished = []

    def onSuccess(self, func_name, qe, duration_ns):
        with self.lock:
            self.finished.append(qe)

    def onFailure(self, func_name, qe, exception):
        pass

    def take(self) -> list:
        with self.lock:
            out, self.finished = self.finished, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _seq(s) -> list:
    out = []
    it = s.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(plan, seen: dict) -> list[tuple[str, dict, list]]:
    """Flatten an executed plan -> [(node name, {metric: int}, child
    indexes)], descending through AQE wrappers, query stages and cached
    relations. SQL metrics are accumulators that keep counting when a
    plan object runs again (a cached relation's plan is shared by every
    query that reads it), so each value is the increase since `seen`
    last recorded that accumulator."""
    nodes: list = []

    def delta(metric) -> int:
        acc_id, value = metric.id(), int(metric.value())
        before = seen.get(acc_id, 0)
        seen[acc_id] = value
        return value - before

    def visit(p) -> int:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan())
        if cls in ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec"):
            return visit(p.plan())
        if cls == "ReusedExchangeExec":
            return visit(p.child())
        idx = len(nodes)
        metrics = {k: delta(v) for k, v in _scala_map(p.metrics()).items()}
        nodes.append((p.nodeName(), metrics, []))
        kids = [visit(c) for c in _seq(p.children())]
        if cls == "InMemoryTableScanExec":
            kids.append(visit(p.relation().cachedPlan()))
        nodes[idx][2].extend(kids)
        return idx

    visit(plan)
    return nodes


class Tracer:
    """Spans + Spark counters for one traced run."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _QueryListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self._metric_seen: dict[int, int] = {}

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    @contextmanager
    def span(self, name: str):
        """Open a span; yields its record, which gains 'plans' and
        'stages' when the span closes."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._drain()
        self.listener.take()
        group = f"perfbench-{sid}-{name}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if prev:
                self.sc.setJobGroup(prev, prev)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._drain()
            rec["plans"] = [plan_nodes(qe.executedPlan(), self._metric_seen)
                            for qe in self.listener.take()]
            rec["stages"] = self._stage_totals(group)

    def _stage_totals(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = defaultdict(int)
        totals["jobs"] = len(jobs)
        store = self.jsc.statusStore()
        task_statuses = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        for sid in stage_ids:
            for sd in _seq(store.stageData(sid, False, task_statuses,
                                           False, quantiles)):
                for java_name, key in _STAGE_FIELDS.items():
                    totals[key] += int(getattr(sd, java_name)())
        return dict(totals)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def node_metric(rec: dict, node_name: str, metric: str) -> int:
    """Sum `metric` over every node whose name starts with `node_name`
    in the span."""
    return sum(m.get(metric, 0) for plan in rec["plans"]
               for name, m, _ in plan if name.startswith(node_name))


def rows_into(rec: dict, node_name: str) -> int:
    """Rows that entered every `node_name` node: the output row count
    of its child (the nearest descendant that counts rows)."""
    total = 0
    for plan in rec["plans"]:
        for name, _, kids in plan:
            if name != node_name:
                continue
            stack = list(kids)
            while stack:
                i = stack.pop()
                m = plan[i][1]
                if "numOutputRows" in m:
                    total += m["numOutputRows"]
                else:
                    stack.extend(plan[i][2])
    return total
