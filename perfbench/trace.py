"""Spans, Spark job groups and per-layer counters for the benchmark.

Every call into the package runs inside a ``Tracer.span``: the span records
(name, start, end, parent, batch id) in memory and, when it names a layer,
tags the Spark jobs the call starts with a job group of that name. The
end-to-end timings are read from these spans in both modes.

A traced run adds two sources, both read outside the timed regions:

- ``walk``: the executed physical plan of a returned DataFrame, after it was
  materialized, walked through ``AdaptiveSparkPlan``, query stages and
  cached relations, summing Python-boundary metrics, candidate rows and
  posting rows per layer.
- ``read_event_log``: the uncompressed Spark event log, read after the
  session stopped; ``SparkListenerTaskEnd`` records are summed per job
  group (executor CPU, tasks, shuffle and output bytes).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.host import tree_cpu_s

# job group of work that belongs to no layer: input generation, checks
BENCH_GROUP = "bench"

# the thread of Spark's live listener bus that writes the event log: the
# only work a traced run adds inside the timed calls
EVENT_LOG_THREAD = "spark-listener-group-eventLog"

# final aggregates that deduplicate percolation candidates: the
# (doc_id, query_id) dedup in front of Python verify and the (doc_id, qidx)
# aggregate of the join-verify lane
_CANDIDATE_KEYS = ({"doc_id", "query_id"}, {"doc_id", "qidx"})


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.plan = defaultdict(lambda: defaultdict(float))
        self.walk_s = 0.0
        self._stack: list[dict] = []
        self._counted: set[int] = set()
        self._jvm = spark._jvm
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._mx = self._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        # absent when the session writes no event log
        self._log_thread = next(
            (
                t.getId()
                for t in self._jvm.java.lang.Thread.getAllStackTraces().keySet()
                if t.getName() == EVENT_LOG_THREAD
            ),
            None,
        )
        spark.sparkContext.setJobGroup(BENCH_GROUP, BENCH_GROUP)

    def _trace_cpu_s(self) -> float:
        if self._log_thread is None:
            return 0.0
        return self._mx.getThreadCpuTime(self._log_thread) / 1e9

    @contextmanager
    def span(self, name: str, layer: str | None = None, batch=None, cpu: bool = False):
        """Record a span; with ``cpu``, also the CPU seconds the process
        tree used during it (``cpu_s``) and, of those, the seconds the
        event-log thread used (``trace_cpu_s``)."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "layer": layer or (parent["layer"] if parent else None),
            "parent": parent["id"] if parent else None,
            "batch": batch,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if rec["layer"]:
            sc.setJobGroup(rec["layer"], name)
        cpu0 = tree_cpu_s() if cpu else 0.0
        trace0 = self._trace_cpu_s() if cpu else 0.0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if cpu:
                rec["trace_cpu_s"] = self._trace_cpu_s() - trace0
                rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            outer = self._stack[-1]["layer"] if self._stack else None
            sc.setJobGroup(outer or BENCH_GROUP, outer or BENCH_GROUP)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    # -- plan metrics ---------------------------------------------------

    def _metric(self, node, name: str) -> int:
        m = node.metrics().get(name)
        return m.get().value() if m.isDefined() else 0

    def _key(self, obj) -> int:
        return self._jvm.java.lang.System.identityHashCode(obj)

    def _children(self, node, name: str) -> list:
        if name == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        if name.endswith("QueryStage"):
            return [node.plan()]
        if name == "InMemoryTableScan":
            builder = node.relation().cacheBuilder()
            key = self._key(builder)
            if key in self._counted:
                return []
            self._counted.add(key)
            return [builder.cachedPlan()]
        return list(self._conv.asJava(node.children()))

    def _nodes(self, df):
        """(node, nodeName) over the executed plan of ``df``."""
        seen: set[int] = set()
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            key = self._key(node)
            if key in seen:
                continue
            seen.add(key)
            name = node.nodeName()
            yield node, name
            todo.extend(self._children(node, name))

    def exclude(self, df) -> None:
        """Never count the cached plan behind ``df`` (a benchmark input:
        its generation is not the work of any layer)."""
        if self.traced:
            for _node in self._nodes(df):
                pass

    def walk(self, layer: str, df) -> None:
        """Add the metrics of ``df``'s executed plan to ``layer``. Cached
        relations are counted once, by the first walk that reaches them."""
        if not self.traced:
            return
        t0 = time.perf_counter()
        acc = self.plan[layer]
        for node, name in self._nodes(df):
            # only three node kinds carry a counter read here; fetching
            # metrics is a JVM round trip per value
            if name.startswith("Scan "):
                acc["scan_rows"] += self._metric(node, "numOutputRows")
            elif name == "HashAggregate":
                if node.requiredChildDistributionExpressions().isDefined() and {
                    e.name()
                    for e in self._conv.asJava(node.groupingExpressions())
                    if e.getClass().getSimpleName() == "AttributeReference"
                } in _CANDIDATE_KEYS:
                    acc["candidate_rows"] += self._metric(node, "numOutputRows")
            elif "Python" in name or "Pandas" in name or "Arrow" in name:
                metrics = dict(self._conv.asJava(node.metrics()))
                if "pythonTotalTime" in metrics:
                    acc["python_s"] += metrics["pythonTotalTime"].value() / 1000.0
                    acc["python_rows"] += metrics["pythonNumRowsReceived"].value()
                    acc["python_bytes"] += (
                        metrics["pythonDataSent"].value() + metrics["pythonDataReceived"].value()
                    )
        self.walk_s += time.perf_counter() - t0


def _lines(path: str):
    # a rolling event log is a directory of events_<n>_<app> files
    names = [path]
    if os.path.isdir(path):
        parts = sorted(
            (n for n in os.listdir(path) if n.startswith("events_")),
            key=lambda n: int(n.split("_")[1]),
        )
        names = [os.path.join(path, n) for n in parts]
    for name in names:
        with open(name) as f:
            yield from f


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: tasks, executor CPU and run time (s), shuffle bytes
    written and output bytes written, from the uncompressed event log of
    one application (a file, or a rolling log's directory)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in _lines(path):
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or BENCH_GROUP
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            tm = ev.get("Task Metrics") or {}
            acc = out[stage_group.get(ev["Stage ID"], BENCH_GROUP)]
            acc["tasks"] += 1
            acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out
