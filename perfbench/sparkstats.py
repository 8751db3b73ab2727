"""Spans, counters and Spark status-store readers for the traced run.

Everything here observes the program from outside: spans wrap calls
into each module's public functions, and per-operator numbers come from
Spark's own SQL and stage status stores, which are populated even with
the web UI disabled. Each span runs its Spark work under its own job
group, so a span's jobs, SQL executions and stages can be found again
afterwards.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> float in bytes, seconds or a
    plain count. Multi-task metrics read "total (min, med, max ...)\\n
    <total> (...)"; the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _pairs(scala_text: str) -> list[tuple[str, str]]:
    """'(k,v)\\x01(k,v)...' (a scala Seq[Tuple2] mkString) -> pairs."""
    out = []
    for item in scala_text.split("\x01"):
        if item.startswith("(") and item.endswith(")"):
            k, _, v = item[1:-1].partition(",")
            out.append((k, v))
    return out


def _metric_names(scala_text: str) -> dict[str, str]:
    """'SQLPlanMetric(name,accumulatorId,type)\\x01...' -> {id: name}."""
    out = {}
    for item in scala_text.split("\x01"):
        if item.startswith("SQLPlanMetric("):
            name, acc, _ = item[len("SQLPlanMetric("):-1].rsplit(",", 2)
            out[acc] = name
    return out


class SparkStats:
    """Reads a session's status stores by job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self.sc._jsc.sc().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores hold the final metrics of finished actions."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _executions(self, jobs: set[int], tail: int = 256):
        n = self._sql.executionsCount()
        it = self._sql.executionsList(max(0, n - tail), tail).iterator()
        while it.hasNext():
            e = it.next()
            ids = e.jobs().keys().mkString(",")
            if ids and jobs & {int(x) for x in ids.split(",")}:
                yield e

    def sql_metrics(self, group: str) -> dict[str, float]:
        """Sum of every SQL metric, by name, over the group's
        executions (each accumulator counted once)."""
        self.settle()
        sums: dict[str, float] = defaultdict(float)
        for e in self._executions(set(self.jobs(group))):
            names = _metric_names(e.metrics().mkString("\x01"))
            vals = self._sql.executionMetrics(e.executionId())
            for acc, v in _pairs(vals.toSeq().mkString("\x01")):
                if acc in names:
                    sums[names[acc]] += parse_metric(v)
        return dict(sums)

    def scan_metrics(self, group: str) -> dict[str, float]:
        """Metrics of the group's file-scan operators only, by name."""
        self.settle()
        sums: dict[str, float] = defaultdict(float)
        for e in self._executions(set(self.jobs(group))):
            vals = dict(_pairs(self._sql.executionMetrics(
                e.executionId()).toSeq().mkString("\x01")))
            nodes = self._sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not node.name().startswith("Scan"):
                    continue
                for acc, name in _metric_names(
                        node.metrics().mkString("\x01")).items():
                    if acc in vals:
                        sums[name] += parse_metric(vals[acc])
        return dict(sums)

    def task_skew(self, group: str) -> float:
        """max / median task duration of the group's busiest stage."""
        self.settle()
        best, best_total = [], -1.0
        for job in self.jobs(group):
            info = self.sc.statusTracker().getJobInfo(job)
            for sid in (info.stageIds if info else []):
                it = self._app.taskList(sid, 0, 10000).iterator()
                ds = []
                while it.hasNext():
                    d = it.next().duration()
                    if d.isDefined():
                        ds.append(float(d.get()))
                if ds and sum(ds) > best_total:
                    best, best_total = ds, sum(ds)
        if not best:
            return 0.0
        return max(best) / max(statistics.median(best), 1.0)


class Tracer:
    """Spans (name, start, end, parent, run id) and counters of one
    run, kept in memory and written once at the end. Each span runs
    under its own Spark job group ``bench:<name>``."""

    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"bench:{name}"
        self.sc.setJobGroup(group, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield group
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({
                "name": name, "start": round(start - self.t0, 6),
                "end": round(end - self.t0, 6), "parent": parent,
                "run_id": self.run_id,
            })
            if parent is None:
                self.sc.setJobGroup("bench:untraced", "untraced")
            else:
                self.sc.setJobGroup(f"bench:{parent}", parent)

    def seconds(self, name: str) -> float:
        """Total duration of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            "run_id": self.run_id, "spans": self.spans,
            "counters": self.counters,
        }, indent=1, sort_keys=True))
