"""Spans kept in memory, and Spark's event log summarised per span.

A span is ``(name, start, end, parent, workload)``; the benchmark opens one
around each call it makes into a layer and tags the Spark jobs started inside
it with the span name as their job group, so the event log can be folded
back onto the spans. Spans are written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, workload: str, spark=None):
        self.workload = workload
        self.spark = spark
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; Spark jobs started inside it join
        job group ``name`` (the innermost open span wins)."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self.spark is not None:
                self.spark.sparkContext.setJobGroup(parent or "", parent or "")
            self.spans.append(
                {
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "workload": self.workload,
                }
            )

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_seconds(self) -> dict:
        """Per span name: its duration minus the time its child spans cover."""
        out: dict = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))


def span_cost_s(n: int = 2000) -> float:
    """Seconds one span adds when no Spark job group is set."""
    t = Tracer("cost")
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


# driver-side SQL metrics of file scans, by the name the plan gives them
SCAN_METRICS = {"number of files read": "files", "size of files read": "bytes"}


def _plan_metric_ids(plan: dict, out: dict) -> None:
    """``{accumulator id: key}`` of every :data:`SCAN_METRICS` metric in a
    plan tree."""
    for m in plan.get("metrics", ()):
        if m.get("name") in SCAN_METRICS:
            out[m["accumulatorId"]] = SCAN_METRICS[m["name"]]
    for child in plan.get("children", ()):
        _plan_metric_ids(child, out)


class EventLog:
    """Per job group: task metrics summed from a finished event log, and the
    files (count and bytes) that the SQL executions' scans read."""

    def __init__(self, path: Path):
        self.group_of_stage: dict = {}
        self.tasks: list = []  # (group, stage, run_ms, accumulables, failed)
        group_of_execution: dict = {}
        root_of_execution: dict = {}
        scan_ids: dict = {}  # accumulator id -> SCAN_METRICS key
        driver_updates: list = []  # (execution id, accumulator id, value)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    for sid in e.get("Stage IDs", ()):
                        self.group_of_stage[sid] = group
                    if "spark.sql.execution.id" in props:
                        group_of_execution[int(props["spark.sql.execution.id"])] = group
                elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                    if "rootExecutionId" in e:
                        root_of_execution[e["executionId"]] = e["rootExecutionId"]
                    _plan_metric_ids(e.get("sparkPlanInfo") or {}, scan_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in e.get("accumUpdates", ()):
                        driver_updates.append((e["executionId"], acc_id, value))
                elif kind == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    acc = {}
                    for a in info.get("Accumulables", ()):
                        acc[a.get("Name")] = acc.get(a.get("Name"), 0.0) + _num(a.get("Update"))
                    failed = e["Task End Reason"].get("Reason") != "Success"
                    self.tasks.append(
                        (
                            self.group_of_stage.get(e["Stage ID"], ""),
                            e["Stage ID"],
                            acc.get("internal.metrics.executorRunTime", 0.0),
                            acc,
                            failed,
                        )
                    )
        # {"files"|"bytes": {group: total}} of the scans. A micro-batch's
        # scan reports to the batch's root execution, which runs no job of
        # its own: its figures go to the groups of the executions nested in it.
        self.scanned: dict = {key: {} for key in SCAN_METRICS.values()}
        for ex, acc_id, value in driver_updates:
            if acc_id not in scan_ids:
                continue
            if ex in group_of_execution:
                groups = {group_of_execution[ex]}
            else:
                groups = {g for x, g in group_of_execution.items() if root_of_execution.get(x) == ex}
            sums = self.scanned[scan_ids[acc_id]]
            for g in groups:
                sums[g] = sums.get(g, 0) + int(value)

    @classmethod
    def find(cls, log_dir: Path) -> "EventLog":
        logs = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {len(logs)}")
        return cls(logs[0])

    def total(self, metric: str, groups) -> float:
        return sum(t[3].get(metric, 0.0) for t in self.tasks if t[0] in groups)

    def failed_tasks(self, groups) -> int:
        return sum(1 for t in self.tasks if t[0] in groups and t[4])

    def skew(self, group: str, metric: str) -> float:
        """max/median task run time of the stage in ``group`` that carries
        ``metric`` (for the UDF stage: bytes sent to Python workers)."""
        stages: dict = {}
        for g, sid, run_ms, acc, _ in self.tasks:
            if g == group and acc.get(metric, 0.0) > 0:
                stages.setdefault(sid, []).append(run_ms)
        if not stages:
            return 0.0
        runs = max(stages.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0
