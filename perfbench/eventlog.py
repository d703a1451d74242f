"""Fold Spark event logs into per-job and per-SQL-node totals.

Reads the uncompressed JSON-lines event logs a traced session writes
(``spark.eventLog.compress=false``): Spark 4 writes each application's
log as rolling ``eventlog_v2_<app>/events_<n>_<app>`` files.
Stdlib only. Job IDs restart in every application, so each file set is
folded on its own and the results are concatenated.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_WANTED = (
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
    "SparkListenerStageExecutorMetrics", _SQL + "SparkListenerSQLExecutionStart",
    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate", _SQL + "SparkListenerDriverAccumUpdates",
)
_JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


@dataclass
class Job:
    group: str | None
    call_site: str
    start_ms: int
    end_ms: int = 0
    tasks: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1000


@dataclass
class SqlExecution:
    group: str | None
    start_ms: int
    metrics: dict = field(default_factory=dict)  # acc id -> [node, metric, value]

    def node_total(self, node_prefixes: tuple[str, ...], metric: str) -> int:
        return sum(
            v for node, m, v in self.metrics.values()
            if m == metric and node.startswith(node_prefixes)
        )


@dataclass
class Folded:
    jobs: list[Job] = field(default_factory=list)
    sql: list[SqlExecution] = field(default_factory=list)
    peak_heap_bytes: int = 0


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out.setdefault(m["accumulatorId"], [info["nodeName"], m["name"], 0])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def fold_file(lines, into: Folded) -> None:
    """Fold one application's events (an iterable of JSON lines)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    sql: dict[int, SqlExecution] = {}
    acc_sql: dict[int, SqlExecution] = {}
    for line in lines:
        if not any(w in line[:120] for w in _WANTED):
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(props.get("spark.jobGroup.id"), props.get("callSite.short", ""),
                      e["Submission Time"])
            jobs[e["Job ID"]] = job
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            job = stage_job.get(e["Stage ID"])
            if m and job is not None:
                job.tasks += 1
                job.executor_cpu_ms += m["Executor CPU Time"] / 1e6
                job.gc_ms += m["JVM GC Time"]
                job.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            heap = (e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
            into.peak_heap_bytes = max(into.peak_heap_bytes, heap)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                ex = acc_sql.get(acc["ID"])
                if ex is not None and "Update" in acc:
                    ex.metrics[acc["ID"]][2] += int(acc["Update"])
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = e["Executor Metrics"].get("JVMHeapMemory", 0)
            into.peak_heap_bytes = max(into.peak_heap_bytes, heap)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("AdaptiveExecutionUpdate"):
            ex = sql.get(e["executionId"])
            if ex is None:
                ex = sql[e["executionId"]] = SqlExecution(e.get("jobGroupId"), e.get("time", 0))
            _plan_metrics(e["sparkPlanInfo"], ex.metrics)
            for acc_id in ex.metrics:
                acc_sql[acc_id] = ex
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                ex = acc_sql.get(acc_id)
                if ex is not None:
                    ex.metrics[acc_id][2] += int(value)
    into.jobs.extend(jobs.values())
    into.sql.extend(sql.values())


def fold_dir(path: str) -> Folded:
    """Fold every ``eventlog_v2_*`` application log under `path`, in
    name order."""
    out = Folded()
    for app in sorted(os.listdir(path)):
        if not app.startswith("eventlog_v2_"):
            continue
        d = os.path.join(path, app)
        # rolling files are numbered events_<n>_<app>: fold in sequence
        parts = sorted(
            (f for f in os.listdir(d) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        fold_file(_lines([os.path.join(d, f) for f in parts]), out)
    return out


def _lines(paths: list[str]):
    for p in paths:
        with open(p, encoding="utf-8") as f:
            yield from f


def join_rows(ex: SqlExecution) -> int:
    """Rows the join operators of one SQL execution produced."""
    return ex.node_total(_JOIN_NODES, "number of output rows")
