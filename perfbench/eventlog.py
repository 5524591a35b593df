"""Per-operator numbers from an uncompressed Spark event log.

The traced session runs with `spark.eventLog.enabled=true` and
`spark.eventLog.compress=false`; this module reads the JSON-lines log
(a single file, or the rolling `eventlog_v2_*` directory) and sums
SQL metrics and task metrics per Spark *job group*. The benchmark
sets one job group per traced layer call (`spans.Tracer.span`);
Structured Streaming sets the query's run id as the group of every
job a trigger runs, so streaming triggers are attributed the same way.

The three joins the parser makes:
  stage id     -> job group        (SparkListenerJobStart properties)
  accumulator  -> (node, metric)   (SQL plan trees, incl. AQE updates)
  execution id -> job group        (spark.sql.execution.id property)
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass

_SQL = "org.apache.spark.sql.execution.ui."
# SQL timing metrics are kept in seconds: "timing" is recorded in ms,
# "nsTiming" in ns; sizes and counts are left as they are
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int | None
    plan: str
    group: str | None = None

    @property
    def wall_s(self) -> float:
        return 0.0 if self.end_ms is None else (self.end_ms - self.start_ms) / 1000

    @property
    def writes(self) -> bool:
        return "InsertIntoHadoopFsRelationCommand" in self.plan

    def touches(self, path_fragment: str) -> bool:
        return path_fragment in self.plan


def node_label(node: dict) -> str:
    """Plan node name; round-robin exchanges (the ensure_parallelism
    repartition) get their own label so they can be told apart from
    the aggregation shuffles."""
    name = node["nodeName"].strip()
    if name == "Exchange" and "RoundRobinPartitioning" in node.get("simpleString", ""):
        return "Exchange(RoundRobin)"
    if name.startswith("Scan parquet"):
        return "Scan parquet"
    return name


class EventLog:
    def __init__(self) -> None:
        # (group, node label, metric name) -> summed value (times in s)
        self.ops: dict[tuple, float] = defaultdict(float)
        # (group, task metric) -> summed value
        self.tasks: dict[tuple, float] = defaultdict(float)
        # group -> number of jobs started
        self.job_counts: dict[str | None, int] = defaultdict(int)
        self.executions: dict[int, Execution] = {}
        # (execution id, node label, metric) -> value, from task accumulators
        self.exec_ops: dict[tuple, float] = defaultdict(float)
        self._stage_group: dict[int, str | None] = {}
        self._exec_group: dict[int, str | None] = {}
        self._acc: dict[int, tuple[int, str, str]] = {}
        self._driver_updates: list[tuple[int, int, float]] = []

    # -- reading ---------------------------------------------------------

    @classmethod
    def read(cls, path: str) -> EventLog:
        log = cls()
        for f in _log_files(path):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        log.add(json.loads(line))
        log.finish()
        return log

    def add(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            self.job_counts[group] += 1
            for sid in e.get("Stage IDs", []):
                self._stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                self._exec_group.setdefault(int(eid), group)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            eid = int(e["executionId"])
            self.executions[eid] = Execution(
                eid, int(e["time"]), None, e.get("physicalPlanDescription", "")
            )
            self._walk(eid, e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            eid = int(e["executionId"])
            self._walk(eid, e["sparkPlanInfo"])
            ex = self.executions.get(eid)
            if ex is not None:
                ex.plan += "\n" + e.get("physicalPlanDescription", "")
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            ex = self.executions.get(int(e["executionId"]))
            if ex is not None:
                ex.end_ms = int(e["time"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            eid = int(e["executionId"])
            for acc_id, value in e.get("accumUpdates", []):
                self._driver_updates.append((eid, int(acc_id), float(value)))
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)

    def _walk(self, eid: int, node: dict) -> None:
        label = node_label(node)
        for m in node.get("metrics", []):
            scale = _SCALE.get(m.get("metricType"), 1.0)
            self._acc[int(m["accumulatorId"])] = (eid, label, m["name"], scale)
        for child in node.get("children", []):
            self._walk(eid, child)

    def _task_end(self, e: dict) -> None:
        group = self._stage_group.get(e.get("Stage ID"))
        info = e.get("Task Info") or {}
        for acc in info.get("Accumulables", []):
            key = self._acc.get(int(acc["ID"]))
            if key is None or acc.get("Update") is None:
                continue
            try:
                v = float(acc["Update"]) * key[3]
            except (TypeError, ValueError):
                continue
            eid, label, metric, _ = key
            self.ops[(group, label, metric)] += v
            self.exec_ops[(eid, label, metric)] += v
        tm = e.get("Task Metrics") or {}
        self.tasks[(group, "tasks")] += 1
        self.tasks[(group, "run_ms")] += tm.get("Executor Run Time", 0)

    def finish(self) -> None:
        """Attribute driver-side SQL metrics and executions to groups
        (job starts can follow the execution start they belong to)."""
        for eid, ex in self.executions.items():
            ex.group = self._exec_group.get(eid)
        for eid, acc_id, v in self._driver_updates:
            key = self._acc.get(acc_id)
            if key is None:
                continue
            _, label, metric, scale = key
            self.ops[(self._exec_group.get(eid), label, metric)] += v * scale
            self.exec_ops[(eid, label, metric)] += v * scale
        self._driver_updates.clear()

    # -- queries ---------------------------------------------------------

    def op(self, groups, label: str, metric: str) -> float:
        """Sum of one operator metric over the given job groups."""
        gs = set(groups)
        return sum(
            v for (g, lb, m), v in self.ops.items()
            if g in gs and lb == label and m == metric
        )

    def task(self, groups, metric: str) -> float:
        gs = set(groups)
        return sum(v for (g, m), v in self.tasks.items() if g in gs and m == metric)

    def jobs(self, groups) -> int:
        """Spark jobs started in the given job groups."""
        return sum(self.job_counts.get(g, 0) for g in set(groups))

    def groups(self, prefix: str = "") -> set[str]:
        return {
            g for (g, _) in self.tasks
            if g is not None and g.startswith(prefix)
        }

    def executions_in(self, groups) -> list[Execution]:
        gs = set(groups)
        return [ex for ex in self.executions.values() if ex.group in gs]

    def exec_op(self, execs, label: str, metric: str) -> float:
        ids = {ex.id for ex in execs}
        return sum(
            v for (eid, lb, m), v in self.exec_ops.items()
            if eid in ids and lb == label and m == metric
        )


def _log_files(path: str) -> list[str]:
    """The log file itself, or a rolling log's `events_<n>_<app>` parts
    in order."""
    if os.path.isfile(path):
        return [path]
    parts = []
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("events_") and n.split("_")[1].isdigit():
                parts.append((int(n.split("_")[1]), os.path.join(root, n)))
    return [p for _, p in sorted(parts)]
