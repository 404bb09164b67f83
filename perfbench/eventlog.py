"""Offline reader for Spark's JSON event log.

Spark writes one JSON object per line. This module joins four kinds of
events into per-layer numbers:

- ``SparkListenerSQLExecutionStart`` and ``SparkListenerSQLAdaptiveExecutionUpdate``
  carry the physical plan of each SQL execution, with the accumulator id of
  every SQL metric. The last plan seen for an execution is its final
  (post-AQE) plan, and only its nodes are counted.
- ``SparkListenerJobStart`` links jobs, and through them stages, to a SQL
  execution id and to the local properties the driver set (the benchmark
  tags each phase of a run with ``perfbench.phase``).
- ``SparkListenerTaskEnd`` carries each task's metric updates, its launch
  and finish times and its executor CPU and GC time.
- ``SparkListenerDriverAccumUpdates`` carries metrics updated on the driver.

The log must be uncompressed and not rolled (``spark.eventLog.compress`` and
``spark.eventLog.rolling.enabled`` both false); see :func:`trace_conf`.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PHASE_PROPERTY = "perfbench.phase"
# Operators whose children run in another stage.
_STAGE_BOUNDARIES = {"ShuffleQueryStage", "BroadcastQueryStage", "ReusedExchange", "TableCacheQueryStage"}
_DRIVER_SIDE = {"AQEShuffleRead"}


def trace_conf(log_dir: str) -> dict[str, str]:
    """Spark settings that make the event log this module reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Node:
    name: str
    metrics: dict[str, int]  # metric name -> accumulator id
    children: list[Node] = field(default_factory=list)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def stage_accumulators(self) -> set[int]:
        """Accumulators of this node and of the operators that run in the
        same stage, i.e. its subtree cut at stage boundaries."""
        out = set(self.metrics.values()) if self.name not in _DRIVER_SIDE else set()
        for c in self.children:
            if c.name not in _STAGE_BOUNDARIES:
                out |= c.stage_accumulators()
        return out


@dataclass
class Task:
    stage: int
    duration_ms: int
    cpu_ns: int
    gc_ms: int


@dataclass
class EventLog:
    plans: dict[int, Node]  # final plan per SQL execution id
    execution_phase: dict[int, str]
    stage_execution: dict[int, int]
    tasks: list[Task]
    acc_values: dict[int, float]  # accumulator id -> summed updates
    acc_stages: dict[int, set[int]]  # accumulator id -> stages that updated it

    def executions(self, phase: str) -> list[int]:
        return sorted(e for e, p in self.execution_phase.items() if p == phase and e in self.plans)

    def nodes(self, phase: str):
        for e in self.executions(phase):
            yield from self.plans[e].walk()

    def metric_sum(self, phase: str, node_prefix: str, metric: str) -> float:
        return sum(
            self.acc_values.get(n.metrics[metric], 0.0)
            for n in self.nodes(phase)
            if n.name.startswith(node_prefix) and metric in n.metrics
        )

    def node_count(self, phase: str, name: str) -> int:
        return sum(1 for n in self.nodes(phase) if n.name == name)

    def phase_tasks(self, phase: str) -> list[Task]:
        execs = set(self.executions(phase))
        return [t for t in self.tasks if self.stage_execution.get(t.stage) in execs]

    def stages_of(self, phase: str, name: str) -> set[int]:
        """Stages that ran an operator called ``name``."""
        out: set[int] = set()
        for n in self.nodes(phase):
            if n.name == name:
                for acc in n.stage_accumulators():
                    out |= self.acc_stages.get(acc, set())
        return out

    def stage_skew(self, phase: str) -> tuple[float, float]:
        """(max task ms, median task ms) of the stage whose slowest task is
        the slowest of the phase — the straggler that sets the wall time."""
        by_stage: dict[int, list[int]] = defaultdict(list)
        for t in self.phase_tasks(phase):
            by_stage[t.stage].append(t.duration_ms)
        if not by_stage:
            return 0.0, 0.0
        worst = max(by_stage.values(), key=max)
        return float(max(worst)), float(statistics.median(worst))


def _node(info: dict) -> Node:
    return Node(
        info["nodeName"].strip(),
        {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        [_node(c) for c in info.get("children", [])],
    )


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(lines) -> EventLog:
    """Build an :class:`EventLog` from an iterable of JSON lines."""
    plans: dict[int, Node] = {}
    execution_phase: dict[int, str] = {}
    stage_execution: dict[int, int] = {}
    tasks: list[Task] = []
    acc_values: dict[int, float] = defaultdict(float)
    acc_stages: dict[int, set[int]] = defaultdict(set)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[ev["executionId"]] = _node(ev["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if "spark.sql.execution.id" not in props:
                continue
            execution = int(props["spark.sql.execution.id"])
            execution_phase.setdefault(execution, props.get(PHASE_PROPERTY, ""))
            for stage in ev.get("Stage IDs", []):
                stage_execution[stage] = execution
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            stage = ev["Stage ID"]
            tasks.append(
                Task(
                    stage,
                    info["Finish Time"] - info["Launch Time"],
                    metrics.get("Executor CPU Time", 0),
                    metrics.get("JVM GC Time", 0),
                )
            )
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    acc_values[acc["ID"]] += _number(acc.get("Update"))
                    acc_stages[acc["ID"]].add(stage)
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                acc_values[acc_id] += _number(value)
    return EventLog(plans, execution_phase, stage_execution, tasks, dict(acc_values), dict(acc_stages))


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def layer_metrics(log: EventLog, phase: str, passes: int) -> dict[str, float]:
    """Per-pass engine-layer numbers of the executions tagged ``phase``."""
    per = 1.0 / max(passes, 1)
    m = log.metric_sum
    tasks = log.phase_tasks(phase)
    window_stages = log.stages_of(phase, "Window")
    task_max, task_p50 = log.stage_skew(phase)
    return {
        "scan.rows": m(phase, "Scan parquet", "number of output rows") * per,
        "scan.time_ms": m(phase, "Scan parquet", "scan time") * per,
        "exchange.nodes": log.node_count(phase, "Exchange") * per,
        "exchange.bytes": m(phase, "Exchange", "shuffle bytes written") * per,
        "exchange.write_ms": m(phase, "Exchange", "shuffle write time") / 1e6 * per,
        "exchange.fetch_wait_ms": m(phase, "Exchange", "fetch wait time") * per,
        "sort.nodes": log.node_count(phase, "Sort") * per,
        "sort.time_ms": m(phase, "Sort", "sort time") * per,
        "sort.spill_bytes": m(phase, "Sort", "spill size") * per,
        "window.nodes": log.node_count(phase, "Window") * per,
        "window.stage_ms": sum(t.duration_ms for t in tasks if t.stage in window_stages) * per,
        "stage.task_ms_max_over_p50": task_max / task_p50 if task_p50 else 0.0,
        "kernel.python_run_ms": m(phase, "", "time to run Python workers") * per,
        "kernel.python_init_ms": m(phase, "", "time to initialize Python workers") * per,
        "kernel.python_boot_ms": m(phase, "", "time to start Python workers") * per,
        "kernel.bytes_to_python": m(phase, "", "data sent to Python workers") * per,
        "kernel.bytes_from_python": m(phase, "", "data returned from Python workers") * per,
        "jvm.gc_ms": sum(t.gc_ms for t in tasks) * per,
        "executor.cpu_s": sum(t.cpu_ns for t in tasks) / 1e9 * per,
    }
