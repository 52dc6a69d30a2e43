"""Per-layer cost ledger from a local Spark event log.

Reads the JSON-lines event log that ``spark.eventLog.enabled`` writes
and attributes Spark's own numbers to the benchmark's spans:

* SQL metrics.  Every plan the driver reports — the initial
  ``SQLExecutionStart`` plan and each ``SQLAdaptiveExecutionUpdate``
  that replaces ``AdaptiveSparkPlan``/``*QueryStage`` subtrees — is
  walked to map accumulator ids to ``(node, metric, type)``.  Task-side
  updates come from ``SparkListenerTaskEnd`` accumulables and
  driver-side ones (file counts, write-command totals) from
  ``SparkListenerDriverAccumUpdates``.
* Task metrics (run time, CPU, GC, shuffle read/write), grouped by
  stage.

Each stage carries the submitting thread's local properties, so the
``perfbench.span`` property the benchmark sets around a call maps every
stage, and through it every SQL execution of a multi-action job, to
that call's span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, Iterable, Iterator, List, Optional, Set, Tuple

SPAN_PROPERTY = "perfbench.span"

# Metric display names as Spark reports them.
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
WRITE_NODE_PREFIX = "Execute InsertIntoHadoopFsRelationCommand"


@dataclass
class Stage:
    stage_id: int
    execution_id: Optional[int]
    span: Optional[str]
    kind: str  # see :func:`stage_kind`
    durations_ms: List[int] = field(default_factory=list)
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: int = 0
    fetch_wait_ms: int = 0


def read_events(log_dir: str, app_id: str) -> Iterator[dict]:
    """Events of application ``app_id`` under ``log_dir`` (a rolling
    ``eventlog_v2_<app_id>`` directory or a single file), in order.
    Stage ids restart with every SparkContext, so one application at a
    time."""
    paths = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    paths += glob.glob(os.path.join(log_dir, app_id))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def stage_kind(scopes: Set[str]) -> str:
    """The layer a stage's task time is charged to, from the operators
    it runs: ``udf`` (a Python UDF, with the scan feeding it), ``write``
    (a file write), ``scan`` (a scan without a UDF) or ``plan``
    (exchanges, aggregates and windows only)."""
    if any(s.startswith(PYTHON_NODES) for s in scopes):
        return "udf"
    if "WriteFiles" in scopes:
        return "write"
    if any(s.startswith("Scan ") for s in scopes):
        return "scan"
    return "plan"


def _plan_metrics(plan: dict) -> Iterator[Tuple[int, str, str, str]]:
    """(accumulator id, node name, metric name, metric type) over the
    whole plan tree, query stages included."""
    todo = [plan]
    while todo:
        node = todo.pop()
        for m in node.get("metrics", ()):
            yield m["accumulatorId"], node["nodeName"], m["name"], m["metricType"]
        todo.extend(node.get("children", ()))


class Ledger:
    """Spark metrics of one application, attributable by span."""

    def __init__(self, events: Iterable[dict]) -> None:
        self.stages: Dict[int, Stage] = {}
        # accumulator id -> (execution id, node, metric, type)
        self._accums: Dict[int, Tuple[int, str, str, str]] = {}
        self._values: Dict[int, int] = defaultdict(int)
        for ev in events:
            self._add(ev)

    def _add(self, ev: dict) -> None:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            for acc_id, node, name, mtype in _plan_metrics(ev["sparkPlanInfo"]):
                self._accums[acc_id] = (ev["executionId"], node, name, mtype)
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev["sqlPlanMetrics"]:
                self._accums.setdefault(
                    m["accumulatorId"], (ev["executionId"], "", m["name"], m["metricType"]))
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                self._values[acc_id] += int(value)
        elif kind == "SparkListenerStageSubmitted":
            self._stage_submitted(ev)
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)

    def _stage_submitted(self, ev: dict) -> None:
        info, props = ev["Stage Info"], ev.get("Properties") or {}
        exec_id = props.get("spark.sql.execution.id")
        scopes = set()
        for rdd in info.get("RDD Info", ()):
            if "Scope" in rdd:
                scopes.add(json.loads(rdd["Scope"]).get("name"))
        stage = Stage(
            stage_id=info["Stage ID"],
            execution_id=int(exec_id) if exec_id is not None else None,
            span=props.get(SPAN_PROPERTY),
            kind=stage_kind(scopes),
        )
        self.stages[stage.stage_id] = stage

    def _task_end(self, ev: dict) -> None:
        info = ev["Task Info"]
        for acc in info.get("Accumulables", ()):
            if acc.get("Metadata") == "sql" and "Update" in acc:
                self._values[acc["ID"]] += int(acc["Update"])
        stage = self.stages.get(ev["Stage ID"])
        tm = ev.get("Task Metrics")
        if stage is None or not tm:
            return
        stage.durations_ms.append(info["Finish Time"] - info["Launch Time"])
        stage.run_ms += tm["Executor Run Time"]
        stage.cpu_ns += tm["Executor CPU Time"]
        stage.gc_ms += tm["JVM GC Time"]
        sw = tm["Shuffle Write Metrics"]
        stage.shuffle_write_bytes += sw["Shuffle Bytes Written"]
        stage.shuffle_write_ns += sw["Shuffle Write Time"]
        stage.fetch_wait_ms += tm["Shuffle Read Metrics"]["Fetch Wait Time"]

    # --- queries --------------------------------------------------------

    def sql_metric(self, execution_ids: Set[int], node_prefixes: Tuple[str, ...],
                   name: str) -> int:
        """Sum of metric ``name`` over plan nodes whose name starts with
        one of ``node_prefixes`` (all nodes when empty), in raw units:
        ms for ``timing``, ns for ``nsTiming``, bytes for ``size``."""
        total = 0
        for acc_id, (xid, node, mname, _) in self._accums.items():
            if xid in execution_ids and mname == name and (
                    not node_prefixes or node.startswith(node_prefixes)):
                total += self._values.get(acc_id, 0)
        return total

    def select(self, spans: Set[str]) -> Tuple[Set[int], List[Stage]]:
        """Execution ids and stages whose span is in ``spans``."""
        stages = [s for s in self.stages.values() if s.span in spans]
        return {s.execution_id for s in stages if s.execution_id is not None}, stages

    def layers(self, spans: Set[str]) -> Dict[str, float]:
        """Per-layer totals (seconds, MB, counts) over ``spans``."""
        execs, stages = self.select(spans)

        def sql(nodes, name):
            return self.sql_metric(execs, nodes, name)

        def run_s(kind):
            return sum(s.run_ms for s in stages if s.kind == kind) / 1e3

        busy = [s for s in stages if s.durations_ms]
        # task spread of the stage with the most task time: its slowest
        # task bounds the job
        heavy = max(busy, key=lambda s: sum(s.durations_ms), default=None)
        p50 = statistics.median(heavy.durations_ms) / 1e3 if heavy else 0.0
        tmax = max(heavy.durations_ms) / 1e3 if heavy else 0.0
        return {
            "operators.udf_python_s": sql(PYTHON_NODES, "time to run Python workers") / 1e3,
            "operators.udf_boot_s": sql(PYTHON_NODES, "time to start Python workers") / 1e3,
            "operators.udf_init_s": sql(PYTHON_NODES, "time to initialize Python workers") / 1e3,
            "operators.arrow_sent_mb": sql(PYTHON_NODES, "data sent to Python workers") / 1e6,
            "operators.arrow_recv_mb": sql(PYTHON_NODES, "data returned from Python workers") / 1e6,
            "operators.udf_rows": sql(PYTHON_NODES, "number of output rows"),
            "sources.scan_s": sql(("Scan ",), "scan time") / 1e3,
            "sources.scan_mb": sql(("Scan ",), "size of files read") / 1e6,
            "sources.write_s": run_s("write") + sql((WRITE_NODE_PREFIX,), "job commit time") / 1e3,
            "sources.write_mb": sql((WRITE_NODE_PREFIX,), "written output") / 1e6,
            "sources.files_written": sql((WRITE_NODE_PREFIX,), "number of written files"),
            "plans.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
            "plans.shuffle_write_s": sum(s.shuffle_write_ns for s in stages) / 1e9,
            "plans.shuffle_fetch_wait_s": sum(s.fetch_wait_ms for s in stages) / 1e3,
            "plans.agg_s": sql(AGG_NODES, "time in aggregation build") / 1e3,
            "plans.stages": len(busy),
            "plans.tasks": sum(len(s.durations_ms) for s in stages),
            "plans.task_p50_s": p50,
            "plans.task_max_s": tmax,
            "plans.task_skew": tmax / p50 if p50 else 0.0,
            "plans.gc_s": sum(s.gc_ms for s in stages) / 1e3,
            "plans.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "plans.sql_executions": len(execs),
            # task time by the kind of stage it ran in; these add up
            "stages.udf_s": run_s("udf"),
            "stages.write_s": run_s("write"),
            "stages.scan_s": run_s("scan"),
            "stages.plan_s": run_s("plan"),
        }
