"""Spans and Spark event-log analysis for the traced run.

Spans are recorded by the benchmark around its own calls into the
engine's public functions (no engine code is instrumented).  Each span
sets a Spark job group named after its span id, so every job, stage
and task Spark runs inside the span can be attributed to it from the
event log once the session has stopped.

The event log is read back for:
- task metrics (``SparkListenerTaskEnd``): run/CPU/GC time, shuffle and
  spill bytes, fetch wait;
- SQL metrics of plan nodes (task accumulables keyed by the
  accumulator ids listed in the plan info), e.g. "time to run Python
  workers" and "data sent to Python workers";
- the final (post-AQE) physical plan of each SQL execution, for the
  plan-shape counts.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# Physical nodes that hand rows to a Python worker over Arrow.
PYTHON_NODE_MARKERS = ("EvalPython", "InPandas", "InArrow")

_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 1.0}


class Tracer:
    """In-memory span recorder.  Disabled tracers are no-ops."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name, False)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, root_id: str) -> set[str]:
        ids = {root_id}
        for s in self.spans:  # parents are recorded before children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def dump(self, path: str) -> None:
        """One JSON line per span, times in seconds since session start."""
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["start"] = round(s["start"] - self.t0, 6)
                row["end"] = round(s["end"] - self.t0, 6)
                f.write(json.dumps(row) + "\n")


def _event_files(log_dir: str) -> list[str]:
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("appstatus") or n.endswith(".crc"):
                continue
            files.append(os.path.join(dirpath, n))

    def order(p):  # rolling logs: events_<index>_<appId>
        parts = os.path.basename(p).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    return sorted(files, key=order)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Task, job, stage and SQL-plan facts parsed from one event log."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self.job_group: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_wall: dict[int, float] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, dict] = {}
        self.acc: dict[int, tuple[str, float]] = {}  # id -> (name, scale)
        for path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        self._event(json.loads(line))
        for eid, plan in self.plans.items():
            for node in _walk(plan):
                for m in node.get("metrics", []):
                    self.acc[m["accumulatorId"]] = (
                        m["name"], _METRIC_SCALE.get(m.get("metricType"), 1.0))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_group[jid] = props.get("spark.jobGroup.id")
            eid = props.get("spark.sql.execution.id")
            self.job_exec[jid] = int(eid) if eid not in (None, "") else None
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "run_s": _num(tm.get("Executor Run Time")) / 1e3,
                "cpu_s": _num(tm.get("Executor CPU Time")) / 1e9,
                "gc_s": _num(tm.get("JVM GC Time")) / 1e3,
                "shuffle_write_bytes": _num(sw.get("Shuffle Bytes Written")),
                "fetch_wait_s": _num(sr.get("Fetch Wait Time")) / 1e3,
                "spill_bytes": _num(tm.get("Memory Bytes Spilled"))
                + _num(tm.get("Disk Bytes Spilled")),
                "acc": {a["ID"]: _num(a.get("Update")) for a in info.get("Accumulables", [])
                        if "Update" in a},
            })
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Completion Time" in si and "Submission Time" in si:
                self.stage_wall[si["Stage ID"]] = (
                    si["Completion Time"] - si["Submission Time"]) / 1e3
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            # the last update of an execution is its final (post-AQE) plan
            self.plans[int(ev["executionId"])] = ev["sparkPlanInfo"]

    # --- attribution -------------------------------------------------

    def group_of_stage(self, sid: int) -> str | None:
        jid = self.stage_job.get(sid)
        return None if jid is None else self.job_group.get(jid)

    def tasks_in(self, groups: set[str]) -> list[dict]:
        return [t for t in self.tasks if self.group_of_stage(t["stage"]) in groups]

    def executions_in(self, groups: set[str]) -> list[int]:
        return sorted({e for j, e in self.job_exec.items()
                       if e is not None and self.job_group.get(j) in groups})

    def jobs_in_executions(self, eids: set[int]) -> int:
        return sum(1 for e in self.job_exec.values() if e in eids)

    def node_metric(self, eids, node_pred, metric_name: str) -> float:
        """Sum of one SQL metric over the plan nodes matching
        ``node_pred`` in the given executions, in display units
        (seconds for timings)."""
        ids = set()
        for e in eids:
            for node in _walk(self.plans.get(e, {})):
                if node_pred(node.get("nodeName", "")):
                    ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                               if m["name"] == metric_name)
        total = 0.0
        for t in self.tasks:
            for aid, upd in t["acc"].items():
                if aid in ids:
                    total += upd * self.acc[aid][1]
        return total

    def metric_by_name(self, tasks: list[dict], metric_name: str) -> float:
        total = 0.0
        for t in tasks:
            for aid, upd in t["acc"].items():
                name_scale = self.acc.get(aid)
                if name_scale and name_scale[0] == metric_name:
                    total += upd * name_scale[1]
        return total

    def plan_shape(self, eid: int) -> dict:
        return plan_shape(self.plans.get(eid, {}))


def _walk(node: dict):
    stack = [node] if node else []
    while stack:
        n = stack.pop()
        yield n
        stack.extend(n.get("children", []))


def is_python_node(name: str) -> bool:
    return any(m in name for m in PYTHON_NODE_MARKERS)


def plan_shape(plan: dict) -> dict:
    names = [n.get("nodeName", "") for n in _walk(plan)]
    return {
        "broadcast_joins": sum(1 for n in names if n == "BroadcastHashJoin"),
        "exchanges": sum(1 for n in names if n == "Exchange"),
        "arrow_udf_nodes": sum(1 for n in names if is_python_node(n)),
    }


def task_totals(tasks: list[dict]) -> dict:
    return {
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_s"] for t in tasks),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "shuffle_fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
    }


def task_skew(log: EventLog, tasks: list[dict]) -> float:
    """max ÷ median task run time in the slowest (longest-wall) stage."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    if not by_stage:
        return 0.0
    slowest = max(by_stage, key=lambda s: log.stage_wall.get(s, 0.0))
    runs = by_stage[slowest]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0
