"""Parser for a Spark event log (uncompressed, not rolled) into the
benchmark's per-layer numbers.

Jobs are attributed to timed passes by their job group, which the
benchmark sets per pass.  SQL metrics are matched to plan nodes by
accumulator id, taken from the plans in the SQL execution events; the
Python metrics (``pythonBootTime`` ... ``pythonNumRowsReceived``) are the
ones on nodes that carry "time to run Python workers".
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Set

_PY_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "bytes_to",
    "data returned from Python workers": "bytes_from",
}


@dataclass
class Task:
    stage: int
    duration_ms: int
    metrics: dict
    accums: Dict[int, int]
    python: Dict[str, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: Dict[int, dict] = field(default_factory=dict)  # id -> group, stages, sql
    tasks: List[Task] = field(default_factory=list)
    sql_plans: Dict[int, str] = field(default_factory=dict)
    python_rows_ids: Set[int] = field(default_factory=set)
    scan_bytes_ids: Set[int] = field(default_factory=set)
    driver_accums: Dict[int, Dict[int, int]] = field(default_factory=dict)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                log._add(json.loads(line))
        return log

    def _plan(self, node: dict) -> None:
        names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        if "time to run Python workers" in names and "number of output rows" in names:
            self.python_rows_ids.add(names["number of output rows"])
        if node.get("nodeName", "").startswith("Scan") and "size of files read" in names:
            self.scan_bytes_ids.add(names["size of files read"])
        for child in node.get("children", []):
            self._plan(child)

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": set(e["Stage IDs"]),
                "sql": int(sql) if sql is not None else None,
            }
        elif kind == "SparkListenerTaskEnd":
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                return
            info = e["Task Info"]
            accums = {}
            python = {}
            for a in info.get("Accumulables", []):
                try:
                    v = int(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                accums[a["ID"]] = v
                key = _PY_METRICS.get(a.get("Name"))
                if key:
                    python[key] = python.get(key, 0) + v
            self.tasks.append(Task(
                e["Stage ID"], info["Finish Time"] - info["Launch Time"],
                e.get("Task Metrics") or {}, accums, python,
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_plans[e["executionId"]] = e.get("physicalPlanDescription", "")
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            acc = self.driver_accums.setdefault(e["executionId"], {})
            for aid, v in e["accumUpdates"]:
                acc[aid] = acc.get(aid, 0) + int(v)

    # --- selections -------------------------------------------------------

    def job_ids(self, group: str) -> List[int]:
        return sorted(j for j, info in self.jobs.items() if info["group"] == group)

    def tasks_of(self, job_ids: Iterable[int]) -> List[Task]:
        stages: Set[int] = set()
        for j in job_ids:
            stages |= self.jobs[j]["stages"]
        return [t for t in self.tasks if t.stage in stages]

    def scan_bytes(self, job_ids: Iterable[int]) -> int:
        execs = {self.jobs[j]["sql"] for j in job_ids} - {None}
        return sum(
            v for x in execs for aid, v in self.driver_accums.get(x, {}).items()
            if aid in self.scan_bytes_ids
        )

    def split_after(self, job_ids: List[int], marker: str) -> List[List[int]]:
        """Cut a run of jobs into consecutive pieces, each ending with a
        run of jobs whose SQL plan names ``marker``.  Jobs after the last
        such run are dropped."""
        pieces: List[List[int]] = []
        cur: List[int] = []
        prev = False
        for j in job_ids:
            x = self.jobs[j]["sql"]
            marked = x is not None and marker in self.sql_plans.get(x, "")
            if prev and not marked:
                pieces.append(cur)
                cur = []
            cur.append(j)
            prev = marked
        if prev:
            pieces.append(cur)
        return pieces


def skew(tasks: List[Task]) -> float:
    """max / median task time within the Spark stage that took the most
    task time (1.0 for a single task).  Tasks of one stage do the same
    work on different partitions, so this is the skew that costs time."""
    by_stage: Dict[int, List[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration_ms)
    if not by_stage:
        return 1.0
    durations = max(by_stage.values(), key=sum)
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def task_totals(tasks: List[Task]) -> dict:
    m = [t.metrics for t in tasks]
    return {
        "tasks": len(tasks),
        "executor_cpu_s": sum(x.get("Executor CPU Time", 0) for x in m) / 1e9,
        "gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1e3,
        "shuffle_mb": sum(
            x.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for x in m
        ) / 1e6,
        "spill_mb": sum(x.get("Disk Bytes Spilled", 0) for x in m) / 1e6,
        "task_skew": skew(tasks),
    }


def boundary(log: EventLog, tasks: List[Task]) -> dict:
    """The Python boundary over ``tasks``: only tasks that ran a Python
    node count toward tasks and skew."""
    py = [t for t in tasks if "total_ms" in t.python]
    tot = {k: sum(t.python.get(k, 0) for t in py) for k in _PY_METRICS.values()}
    rows = sum(v for t in py for aid, v in t.accums.items() if aid in log.python_rows_ids)
    return {
        "tasks": len(py),
        "task_skew": skew(py),
        "python_boot_s": tot["boot_ms"] / 1e3,
        "python_init_s": tot["init_ms"] / 1e3,
        "python_total_s": tot["total_ms"] / 1e3,
        "bytes_to_python": tot["bytes_to"],
        "bytes_from_python": tot["bytes_from"],
        "rows_from_python": rows,
    }
