"""Spark event-log reader for the traced run.

Attributes tasks and jobs to a measured interval by their launch /
submission time (epoch ms, the same clock the benchmark reads), so a
pass or a query is summarised without any tag inside the program.
SQL node metrics (rows into and out of the Python stage, scan rows) are
resolved through the plan trees the log records for every execution
and adaptive re-plan.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


@dataclass
class EventLog:
    tasks: list[dict] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    # accumulator id -> (plan node name, metric name)
    accums: dict[int, tuple[str, str]] = field(default_factory=dict)
    # accumulator ids of the rows entering each Python-stage node
    python_in_ids: set[int] = field(default_factory=set)

    @classmethod
    def load(cls, log_dir: str) -> EventLog:
        log = cls()
        for name in sorted(os.listdir(log_dir)):
            path = os.path.join(log_dir, name)
            if not os.path.isfile(path):
                continue
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    try:
                        log._add(json.loads(line))
                    except json.JSONDecodeError:
                        continue  # a truncated last line of a live log
        return log

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerTaskEnd":
            self.tasks.append(ev)
        elif kind == "SparkListenerJobStart":
            self.jobs.append(ev)
        elif "sparkPlanInfo" in ev:
            self._walk(ev["sparkPlanInfo"])

    def _walk(self, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", ()):
            self.accums[m["accumulatorId"]] = (name, m["name"])
        kids = node.get("children", ())
        if is_python_node(name) and kids:
            rows = _first_rows_metric(kids[0])
            if rows is not None:
                self.python_in_ids.add(rows)
        for c in kids:
            self._walk(c)

    def window(self, t0_ms: float, t1_ms: float) -> Window:
        tasks = [t for t in self.tasks if t0_ms <= t["Task Info"]["Launch Time"] <= t1_ms]
        jobs = [j for j in self.jobs if t0_ms <= j["Submission Time"] <= t1_ms]
        return Window(self, tasks, jobs)


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _first_rows_metric(node: dict) -> int | None:
    """Accumulator of the first 'number of output rows' met walking down
    the first-child chain (codegen wrappers and projections carry none)."""
    while node is not None:
        for m in node.get("metrics", ()):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
        kids = node.get("children") or [None]
        node = kids[0]
    return None


@dataclass
class Window:
    log: EventLog
    tasks: list[dict]
    jobs: list[dict]

    def _m(self, t: dict, *keys):
        """A task metric by key path; 0 when the task does not carry it."""
        v = t.get("Task Metrics") or {}
        for k in keys:
            v = v.get(k, {}) if isinstance(v, dict) else {}
        return v if isinstance(v, (int, float)) else 0

    def engine(self) -> dict[str, float]:
        run_ms = sum(self._m(t, "Executor Run Time") for t in self.tasks)
        cpu_ns = sum(self._m(t, "Executor CPU Time") for t in self.tasks)
        return {
            "executor_run_s": run_ms / 1e3,
            "executor_cpu_s": cpu_ns / 1e9,
            "cpu_per_run": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
            "spill_bytes": sum(
                self._m(t, "Memory Bytes Spilled") + self._m(t, "Disk Bytes Spilled")
                for t in self.tasks
            ),
            "shuffle_write_bytes": self.shuffle_write_bytes(),
            "jobs": len(self.jobs),
            "tasks": len(self.tasks),
            "failed_tasks": sum(1 for t in self.tasks if t["Task Info"].get("Failed")),
        }

    def shuffle_write_bytes(self) -> int:
        return sum(
            self._m(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in self.tasks
        )

    def post_shuffle_skew(self) -> float:
        """max / median task run time of the busiest stage that reads a
        shuffle; 1.0 when no stage in the window reads one."""
        by_stage: dict[int, list[int]] = {}
        for t in self.tasks:
            read = self._m(t, "Shuffle Read Metrics", "Remote Bytes Read") + self._m(
                t, "Shuffle Read Metrics", "Local Bytes Read"
            )
            if read > 0:
                by_stage.setdefault(t["Stage ID"], []).append(self._m(t, "Executor Run Time"))
        if not by_stage:
            return 1.0
        runs = max(by_stage.values(), key=sum)
        return max(runs) / max(statistics.median(runs), 1.0)

    def sql_metric(self, node_pred, metric: str) -> int:
        """Sum of task-side updates of a named SQL metric over the plan
        nodes whose name satisfies ``node_pred``."""
        total = 0
        accums = self.log.accums
        for t in self.tasks:
            for a in t["Task Info"].get("Accumulables", ()):
                key = accums.get(a.get("ID"))
                if key and key[1] == metric and node_pred(key[0]):
                    total += _int(a.get("Update"))
        return total

    def python_in_rows(self) -> int:
        ids = self.log.python_in_ids
        return sum(
            _int(a.get("Update"))
            for t in self.tasks
            for a in t["Task Info"].get("Accumulables", ())
            if a.get("ID") in ids
        )
