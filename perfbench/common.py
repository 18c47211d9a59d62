"""Small helpers shared by the workloads."""

from __future__ import annotations

import re
import time

from eventlog import is_python_node

_NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")


def now_ms() -> float:
    return time.time() * 1000.0


def noop(df) -> None:
    """Execute the whole physical plan; discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def plan_counts(df) -> dict[str, int]:
    """Plan fingerprint: Exchange, BroadcastExchange and Python-eval node
    counts of the physical plan Spark would run (the adaptive initial
    plan, before runtime re-planning)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = {"exchanges": 0, "broadcasts": 0, "python_evals": 0}
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Exchange":
            counts["exchanges"] += 1
        elif node == "BroadcastExchange":
            counts["broadcasts"] += 1
        elif is_python_node(node):
            counts["python_evals"] += 1
    return counts
