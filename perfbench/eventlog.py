"""Spark event-log parser: per-job-group layer counters.

The harness tags every job it submits with ``setJobGroup("<key>#<pass>")``
and runs with ``spark.eventLog.compress=false`` (Spark 4.1 compresses
with zstd by default, which the Python standard library cannot read).
:func:`summarize` folds the log into one :class:`GroupStats` per job
group: Spark jobs and their spans, completed stages, SQL executions and
the shape of each execution's final (post-AQE) plan, task metrics, and
the Python-worker SQL metrics of the Arrow/pandas operators.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
# A node that feeds Python workers exposes this metric (MapInPandas,
# FlatMapGroupsInPandas, ArrowEvalPython, BatchEvalPython, ...).
PY_SENT = "data sent to Python workers"
PY_METRICS = {
    "time to run Python workers": "py_total_ms",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    PY_SENT: "py_sent_bytes",
    "number of output rows": "py_rows_received",
}
PLAN_KEYS = ("exchange", "single_partition", "bnlj", "expand", "python_eval")


@dataclass
class GroupStats:
    job_spans: list[tuple[int, int]] = field(default_factory=list)  # epoch ms
    stages: int = 0
    one_task_stages: int = 0
    sql_executions: int = 0
    plan: dict[str, int] = field(default_factory=lambda: dict.fromkeys(PLAN_KEYS, 0))
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    py: dict[str, int] = field(default_factory=lambda: dict.fromkeys(PY_METRICS.values(), 0))


def read_events(log_dir: str) -> list[dict]:
    """All events under ``log_dir``, in write order.

    Handles both layouts Spark writes: one file per application, and
    the rolling ``eventlog_v2_*/events_<n>_*`` directories."""
    files = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    ]

    def order(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    events = []
    for p in sorted(files, key=order):
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def plan_counts(node: dict) -> dict[str, int]:
    """Plan-shape counts over one ``sparkPlanInfo`` tree."""
    counts = dict.fromkeys(PLAN_KEYS, 0)
    stack = [node]
    while stack:
        n = stack.pop()
        name = n.get("nodeName", "")
        counts["exchange"] += name in ("Exchange", "BroadcastExchange")
        counts["single_partition"] += "SinglePartition" in n.get("simpleString", "")
        counts["bnlj"] += name == "BroadcastNestedLoopJoin"
        counts["expand"] += name == "Expand"
        counts["python_eval"] += any(m["name"] == PY_SENT for m in n.get("metrics", ()))
        stack.extend(n.get("children", ()))
    return counts


def _python_accumulators(node: dict, out: dict[int, str]) -> None:
    """Map the accumulator ids of Python-node metrics to GroupStats.py keys."""
    stack = [node]
    while stack:
        n = stack.pop()
        metrics = n.get("metrics", ())
        if any(m["name"] == PY_SENT for m in metrics):
            for m in metrics:
                if m["name"] in PY_METRICS:
                    out[m["accumulatorId"]] = PY_METRICS[m["name"]]
        stack.extend(n.get("children", ()))


def summarize(events: list[dict]) -> dict[str, GroupStats]:
    """Fold an event log into per-job-group stats.  Events outside any
    job group (session start-up) are dropped."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, tuple[str, int]] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    py_acc: dict[int, str] = {}

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                job_group[e["Job ID"]] = (g, e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            g_start = job_group.get(e["Job ID"])
            if g_start:
                groups[g_start[0]].job_spans.append((g_start[1], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g and "Failure Reason" not in info:
                groups[g].stages += 1
                groups[g].one_task_stages += info["Number of Tasks"] == 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            s = groups[g]
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            s.tasks += 1
            s.run_ms += m.get("Executor Run Time", 0)
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            s.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            s.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                key = py_acc.get(acc["ID"])
                if key:
                    s.py[key] += int(acc.get("Update") or 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = e["executionId"]
            if kind.endswith("Start"):
                g = e.get("jobGroupId")
                if g:
                    exec_group[ex] = g
                    groups[g].sql_executions += 1
            if ex in exec_group:
                exec_plan[ex] = e["sparkPlanInfo"]
                _python_accumulators(e["sparkPlanInfo"], py_acc)

    for ex, plan in exec_plan.items():
        counts = plan_counts(plan)
        stats = groups[exec_group[ex]]
        for k, v in counts.items():
            stats.plan[k] += v
    return dict(groups)


def union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) spans."""
    total, cur_end = 0, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            total += end - start
            cur_end = end
        elif end > cur_end:
            total += end - cur_end
            cur_end = end
    return total
