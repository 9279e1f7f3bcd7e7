"""Reduce an uncompressed Spark event log to per-label totals.

A label is the ``spark.job.description`` a job was submitted under; the
traced run gives every span its own description, so a label maps to one
span. Jobs submitted without a description are kept under
``UNLABELLED``, never dropped.

For each label the reducer sums task counters (run time, CPU, GC,
shuffle read/write, spill) and the SQL operator metrics of the tasks'
plan nodes, grouped by operator kind (python, exchange, join,
aggregate, sort, scan, write, other).
"""

from __future__ import annotations

import json
from collections import defaultdict

UNLABELLED = "(unlabelled)"
KINDS = ("python", "exchange", "join", "aggregate", "sort", "scan", "write", "other")

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
_TASK_FIELDS = ("task_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def op_kind(node_name: str) -> str:
    name = node_name.strip()
    if "Python" in name or "Pandas" in name or "InArrow" in name:
        return "python"
    if "Exchange" in name:
        return "exchange"
    if "Join" in name:
        return "join"
    if "Aggregate" in name:
        return "aggregate"
    if name.startswith("Sort"):
        return "sort"
    if "Scan" in name:
        return "scan"
    if "Write" in name or "InsertInto" in name:
        return "write"
    return "other"


def _metric_value(metric_type: str, raw: int) -> float:
    """Seconds for timings, bytes for sizes, plain counts otherwise."""
    if metric_type == "timing":
        return raw / 1e3
    if metric_type == "nsTiming":
        return raw / 1e9
    return float(raw)


def _walk_plan(plan: dict, out: dict) -> None:
    kind = op_kind(plan.get("nodeName", ""))
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (kind, m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _walk_plan(child, out)


def _empty_row() -> dict:
    row = {"jobs": 0, "tasks": 0}
    row.update({k: 0.0 for k in _TASK_FIELDS})
    row["kinds"] = defaultdict(lambda: defaultdict(float))
    return row


def reduce_events(lines) -> dict[str, dict]:
    """``lines``: the event log's JSON lines. Returns label → totals:
    ``jobs``, ``tasks``, ``task_s``, ``cpu_s``, ``gc_s``,
    ``shuffle_read_mb``, ``shuffle_write_mb``, ``spill_mb`` and
    ``kinds[kind][metric name]`` (seconds, bytes or counts)."""
    accums: dict[int, tuple[str, str, str]] = {}
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    late_updates: list[tuple[int, list]] = []
    rows: dict[str, dict] = defaultdict(_empty_row)

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind in (_SQL_START, _SQL_AQE):
            _walk_plan(ev["sparkPlanInfo"], accums)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = props.get("spark.job.description") or UNLABELLED
            for sid in ev.get("Stage IDs", ()):
                stage_label.setdefault(sid, label)
            if "spark.sql.execution.id" in props:
                exec_label.setdefault(int(props["spark.sql.execution.id"]), label)
            rows[label]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            if props.get("spark.job.description"):
                stage_label[sid] = props["spark.job.description"]
        elif kind == "SparkListenerTaskEnd":
            row = rows[stage_label.get(ev["Stage ID"], UNLABELLED)]
            row["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            row["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            row["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            row["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / (1 << 20)
            row["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / (1 << 20)
            row["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / (1 << 20)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                meta = accums.get(acc.get("ID"))
                if meta is not None and acc.get("Update") is not None:
                    k, name, mtype = meta
                    row["kinds"][k][name] += _metric_value(mtype, int(acc["Update"]))
        elif kind == _SQL_ACCUMS:
            late_updates.append((ev.get("executionId"), ev.get("accumUpdates", ())))

    # SQL metrics updated outside tasks (broadcast build times, AQE reads): their
    # plan nodes may only be announced after the update, so apply last
    for exec_id, updates in late_updates:
        row = rows[exec_label.get(exec_id, UNLABELLED)]
        for acc_id, value in updates:
            meta = accums.get(acc_id)
            if meta is not None:
                k, name, mtype = meta
                row["kinds"][k][name] += _metric_value(mtype, value)
    return {label: row for label, row in rows.items()}


def reduce_file(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as fh:
        return reduce_events(fh)


def kind_total(row: dict, kind: str, metric: str) -> float:
    return row["kinds"].get(kind, {}).get(metric, 0.0)
