import json

import pytest

from eventlog import UNLABELLED, op_kind, reduce_events

SQL = "org.apache.spark.sql.execution.ui."


def _plan():
    return {
        "nodeName": "HashAggregate",
        "metrics": [{"name": "number of output rows", "accumulatorId": 10, "metricType": "sum"}],
        "children": [{
            "nodeName": "Exchange",
            "metrics": [{"name": "shuffle bytes written", "accumulatorId": 11, "metricType": "size"}],
            "children": [{
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "time to run Python workers", "accumulatorId": 12,
                     "metricType": "timing"},
                ],
                "children": [],
            }],
        }],
    }


def _task(stage, run_ms, accums=(), cpu_ns=0, gc_ms=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": "x", "Update": str(v), "Internal": True, "Metadata": "sql"}
            for i, v in accums
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": written},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _log():
    return [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": _plan()},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "pb:1:query.collect:q",
                        "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.job.description": "pb:1:query.collect:q"}},
        _task(0, 1500, [(12, 700), (11, 2048)], cpu_ns=10**9, written=1 << 20),
        _task(0, 500, [(12, 300), (11, 2048)], gc_ms=250),
        _task(1, 100, [(10, 7)]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # a job submitted without a description, e.g. from an unwrapped thread
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 40),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4100},
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[10, 3]]},
    ]


def test_reducer_totals_per_label_and_operator_kind():
    rows = reduce_events(json.dumps(e) for e in _log())
    q = rows["pb:1:query.collect:q"]
    assert (q["jobs"], q["tasks"]) == (1, 3)
    assert q["task_s"] == pytest.approx(2.1)
    assert q["cpu_s"] == pytest.approx(1.0)
    assert q["gc_s"] == pytest.approx(0.25)
    assert q["shuffle_write_mb"] == pytest.approx(1.0)
    assert q["kinds"]["python"]["time to run Python workers"] == pytest.approx(1.0)
    assert q["kinds"]["exchange"]["shuffle bytes written"] == 4096
    # 7 rows from tasks plus 3 from an update sent outside tasks
    assert q["kinds"]["aggregate"]["number of output rows"] == 10


def test_reducer_keeps_unlabelled_jobs_as_their_own_row():
    rows = reduce_events(json.dumps(e) for e in _log())
    assert set(rows) == {"pb:1:query.collect:q", UNLABELLED}
    assert rows[UNLABELLED]["jobs"] == 1
    assert rows[UNLABELLED]["task_s"] == pytest.approx(0.04)


def test_reducer_skips_blank_lines():
    lines = [json.dumps(e) for e in _log()]
    lines.insert(3, "\n")
    assert reduce_events(lines)["pb:1:query.collect:q"]["tasks"] == 3


@pytest.mark.parametrize(
    "node, kind",
    [
        ("ArrowEvalPython", "python"), ("MapInPandas", "python"),
        ("FlatMapGroupsInPandas", "python"), ("BatchEvalPython", "python"),
        ("Exchange", "exchange"), ("BroadcastExchange", "exchange"),
        ("BroadcastHashJoin", "join"), ("SortMergeJoin", "join"),
        ("HashAggregate", "aggregate"), ("ObjectHashAggregate", "aggregate"),
        ("Sort", "sort"), ("Scan parquet ", "scan"), ("InMemoryTableScan", "scan"),
        ("Project", "other"),
    ],
)
def test_op_kind(node, kind):
    assert op_kind(node) == kind
