"""Tests for the benchmark's own readings: the event-log fold, the
scan-passes reading and the py4j command counter.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import tracing  # noqa: E402

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def node(name, children=(), rows_acc=None):
    metrics = [] if rows_acc is None else [
        {"name": "number of output rows", "accumulatorId": rows_acc, "metricType": "sum"}
    ]
    return {"nodeName": name, "simpleString": name, "children": list(children), "metrics": metrics}


def pip_plan(base):
    """Filter <- ArrowEvalPython <- BroadcastHashJoin <- Generate, with the
    row accumulators numbered from ``base``."""
    join = node("BroadcastHashJoin", [
        node("Generate", [node("Range", rows_acc=base + 9)], rows_acc=base + 1),
        node("BroadcastExchange", [node("LocalTableScan")], rows_acc=base + 8),
    ], rows_acc=base + 2)
    refine = node("ArrowEvalPython", [node("Project", [join])], rows_acc=base + 3)
    return node("HashAggregate", [
        node("WholeStageCodegen (2)", [node("Filter", [node("InputAdapter", [refine])], rows_acc=base + 4)])
    ], rows_acc=base + 5)


def task_end(stage, launch, run_ms, cpu_ns, records=0, accums=(), shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {
            "Launch Time": launch,
            "Accumulables": [
                {"ID": i, "Name": "number of output rows", "Update": str(v), "Metadata": "sql"}
                for i, v in accums
            ] + [{"ID": 999, "Name": "internal.metrics.executorRunTime", "Update": run_ms}],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Disk Bytes Spilled": spill,
            "Input Metrics": {"Records Read": records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def synthetic_log():
    """Two descriptions: an op with one SQL execution whose plan AQE
    replaced once (new accumulator ids), and a scan with no PIP nodes."""
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "bench:w:op", "spark.sql.execution.id": "0"}},
        {"Event": SQL_START, "executionId": 0, "description": "bench:w:op", "sparkPlanInfo": pip_plan(100)},
        {"Event": SQL_UPDATE, "executionId": 0, "sparkPlanInfo": pip_plan(200)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000}},
        task_end(0, 1250, 400, 300_000_000, records=10, shuffle=64,
                 accums=[(201, 50), (202, 7), (203, 7), (204, 5)]),
        task_end(0, 1500, 600, 500_000_000, records=10, shuffle=36, spill=8,
                 accums=[(201, 30), (202, 3), (203, 3), (204, 2)]),
        {"Event": DRIVER_ACCUM, "executionId": 0, "accumUpdates": [[208, 12], [204, 1]]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 2000}},
        task_end(1, 2000, 100, 50_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.description": "bench:w:scan"}},
        {"Event": SQL_START, "executionId": 1, "description": "bench:w:scan",
         "sparkPlanInfo": node("MapInPandas", [node("Filter", [node("Scan parquet", rows_acc=301)], rows_acc=302)])},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0, "Submission Time": 3000}},
        task_end(2, 3010, 200, 100_000_000, records=40, accums=[(301, 40), (302, 40)]),
    ]


def test_fold_tasks_sums_per_description():
    tasks, jobs = tracing.fold_tasks(synthetic_log())
    op = tasks["bench:w:op"]
    assert op["tasks"] == 3
    assert op["task_s"] == pytest.approx(1.1)
    assert op["task_cpu_s"] == pytest.approx(0.85)
    assert op["gc_s"] == pytest.approx(0.015)
    # launch minus stage submission: 250 ms + 500 ms + 0 ms
    assert op["task_wait_s"] == pytest.approx(0.75)
    assert op["shuffle_write_bytes"] == 100
    assert op["spill_bytes"] == 8
    assert op["records_read"] == 20
    assert tasks["bench:w:scan"]["records_read"] == 40
    assert jobs == {"bench:w:op": 1, "bench:w:scan": 1}


def test_fold_plans_counts_the_pip_funnel_once_across_plan_versions():
    rows, python_nodes = tracing.fold_plans(synthetic_log())
    # only the replanned ids (2xx) got updates; the driver update to 208
    # (the broadcast side) has no role
    assert rows["bench:w:op"] == {"probe_rows": 80, "candidates": 10, "python_rows": 10, "kept": 8}
    assert "bench:w:scan" not in rows
    assert python_nodes == {"bench:w:op": 1, "bench:w:scan": 1}


def test_fold_reads_the_rolling_layout(tmp_path):
    events = synthetic_log()
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    (app / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[6:]) + "\n")
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:6]) + "\n")
    fold = tracing.Fold.from_events(tracing.read_event_log(str(tmp_path)))
    assert fold.tasks["bench:w:op"]["tasks"] == 3
    assert fold.task_totals("bench:w")["tasks"] == 4  # both children
    assert fold.task_totals("bench:w:o")["tasks"] == 0  # not a boundary
    assert fold.task_totals("bench:w:op")["records_read"] == 20


def test_scan_passes():
    tasks, _ = tracing.fold_tasks(synthetic_log())
    assert tracing.scan_passes(tasks["bench:w:op"]["records_read"], 10) == 2.0
    assert tracing.scan_passes(tasks["bench:w:scan"]["records_read"], 40) == 1.0
    with pytest.raises(ValueError):
        tracing.scan_passes(5, 0)


class FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True, binary=False):
        self.sent.append(command)
        return "!yv"


def test_py4j_counter_counts_and_restores():
    client = FakeClient()
    client.send_command("before")
    with tracing.Py4JCounter(client) as counter:
        for i in range(3):
            assert client.send_command(f"c{i}") == "!yv"
        client.send_command("bin", binary=True)
    client.send_command("after")
    assert counter.calls == 4
    assert client.sent == ["before", "c0", "c1", "c2", "bin", "after"]
    assert "send_command" not in vars(client)


def test_codegen_fallbacks(tmp_path):
    log = tmp_path / "jvm.log"
    log.write_text("WARN x\nERROR CodeGenerator: Failed to compile: grows beyond 64 KB\nINFO ok\n")
    assert tracing.count_codegen_fallbacks(str(log)) == 1
    assert tracing.count_codegen_fallbacks(str(tmp_path / "missing.log")) == 0
