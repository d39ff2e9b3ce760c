"""Spans, event-log parsing and reconciliation, on a synthetic event log."""

import json

import pytest

from perfbench.tracing import (Tracer, parse_event_log, reconcile,
                               subtree_ids, sum_groups)


class FakeSc:
    """Records the job-group calls a Tracer makes."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def test_tracer_nests_spans_and_restores_job_groups():
    sc = FakeSc()
    tr = Tracer(sc)
    with tr.span("pass", kind="pass"):
        with tr.span("op", kind="op"):
            pass
        with tr.span("op2", kind="op"):
            pass
    by = {s["name"]: s for s in tr.spans}
    assert by["op"]["parent"] == by["pass"]["span_id"]
    assert by["op"]["trace"] == by["op2"]["trace"] == by["pass"]["span_id"]
    assert by["pass"]["parent"] is None
    assert by["pass"]["start"] <= by["op"]["start"] <= by["op"]["end"] \
        <= by["op2"]["start"] <= by["pass"]["end"]
    p, o1, o2 = (by[n]["span_id"] for n in ("pass", "op", "op2"))
    assert sc.groups == [p, o1, p, o2, p, None]


def test_disabled_tracer_records_nothing():
    sc = FakeSc()
    tr = Tracer(sc, enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == [] and sc.groups == []


def test_tracer_writes_json(tmp_path):
    tr = Tracer()
    with tr.span("a"):
        pass
    out = tmp_path / "spans.json"
    tr.write(str(out), {"report": {"k": 1}})
    data = json.loads(out.read_text())
    assert data["spans"][0]["name"] == "a" and data["report"] == {"k": 1}


def plan(acc_base):
    """A plan with one Python exec node (metric ids acc_base..+4) under a
    scan node whose 'number of output rows' must be ignored."""
    py_metrics = [
        {"name": "data sent to Python workers", "accumulatorId": acc_base,
         "metricType": "size"},
        {"name": "data returned from Python workers",
         "accumulatorId": acc_base + 1, "metricType": "size"},
        {"name": "number of output rows", "accumulatorId": acc_base + 2,
         "metricType": "sum"},
        {"name": "time to run Python workers",
         "accumulatorId": acc_base + 3, "metricType": "timing"},
        {"name": "time to start Python workers",
         "accumulatorId": acc_base + 4, "metricType": "nsTiming"},
    ]
    scan = {"nodeName": "Scan", "metrics": [
        {"name": "number of output rows", "accumulatorId": 999,
         "metricType": "sum"}], "children": []}
    return {"nodeName": "MapInPandas", "metrics": py_metrics,
            "children": [scan]}


def task_end(stage, launch, finish, run_ms, accs):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": [{"ID": i, "Update": u}
                                           for i, u in accs]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 500_000,
                "JVM GC Time": 5, "Result Size": 100,
                "Peak Execution Memory": 1000 * run_ms,
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                         "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 3}}}


@pytest.fixture
def event_log(tmp_path):
    """Two jobs: job 0 in group s1 (one stage, two tasks), job 1 outside
    any group. Times in epoch ms."""
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan(10)},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "s1"}},
        task_end(0, 1100, 1600, 400, [(10, 2048), (11, 1024), (12, 50),
                                      (13, 300), (14, 2_000_000),
                                      (999, 12345)]),
        task_end(0, 1100, 1800, 600, [(10, 1024), (13, 500)]),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1050,
                        "Completion Time": 1900}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1}, "Properties": {}},
        task_end(1, 3000, 3100, 100, []),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 3000,
                        "Completion Time": 3100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 3200},
    ]
    p = tmp_path / "eventlog"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def test_parse_event_log_attributes_by_job_group(event_log):
    log = parse_event_log(event_log)
    g = log["groups"]["s1"]
    assert g["jobs"] == 1 and g["tasks"] == 2
    assert g["executor_run_s"] == pytest.approx(1.0)
    assert g["executor_cpu_s"] == pytest.approx(0.5)
    assert g["gc_s"] == pytest.approx(0.01)
    # (500 - 400) + (700 - 600) ms between launch/finish and run time
    assert g["task_wait_s"] == pytest.approx(0.2)
    assert g["shuffle_read_bytes"] == 6 and g["shuffle_write_bytes"] == 6
    assert g["spill_bytes"] == 14 and g["result_bytes"] == 200
    assert g["peak_exec_mem_bytes"] == 600_000
    assert g["bytes_to_python"] == 3072 and g["bytes_from_python"] == 1024
    # the scan node's row count (accumulator 999) is not a UDF metric
    assert g["rows_from_python"] == 50
    assert g["python_run_s"] == pytest.approx(0.8)       # timing: ms
    assert g["python_boot_s"] == pytest.approx(0.002)    # nsTiming: ns
    assert log["groups"][""]["jobs"] == 1
    assert log["groups"][""]["bytes_to_python"] == 0
    assert log["jobs"]["s1"] == [(1.0, 2.0)]
    assert log["stages"]["s1"] == [(1.05, 1.9)]


def test_reconcile_names_driver_and_scheduler_residuals(event_log):
    log = parse_event_log(event_log)
    spans = [{"span_id": "s0", "name": "pass", "parent": None,
              "start": 0.5, "end": 3.5},
             {"span_id": "s1", "name": "op", "parent": "s0",
              "start": 0.9, "end": 2.4}]
    r = reconcile(spans[1], spans, log, tolerance=0.10)
    # stage 1.05..1.9 covers 0.85 s of 1.5 s; job adds 1.0..1.05 and
    # 1.9..2.0 (scheduler); the rest is driver time
    assert r["covered_s"] == pytest.approx(0.85)
    assert r["scheduler_s"] == pytest.approx(0.15)
    assert r["driver_s"] == pytest.approx(0.5)
    assert not r["reconciled"]
    # the pass is covered by its child op span plus nothing else
    r0 = reconcile(spans[0], spans, log, tolerance=0.60)
    assert r0["covered_s"] == pytest.approx(1.5) and r0["reconciled"]


def test_subtree_and_sum_groups(event_log):
    log = parse_event_log(event_log)
    spans = [{"span_id": "s0", "parent": None},
             {"span_id": "s1", "parent": "s0"},
             {"span_id": "s2", "parent": "s1"}]
    assert subtree_ids(spans, "s0") == {"s0", "s1", "s2"}
    assert subtree_ids(spans, "s2") == {"s2"}
    tot = sum_groups(log, {"s0", "s1", ""})
    assert tot["jobs"] == 2 and tot["tasks"] == 3
    assert tot["peak_exec_mem_bytes"] == 600_000
