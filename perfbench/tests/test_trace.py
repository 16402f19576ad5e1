"""Statistics and event-log attribution on hand-built inputs."""

from __future__ import annotations

import json

import pytest

from perfbench import trace


def test_median_odd_and_even():
    assert trace.median([3.0, 1.0, 2.0]) == 2.0
    assert trace.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_union_of_overlapping_intervals():
    # [0,4] and [1,3] overlap entirely, [2,6] extends them, [8,9] is apart.
    spans = [(0.0, 4.0), (1.0, 3.0), (2.0, 6.0), (8.0, 9.0)]
    assert trace.union_length(spans) == 7.0
    assert sum(e - s for s, e in spans) == 11.0
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(1.0, 2.0), (2.0, 3.0)]) == 2.0


def write_log(path, events) -> str:
    with open(path, "w", encoding="utf-8") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
    return str(path)


def job(jid, group, start_ms, end_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def task(stage, run_ms, cpu_ns):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns}}


def test_driver_time_subtracts_the_union_of_job_intervals(tmp_path):
    g = "perfbench:0:0:op"
    events = (
        job(0, g, 1_000, 3_000, [0])           # 2 s
        + job(1, g, 2_000, 4_000, [1])         # overlaps job 0 by 1 s
        + job(2, None, 5_000, 5_500, [2])      # untagged (a stream's), inside the op
        + job(3, "perfbench:9:9:other", 5_000, 5_900, [3])  # another op's group
        + [task(0, 500, 10**9), task(1, 700, 2 * 10**9),
           {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
           {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}}]
    )
    log = trace.read_event_log(write_log(tmp_path / "log", events))
    op = {"name": "op", "group": g, "start": 0.5, "end": 6.5, "wall_s": 6.0}
    (rec,) = trace.op_records([op], log)
    assert rec["jobs"] == 3 and rec["jobs_in_group"] == 2
    # Union of [1,4] and [5,5.5] is 3.5 s; the sum would be 4.5 s.
    assert rec["driver_s"] == pytest.approx(6.0 - 3.5)
    assert rec["stages"] == 2 and rec["tasks"] == 2
    assert rec["task_run_s"] == pytest.approx(1.2)
    assert rec["task_cpu_s"] == pytest.approx(3.0)


def test_plan_counts_from_the_final_adaptive_plan(tmp_path):
    plan = {"nodeName": "AdaptiveSparkPlan", "children": [
        {"nodeName": "Exchange", "children": [{"nodeName": "ArrowEvalPython", "children": []}]},
        {"nodeName": "BroadcastExchange", "children": []},
        {"nodeName": "ReusedExchange", "children": []},
    ]}
    start = {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
             "executionId": 1, "time": 1_000, "sparkPlanInfo": {"nodeName": "X"},
             "physicalPlanDescription": "== Physical Plan ==\nAdaptiveSparkPlan (3)\n"
                                        "+- Execute InsertIntoHadoopFsRelationCommand (2)"}
    update = {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
              "executionId": 1, "sparkPlanInfo": plan}
    end = {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
           "executionId": 1, "time": 1_250}
    ddl = {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
           "executionId": 2, "time": 1_300, "sparkPlanInfo": {},
           "physicalPlanDescription": "== Physical Plan ==\nDropTable (1)\n"}
    ddl_end = {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
               "executionId": 2, "time": 1_400}
    log = trace.read_event_log(write_log(tmp_path / "log", [start, update, end, ddl, ddl_end]))
    op = {"name": "op", "group": "perfbench:0:0:op", "start": 0.9, "end": 1.5, "wall_s": 0.6}
    (rec,) = trace.op_records([op], log)
    assert rec["plan_exchanges"] == 2
    assert rec["plan_python_nodes"] == 1
    assert rec["write_s"] == pytest.approx(0.25)
    assert rec["ddl_s"] == pytest.approx(0.1)
