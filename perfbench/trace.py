"""Statistics helpers and the offline reader of Spark's event log.

The traced run writes an uncompressed, non-rolling event log. Jobs
carry the op's job group (``SparkContext.setJobGroup``); jobs started
by a streaming query run under the stream's own group and are
attributed to the op whose time window holds their submission. SQL
executions carry no group, so they too are attributed by time window:
the benchmark is a single closed-loop client, so op windows never
overlap.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

GROUP_PREFIX = "perfbench:"
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")
DDL_COMMANDS = ("DropTable", "CreateDataSourceTableCommand", "RepairTableCommand")
WRITE_COMMANDS = ("InsertIntoHadoopFsRelationCommand",)


def median(xs) -> float:
    return float(statistics.median(xs))


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end]
    intervals (each point counted once)."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def read_event_log(path: str) -> dict:
    """Jobs, stage/task metrics and SQL executions from an event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_run: dict[int, int] = defaultdict(int)
    task_sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    execs: dict[int, dict] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_run[ev["Stage Info"]["Stage ID"]] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = task_sums[ev["Stage ID"]]
                s["tasks"] += 1
                s["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                s["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                execs[ev["executionId"]] = {
                    "start": ev["time"] / 1000.0,
                    "end": None,
                    "plan": ev.get("physicalPlanDescription", ""),
                    "info": ev.get("sparkPlanInfo") or {},
                }
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if ev["executionId"] in execs:
                    execs[ev["executionId"]]["info"] = ev.get("sparkPlanInfo") or {}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in execs:
                    execs[ev["executionId"]]["end"] = ev["time"] / 1000.0
    job_metrics: dict[int, dict] = {jid: defaultdict(float) for jid in jobs}
    for sid, jid in stage_job.items():
        if jid not in job_metrics:
            continue
        job_metrics[jid]["stages"] += stages_run.get(sid, 0)
        for k, v in task_sums.get(sid, {}).items():
            job_metrics[jid][k] += v
    for e in execs.values():
        nodes = list(_plan_nodes(e.pop("info")))
        e["exchanges"] = sum(
            n.endswith("Exchange") and not n.startswith("Reused") for n in nodes
        )
        e["python_nodes"] = sum(any(p in n for p in PYTHON_NODES) for n in nodes)
        # The root node and its first child name the command: a write
        # under AQE reads "AdaptiveSparkPlan / +- Execute InsertInto...".
        top = [h for h in e.pop("plan").split("\n") if h.strip() and not h.startswith("==")][:2]
        e["ddl"] = any(c in top[0] for c in DDL_COMMANDS) if top else False
        e["write"] = any(c in h for h in top for c in WRITE_COMMANDS)
    return {"jobs": jobs, "job_metrics": job_metrics, "execs": execs}


def op_records(ops: list[dict], log: dict) -> list[dict]:
    """One record per timed op. ``ops`` items carry ``name``,
    ``group``, ``start``/``end`` (epoch seconds) and ``wall_s``."""
    records = []
    for op in ops:
        lo, hi = op["start"], op["end"]

        def inside(t: float) -> bool:
            return lo - 0.001 <= t <= hi + 0.001

        jids = [
            jid
            for jid, j in log["jobs"].items()
            if j["group"] == op["group"] or (not _tagged(j) and inside(j["start"]))
        ]
        spans = [
            (log["jobs"][j]["start"], log["jobs"][j]["end"] or hi) for j in jids
        ]
        rec = {
            "op": op["name"],
            "wall_s": op["wall_s"],
            "driver_s": max(0.0, op["wall_s"] - union_length(spans)),
            "jobs": len(jids),
            "jobs_in_group": sum(log["jobs"][j]["group"] == op["group"] for j in jids),
        }
        for key in (
            "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", "input_bytes",
        ):
            rec[key] = sum(log["job_metrics"][j].get(key, 0) for j in jids)
        ex = [e for e in log["execs"].values() if inside(e["start"])]
        rec["plan_exchanges"] = sum(e["exchanges"] for e in ex)
        rec["plan_python_nodes"] = sum(e["python_nodes"] for e in ex)
        rec["ddl_s"] = sum((e["end"] or hi) - e["start"] for e in ex if e["ddl"])
        rec["write_s"] = sum((e["end"] or hi) - e["start"] for e in ex if e["write"])
        records.append(rec)
    return records


def _tagged(job: dict) -> bool:
    """Jobs carrying a benchmark op group belong to that op alone."""
    return bool(job["group"]) and job["group"].startswith(GROUP_PREFIX)
