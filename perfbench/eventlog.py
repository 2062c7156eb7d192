"""Spark event-log reader: sorts the stages of one job group into sink
write, Python stage, join and scan/exchange write, and sums task metrics
per kind.

A stage gets the first kind, in that order, that it qualifies for, so an
operator fused into a Python or sink stage counts there.  Which operators
a stage ran is read from the SQL metrics its tasks updated.
"""

from __future__ import annotations

import json
import os
import statistics

PYTHON_NODES = {
    "MapInArrow", "MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
}
KINDS = ("sink", "python", "join", "scan", "other")
_BROADCAST_TIMES = {"time to collect", "time to build", "time to broadcast"}


def read_events(log_dir: str) -> list[dict]:
    events = []
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith("events_"):
                with open(os.path.join(root, name)) as fh:
                    events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def stage_kind(nodes: set, output_bytes: int, input_bytes: int, shuffle_write: int) -> str:
    if output_bytes > 0:
        return "sink"
    if nodes & PYTHON_NODES:
        return "python"
    if any("Join" in n for n in nodes):
        return "join"
    if input_bytes > 0 or shuffle_write > 0 or any(n.startswith("Scan") for n in nodes):
        return "scan"
    return "other"


def summarize(events: list[dict], group: str) -> dict:
    """Task-metric sums for the jobs whose job group is ``group`` or starts
    with ``group + "."``."""
    accums: dict = {}
    stage_ids: set = set()
    sql_ids: set = set()
    n_jobs = 0
    tasks: dict = {}
    completed: dict = {}
    driver_updates: list = []
    blocks: dict = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e["sparkPlanInfo"], accums)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job_group = props.get("spark.jobGroup.id") or ""
            if job_group == group or job_group.startswith(group + "."):
                n_jobs += 1
                stage_ids.update(e["Stage IDs"])
                if "spark.sql.execution.id" in props:
                    sql_ids.add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
        elif kind == "SparkListenerStageCompleted":
            completed[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                blocks[info["Block ID"]] = max(blocks.get(info["Block ID"], 0), size)

    out = {f"{k}.run_s": 0.0 for k in KINDS}
    out.update(jobs=n_jobs, stages=0, tasks=0, input_mb=0.0, output_mb=0.0,
               shuffle_write_mb=0.0, shuffle_read_mb=0.0, shuffle_write_s=0.0,
               gc_s=0.0, spill_mb=0.0, python_task_skew=0.0)
    heaviest_python = 0.0
    for sid in sorted(stage_ids & set(completed)):
        stage_tasks = [t for t in tasks.get(sid, []) if t.get("Task Metrics")]
        if not stage_tasks:
            continue
        nodes = set()
        for t in stage_tasks:
            for acc in t["Task Info"].get("Accumulables", []):
                if acc["ID"] in accums:
                    nodes.add(accums[acc["ID"]][0])
        m = [t["Task Metrics"] for t in stage_tasks]
        in_b = sum(x["Input Metrics"]["Bytes Read"] for x in m)
        out_b = sum(x["Output Metrics"]["Bytes Written"] for x in m)
        sw_b = sum(x["Shuffle Write Metrics"]["Shuffle Bytes Written"] for x in m)
        run_s = sum(x["Executor Run Time"] for x in m) / 1e3
        kind = stage_kind(nodes, out_b, in_b, sw_b)
        out[f"{kind}.run_s"] += run_s
        out["stages"] += 1
        out["tasks"] += len(m)
        out["input_mb"] += in_b / 2**20
        out["output_mb"] += out_b / 2**20
        out["shuffle_write_mb"] += sw_b / 2**20
        out["shuffle_read_mb"] += sum(
            x["Shuffle Read Metrics"]["Remote Bytes Read"]
            + x["Shuffle Read Metrics"]["Local Bytes Read"] for x in m) / 2**20
        out["shuffle_write_s"] += sum(x["Shuffle Write Metrics"]["Shuffle Write Time"] for x in m) / 1e9
        out["gc_s"] += sum(x["JVM GC Time"] for x in m) / 1e3
        out["spill_mb"] += sum(x["Disk Bytes Spilled"] for x in m) / 2**20
        if kind == "python" and run_s > heaviest_python:
            heaviest_python = run_s
            durations = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                         for t in stage_tasks]
            med = statistics.median(durations)
            out["python_task_skew"] = max(durations) / med if med > 0 else 1.0
    broadcast_ms = 0
    for e in driver_updates:
        if e.get("executionId") in sql_ids:
            for acc_id, value in e["accumUpdates"]:
                node, metric = accums.get(acc_id, ("", ""))
                if node == "BroadcastExchange" and metric in _BROADCAST_TIMES:
                    broadcast_ms += value
    out["broadcast_build_s"] = broadcast_ms / 1e3
    out["persist_mb"] = sum(blocks.values()) / 2**20
    return out
