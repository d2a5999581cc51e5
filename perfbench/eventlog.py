"""Fold a Spark event log (uncompressed JSON lines) into per-span counters.

A span is named by the job description the benchmark sets before it
(``SparkContext.setJobDescription``); every stage carries that
description in its properties, and every task is counted under its
stage's span. SQL metrics (``number of output rows``, the Python-worker
timers) are read from the task accumulables and typed by the plan node
that owns the accumulator, as recorded in the SQL execution events.

Standard library only, so the benchmark can fold a log without Spark.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: plan nodes whose output rows are candidate pairs of an equi-join
EQUI_JOINS = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
#: plan nodes that cross into Python workers
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas")
# "time to initialize Python workers" is left out: on PySpark 4.1.2 a
# reused worker reports its age there (values grow from task to task and
# exceed the task's own run time), so a sum of it measures nothing
_PY_METRICS = {"time to run Python workers": "py_run_ms",
               "time to start Python workers": "py_start_ms",
               "data sent to Python workers": "py_sent_bytes"}

COUNTERS = ("tasks", "failed_tasks", "task_ms", "max_task_ms", "gc_ms",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
            "spill_bytes", "input_bytes", "file_scan_bytes", "output_bytes",
            "output_records",
            "join_rows", "py_in_rows", "py_out_rows", "py_run_ms",
            "py_start_ms", "py_sent_bytes")


def read_events(log_dir: str):
    """Yield the events of every log file in ``log_dir``."""
    for fn in sorted(os.listdir(log_dir)):
        if fn.startswith("."):
            continue
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_roles(node: dict, roles: dict[int, set]) -> None:
    """Map accumulator ids of interest to their roles, walking a plan."""
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        role = None
        if m["name"] == "number of output rows":
            if name.startswith(EQUI_JOINS):
                role = "join_rows"
            elif name.startswith(PYTHON_NODES):
                role = "py_out_rows"
        elif name.startswith(PYTHON_NODES):
            role = _PY_METRICS.get(m["name"])
        if role:
            roles[m["accumulatorId"]].add(role)
    if name.startswith(PYTHON_NODES):
        # rows fed to Python: the nearest descendant that counts rows
        todo = list(node.get("children", []))
        while todo:
            c = todo.pop(0)
            rows = [m for m in c.get("metrics", [])
                    if m["name"] == "number of output rows"]
            if rows:
                roles[rows[0]["accumulatorId"]].add("py_in_rows")
                break
            todo += c.get("children", [])
    for child in node.get("children", []):
        _plan_roles(child, roles)


def fold(events) -> dict[str, dict]:
    """Per span: the COUNTERS, summed over its tasks, plus ``jobs`` (the
    [submit, complete] epoch-ms interval of each Spark job)."""
    events = list(events)
    # plans first: adaptive re-plans can be logged after the tasks they ran
    roles: dict[int, set] = defaultdict(set)
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart",
                                "SQLAdaptiveExecutionUpdate")):
            _plan_roles(e["sparkPlanInfo"], roles)
    stage_span: dict[int, str] = {}
    scans_files: set[int] = set()  # stages that read files, not a cache
    job_span: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {**{c: 0 for c in COUNTERS}, "jobs": []})
    job_start: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get("spark.job.description")
            job_span[e["Job ID"]] = span or ""
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e["Stage IDs"]:
                stage_span.setdefault(sid, span or "")
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            out[job_span.get(jid, "")]["jobs"].append(
                [job_start.get(jid, e["Completion Time"]),
                 e["Completion Time"]])
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            span = (e.get("Properties") or {}).get("spark.job.description")
            if span:
                stage_span[info["Stage ID"]] = span
            rdds = info.get("RDD Info", [])
            if (any(r["Name"] == "FileScanRDD" for r in rdds)
                    and not any(r["Storage Level"]["Use Memory"]
                                or r["Storage Level"]["Use Disk"]
                                for r in rdds)):
                scans_files.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            acc = out[stage_span.get(e["Stage ID"], "")]
            _fold_task(acc, e, roles)
            if e["Stage ID"] in scans_files:
                acc["file_scan_bytes"] += ((e.get("Task Metrics") or {})
                                           .get("Input Metrics") or {}) \
                    .get("Bytes Read", 0)
    return dict(out)


def _fold_task(acc: dict, e: dict, roles: dict[int, set]) -> None:
    acc["tasks"] += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    m = e.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    acc["task_ms"] += run
    acc["max_task_ms"] = max(acc["max_task_ms"], run)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    acc["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    om = m.get("Output Metrics") or {}
    acc["output_bytes"] += om.get("Bytes Written", 0)
    acc["output_records"] += om.get("Records Written", 0)
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        if a.get("Update") is not None:
            for role in roles.get(a.get("ID"), ()):
                acc[role] += int(a["Update"])


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name, in seconds: each span's duration minus
    the part of it that its child spans cover, summed over the spans of
    one name. ``spans`` hold ``name``, ``start``, ``end`` (epoch seconds)
    and ``parent`` (the index of the enclosing span, or None)."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for k, s in enumerate(spans):
        out[s["name"]] += (s["end"] - s["start"]
                           - covered(kids[k], s["start"], s["end"]))
    return dict(out)
