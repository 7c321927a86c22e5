"""Spark event-log parser for the traced run.

The benchmark tags every operation with ``sc.setJobGroup("<op>#<n>")``
and runs Spark with ``spark.eventLog.enabled``. This module reads that
JSON-lines log back, joins task-end metrics to stages, stages to jobs and
jobs to job groups, and sums them per operation kind.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
          "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
          "input_bytes", "result_bytes")


def _log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: plain ``<app-id>`` files, or the
    ``events_<n>_<app-id>`` parts of a rolling log directory, in order."""
    def order(path: str):
        name = os.path.basename(path)
        part = name.split("_")[1] if name.startswith("events_") else "0"
        return (os.path.dirname(path), int(part) if part.isdigit() else 0)

    found = []
    for d, _, files in os.walk(log_dir):
        found += [os.path.join(d, f) for f in files
                  if not f.startswith((".", "appstatus"))
                  and not f.endswith(".inprogress")]
    return sorted(found, key=order)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in _log_files(log_dir):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _op_of(group: str | None) -> str | None:
    return group.split("#", 1)[0] if group else None


def parse(events: list[dict]) -> dict:
    """Per-group totals plus job intervals.

    Returns ``{"groups": {group: {field: value}}, "jobs": {job_id:
    (group, submit_ms, end_ms)}, "tasks_in_log": n}``. A stage shared by
    several jobs is charged to the first job that lists it.
    """
    stage_job: dict[int, int] = {}
    jobs: dict[int, list] = {}
    tasks_in_log = 0
    per_stage: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[jid] = [group, ev.get("Submission Time"), None]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            tasks_in_log += 1
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            s = per_stage[ev["Stage ID"]]
            s["tasks"] += 1
            s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            s["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            s["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            s["result_bytes"] += m.get("Result Size", 0)

    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for jid, (group, _, _) in jobs.items():
        groups[group or ""]["jobs"] += 1
    for sid, s in per_stage.items():
        jid = stage_job.get(sid)
        g = groups[(jobs[jid][0] or "") if jid is not None else ""]
        g["stages"] += 1
        for k, v in s.items():
            g[k] += v
    return {"groups": dict(groups),
            "jobs": {j: tuple(v) for j, v in jobs.items()},
            "tasks_in_log": tasks_in_log}


def _covered_ms(intervals: list[tuple[float, float]], lo: float,
                hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def per_op(parsed: dict, spans: list[tuple[str, str, float, float]]
           ) -> dict[str, dict]:
    """Sum group totals by operation kind and add ``driver_s``: each
    call's wall time minus the time any of its jobs was running.
    ``spans`` are ``(op, group, start_s, end_s)`` in epoch seconds, one per
    timed part; one group is one call."""
    by_group_jobs: dict[str, list] = defaultdict(list)
    for group, submit, end in parsed["jobs"].values():
        if group and submit is not None and end is not None:
            by_group_jobs[group].append((submit, end))
    out: dict[str, dict] = {}

    def acc_of(op: str) -> dict:
        return out.setdefault(op, dict.fromkeys(FIELDS, 0)
                              | {"driver_s": 0.0, "calls": 0})

    for group, tot in parsed["groups"].items():
        acc = acc_of(_op_of(group) or "unattributed")
        for k in FIELDS:
            acc[k] += tot[k]
    for group in {g for _, g, _, _ in spans}:
        acc_of(_op_of(group))["calls"] += 1
    for op, group, t0, t1 in spans:
        acc = acc_of(op)
        lo, hi = t0 * 1e3, t1 * 1e3
        acc["driver_s"] += (hi - lo - _covered_ms(by_group_jobs[group],
                                                  lo, hi)) / 1e3
    return out
