"""Spark event-log reader for the traced run.

The traced session writes an uncompressed event log
(``spark.eventLog.compress=false``), so each ``eventlog_v2_*/events_*`` file
is plain JSON lines. Task metrics are attributed to the job that submitted
their stage, and jobs to a group by their description: ``kg-stage:<name>``
(set by ``plans/pipeline.py`` around every stage) gives ``<name>``; any other
job (input schema read, file listings, the final count) goes to ``OTHER``,
which the benchmark books as ``plans.pipeline`` overhead. Jobs are assigned
to a build by their submission time falling inside the build's window.
"""

from __future__ import annotations

import json
import os
import re

OTHER = "_other"
STAGE_PREFIX = "kg-stage:"
FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "input_records")
_MB = 1e6


def event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``, in write
    order (rolling logs are numbered ``events_<n>_<app>``)."""
    out = []
    for app in sorted(os.listdir(log_dir)):
        d = os.path.join(log_dir, app)
        if os.path.isdir(d):
            names = [n for n in os.listdir(d) if n.startswith("events_")]
            names.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
            out += [os.path.join(d, n) for n in names]
        elif not app.startswith("."):
            out.append(d)
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def group_of(description: str | None) -> str:
    if description and description.startswith(STAGE_PREFIX):
        return description[len(STAGE_PREFIX):]
    return OTHER


def aggregate(events, windows: dict[str, tuple[float, float]]) -> dict[str, dict[str, dict]]:
    """``{window: {group: {field: value}}}`` over the jobs submitted inside
    each ``(start_s, end_s)`` window (epoch seconds). Fields are ``FIELDS``:
    counts of jobs and successful tasks, summed executor run, CPU and GC
    seconds, shuffle bytes written and disk bytes spilled (in MB), and input
    records read."""
    job_of_stage: dict[int, tuple[str, str]] = {}
    out: dict[str, dict[str, dict]] = {w: {} for w in windows}

    def slot(window: str, group: str) -> dict:
        return out[window].setdefault(group, {f: 0 for f in FIELDS})

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            window = next((w for w, (a, b) in windows.items() if a <= t <= b), None)
            if window is None:
                continue
            group = group_of(ev.get("Properties", {}).get("spark.job.description"))
            slot(window, group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                job_of_stage.setdefault(sid, (window, group))
        elif kind == "SparkListenerTaskEnd":
            owner = job_of_stage.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if owner is None or not m or ev.get("Task End Reason", {}).get("Reason") != "Success":
                continue
            s = slot(*owner)
            s["tasks"] += 1
            s["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            s["shuffle_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
            s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            s["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
    return out
