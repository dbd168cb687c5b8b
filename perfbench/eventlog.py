"""Fold a Spark event log into per-(pass, query) counters.

The benchmark labels every job it starts with
``setJobGroup("<workload>/<query>/<build|collect>", "pass=<n>")``. Spark
copies both into the ``Properties`` of each job and stage event, so every
task can be charged to the pass and query that caused it. The log must be
written uncompressed (``spark.eventLog.compress=false``) so that plain
``json`` can read it, one event per line.
"""

from __future__ import annotations

import json
from collections import defaultdict

# counter -> unit
COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "stages_1task_shuffle": "count",
}

_MB = 1024.0 * 1024.0
# Only these events carry what the fold needs; the SQL plan events are most of
# the log's bytes, so lines are filtered by prefix before they are parsed.
_WANTED = tuple(
    f'{{"Event":"SparkListener{name}"'
    for name in ("JobStart", "StageSubmitted", "TaskEnd", "StageCompleted")
)


def _label(props: dict | None) -> tuple[int, str] | None:
    """(pass, query) from a job's properties, or None for unlabelled jobs."""
    props = props or {}
    group = props.get("spark.jobGroup.id") or ""
    desc = props.get("spark.job.description") or ""
    parts = group.split("/")
    if len(parts) != 3 or not desc.startswith("pass="):
        return None
    return int(desc[len("pass="):]), parts[1]


def fold(lines) -> dict[tuple[int, str], dict[str, float]]:
    """Sum the counters of every labelled job, stage and task by (pass, query).

    ``stages_1task_shuffle`` counts completed stages that ran on a single task
    and read shuffle data: the shape of an exchange that adaptive execution
    coalesced to one partition in front of expensive work."""
    out: dict[tuple[int, str], dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0.0)
    )
    stage_label: dict[tuple[int, int], tuple[int, str]] = {}
    stage_read: dict[tuple[int, int], float] = defaultdict(float)
    for line in lines:
        if not line.startswith(_WANTED):
            continue
        event = json.loads(line)
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            label = _label(event.get("Properties"))
            if label is not None:
                out[label]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            label = _label(event.get("Properties"))
            info = event["Stage Info"]
            if label is not None:
                stage_label[(info["Stage ID"], info["Stage Attempt ID"])] = label
        elif kind == "SparkListenerTaskEnd":
            stage = (event["Stage ID"], event["Stage Attempt ID"])
            label = stage_label.get(stage)
            metrics = event.get("Task Metrics")
            if label is None or not metrics:
                continue
            c = out[label]
            read = metrics["Shuffle Read Metrics"]
            read_bytes = read["Remote Bytes Read"] + read["Local Bytes Read"]
            c["tasks"] += 1
            c["executor_run_s"] += metrics["Executor Run Time"] / 1e3
            c["executor_cpu_s"] += metrics["Executor CPU Time"] / 1e9
            c["gc_s"] += metrics["JVM GC Time"] / 1e3
            c["shuffle_write_mb"] += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
            c["shuffle_read_mb"] += read_bytes / _MB
            c["spill_mb"] += metrics["Disk Bytes Spilled"] / _MB
            stage_read[stage] += read_bytes + read["Total Records Read"]
        else:  # SparkListenerStageCompleted
            info = event["Stage Info"]
            stage = (info["Stage ID"], info["Stage Attempt ID"])
            label = stage_label.get(stage)
            if label is None:
                continue
            out[label]["stages"] += 1
            if info["Number of Tasks"] == 1 and stage_read[stage] > 0:
                out[label]["stages_1task_shuffle"] += 1
    return dict(out)


def fold_file(path: str) -> dict[tuple[int, str], dict[str, float]]:
    with open(path, encoding="utf-8") as fh:
        return fold(fh)
