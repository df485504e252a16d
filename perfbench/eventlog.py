"""Spark event-log collector: per-job-group totals.

Reads the uncompressed JSON-lines event log that Spark writes with
``spark.eventLog.enabled=true`` and buckets every job, stage and task by
the ``spark.jobGroup.id`` property its job or stage was submitted with.
Stages are attributed through ``SparkListenerStageSubmitted.Properties``
(a stage reused from an earlier job is skipped, so it never completes
twice); tasks through their stage.
"""

from __future__ import annotations

import json

MB = 1024.0 * 1024.0
GROUP_KEY = "spark.jobGroup.id"
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "cpu_s": "s", "gc_s": "s",
         "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB"}
FIELDS = tuple(UNITS)


def empty() -> dict:
    return {f: 0 if UNITS[f] == "count" else 0.0 for f in FIELDS}


def parse_events(lines) -> dict[str, dict]:
    """Return ``{group_id: {jobs, stages, tasks, cpu_s, gc_s,
    shuffle_read_mb, shuffle_write_mb, spill_mb}}`` from event-log lines.

    Jobs and stages without a group are bucketed under ``""``.
    """
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def bucket(group: str) -> dict:
        return groups.setdefault(group, empty())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            bucket(group)["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            stage_group[info["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            bucket(stage_group.get(info["Stage ID"], ""))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_group.get(ev["Stage ID"], ""))
            b["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / MB
            wr = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
            b["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    return groups


def parse_file(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as fh:
        return parse_events(fh)
