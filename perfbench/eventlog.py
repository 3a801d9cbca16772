"""Spark event-log reader: task metrics per job group.

The benchmark tags every Spark job a traced span starts with the job
group ``j<k>:<span>`` (worker.Tracer); this folds the event log's
TaskEnd metrics into one record per group. Only the log's own JSON
events are read, so it works on the plain uncompressed log
session.get_spark writes when SPARK_GRAFT_EVENTLOG is set.
"""

from __future__ import annotations

import json
import os


def empty() -> dict:
    return {"jobs": 0, "stages": set(), "tasks": 0, "run_ms": 0,
            "task_ms": [], "gc_ms": 0, "shuffle_write_b": 0, "spill_b": 0}


def _events(ev_dir: str):
    for name in sorted(os.listdir(ev_dir)):
        path = os.path.join(ev_dir, name)
        paths = ([os.path.join(path, p) for p in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        for p in paths:
            with open(p) as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue


def by_group(ev_dir: str) -> dict[str, dict]:
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for ev in _events(ev_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(grp, empty())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, grp)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sid = ev.get("Stage ID")
            if not tm or sid not in stage_group:
                continue
            g = groups[stage_group[sid]]
            run = tm.get("Executor Run Time", 0)
            g["stages"].add(sid)
            g["tasks"] += 1
            g["run_ms"] += run
            g["task_ms"].append(run)
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}
                                     ).get("Shuffle Bytes Written", 0)
            g["spill_b"] += tm.get("Disk Bytes Spilled", 0)
    return groups


def merge(recs) -> dict:
    out = empty()
    for r in recs:
        out["jobs"] += r["jobs"]
        out["stages"] |= r["stages"]
        for k in ("tasks", "run_ms", "gc_ms", "shuffle_write_b", "spill_b"):
            out[k] += r[k]
        out["task_ms"] += r["task_ms"]
    return out
