"""Stream-parse an uncompressed Spark event log into per-job-group figures.

Spark 4.1 writes a rolling log: a directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>`` parts, one JSON event per line. Only job starts (for
the job group and submission time) and task ends (for the task metrics and
the SQL-metric accumulables) are decoded; every other line is skipped
unparsed, which keeps multi-megabyte logs cheap.
"""

from __future__ import annotations

import json
import os
import re

PYTHON_RUN_METRIC = "time to run Python workers"

_JOB_START = '"Event":"SparkListenerJobStart"'
_TASK_END = '"Event":"SparkListenerTaskEnd"'
_FIELDS = ("shuffle_bytes", "spill_bytes", "python_ms")


def _event_files(path: str) -> list[str]:
    """Every event-log part under ``path``, in write order."""
    found = []
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            m = re.match(r"events_(\d+)_", f)
            found.append((root, int(m.group(1)) if m else 0, f))
    return [os.path.join(r, f) for r, _, f in sorted(found)]


def parse_lines(lines) -> dict:
    """Fold event-log lines into ``{"jobs": {id: {...}}, "stages": {id: {...}}}``.

    A job records its group (``spark.jobGroup.id``), submission time in ms
    and stage ids; a stage sums its tasks' shuffle bytes written, bytes
    spilled to disk and Python-worker run time."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        head = line[:64].replace(" ", "")
        if _JOB_START in head:
            e = json.loads(line)
            jobs[e["Job ID"]] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit_ms": e.get("Submission Time", 0),
                "stages": e.get("Stage IDs", []),
            }
        elif _TASK_END in head:
            e = json.loads(line)
            tm = e.get("Task Metrics") or {}
            s = stages.setdefault(e["Stage ID"], {k: 0 for k in _FIELDS})
            s["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    s["python_ms"] += int(acc.get("Update") or 0)
    return {"jobs": jobs, "stages": stages}


def parse_dir(path: str) -> dict:
    """Parse every event-log part under ``path``."""

    def lines():
        for f in _event_files(path):
            with open(f, encoding="utf-8") as fh:
                yield from fh

    return parse_lines(lines())


def by_group(trace: dict, from_ms: int = 0, to_ms: int | None = None) -> dict[str, dict]:
    """Per job group: the job count plus the stage sums, over jobs
    submitted in ``[from_ms, to_ms)``. ``python_s`` is in seconds."""
    out: dict[str, dict] = {}
    stage_owner: dict[int, int] = {}
    for jid in sorted(trace["jobs"]):
        for sid in trace["jobs"][jid]["stages"]:
            stage_owner.setdefault(sid, jid)
    for jid, job in trace["jobs"].items():
        if job["submit_ms"] < from_ms or (to_ms is not None and job["submit_ms"] >= to_ms):
            continue
        g = out.setdefault(job["group"] or "", {"jobs": 0, **{k: 0 for k in _FIELDS}})
        g["jobs"] += 1
        for sid in job["stages"]:
            s = trace["stages"].get(sid)
            # a stage listed by several jobs ran once, under its first job;
            # one that never ran (skipped, reused shuffle) has no tasks
            if s is None or stage_owner[sid] != jid:
                continue
            for k in _FIELDS:
                g[k] += s[k]
    for g in out.values():
        g["python_s"] = g.pop("python_ms") / 1000.0
    return out
