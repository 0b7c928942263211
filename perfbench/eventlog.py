"""Spark event-log parsing: jobs, tasks, shuffle bytes and GC time per window.

Jobs are attributed to a window by their submission time, not by job group:
``SnapshotStore.commit`` writes on pool threads, which do not inherit the
caller's job group. A job's tasks, shuffle writes and GC time follow the job.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    stage_ids: tuple[int, ...]
    tasks: int = 0
    shuffle_write_bytes: int = 0
    gc_ms: int = 0


def parse_events(lines) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"], tuple(ev.get("Stage IDs", ())))
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            job.tasks += 1
            m = ev.get("Task Metrics") or {}
            job.gc_ms += int(m.get("JVM GC Time", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _log_files(path: str) -> list[str]:
    """Event-log files under ``path`` in write order. A rolling log is a
    directory of ``events_<n>_<app>`` files plus an ``appstatus`` marker."""
    def order(f: str):
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return (os.path.dirname(f), int(m.group(1)) if m else 0, f)

    files = [
        os.path.join(d, f)
        for d, _dirs, names in os.walk(path)
        for f in names
        if not f.startswith(("appstatus", "."))
    ]
    return sorted(files, key=order)


def read_event_dir(path: str) -> list[Job]:
    """Jobs of the single application whose event log is under ``path``."""
    def lines():
        for f in _log_files(path):
            with open(f) as fh:
                yield from fh

    return parse_events(lines())


def window_totals(jobs: list[Job], start_s: float, end_s: float) -> dict:
    """Totals over jobs submitted in [start_s, end_s) (epoch seconds)."""
    sel = [j for j in jobs if start_s * 1000 <= j.submitted_ms < end_s * 1000]
    return {
        "jobs": len(sel),
        "tasks": sum(j.tasks for j in sel),
        "shuffle_mb": sum(j.shuffle_write_bytes for j in sel) / 1e6,
        "gc_s": sum(j.gc_ms for j in sel) / 1000.0,
    }
