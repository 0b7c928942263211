import json
import os

from perfbench.eventlog import parse_events, read_event_dir, window_totals


def _job(jid, t_ms, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms, "Stage IDs": stages}


def _task(stage, gc_ms=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {"JVM GC Time": gc_ms, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, 1_000, [0, 1]),
    _task(0, gc_ms=5, shuffle=1_000_000),
    _task(1, gc_ms=7),
    _job(1, 2_500, [2]),
    _task(2, shuffle=500_000),
    _task(2),
    _task(9),  # a stage of no known job is ignored
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2},  # a task without metrics
]


def test_parse_events_attributes_tasks_to_jobs():
    jobs = parse_events(json.dumps(e) for e in EVENTS)
    assert [(j.job_id, j.tasks, j.gc_ms, j.shuffle_write_bytes) for j in jobs] == [
        (0, 2, 12, 1_000_000),
        (1, 3, 0, 500_000),
    ]


def test_window_totals_use_submission_time():
    jobs = parse_events(json.dumps(e) for e in EVENTS)
    assert window_totals(jobs, 0.0, 2.0) == {"jobs": 1, "tasks": 2, "shuffle_mb": 1.0, "gc_s": 0.012}
    assert window_totals(jobs, 1.0, 3.0)["jobs"] == 2
    assert window_totals(jobs, 2.5, 3.0) == {"jobs": 1, "tasks": 3, "shuffle_mb": 0.5, "gc_s": 0.0}
    assert window_totals(jobs, 3.0, 4.0)["jobs"] == 0


def test_read_event_dir_follows_rolling_file_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    os.makedirs(d)
    lines = [json.dumps(e) for e in EVENTS]
    # the job start sits in file 2, its tasks in file 10: numeric order matters
    (d / "events_2_local-1").write_text("\n".join(lines[:4]) + "\n")
    (d / "events_10_local-1").write_text("\n".join(lines[4:]) + "\n")
    (d / "appstatus_local-1").write_text("")
    jobs = read_event_dir(str(tmp_path))
    assert [j.tasks for j in jobs] == [2, 3]
