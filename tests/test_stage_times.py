"""Event-log reader (scripts/stage_times.py) and the per-stage task
report bench.py --imagescale builds from it."""
from __future__ import annotations

import json

import bench
from scripts.stage_times import read_stages


def _stage_events(sid, name, ntask, sub, comp, run_ms):
    info = {"Stage ID": sid, "Stage Name": f"{name} at x.py:1",
            "Number of Tasks": ntask, "Submission Time": sub}
    done = dict(info, **{"Completion Time": comp})
    tasks = [{"Event": "SparkListenerTaskEnd", "Stage ID": sid,
              "Task Metrics": {"Executor Run Time": run_ms,
                               "JVM GC Time": 1}}
             for _ in range(ntask)]
    return ([{"Event": "SparkListenerStageSubmitted", "Stage Info": info}]
            + tasks
            + [{"Event": "SparkListenerStageCompleted",
                "Stage Info": done}])


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events)
                    + "not json\n")


def test_read_stages_rolling_parts_in_numeric_order(tmp_path):
    """A rolling event-log dir: every part is read (events_10 after
    events_2), torn lines are skipped, and stages come back in
    submission order with their task metrics summed."""
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "appstatus_app").write_text("")
    _write(d / "events_1_app", [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 100}]
        + _stage_events(0, "scan", 4, 1_000, 1_500, 10))
    _write(d / "events_2_app", _stage_events(1, "collect", 1, 2_000,
                                             5_000, 7))
    _write(d / "events_10_app",
           _stage_events(2, "write", 2, 6_000, 6_100, 3)
           + [{"Event": "SparkListenerApplicationEnd",
               "Timestamp": 7_000}])
    stages, start, end = read_stages(str(tmp_path))
    assert (start, end) == (100, 7_000)
    assert [(s["sid"], s["name"], s["ntask"], s["ndone"], s["run_ms"])
            for s in stages] == [(0, "scan", 4, 4, 40),
                                 (1, "collect", 1, 1, 7),
                                 (2, "write", 2, 2, 6)]


def test_stage_task_report_table(tmp_path):
    """bench.py's stage report: slow (> 2 s) single-task stages by
    name, and one table row per stage with its task count and wall."""
    log = tmp_path / "app-1"
    _write(log, _stage_events(0, "scan", 4, 1_000, 10_000, 10)
           + _stage_events(1, "collect", 1, 10_000, 13_000, 7)
           + _stage_events(2, "first", 1, 14_000, 14_500, 3))
    stages, single, table = bench.stage_task_report(str(tmp_path))
    assert len(stages) == 3
    assert single == ["collect"]
    assert table.splitlines() == [
        "| stage | tasks | wall ms | name |", "|---|---|---|---|",
        "| 0 | 4 | 9000 | scan |", "| 1 | 1 | 3000 | collect |",
        "| 2 | 1 | 500 | first |"]
