"""Event-log parsing and wall-time attribution on a synthetic log."""

import json

from spans import Span, attribute, parse_event_log


def _write_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "w/1/algorithms.hits"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 300_000_000,
                          "JVM GC Time": 10,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 1 << 20},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 << 20},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 3, "Submission Time": 1_200, "Completion Time": 1_700}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_800},
    ]
    log = path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))


def test_attribution_splits_wall_time(tmp_path):
    _write_log(tmp_path)
    groups = parse_event_log(str(tmp_path))
    span = Span("algorithms", "hits", "w/1/algorithms.hits", start=0.5, end=2.5)
    a = attribute(span, groups[span.group])
    assert a["wall_s"] == 2.0
    assert abs(a["stage_busy_s"] - 0.5) < 1e-9  # stage ran 1.2 s .. 1.7 s
    assert abs(a["driver_gap_s"] - 1.5) < 1e-9
    assert abs(a["unattributed_s"] - 1.2) < 1e-9  # outside the 1.0 s .. 1.8 s job
    assert a["executor_run_s"] == 0.4 and abs(a["executor_cpu_s"] - 0.3) < 1e-9
    assert a["shuffle_read_mb"] == 1.0 and a["shuffle_write_mb"] == 2.0


def test_span_without_jobs_is_all_unattributed():
    a = attribute(Span("sources", "read", "none", start=0.0, end=1.0), None)
    assert a["unattributed_s"] == 1.0 and a["attributed_frac"] == 0.0
