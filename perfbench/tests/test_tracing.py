"""Event-log parser and span attribution over a canned log fragment."""

import json

import pytest
from tracing import SPAN_PROPERTY, Attribution, Span, parse_event_log


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, launch, finish, run_ms, records=0, written=0, failed=False):
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2048,
                                     "Total Records Read": records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
            "Output Metrics": {"Bytes Written": 10, "Records Written": written},
        },
    })


# span 1 (t=100..110s) ran job 0 (tagged) and job 1 (untagged, from a
# thread the program started); job 2 ran after every span closed
FRAGMENT = "\n".join([
    _ev(**{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}),
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101_000,
           "Stage IDs": [0], "Properties": {SPAN_PROPERTY: "1"}}),
    _ev(**{"Event": "SparkListenerStageSubmitted", "Properties": {SPAN_PROPERTY: "1"},
           "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Stage Name": "collect at query.py:10",
                          "Number of Tasks": 2, "Submission Time": 101_000}}),
    _task(0, 101_500, 102_000, 400, records=5),
    _task(0, 102_000, 103_000, 900, records=0),
    _ev(**{"Event": "SparkListenerStageCompleted",
           "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Stage Name": "collect at query.py:10",
                          "Number of Tasks": 2, "Submission Time": 101_000, "Completion Time": 103_000}}),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 103_000,
           "Job Result": {"Result": "JobSucceeded"}}),
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 105_000,
           "Stage IDs": [1], "Properties": {}}),
    _ev(**{"Event": "SparkListenerStageSubmitted", "Properties": {},
           "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Stage Name": "parquet at store.py:20",
                          "Number of Tasks": 1, "Submission Time": 105_000}}),
    _task(1, 105_000, 106_000, 1000, written=7, failed=True),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 107_000,
           "Job Result": {"Result": "JobFailed"}}),
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 200_000,
           "Stage IDs": [], "Properties": {}}),
    "",
])


@pytest.fixture
def att():
    log = parse_event_log(FRAGMENT.splitlines())
    spans = [Span(id=1, name="index.query.match", parent=None, request="q0", start=100.0, end=110.0),
             Span(id=2, name="child", parent=1, request="q0", start=104.0, end=108.0)]
    return Attribution(spans, log)


def test_parse_counts(att):
    assert len(att.log.jobs) == 3
    assert len(att.log.stages) == 2
    assert len(att.log.tasks) == 3
    assert att.log.jobs[0]["ok"] and att.log.jobs[1]["ok"] is False


def test_property_and_time_attribution(att):
    # job 0 by its property; job 1 by time, to the innermost open span
    assert att.log.jobs[0]["span"] == 1
    assert att.log.jobs[1]["span"] == 2
    assert att.log.jobs[2]["span"] is None
    assert [j["span"] for j in att.jobs(1)] == [1, 2]


def test_counters(att):
    c = att.counters(1)
    assert c["jobs"] == 2 and c["tasks"] == 3
    assert c["executor_run_s"] == pytest.approx(2.3)
    assert c["executor_cpu_s"] == pytest.approx(1.15)
    # waits: 0.5 + 1.0 (stage 0) + 0.0 (stage 1)
    assert c["task_wait_s"] == pytest.approx(1.5)
    # span 10 s, jobs cover 101-103 and 105-107
    assert c["driver_gap_s"] == pytest.approx(6.0)
    assert c["shuffle_write_mb"] == pytest.approx(3.0)
    assert c["failed_tasks"] == 1
    # stage 0 reads shuffle: one of its two tasks read no rows
    assert (c["shuffle_reading_tasks"], c["empty_reading_tasks"]) == (2, 1)
    assert (c["write_tasks"], c["idle_write_tasks"]) == (1, 0)


def test_stage_rows_carry_call_site(att):
    rows = att.stage_rows()
    assert [r["name"] for r in rows] == ["collect at query.py:10", "parquet at store.py:20"]
    assert [r["span"] for r in rows] == ["index.query.match", "child"]
