"""Event-log parsing: a small log captured from a local Spark 4 run with
two traced spans (a plain count inside ``extract``, a grouped count with
a shuffle inside the nested ``scoring``) and one job outside any span."""

import json
import os

from spans import parse_event_log

DATA = os.path.join(os.path.dirname(__file__), "eventlog_small.jsonl")


def test_captured_log_charges_jobs_to_their_span():
    with open(DATA) as fh:
        groups = parse_event_log(fh)
    # the job outside every span carries no perfbench group: ignored
    assert set(groups) == {"perfbench/0", "perfbench/1"}
    extract, scoring = groups["perfbench/0"], groups["perfbench/1"]
    # each action ran as two jobs under AQE (a shuffle stage, then the
    # result stage); the parent span is not charged for its child's jobs
    assert (extract.jobs, extract.tasks, extract.shuffle_bytes) == (2, 3, 118)
    assert (scoring.jobs, scoring.tasks, scoring.shuffle_bytes) == (2, 3, 563)
    assert extract.run_ms == [165, 166, 127]
    assert extract.spill_bytes == scoring.spill_bytes == 0


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_stage_attempts_spill_and_foreign_groups():
    grp = {"spark.jobGroup.id": "perfbench/3"}
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Properties": grp}),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Properties": {"spark.jobGroup.id": "other"}}),
        _ev(
            "SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": 5, "Stage Attempt ID": 1}, "Properties": grp},
        ),
        _ev(
            "SparkListenerTaskEnd",
            **{
                "Stage ID": 5,
                "Stage Attempt ID": 1,
                "Task Metrics": {
                    "Executor Run Time": 40,
                    "Disk Bytes Spilled": 1000,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                },
            },
        ),
        _ev(
            "SparkListenerTaskEnd",
            **{"Stage ID": 5, "Stage Attempt ID": 1, "Task Metrics": {"Executor Run Time": 10}},
        ),
        # a task of an attempt never submitted under a traced group
        _ev(
            "SparkListenerTaskEnd",
            **{"Stage ID": 5, "Stage Attempt ID": 0, "Task Metrics": {"Executor Run Time": 99}},
        ),
        "",
    ]
    (only,) = parse_event_log(lines).values()
    assert (only.jobs, only.tasks, only.shuffle_bytes, only.spill_bytes) == (1, 2, 7, 1000)
    assert only.task_skew == 40 / 25
