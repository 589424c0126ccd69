"""Event-log and streaming-progress readers on small fixtures."""

import json

import pytest

import eventlog


def _task(stage, run_ms, read=0, write=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Input Metrics": {"Bytes Read": 10},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": spill // 2,
        },
    }


def _stage(event, sid, submitted, completed=None):
    info = {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": f"s{sid}", "Submission Time": submitted}
    if completed is not None:
        info["Completion Time"] = completed
    return {"Event": event, "Stage Info": info}


FIXTURE = [
    {"Event": "SparkLogVersion", "Spark Version": "4.1.0"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
     "Properties": {"spark.jobGroup.id": "transcripts.scan#1"}},
    _stage("SparkListenerStageSubmitted", 0, 1000),
    _task(0, 50),
    _stage("SparkListenerStageCompleted", 0, 1000, 1100),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2, 3],
     "Properties": {"spark.jobGroup.id": "extraction#1"}},
    _stage("SparkListenerStageSubmitted", 1, 2000),
    _task(1, 100, write=400),
    _task(1, 120, write=600),
    _stage("SparkListenerStageCompleted", 1, 2000, 2250),
    _stage("SparkListenerStageSubmitted", 2, 2300),
    _task(2, 1000, read=500, write=8, spill=64),
    _task(2, 1000, read=500, write=8),
    _task(2, 3000, read=0, write=8),
    _stage("SparkListenerStageCompleted", 2, 2300, 5400),
    _task(3, 5, read=24),
    _stage("SparkListenerStageCompleted", 3, 5400, 5420),
]


def _lines():
    return [json.dumps(e) + "\n" for e in FIXTURE] + ['{"Event": "SparkListenerTaskEnd", "Stage']


def test_parse_stages_and_groups():
    stages = eventlog.parse_events(_lines())  # the torn last line is skipped
    assert set(stages) == {(0, 0), (1, 0), (2, 0), (3, 0)}
    s1, s2 = stages[(1, 0)], stages[(2, 0)]
    assert s1.group == "extraction#1" and stages[(0, 0)].group == "transcripts.scan#1"
    assert s1.shuffle_write_bytes == 1000 and s1.shuffle_read_bytes == 0
    assert s1.wall_s == pytest.approx(0.25)
    assert s2.run_s == pytest.approx(5.0)
    assert s2.spill_bytes == 96
    assert s2.task_skew == pytest.approx(3.0)


def test_extraction_stages_split():
    stages = sorted(eventlog.parse_events(_lines()).values(), key=lambda s: s.stage_id)
    exchange, kernel = eventlog.extraction_stages(stages, "extraction#1")
    assert [s.stage_id for s in exchange] == [1]
    assert kernel.stage_id == 2  # the shuffle reader with the most executor time
    assert eventlog.extraction_stages(stages, "nope") == ([], None)


def test_read_event_log_file(tmp_path):
    log = tmp_path / "local-1"
    log.write_text("".join(_lines()))
    stages = eventlog.read_event_log(str(log))
    assert [s.stage_id for s in stages] == [0, 1, 2, 3]
    assert stages[2].group == "extraction#1"


def test_stream_batches_keeps_batches_with_input():
    progress = [
        {"batchId": 0, "numInputRows": 512, "durationMs": {"triggerExecution": 5200, "addBatch": 4900}},
        {"batchId": 1, "numInputRows": 0, "durationMs": {"triggerExecution": 30}},
        {"batchId": 1, "numInputRows": 480, "durationMs": {"triggerExecution": 4100, "addBatch": 3800}},
    ]

    class Obj:  # the object form recentProgress returns
        def __init__(self, d):
            self.json = json.dumps(d)

    for form in (progress, [Obj(p) for p in progress]):
        out = eventlog.stream_batches(form)
        assert [b["batch_id"] for b in out] == [0, 1]
        assert out[0]["trigger_s"] == pytest.approx(5.2)
        assert out[1]["addbatch_s"] == pytest.approx(3.8)
