"""Readers for the two run-time reports Spark already writes.

* ``read_event_log`` parses a local (uncompressed) Spark event log into
  per-stage records: executor run time, wall time, shuffle bytes, spill
  and per-task run times, tagged with the job group that was active when
  the stage's job started.
* ``stream_batches`` turns ``StreamingQuery.recentProgress`` into
  per-micro-batch durations.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    group: str | None = None
    submitted_ms: int = 0
    completed_ms: int = 0
    task_run_ms: list[int] = field(default_factory=list)
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.completed_ms - self.submitted_ms) / 1000.0

    @property
    def run_s(self) -> float:
        """Summed executor run time of the stage's tasks."""
        return sum(self.task_run_ms) / 1000.0

    @property
    def task_skew(self) -> float:
        """Max over median task run time (1.0 for an even stage)."""
        if not self.task_run_ms:
            return 1.0
        med = statistics.median(self.task_run_ms)
        return max(self.task_run_ms) / med if med > 0 else 1.0


def parse_events(lines) -> dict[tuple[int, int], Stage]:
    """Event-log JSON lines -> {(stage id, attempt): Stage}."""
    stages: dict[tuple[int, int], Stage] = {}
    stage_group: dict[int, str | None] = {}

    def stage(info: dict) -> Stage:
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        if key not in stages:
            stages[key] = Stage(key[0], key[1], info.get("Stage Name", ""))
        return stages[key]

    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # torn last line of a log still being written
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            s = stage(ev["Stage Info"])
            s.submitted_ms = ev["Stage Info"].get("Submission Time") or s.submitted_ms
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            s = stage(info)
            s.submitted_ms = info.get("Submission Time") or s.submitted_ms
            s.completed_ms = info.get("Completion Time") or s.completed_ms
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            s = stages.setdefault(
                (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                Stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0), ""),
            )
            s.task_run_ms.append(int(m.get("Executor Run Time", 0)))
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            s.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
    for (sid, _), s in stages.items():
        s.group = stage_group.get(sid)
    return stages


def read_event_log(path: str) -> list[Stage]:
    """Stages of a single-file event log, in stage order."""
    with open(path, encoding="utf-8") as fh:
        stages = parse_events(fh)
    return sorted(stages.values(), key=lambda s: (s.stage_id, s.attempt))


def extraction_stages(stages: list[Stage], group: str) -> tuple[list[Stage], Stage | None]:
    """Split the stages of one job group into the conv_id exchange (map
    side: writes shuffle, reads none) and the kernel stage (reads the
    exchange; the one with the most executor time)."""
    mine = [s for s in stages if s.group == group and s.task_run_ms]
    exchange = [s for s in mine if s.shuffle_write_bytes > 0 and s.shuffle_read_bytes == 0]
    readers = [s for s in mine if s.shuffle_read_bytes > 0]
    kernel = max(readers, key=lambda s: s.run_s) if readers else None
    return exchange, kernel


def _progress_dict(p) -> dict:
    if isinstance(p, dict):
        return p
    raw = getattr(p, "json", None)
    if raw is not None:
        return json.loads(raw() if callable(raw) else raw)
    return json.loads(str(p))


def stream_batches(progress) -> list[dict]:
    """Micro-batches that had input: batch id, rows, triggerExecution and
    addBatch seconds."""
    out = []
    for p in progress:
        d = _progress_dict(p)
        if int(d.get("numInputRows", 0)) <= 0:
            continue
        dur = d.get("durationMs") or {}
        out.append(
            {
                "batch_id": int(d.get("batchId", -1)),
                "rows": int(d["numInputRows"]),
                "trigger_s": int(dur.get("triggerExecution", 0)) / 1000.0,
                "addbatch_s": int(dur.get("addBatch", 0)) / 1000.0,
            }
        )
    return out
