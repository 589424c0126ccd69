"""The metric names and units the benchmark prints are the ones
BENCHMARK.json declares, for both kinds of run."""

import json
import os

import pytest

import run

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _declared(section):
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_command_and_workloads_match_the_runner():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("kind", ["batch", "stream"])
def test_end_to_end_names(kind):
    record = {"setup": {"start_s": 6.0, "warmup_s": 15.0}, "peak_rss_mb": 2500.0, "corpus": {"turns": 1000}}
    reps = [{"ok": True, "wall_s": 9.5, "batches": [{"trigger_s": 5.0, "addbatch_s": 4.5}]}]
    got = run.end_to_end_metrics(kind, record, reps)
    assert {k: m["unit"] for k, m in got.items()} == _declared("end_to_end")
    assert all(m["value"] > 0 for m in got.values())


@pytest.mark.parametrize("kind", ["batch", "stream"])
def test_per_layer_names(tmp_path, kind):
    (tmp_path / "events").mkdir()
    record = {
        "seed": 1,
        "corpus": {"turns": 2},
        "setup": {"start_s": 6.0, "warmup_s": 15.0},
        "host": {"busy_cores": 0.1, "calib_s": 0.1, "steal_cores": 0.0},
    }
    traced = {"ok": True, "wall_s": 10.0, "spans": [("extraction", "extraction#1", 4.0)]}
    if kind == "stream":
        traced["batches"] = [{"trigger_s": 5.0, "addbatch_s": 4.5}]
    docs = ["Apple acquired Beats for $3 billion in 2014. Tim Cook is the CEO of Apple."]
    record["textkit"] = run.textkit_profile(docs) | {"turns": 2}
    got = run.per_layer_metrics(record, [{"ok": True, "wall_s": 9.0}, traced], str(tmp_path))
    assert {k: m["unit"] for k, m in got.items()} == _declared("per_layer")
    assert got["trace.unattributed_s"]["value"] == pytest.approx(
        6.0 - (0.5 if kind == "stream" else 0.0)
    )
    assert got["textkit.triples"]["value"] >= 1
