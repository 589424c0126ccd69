"""Generator: determinism under a seed and the properties each workload
relies on."""

import hashlib
import os
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

import gen


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(d)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _rows(d: str) -> list[dict]:
    return pq.read_table(os.path.join(d, "transcripts")).to_pylist()


@pytest.mark.parametrize(
    "kind,kwargs",
    [
        ("vocab", {}),
        ("stream", {"n_files": 6, "convs_per_file": 3}),
    ],
)
def test_same_seed_same_bytes(tmp_path, kind, kwargs):
    a = gen.generate(kind, str(tmp_path / "a"), 5, **kwargs)
    b = gen.generate(kind, str(tmp_path / "b"), 5, **kwargs)
    c = gen.generate(kind, str(tmp_path / "c"), 6, **kwargs)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_vocab_properties(tmp_path):
    props = gen.generate("vocab", str(tmp_path), 3)
    names = gen.vocabulary()
    assert props["distinct_names"] == len(set(names)) >= 100_000
    assert props["alias_names"] > 0
    assert props["expected_nodes"] >= props["distinct_names"]
    assert props["expected_components"] == props["expected_nodes"] - props["alias_names"]
    assert props["hot_share"] == pytest.approx(0.10, abs=1e-3)
    rows = _rows(str(tmp_path))
    hot = sum(1 for r in rows if r["conv_id"] == "conv-hot")
    assert hot == props["hot_turns"]
    assert hot / len(rows) == pytest.approx(0.10, abs=1e-3)
    # every alias is its base name plus one token
    base = set(names[: gen.VOCAB_BASE])
    for alias in names[gen.VOCAB_BASE :]:
        assert alias.rsplit(" ", 1)[0] in base
    # every vocabulary name is placed in the corpus
    text = " ".join(r["text"] for r in rows)
    assert all(n in text for n in names[:: len(names) // 500])


def test_small_vocabulary_is_a_prefix():
    full, small = gen.vocabulary(), gen.vocabulary(100)
    assert small[:100] == full[:100]
    assert small[100:] == full[gen.VOCAB_BASE :][:20]


def test_vocab_is_seed_independent(tmp_path):
    """The seed moves names between slots, never the name set."""
    a = {r["text"] for r in _rows_of(tmp_path / "a", 1)}
    b = {r["text"] for r in _rows_of(tmp_path / "b", 2)}
    assert a != b
    assert gen.vocabulary() == gen.vocabulary()


def _rows_of(d, seed):
    gen.generate("vocab", str(d), seed)
    return _rows(str(d))


def test_stream_files_hold_complete_conversations(tmp_path):
    props = gen.generate("stream", str(tmp_path), 9, n_files=5, convs_per_file=4)
    d = os.path.join(str(tmp_path), "transcripts")
    files = sorted(os.listdir(d))
    assert len(files) == props["files"] == 5
    seen: dict[str, str] = {}
    for f in files:
        rows = pq.read_table(os.path.join(d, f)).to_pylist()
        assert len(rows) == props["turns_per_file"] == 4 * gen.TURNS_PER_CONV
        turns = defaultdict(list)
        for r in rows:
            assert seen.setdefault(r["conv_id"], f) == f  # never split across files
            turns[r["conv_id"]].append(r["turn_idx"])
        assert all(sorted(v) == list(range(gen.TURNS_PER_CONV)) for v in turns.values())
        assert {r["text"] for r in rows} <= set(gen.sentence_pool())
    assert props["hot_turns"] == 0
