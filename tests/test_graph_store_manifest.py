"""Versioned-manifest commit protocol for GraphStore.

Immutable commit directories plus one exclusively created manifest
version per commit (the Iceberg metadata-pointer pattern). These tests
pin the contract:

* data-file immutability (an upsert never rewrites or renames a
  referenced file — only a new manifest version appears);
* crash safety (an orphan commit dir without a manifest version is
  invisible to readers and reclaimed by vacuum);
* concurrent writers (two commits racing for one version: one wins, the
  other raises and lands on retry, no batch is lost);
* clear_session and unseen-bucket upserts under the same protocol.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_builder_spark.sources.fsio import PosixFileIO
from knowledge_graph_builder_spark.sources.graph_store import GraphStore


def _nodes_df(spark, rows):
    return spark.createDataFrame(rows, "name string, type string, session_id string")


def _state(store):
    return {
        (r["name"], r["type"]): r["session_id"]
        for r in store.nodes().select("name", "type", "session_id").collect()
    }


def test_manifest_upsert_never_touches_referenced_files(spark, tmp_path):
    """Immutability: files referenced by the pre-upsert manifest are
    byte-identical afterwards; the commit only swaps the pointer."""
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=8)
    store.upsert_nodes(
        _nodes_df(spark, [(f"n{i}", "ORG", "s1") for i in range(64)])
    )

    def file_state():
        out = {}
        for f in glob.glob(f"{root}/nodes._commits/**/*", recursive=True):
            if os.path.isfile(f):
                with open(f, "rb") as fh:
                    out[f] = fh.read()
        return out

    before = file_state()
    store.upsert_nodes(_nodes_df(spark, [("n3", "ORG", "s2")]))
    after = file_state()
    # every pre-existing file is still there, byte-identical
    for path, content in before.items():
        assert after[path] == content
    # and the store still MERGEs correctly
    assert store.nodes().count() == 64
    assert _state(store)[("n3", "ORG")] == "s2"


def test_manifest_crash_orphan_is_invisible_and_vacuumable(spark, tmp_path):
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=4)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))
    good = _state(store)

    # simulate a crash AFTER the data write but BEFORE the manifest swap:
    # an orphan commit directory appears, the manifest is unchanged
    orphan = os.path.join(root, "nodes._commits", "commit-99-deadbeef")
    os.makedirs(os.path.join(orphan, "_bucket=0"))
    with open(os.path.join(orphan, "_bucket=0", "junk.parquet"), "wb") as fh:
        fh.write(b"not even parquet")

    assert _state(store) == good  # readers resolve via the manifest only
    removed = store.vacuum("nodes")
    assert removed == ["commit-99-deadbeef"]
    assert not os.path.exists(orphan)
    # referenced commits survive vacuum
    assert _state(store) == good


def test_manifest_vacuum_reclaims_superseded_commits(spark, tmp_path):
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=2)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))
    # same key again: its bucket's pointer moves to the new commit, fully
    # superseding the first commit directory
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s2")]))
    croot = os.path.join(root, "nodes._commits")
    assert len(os.listdir(croot)) == 2
    removed = store.vacuum("nodes")
    assert len(removed) == 1
    assert _state(store) == {("Apple", "ORG"): "s2"}


def test_manifest_clear_session(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1"), ("MSFT", "ORG", "s2")]))
    store.clear_session("s1")
    assert _state(store) == {("MSFT", "ORG"): "s2"}
    # clearing everything leaves a readable empty table (schema kept in
    # the manifest), not a missing one
    store.clear_session("s2")
    assert store.nodes().count() == 0


def test_manifest_upsert_into_unseen_bucket(spark, tmp_path):
    """Regression (round-4 advice): an upsert whose batch touches ONLY
    buckets the manifest has never seen used to crash — the empty-leaf
    read path returned a frame without _bucket and the unionByName with
    the new batch failed with NUM_COLUMNS_MISMATCH."""
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=64)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))
    manifest = json.load(open(f"{root}/nodes._manifests/v0.json"))
    seen = set(manifest["buckets"])
    # find a key whose bucket is NOT in the manifest yet (64 buckets, one
    # occupied -> trivially findable)
    fresh = None
    for i in range(1000):
        name = f"cand{i}"
        b = (
            spark.createDataFrame([(name, "ORG")], "name string, type string")
            .select(F.pmod(F.xxhash64("name", "type"), F.lit(64)).cast("int").alias("b"))
            .collect()[0]["b"]
        )
        if str(b) not in seen:
            fresh = name
            break
    assert fresh is not None
    store.upsert_nodes(_nodes_df(spark, [(fresh, "ORG", "s2")]))
    state = _state(store)
    assert state[("Apple", "ORG")] == "s1"
    assert state[(fresh, "ORG")] == "s2"


class _IntrudingIO(PosixFileIO):
    """Runs ``intrude`` once, right before this handle's next exclusive
    create: the window in which a concurrent writer commits the version
    this handle is about to claim."""

    intrude = None

    def write_text_exclusive(self, path, text):
        intrude, self.intrude = self.intrude, None
        if intrude is not None:
            intrude()
        super().write_text_exclusive(path, text)


@pytest.mark.parametrize(
    "intruder, expected",
    [
        ("upsert", {("Apple", "ORG"): "s0", ("Jobs", "PERSON"): "s1", ("MSFT", "ORG"): "s2"}),
        ("clear_session", {("Jobs", "PERSON"): "s1"}),
    ],
    ids=["upsert", "clear_session"],
)
def test_concurrent_writers_one_winner_per_version(spark, tmp_path, intruder, expected):
    """Handles A and B on one root both read v0; B commits v1 while A is
    merging. A's claim of v1 must fail loudly instead of replacing B's
    commit, and A's retry must land on top of B's as v2."""
    root = str(tmp_path / "g")
    a_io = _IntrudingIO()
    a = GraphStore(spark, root, n_buckets=4, io=a_io)
    b = GraphStore(spark, root, n_buckets=4)
    a.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s0"), ("Jobs", "PERSON", "s1")]))

    if intruder == "upsert":
        a_io.intrude = lambda: b.upsert_nodes(_nodes_df(spark, [("MSFT", "ORG", "s2")]))
    else:
        a_io.intrude = lambda: b.clear_session("s0")
    batch_a = _nodes_df(spark, [("Apple", "ORG", "s3")])
    with pytest.raises(FileExistsError, match="'nodes'.*v1"):
        a.upsert_nodes(batch_a)
    assert _state(a) == _state(b) == expected  # B's commit survived

    a.upsert_nodes(batch_a)  # retry re-merges against v1
    assert _state(b) == {**expected, ("Apple", "ORG"): "s3"}
    assert sorted(os.listdir(os.path.join(root, "nodes._manifests"))) == [
        "v0.json",
        "v1.json",
        "v2.json",
    ]
    # vacuum drops the superseded versions; the state is unchanged
    a.vacuum("nodes")
    assert os.listdir(os.path.join(root, "nodes._manifests")) == ["v2.json"]
    assert _state(b) == {**expected, ("Apple", "ORG"): "s3"}
