"""Durable graph store: the Neo4j-MERGE replacement (S4-S8, D3/D4).

Parquet-backed implementation with Iceberg-shaped semantics:

* ``upsert_nodes`` / ``upsert_edges`` — MERGE by key, last writer wins
  (reference graph_db.py:81-88 SET semantics), implemented as
  union + row_number window over a monotonically increasing batch_seq.
* ``clear_session`` — ``DETACH DELETE`` equivalent (graph_db.py:147-151):
  predicate rewrite of both tables.

The tables are HASH-BUCKETED on the merge key (xxhash64(key) %
n_buckets), so an upsert reads and rewrites ONLY the buckets its batch
touches: upsert cost scales with BATCH size, not STORE size.

Commit protocol (the Iceberg metadata-pointer pattern), per table:

* ``{table}._commits/commit-{seq}-{uuid}/_bucket=K/`` — immutable data.
  Every commit writes its merged buckets to a fresh, uniquely named
  commit directory; data files are never renamed or overwritten.
* ``{table}._manifests/v{N}.json`` — version ``N`` maps each bucket to
  the commit directory holding it. The latest version is the highest
  ``N`` listed. An upsert reads ``vN``, merges, and commits by
  EXCLUSIVELY creating ``v{N+1}`` (``fsio.write_text_exclusive``); the
  batch sequence IS that version. That create is the store's only
  mutable step.

Two writers that read the same ``vN`` race for ``v{N+1}``: exactly one
create succeeds, the other raises ``FileExistsError`` and nothing is
lost. Its commit directory is an invisible orphan, and a retry re-merges
against the new latest version (the streaming ledger already turns such
a failure into a batch replay). A crash before the create leaves the
same orphan and a fully consistent store. ``vacuum()`` reclaims orphans,
superseded commit directories and superseded manifest versions.

Readers prune at the FILE level: only the bucket directories named in
the manifest are ever listed, so upsert reads stay O(batch).

With an Iceberg catalog the same frames go through ``MERGE INTO`` and
``DELETE FROM``; the key/dedup logic is identical, which is why it lives
here and not in the sink (SCALE.md keeps the design note for that path).
"""

from __future__ import annotations

import json
import os
import re
import uuid

from .fsio import io_for

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

# manifest version names; anything else in the manifest dir (Hadoop .crc
# siblings, staged temp files) is ignored
_VERSION = re.compile(r"v(\d+)\.json")


class GraphStore:
    """Keyed last-writer MERGE store over versioned manifests (see the
    module docstring for the layout and the commit protocol). Every
    metadata operation goes through ``io`` (default: the ``fsio`` backend
    for ``root``), so the store runs wherever the data lives."""

    _KEY_COLS = {"nodes": ["name", "type"], "edges": ["src", "type", "dst"]}

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 64, io=None):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.io = io if io is not None else io_for(root, spark)
        self.io.makedirs(root)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _bucket_col(self, key_cols: list[str]):
        return F.pmod(F.xxhash64(*key_cols), F.lit(self.n_buckets)).cast("int")

    def _commits_root(self, table: str) -> str:
        return self._path(table) + "._commits"

    def _manifests_root(self, table: str) -> str:
        return self._path(table) + "._manifests"

    def _versions(self, table: str) -> list[int]:
        mroot = self._manifests_root(table)
        if not self.io.isdir(mroot):
            return []
        return sorted(
            int(m.group(1)) for e in self.io.listdir(mroot) if (m := _VERSION.fullmatch(e))
        )

    def _latest(self, table: str) -> tuple[int, dict | None]:
        """(latest version, its manifest); (-1, None) for a new table."""
        versions = self._versions(table)
        if not versions:
            return -1, None
        path = os.path.join(self._manifests_root(table), f"v{versions[-1]}.json")
        return versions[-1], json.loads(self.io.read_text(path))

    def _commit(self, df: DataFrame, table: str, version: int, manifest: dict | None) -> None:
        """Write ``df``'s buckets to a new commit directory, then claim
        manifest ``v{version}`` pointing the written buckets at it (the
        rest keep ``manifest``'s pointers; ``None`` starts from empty)."""
        cdir = f"commit-{version}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._commits_root(table), cdir)
        df.write.mode("error").partitionBy("_bucket").parquet(path)
        buckets = dict(manifest["buckets"]) if manifest else {}
        for e in self.io.listdir(path):
            if e.startswith("_bucket="):
                buckets[e.split("=", 1)[1]] = cdir
        schema = manifest["schema"] if manifest else df.drop("_bucket").schema.json()
        body = json.dumps({"seq": version, "schema": schema, "buckets": buckets}, sort_keys=True)
        mroot = self._manifests_root(table)
        self.io.makedirs(mroot)
        try:
            self.io.write_text_exclusive(os.path.join(mroot, f"v{version}.json"), body)
        except FileExistsError:
            raise FileExistsError(
                f"GraphStore table {table!r}: manifest v{version} was committed by a "
                "concurrent writer; retry to merge against it"
            ) from None

    def _read(self, table: str, manifest: dict, buckets: list[int] | None = None) -> DataFrame:
        """Read the manifest's current state (optionally restricted to a
        bucket subset — file-level pruning, nothing else is even listed).
        Reconstructs the _bucket column from the key columns (it is a
        derived partition label, not data)."""
        want = {str(b) for b in buckets} if buckets is not None else None
        leafs = [
            os.path.join(self._commits_root(table), cdir, f"_bucket={b}")
            for b, cdir in manifest["buckets"].items()
            if want is None or b in want
        ]
        if not leafs:
            # empty-leaf path (e.g. an upsert touching only buckets the
            # manifest has never seen) must still carry the derived _bucket
            # column, or the caller's unionByName with the new batch fails
            schema = StructType.fromJson(json.loads(manifest["schema"]))
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.parquet(*leafs)
        return df.withColumn("_bucket", self._bucket_col(self._KEY_COLS[table]))

    def vacuum(self, table: str) -> list[str]:
        """Remove commit directories the latest manifest does not reference
        (crash orphans, losing concurrent writers, fully superseded
        commits) and every manifest version below the latest. Not safe
        against in-flight writers or readers of an older version: on a
        shared store run it on a schedule with a grace period. Returns the
        removed commit directory names."""
        version, manifest = self._latest(table)
        if manifest is None:
            return []
        for v in self._versions(table):
            if v < version:
                self.io.rmtree(os.path.join(self._manifests_root(table), f"v{v}.json"))
        croot = self._commits_root(table)
        live = set(manifest["buckets"].values())
        removed = []
        for entry in self.io.listdir(croot):
            if entry not in live:
                self.io.rmtree(os.path.join(croot, entry))
                removed.append(entry)
        return removed

    def _upsert(self, new: DataFrame, table: str, key_cols: list[str]) -> None:
        version, manifest = self._latest(table)
        new = new.withColumn("_batch_seq", F.lit(version + 1))
        new = new.withColumn("_bucket", self._bucket_col(key_cols))
        merged = new
        if manifest is not None:
            # the touched-bucket list is at most n_buckets rows — a driver-
            # side collect of a bounded aggregate, never of data
            touched = sorted(r["_bucket"] for r in new.select("_bucket").distinct().collect())
            # file-level pruning: only the touched buckets' directories are
            # listed — the untouched store is never even enumerated
            merged = self._read(table, manifest, buckets=touched).unionByName(new)
        # within-batch duplicate keys need the keyed dedup on a first write too
        self._commit(self._dedup(merged, key_cols), table, version + 1, manifest)

    def _dedup(self, merged: DataFrame, key_cols: list[str]) -> DataFrame:
        # tiebreak beyond _batch_seq: duplicate keys WITHIN one batch share
        # a seq, and row_number over a tied ordering picks a partition-
        # dependent winner — a deterministic whole-row hash keeps retries
        # and replans byte-identical.
        row_hash = F.xxhash64(*[c for c in merged.columns if c not in ("_batch_seq", "_bucket")])
        w = Window.partitionBy(*key_cols).orderBy(F.col("_batch_seq").desc(), row_hash.desc())
        return (
            merged.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        )

    # -- public API ------------------------------------------------------

    def upsert_nodes(self, nodes: DataFrame) -> None:
        """MERGE on (name, type) — graph_db.py:74-88."""
        self._upsert(nodes, "nodes", self._KEY_COLS["nodes"])

    def upsert_edges(self, edges: DataFrame) -> None:
        """MERGE on (src, type, dst) — graph_db.py:121-145."""
        self._upsert(edges, "edges", self._KEY_COLS["edges"])

    def _current(self, table: str) -> DataFrame | None:
        _, manifest = self._latest(table)
        if manifest is None:
            return None
        return self._read(table, manifest).drop("_batch_seq", "_bucket")

    def nodes(self) -> DataFrame:
        return self._current("nodes")

    def edges(self) -> DataFrame:
        return self._current("edges")

    def clear_session(self, session_id: str) -> None:
        """S8 — delete every node/edge of one session (graph_db.py:147-151).
        A session can live in every bucket, so this is a full filtered
        rewrite by construction (Iceberg: DELETE FROM ... WHERE), committed
        as the next manifest version like any upsert."""
        for table in ("nodes", "edges"):
            version, manifest = self._latest(table)
            if manifest is None:
                continue
            # null-preserving predicate: a plain != would evaluate to NULL
            # for rows with no session_id and silently delete them
            keep = F.col("session_id").isNull() | (F.col("session_id") != session_id)
            # every bucket is rewritten, so no old pointer carries over
            kept = self._read(table, manifest).filter(keep)
            self._commit(kept, table, version + 1, {"schema": manifest["schema"], "buckets": {}})


class BatchLedger:
    """Applied-batch ledger for exactly-once streaming MERGE.

    Structured Streaming guarantees foreachBatch is called with a stable
    batch_id per micro-batch; a retried batch re-arrives with the SAME id.
    Recording applied ids (write-then-rename, like the checkpoint
    manifests) makes store upserts exactly-once: a retry of an applied
    batch is skipped instead of re-merged.
    """

    def __init__(self, root: str, io=None):
        self.root = root
        self.io = io if io is not None else io_for(root)
        self.io.makedirs(root)

    def _path(self, batch_id: int) -> str:
        return os.path.join(self.root, f"batch-{batch_id}.done")

    def applied(self, batch_id: int) -> bool:
        return self.io.exists(self._path(batch_id))

    def mark(self, batch_id: int) -> None:
        self.io.write_text_atomic(self._path(batch_id), "ok")
