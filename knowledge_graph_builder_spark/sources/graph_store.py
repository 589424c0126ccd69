"""Durable graph store: the Neo4j-MERGE replacement (S4-S8, D3/D4).

Parquet-backed implementation with Iceberg-shaped semantics:

* ``upsert_nodes`` / ``upsert_edges`` — MERGE by key, last writer wins
  (reference graph_db.py:81-88 SET semantics), implemented as
  union + row_number window over a monotonically increasing batch_seq.
* ``clear_session`` — ``DETACH DELETE`` equivalent (graph_db.py:147-151):
  predicate rewrite of both tables.

Scale design — the tables are HASH-BUCKETED on the merge key
(``bucket=K`` partition directories, xxhash64(key) % n_buckets):

* an upsert reads and rewrites ONLY the buckets its batch touches, so
  upsert cost scales with BATCH size, not STORE size (the prior
  whole-table rewrite was O(store) per micro-batch — a 100 TB killer);
* the batch sequence is an O(1) counter file, not a max() scan;
* writes stay staged: merged buckets land in a staging dir, then each
  touched bucket directory is atomically renamed into place. A crash
  mid-swap leaves some buckets new and some old — the retry re-merges
  the same batch content, and the keyed last-writer dedup makes that
  VALUE-idempotent (same convergence argument the streaming BatchLedger
  documents for a crash between upsert and mark).

Two commit protocols, selected by ``commit_mode``:

* ``rename`` (default) — the bucket-directory swap above. Atomic on
  POSIX filesystems and HDFS, NOT on S3-style object stores (no atomic
  directory rename) — use ``manifest`` mode there.
* ``manifest`` — the Iceberg-metadata-pointer pattern, safe on object
  stores: every commit writes its merged buckets to an IMMUTABLE,
  uniquely-named commit directory (data files are never renamed or
  overwritten), then atomically swaps ONE small manifest file mapping
  bucket -> commit directory. The only atomicity primitive required is
  single-file replace (``fsio`` routes it to os.replace locally and
  FileContext.rename(OVERWRITE) on Hadoop filesystems — atomic on HDFS;
  a true object-store deployment should hold the pointer in a
  conditional-PUT catalog, exactly what an Iceberg catalog provides —
  see fsio.py's atomicity notes).
  A crash before the manifest swap leaves an orphan commit directory
  and a fully consistent old manifest; retries re-merge the same batch
  (value-idempotent as above) and ``vacuum()`` reclaims orphans.
  Readers prune at the FILE level: only the bucket directories named in
  the manifest are ever listed, so upsert reads stay O(batch).

With an Iceberg catalog the same frames go through ``MERGE INTO`` and
``DELETE FROM`` and both protocols disappear; the key/dedup logic is
identical, which is why it lives here and not in the sink (SCALE.md
keeps the design note for that path).
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import urlparse

from .fsio import io_for

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


class GraphStore:
    """``keep_history=False`` (default) stores last-writer rows only —
    upserts dedup at write time. ``keep_history=True`` retains every
    written version (Iceberg-snapshot-flavored): writes append versions,
    current-state reads dedup with the keyed last-writer window, and
    ``nodes_as_of(seq)`` / ``edges_as_of(seq)`` reconstruct the exact
    MERGE state after batch ``seq`` — point-in-time reads for audits and
    incremental debugging (the reference only keeps created_at/updated_at
    audit columns, graph_db.py:82-83; this generalizes them). The
    tradeoff is explicit: history mode defers the dedup window from one
    write to every read, and the store grows with versions until
    ``clear_session`` (a physical rewrite) compacts it."""

    _KEY_COLS = {"nodes": ["name", "type"], "edges": ["src", "type", "dst"]}

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 64,
        keep_history: bool = False,
        commit_mode: str = "rename",
        io=None,
    ):
        if commit_mode not in ("rename", "manifest"):
            raise ValueError(f"unknown commit_mode {commit_mode!r}")
        scheme = urlparse(root).scheme
        if commit_mode == "rename" and scheme not in ("", "file", "hdfs", "viewfs"):
            # rename-mode correctness rests on atomic directory rename,
            # which object stores (s3a, gs, ...) emulate as copy+delete —
            # a crash mid bucket-swap leaves a torn mix of old and new
            # bucket dirs that no reader can detect. The fsio shim makes
            # the calls RUN there; it cannot make them atomic.
            raise ValueError(
                f"commit_mode='rename' requires atomic directory rename, which "
                f"scheme {scheme!r} does not provide; use commit_mode='manifest' "
                "(single-pointer commits, object-store safe)"
            )
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.keep_history = keep_history
        self.commit_mode = commit_mode
        # all metadata I/O (manifests, counters, bucket-dir swaps) goes
        # through the fsio shim so the store runs wherever the DATA lives
        # (hdfs://, s3a://, ...), not only on the driver's local disk
        self.io = io if io is not None else io_for(root, spark)
        self.io.makedirs(root)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _bucket_col(self, key_cols: list[str]):
        return F.pmod(F.xxhash64(*key_cols), F.lit(self.n_buckets)).cast("int")

    # -- manifest-pointer commit protocol ---------------------------------

    def _manifest_path(self, table: str) -> str:
        return self._path(table) + ".manifest.json"

    def _commits_root(self, table: str) -> str:
        # outside the legacy table directory so partition discovery on a
        # legacy read can never pick up commit data mid-migration
        return self._path(table) + "._commits"

    def _load_manifest(self, table: str) -> dict | None:
        p = self._manifest_path(table)
        if not self.io.exists(p):
            return None
        return json.loads(self.io.read_text(p))

    def _store_manifest(self, table: str, manifest: dict) -> None:
        """The ONE atomic step of a manifest commit: single-file replace
        (object-store equivalent: conditional PUT of the pointer)."""
        self.io.write_text_atomic(
            self._manifest_path(table), json.dumps(manifest, sort_keys=True)
        )

    def _write_commit(self, df: DataFrame, table: str, seq: int) -> tuple[str, list[int]]:
        """Write one immutable commit directory partitioned by _bucket;
        returns (commit dir name, buckets present)."""
        name = f"commit-{seq}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._commits_root(table), name)
        df.write.mode("error").partitionBy("_bucket").parquet(path)
        present = sorted(
            int(e.split("=", 1)[1]) for e in self.io.listdir(path) if e.startswith("_bucket=")
        )
        return name, present

    def _manifest_read(self, table: str, manifest: dict, buckets: list[int] | None = None) -> DataFrame:
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
        key_cols = self._KEY_COLS.get(table)
        if key_cols and all(c in df.columns for c in key_cols):
            df = df.withColumn("_bucket", self._bucket_col(key_cols))
        return df

    def _manifest_full_commit(self, df: DataFrame, table: str, seq: int) -> None:
        """Full-table rewrite under the manifest protocol (first write,
        migration, clear_session): one commit dir, fresh manifest."""
        cdir, present = self._write_commit(df, table, seq)
        self._store_manifest(
            table,
            {
                "seq": seq,
                "schema": df.drop("_bucket").schema.json(),
                "buckets": {str(b): cdir for b in present},
            },
        )

    def vacuum(self, table: str) -> list[str]:
        """Remove commit directories no longer referenced by the current
        manifest (crash orphans and fully superseded commits). On an
        object store run this with a grace period so in-flight readers of
        a just-replaced manifest finish; locally it is immediate. Returns
        the removed directory names."""
        manifest = self._load_manifest(table)
        croot = self._commits_root(table)
        if manifest is None or not self.io.isdir(croot):
            return []
        live = set(manifest["buckets"].values())
        removed = []
        for entry in self.io.listdir(croot):
            if entry not in live:
                self.io.rmtree(os.path.join(croot, entry))
                removed.append(entry)
        return removed

    def _read(self, table: str) -> DataFrame | None:
        manifest = self._load_manifest(table)
        if manifest is not None:
            return self._manifest_read(table, manifest)
        p = self._path(table)
        if self.io.exists(os.path.join(p, "_SUCCESS")):
            return self.spark.read.parquet(p)
        return None

    def _swap_in(self, df: DataFrame, table: str, partition_by: str | None = None) -> None:
        """Stage-then-swap of the WHOLE table (first write / full rewrites
        like clear_session): never leaves the table half-written."""
        final = self._path(table)
        staging = f"{final}._staging-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(staging)
        old = f"{final}._old-{uuid.uuid4().hex[:8]}"
        if self.io.exists(final):
            self.io.rename(final, old)
        self.io.rename(staging, final)
        if self.io.exists(old):
            self.io.rmtree(old)

    def _is_bucketed(self, table: str) -> bool:
        p = self._path(table)
        return self.io.exists(p) and any(
            e.startswith("_bucket=") for e in self.io.listdir(p)
        )

    def _table_mode(self, table: str) -> str:
        """Effective commit protocol for one table. A table that already
        has a manifest stays in manifest mode regardless of how this store
        object was constructed: rename-mode writes never update the
        manifest, and reads resolve through it, so honoring commit_mode
        ='rename' on a manifest-layout table would silently lose every
        subsequent write behind the stale pointer."""
        if self._load_manifest(table) is not None:
            return "manifest"
        return self.commit_mode

    def _upsert(self, new: DataFrame, table: str, key_cols: list[str]) -> None:
        seq = self._next_seq(table)
        new = new.withColumn("_batch_seq", F.lit(seq))
        new = new.withColumn("_bucket", self._bucket_col(key_cols))

        # history mode appends versions verbatim; last-writer resolution
        # happens at read time instead of write time
        dedup = (lambda df: df) if self.keep_history else (lambda df: self._dedup(df, key_cols))

        if self._table_mode(table) == "manifest":
            manifest = self._load_manifest(table)
            if manifest is None:
                # first write, or one-time migration of a rename/legacy
                # layout: full merge into one commit + fresh manifest
                existing = self._read(table)
                if existing is not None:
                    if "_bucket" not in existing.columns:
                        existing = existing.withColumn("_bucket", self._bucket_col(key_cols))
                    merged = dedup(existing.unionByName(new))
                else:
                    merged = dedup(new)
                self._manifest_full_commit(merged, table, seq)
                return
            touched = sorted(
                r["_bucket"] for r in new.select("_bucket").distinct().collect()
            )
            # file-level pruning: only the touched buckets' directories are
            # listed — the untouched store is never even enumerated
            old_touched = self._manifest_read(table, manifest, buckets=touched)
            merged = dedup(old_touched.unionByName(new))
            cdir, present = self._write_commit(merged, table, seq)
            buckets = dict(manifest["buckets"])
            for b in present:
                buckets[str(b)] = cdir
            # data is durable and immutable; this single replace IS the commit
            self._store_manifest(
                table, {"seq": seq, "schema": manifest["schema"], "buckets": buckets}
            )
            return

        existing = self._read(table)

        if existing is not None and not self._is_bucketed(table):
            # one-time migration of a legacy (unbucketed) table: full merge
            # + full bucketed rewrite, after which upserts are incremental
            if "_bucket" not in existing.columns:
                existing = existing.withColumn("_bucket", self._bucket_col(key_cols))
            merged = dedup(existing.unionByName(new))
            self._swap_in(merged, table, partition_by="_bucket")
            return

        if existing is None:
            # within-batch duplicate keys still need the keyed dedup
            self._swap_in(dedup(new), table, partition_by="_bucket")
            return

        # incremental path: touch only the buckets present in this batch.
        # The touched-bucket list is at most n_buckets rows — a driver-side
        # collect of a bounded aggregate, never of data.
        touched = sorted(
            r["_bucket"] for r in new.select("_bucket").distinct().collect()
        )
        # partition pruning: the filter on the partition column means only
        # the touched bucket directories are ever read
        old_touched = existing.filter(F.col("_bucket").isin(touched))
        merged = dedup(old_touched.unionByName(new))

        final = self._path(table)
        staging = f"{final}._staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
        for b in touched:
            src = os.path.join(staging, f"_bucket={b}")
            dst = os.path.join(final, f"_bucket={b}")
            if not self.io.exists(src):
                continue  # defensive: a bucket emptied by dedup can't occur on upsert
            old = f"{dst}._old-{uuid.uuid4().hex[:8]}"
            if self.io.exists(dst):
                self.io.rename(dst, old)
            self.io.rename(src, dst)
            if self.io.exists(old):
                self.io.rmtree(old)
        self.io.rmtree(staging)

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

    def _next_seq(self, table: str) -> int:
        """O(1) monotone batch sequence from a counter file (write-then-
        rename). The sequence is CLAIMED before the data write, so a crash
        mid-upsert skips a number instead of reusing one."""
        path = self._path(table) + ".seq"
        seq = 0
        if self.io.exists(path):
            seq = int(self.io.read_text(path).strip() or 0) + 1
        else:
            # legacy stores carried the sequence in the data; resume past it
            existing = self._read(table)
            if existing is not None and "_batch_seq" in existing.columns:
                row = existing.agg(F.max("_batch_seq").alias("m")).collect()[0]
                seq = int(row["m"] or 0) + 1
        self.io.write_text_atomic(path, str(seq))
        return seq

    # -- public API ------------------------------------------------------

    def upsert_nodes(self, nodes: DataFrame) -> None:
        """MERGE on (name, type) — graph_db.py:74-88."""
        self._upsert(nodes, "nodes", ["name", "type"])

    def upsert_edges(self, edges: DataFrame) -> None:
        """MERGE on (src, type, dst) — graph_db.py:121-145."""
        self._upsert(edges, "edges", ["src", "type", "dst"])

    def _current(self, table: str, key_cols: list[str], as_of_seq: int | None = None) -> DataFrame | None:
        df = self._read(table)
        if df is None:
            return None
        if as_of_seq is not None:
            if not self.keep_history:
                raise ValueError("time travel requires keep_history=True")
            df = df.filter(F.col("_batch_seq") <= as_of_seq)
        if self.keep_history:
            df = self._dedup(df, key_cols)
        return df.drop("_batch_seq", "_bucket")

    def nodes(self) -> DataFrame:
        return self._current("nodes", ["name", "type"])

    def edges(self) -> DataFrame:
        return self._current("edges", ["src", "type", "dst"])

    def nodes_as_of(self, seq: int) -> DataFrame:
        """Point-in-time MERGE state of the node table after batch ``seq``
        (keep_history mode only)."""
        return self._current("nodes", ["name", "type"], as_of_seq=seq)

    def edges_as_of(self, seq: int) -> DataFrame:
        return self._current("edges", ["src", "type", "dst"], as_of_seq=seq)

    def current_seq(self, table: str) -> int:
        """Last claimed batch sequence (-1 for an empty store)."""
        path = self._path(table) + ".seq"
        if not self.io.exists(path):
            return -1
        return int(self.io.read_text(path).strip() or 0)

    def clear_session(self, session_id: str) -> None:
        """S8 — delete every node/edge of one session (graph_db.py:147-151).
        A session can live in every bucket, so this is a full filtered
        rewrite by construction (Iceberg: DELETE FROM ... WHERE)."""
        for table in ("nodes", "edges"):
            df = self._read(table)
            if df is not None:
                # null-preserving predicate: a plain != would evaluate to
                # NULL for rows with no session_id and silently delete them
                keep = F.col("session_id").isNull() | (F.col("session_id") != session_id)
                if self._table_mode(table) == "manifest":
                    kept = df.filter(keep)
                    if "_bucket" not in kept.columns:
                        kept = kept.withColumn(
                            "_bucket", self._bucket_col(self._KEY_COLS[table])
                        )
                    self._manifest_full_commit(kept, table, self._next_seq(table))
                else:
                    part = "_bucket" if "_bucket" in df.columns else None
                    self._swap_in(df.filter(keep), table, partition_by=part)


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
