"""Structured Streaming front-ends for the KG pipeline.

The reference processes one HTTP request per document (SURVEY.md §3.1) —
a natural micro-batch. Two streaming translations:

* ``stream_kg_foreachbatch`` — each micro-batch is a set of COMPLETE
  conversations (the request-per-document analog). The fused batch
  pipeline runs inside ``foreachBatch`` and appends to the graph tables;
  exactly-once bookkeeping comes from the sink's idempotent overwrite of
  per-batch output paths + the streaming checkpoint.

* ``stream_kg_stateful`` — turns arrive INCOMPLETE and out of order
  across micro-batches. Conversations assemble in keyed state
  (``applyInPandasWithState`` over conv_id); a conversation is parsed and
  its graph rows emitted when it goes quiet for ``quiet_ms`` (processing-
  time timeout). This is the custom stateful operator path for true
  10^12-turn streams: state per in-flight conversation only, output is
  the same KERNEL_ROWS frame the batch pipeline uses.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.assembly import TURN_SEPARATOR
from ..operators.extraction import EMIT_GRAPH, _rows_for_document, _KERNEL_COLS
from ..rules import MAX_TEXT_LENGTH
from ..plans.pipeline import run_pipeline
from ..schema import KERNEL_ROWS, TRANSCRIPTS


def read_transcript_stream(spark: SparkSession, input_path: str, max_files: int = 16) -> DataFrame:
    """File-source transcript stream with the declared schema."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_path)
    )


def stream_kg_foreachbatch(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Micro-batch = complete conversations. Returns the started query."""
    stream = read_transcript_stream(spark, input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # persist holds the kernel output: three table writes otherwise
        # re-run the extraction (the dominant cost) once each
        res = run_pipeline(spark, batch_df, persist=True)
        try:
            # per-batch subdirectories make retries idempotent (overwrite
            # of the same batch id rewrites, never duplicates)
            res.triples.write.mode("overwrite").parquet(f"{output_dir}/triples/batch={batch_id}")
            res.entities.write.mode("overwrite").parquet(f"{output_dir}/entities/batch={batch_id}")
            res.events.write.mode("overwrite").parquet(f"{output_dir}/events/batch={batch_id}")
        finally:
            res.kernel_rows.unpersist()

    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_kg_to_store(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_dir: str,
    session_id: str = "stream",
    available_now: bool = True,
):
    """Micro-batches MERGE into the durable GraphStore (Neo4j-MERGE
    semantics) with exactly-once OBSERVABLE state: foreachBatch delivers a
    stable batch_id; an applied-batch ledger (marked after both upserts)
    skips cleanly-retried batches, and a crash between upsert and mark
    re-merges the same content, which the keyed last-writer dedup makes
    value-idempotent. Streaming analog of the reference's per-request
    save_graph_data transaction (graph_db.py:49-72). Returns the query."""
    from ..sources.graph_store import BatchLedger, GraphStore

    import hashlib

    stream = read_transcript_stream(spark, input_path)
    store = GraphStore(spark, store_root)
    # ledger namespaced per checkpoint lineage: batch ids restart at 0 in
    # a NEW checkpoint, and skipping "batch 0" from a different stream
    # because an old stream applied its own batch 0 would lose data
    lineage = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    # no stale-partials reset here: the GraphStore MERGE is cumulative
    # across lineages BY DESIGN (a new stream continues the same graph);
    # the ledger only guards batch-id replay within one lineage
    ledger = BatchLedger(f"{store_root}/_applied_batches/{lineage}", io=store.io)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.applied(batch_id):
            return
        res = run_pipeline(spark, batch_df, session_id=session_id, persist=True)
        try:
            store.upsert_nodes(res.nodes)
            store.upsert_edges(res.edges)
        finally:
            res.kernel_rows.unpersist()
        ledger.mark(batch_id)

    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Stateful conversation assembly
# ---------------------------------------------------------------------------

# state: accumulated (turn_idx, text) pairs for one in-flight conversation
_STATE_SCHEMA = "turn_idxs array<int>, texts array<string>"


def _assemble_and_extract(conv_id: str, turn_idxs: list[int], texts: list[str]) -> pd.DataFrame:
    ordered = sorted(zip(turn_idxs, texts))
    # slice the RAW joined text exactly like assemble_conversations /
    # the fused kernel, so streamed output is byte-identical to batch
    # for over-cap conversations
    doc = TURN_SEPARATOR.join(t or "" for _, t in ordered)[:MAX_TEXT_LENGTH]
    return pd.DataFrame(list(_rows_for_document(conv_id, doc, EMIT_GRAPH)), columns=_KERNEL_COLS)


def make_stateful_update(quiet_ms: int):
    """Build the update function with the configured quiet period."""

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            turn_idxs, texts = state.get
            state.remove()
            yield _assemble_and_extract(conv_id, list(turn_idxs), list(texts))
            return
        pairs: list[tuple[int, str]] = []
        if state.exists:
            old = state.get
            pairs = list(zip(old[0], old[1]))
        # state-size cap: the kernel discards everything past
        # MAX_TEXT_LENGTH anyway, so a hot conversation must not grow
        # keyed state (and state-store I/O) without bound. The cap keeps
        # the LOWEST-turn_idx turns (sorted, ties by text — the same order
        # batch assembly sorts by), retaining exactly the prefix the batch
        # slice reads, so streamed output stays byte-identical to batch
        # even when a low-idx turn arrives AFTER the cap was first hit.
        grew = False
        for pdf in pdfs:
            for i, t in zip(pdf["turn_idx"], pdf["text"]):
                pairs.append((int(i), "" if t is None else str(t)))
                grew = True
        if grew:
            pairs.sort()
            kept_idx: list[int] = []
            kept_txt: list[str] = []
            held = 0
            for i, t in pairs:
                if held > MAX_TEXT_LENGTH:
                    break  # the turn CROSSING the cap is kept (partial slice)
                kept_idx.append(i)
                kept_txt.append(t)
                held += len(t) + 1
            state.update((kept_idx, kept_txt))
        state.setTimeoutDuration(quiet_ms)
        yield pd.DataFrame(columns=_KERNEL_COLS)

    return update


def stream_kg_stateful(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    quiet_ms: int = 2000,
    max_files: int = 1,
):
    """Turns may arrive split/out-of-order across micro-batches; keyed
    state assembles each conversation and emits its graph rows once no new
    turns arrive for ``quiet_ms``. Returns the started query."""
    stream = read_transcript_stream(spark, input_path, max_files=max_files).select(
        "conv_id", "turn_idx", "text"
    )
    out = stream.groupBy("conv_id").applyInPandasWithState(
        make_stateful_update(quiet_ms),
        outputStructType=KERNEL_ROWS,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", f"{output_dir}/kernel_rows")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="1 second")
        .start()
    )
