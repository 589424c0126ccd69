"""Structured Streaming front-ends: the foreachBatch micro-batch pipeline
must produce the same triples as the batch pipeline on the same turns, and
the stateful assembler must produce correct documents even when one
conversation's turns are split across micro-batches (files)."""

from __future__ import annotations

import time

from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.sources.synth import golden_transcripts
from knowledge_graph_builder_spark.streaming.incremental import (
    stream_kg_foreachbatch,
    stream_kg_stateful,
)


def test_foreachbatch_matches_batch(spark, tmp_path):
    tr = golden_transcripts(spark)
    inp = str(tmp_path / "in")
    tr.repartition(2).write.parquet(inp)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(120)

    streamed = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/triples/batch=*")
        .select("document_id", "source", "type", "target")
        .collect()
    }
    batch = {
        tuple(r)
        for r in run_pipeline(spark, tr).triples.select("document_id", "source", "type", "target").collect()
    }
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_TRIPLES

    assert streamed == batch and len(batch) == len(GOLDEN_EXPECTED_TRIPLES)


def test_stateful_assembly_across_batches(spark, tmp_path):
    # split g2's turns across two files written BEFORE the stream starts;
    # maxFilesPerTrigger=1 forces them into separate micro-batches, so
    # only keyed state can reunite the conversation.
    tr = golden_transcripts(spark, shuffled=False).filter("conv_id = 'g2'").collect()
    assert len(tr) >= 2
    inp = str(tmp_path / "sin")
    spark.createDataFrame(tr[: len(tr) // 2], schema=golden_transcripts(spark).schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(tr[len(tr) // 2 :], schema=golden_transcripts(spark).schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    q = stream_kg_stateful(spark, inp, out, ckpt, quiet_ms=1500)
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            time.sleep(3)
            try:
                rows = (
                    spark.read.schema(
                        __import__("knowledge_graph_builder_spark.schema", fromlist=["KERNEL_ROWS"]).KERNEL_ROWS
                    )
                    .parquet(f"{out}/kernel_rows")
                    .filter("kind = 'triple'")
                    .collect()
                )
            except Exception:
                rows = []
            if rows:
                break
    finally:
        q.stop()

    got = {(r.text, r.label, r.obj) for r in rows}
    expected = {
        ("Steve Jobs", "FOUNDED", "Apple"),
        ("Apple", "RELEASED", "iPhone"),
        ("Tim Cook", "CEO_OF", "Apple"),
        ("Microsoft", "COMPETES_WITH", "Apple"),
    }
    assert got == expected, got


def test_stream_to_store_merge_and_restart(spark, tmp_path):
    """Streaming MERGE into the durable GraphStore: node/edge tables carry
    Neo4j-MERGE semantics after the stream, and re-running the stream over
    the same input with a FRESH checkpoint (new lineage => own ledger =>
    batches re-merged) leaves the store unchanged — the keyed last-writer
    merge is value-idempotent."""
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.streaming.incremental import stream_kg_to_store

    inp = str(tmp_path / "in")
    golden_transcripts(spark).repartition(3).write.parquet(inp)
    store_root = str(tmp_path / "store")

    q = stream_kg_to_store(spark, inp, store_root, str(tmp_path / "ck1"))
    q.awaitTermination(180)
    store = GraphStore(spark, store_root)
    nodes1 = {(r.name, r.type) for r in store.nodes().collect()}
    edges1 = {(r.src, r.type, r.dst) for r in store.edges().collect()}
    assert ("Apple", "ORG") in nodes1 and len(edges1) > 0
    # MERGE key uniqueness
    assert len(nodes1) == store.nodes().count()
    assert len(edges1) == store.edges().count()

    # restart with a fresh checkpoint: every batch re-delivered with the
    # same content; keyed last-writer merge must leave the store identical
    q2 = stream_kg_to_store(spark, inp, store_root, str(tmp_path / "ck2"))
    q2.awaitTermination(180)
    nodes2 = {(r.name, r.type) for r in store.nodes().collect()}
    edges2 = {(r.src, r.type, r.dst) for r in store.edges().collect()}
    assert nodes2 == nodes1 and edges2 == edges1
    assert store.nodes().count() == len(nodes1)
