"""Transcript source formats (parquet / JSON-lines / CSV) must feed the
pipeline identically, and the streaming foreachBatch checkpoint must make
restarts idempotent (a restart with the same checkpoint reprocesses
nothing; new files process exactly once)."""

from __future__ import annotations

from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.sources.synth import golden_transcripts
from knowledge_graph_builder_spark.sources.transcripts import read_transcripts
from knowledge_graph_builder_spark.streaming.incremental import stream_kg_foreachbatch


def _triple_set(spark, tr):
    return {
        tuple(r)
        for r in run_pipeline(spark, tr, persist=False)
        .triples.select("document_id", "source", "type", "target")
        .collect()
    }


def test_json_and_csv_sources_match_parquet(spark, tmp_path):
    tr = golden_transcripts(spark)
    base = _triple_set(spark, tr)

    pq = str(tmp_path / "t_parquet")
    tr.write.parquet(pq)
    assert _triple_set(spark, read_transcripts(spark, pq)) == base

    js = str(tmp_path / "t.jsonl")
    tr.write.json(js)
    assert _triple_set(spark, read_transcripts(spark, js, fmt="json")) == base

    cs = str(tmp_path / "t.csv")
    tr.write.option("header", "true").csv(cs)
    assert _triple_set(spark, read_transcripts(spark, cs, fmt="csv")) == base


def test_streaming_restart_is_idempotent(spark, tmp_path):
    tr = golden_transcripts(spark)
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    tr.filter("conv_id <= 'g5'").repartition(1).write.mode("append").parquet(inp)

    q1 = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q1.awaitTermination(120)
    first = spark.read.parquet(f"{out}/triples/batch=*").count()
    assert first > 0

    # restart with the SAME checkpoint and no new data: nothing reprocessed
    q2 = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/triples/batch=*").count() == first

    # add the remaining conversations; restart processes exactly the delta
    tr.filter("conv_id > 'g5'").repartition(1).write.mode("append").parquet(inp)
    q3 = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q3.awaitTermination(120)
    streamed = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/triples/batch=*")
        .select("document_id", "source", "type", "target")
        .collect()
    }
    assert streamed == _triple_set(spark, tr)


def test_bucketed_transcripts_run_kernel_shuffle_free(spark, tmp_path):
    """SCALE.md §1 input layout, now executable: transcripts landed via
    write_transcripts_bucketed read back as one-partition-per-bucket with
    conversations co-located, so extract_from_transcripts(
    assume_clustered=True) plans ZERO Exchange operators — the pipeline's
    only wide operation eliminated — while producing the identical triple
    set to the shuffling path."""
    from knowledge_graph_builder_spark.operators.extraction import (
        EMIT_GRAPH,
        extract_from_transcripts,
    )
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts
    from knowledge_graph_builder_spark.sources.transcripts import (
        write_transcripts_bucketed,
    )

    spark.sql(f"CREATE DATABASE IF NOT EXISTS convdb LOCATION '{tmp_path}/wh'")
    try:
        # shuffled input order: co-location must come from the BUCKETED
        # WRITE, not from the synth source happening to be sorted
        src = golden_transcripts(spark, shuffled=True).repartition(7)
        write_transcripts_bucketed(src, "convdb.transcripts", buckets=4)
        bucketed = spark.table("convdb.transcripts")

        fast = extract_from_transcripts(bucketed, emit=EMIT_GRAPH, assume_clustered=True)
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        # no-Exchange alone cannot see a DEMOTED bucketed scan (Spark 4's
        # DisableUnnecessaryBucketedScan re-splits files by size when no
        # operator requires the distribution — at production file sizes
        # that breaks conversation co-location silently). Assert the scan
        # is ACTUALLY bucketed and reads one partition per bucket; the
        # session factory pins autoBucketedScan.enabled=false to make it so.
        fmt = fast._jdf.queryExecution().explainString(
            fast.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Bucketed: true" in fmt, fmt[:1200]
        assert "disabled by query planner" not in fmt, fmt[:1200]
        assert fast.rdd.getNumPartitions() == 4

        def triples(df):
            return {
                (r.conv_id, r.text, r.label, r.reason)
                for r in df.filter(df.kind == "triple").collect()
            }

        slow = extract_from_transcripts(bucketed, emit=EMIT_GRAPH)
        assert triples(fast) == triples(slow)
        assert len(triples(fast)) > 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS convdb CASCADE")
