"""Query contract of the KG engine (PySpark).

``entry(spark)`` runs the flagship KG-construction pipeline; ``queries()``
exposes one callable per KG surface: extraction, events, the P/R metric,
insights, bucketed input, incremental maintenance, canonicalization,
entity linking, PDF ingest, the visualization projections, the health
probe and the snapshot diff that drives incremental updates.
``oracle_sql()`` gives the DuckDB equivalent of every query — most are
hand-derived literal pins over the golden corpus.

Column names are aligned between Spark and SQL on both sides; doubles are
rounded on both sides so cross-engine float noise cannot flip the
value-hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden transcripts + the sf documents table (each document becomes a
    single-turn conversation) -> full KG pipeline -> triples."""
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    transcripts = golden_transcripts(spark).unionByName(docs)
    return run_pipeline(spark, transcripts).triples  # flagship keeps persist: triples is a filter of the held kernel frame


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries — the KG pipeline's public surfaces on the golden corpus and sf data
# ---------------------------------------------------------------------------


def _q_kg_triples(spark, sf_dir):
    # flagship extraction on the golden corpus, projected to the P/R key.
    # Its oracle is the hand-derived GOLDEN_EXPECTED_TRIPLES literal (the
    # reference semantics' complete output over these texts), so the
    # value-hash match IS the P/R=1.0 evidence.
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    return run_pipeline(spark, golden_transcripts(spark), persist=False).triples.select(
        F.col("document_id"), F.col("source"), F.col("type"), F.col("target")
    )


def _q_kg_events(spark, sf_dir):
    # golden-pinned like kg_triples: the oracle is the hand-derived
    # EV1-EV6 event set, so the value-hash match records exact agreement
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    return res.events.select(
        "document_id",
        "event_type",
        "name",
        F.array_join("participants", "|").alias("participants"),
        "date",
        "amount",
        "location",
        F.round("confidence", 2).alias("confidence"),
    )


def _q_kg_precision_recall(spark, sf_dir):
    # the north-rule headline metric (triple P/R >= 0.95 vs the reference
    # semantics) as an explicit recorded number, not just a
    # set-hash: pipeline triples full-outer-joined against the
    # hand-derived GOLDEN_EXPECTED_TRIPLES literal (broadcast — it is
    # tiny), one aggregate. The oracle pins tp=n_emitted=n_expected=28,
    # precision=recall=1.0; any extraction drift shows up here as a
    # number below 1.0 AND as a hash mismatch.
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import (
        GOLDEN_EXPECTED_TRIPLES,
        golden_transcripts,
    )

    key = ["document_id", "source", "type", "target"]
    got = (
        run_pipeline(spark, golden_transcripts(spark), persist=False)
        .triples.select(*key)
        .distinct()
        .withColumn("g", F.lit(1))
    )
    exp = spark.createDataFrame(sorted(GOLDEN_EXPECTED_TRIPLES), key).withColumn(
        "e", F.lit(1)
    )
    joined = got.join(F.broadcast(exp), key, "full_outer")
    return joined.agg(
        F.sum(F.when((F.col("g") == 1) & (F.col("e") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.coalesce("g", F.lit(0))).alias("n_emitted"),
        F.sum(F.coalesce("e", F.lit(0))).alias("n_expected"),
    ).select(
        "tp",
        "n_emitted",
        "n_expected",
        F.round(F.col("tp") / F.col("n_emitted"), 4).alias("precision"),
        F.round(F.col("tp") / F.col("n_expected"), 4).alias("recall"),
    )


def _q_kg_insights(spark, sf_dir):
    # Q1 over the ACTUAL golden KG (reference graph_db.py:153-179): session
    # totals + entity-type histogram in one long-format frame, pinned to a
    # hand-derivable literal oracle like kg_triples/kg_events.
    from knowledge_graph_builder_spark.operators.graph import entity_type_histogram, insights
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    ins = insights(res.nodes, res.edges).select(
        F.explode(
            F.create_map(
                F.lit("total_entities"), F.col("total_entities").cast("double"),
                F.lit("total_relationships"), F.col("total_relationships").cast("double"),
                F.lit("avg_confidence"), F.col("avg_confidence").cast("double"),
            )
        ).alias("stat", "value")
    )
    hist = entity_type_histogram(res.nodes).select(
        F.concat(F.lit("type:"), F.col("type")).alias("stat"),
        F.col("count").cast("double").alias("value"),
    )
    return ins.unionByName(hist).select("stat", F.round("value", 4).alias("value"))


def _q_kg_triples_bucketed(spark, sf_dir):
    # the zero-shuffle input layout (SCALE.md §1): the golden corpus is
    # landed as a conv_id-BUCKETED catalog table (turn order shuffled
    # first, so co-location provably comes from the bucketed write) and
    # the kernel runs with assume_clustered=True — no Exchange in the
    # extraction plan (pinned by test). Output is identical to the
    # shuffling path by construction, so it shares the kg_triples oracle
    # (the hand-derived GOLDEN_EXPECTED_TRIPLES literal).
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts
    from knowledge_graph_builder_spark.sources.transcripts import (
        write_transcripts_bucketed,
    )

    import shutil

    spark.sql(
        "CREATE DATABASE IF NOT EXISTS kgb_oracle_db LOCATION '/tmp/kgb_oracle_wh'"
    )
    # in-memory catalog: a location left by a previous process is unknown
    # to this session and would fail saveAsTable — clear both sides first
    spark.sql("DROP TABLE IF EXISTS kgb_oracle_db.golden_bucketed")
    shutil.rmtree("/tmp/kgb_oracle_wh/golden_bucketed", ignore_errors=True)
    write_transcripts_bucketed(
        golden_transcripts(spark, shuffled=True), "kgb_oracle_db.golden_bucketed", buckets=4
    )
    res = run_pipeline(
        spark,
        spark.table("kgb_oracle_db.golden_bucketed"),
        persist=False,
        assume_clustered=True,
    )
    return res.triples.select(
        F.col("document_id"), F.col("source"), F.col("type"), F.col("target")
    )


def _q_kg_incremental(spark, sf_dir):
    # incremental KG maintenance (plans/incremental.py): v1 = the golden
    # corpus minus two conversations, fully built into a
    # GraphStore; incremental_update diffs v1 against the full corpus,
    # re-extracts ONLY the two added conversations, and MERGEs them in.
    # The store's non-INVOLVES edges must then equal the full corpus's
    # triple set — the same golden literal kg_triples pins.
    import tempfile

    from knowledge_graph_builder_spark.plans.incremental import incremental_update
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    v2 = golden_transcripts(spark)
    convs = sorted(r[0] for r in v2.select("conv_id").distinct().collect())
    v1 = v2.filter(~F.col("conv_id").isin(convs[0], convs[-1]))
    store = GraphStore(spark, tempfile.mkdtemp(prefix="kgb_incr_"), n_buckets=8)
    res1 = run_pipeline(spark, v1, persist=False)
    store.upsert_nodes(res1.nodes)
    store.upsert_edges(res1.edges)
    incremental_update(spark, store, v1, v2)
    # the store MERGEs edges on (src, type, dst) ACROSS documents (D4 —
    # reference graph_db.py MERGE semantics), so the projection is the
    # doc-agnostic distinct triple key; the oracle is the golden literal
    # projected the same way
    return (
        store.edges()
        .filter(F.col("type") != "INVOLVES")
        .select(F.col("src").alias("source"), F.col("type"), F.col("dst").alias("target"))
    )


def _q_kg_incremental_multi(spark, sf_dir):
    # incremental maintenance as a 3-snapshot
    # torture sequence — an ADD, a REMOVE, and a REMOVED-THEN-RE-ADDED
    # conv_id — each step a diff-pruned incremental_update into the same
    # store. The sequence uses whole golden conversations
    # (every add/re-add at full content), so the MERGE-accumulated final
    # state equals the full corpus's triple set and the query shares the
    # golden kg_incremental oracle. MERGE-accumulate equality under EDITS
    # (where superseded keys legitimately linger) is pinned separately by
    # tests/test_resume.py::test_incremental_three_snapshot_torture.
    import tempfile

    from knowledge_graph_builder_spark.plans.incremental import incremental_update
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    full = golden_transcripts(spark)
    convs = sorted(r[0] for r in full.select("conv_id").distinct().collect())
    a, b, c = convs[0], convs[1], convs[-1]
    v1 = full.filter(~F.col("conv_id").isin(a, c))  # A, C absent
    v2 = full.filter(~F.col("conv_id").isin(b, c))  # A added, B removed
    v3 = full  # B re-added (remove-then-re-add), C added
    store = GraphStore(spark, tempfile.mkdtemp(prefix="kgb_incr3_"), n_buckets=8)
    res1 = run_pipeline(spark, v1, persist=False)
    store.upsert_nodes(res1.nodes)
    store.upsert_edges(res1.edges)
    r12 = incremental_update(spark, store, v1, v2)
    assert (r12.n_changed_convs, r12.n_removed_convs) == (1, 1), r12
    r23 = incremental_update(spark, store, v2, v3)
    assert (r23.n_changed_convs, r23.n_removed_convs) == (2, 0), r23
    return (
        store.edges()
        .filter(F.col("type") != "INVOLVES")
        .select(F.col("src").alias("source"), F.col("type"), F.col("dst").alias("target"))
    )


def _q_canonicalize(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.canonicalize import canonicalize_nodes
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    nodes = run_pipeline(spark, golden_transcripts(spark), persist=False).nodes
    return canonicalize_nodes(nodes).select("name", "type", "canonical_id")


def _q_canonicalize_incr(spark, sf_dir):
    # incremental canonicalization (operators/canonicalize.py:
    # canonicalize_incremental): an existing mapping is folded with a new
    # batch; only affected components re-resolve. The batch contains a
    # name ("Globex") that RE-CANONICALIZES an existing self-canonical
    # name ("Globex Corp" -> "Globex"), an alias for an existing name,
    # and a fresh singleton — the hand-derived literal is the oracle.
    from knowledge_graph_builder_spark.operators.canonicalize import (
        canonicalize_incremental,
        canonicalize_nodes,
    )

    batch1 = spark.createDataFrame(
        [("Acme",), ("Globex Corp",), ("Solo Name",)], "name string"
    )
    existing = canonicalize_nodes(batch1).select("name", "canonical_id")
    batch2 = spark.createDataFrame(
        [("Acme Inc.",), ("Globex",), ("Fresh Unique",)], "name string"
    )
    return canonicalize_incremental(existing, batch2).select("name", "canonical_id")


def _q_entity_linking(spark, sf_dir):
    # north_star: scored mention -> canonical-entity links over the golden KG
    from knowledge_graph_builder_spark.operators.extraction import EMIT_ANALYSIS, extract_from_transcripts
    from knowledge_graph_builder_spark.operators.linking import link_mentions
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    tr = golden_transcripts(spark)
    mentions = (
        extract_from_transcripts(tr, 4, emit=EMIT_ANALYSIS)
        .filter(F.col("kind") == "mention")
        .select(F.col("text").alias("mention"))
    )
    nodes = run_pipeline(spark, tr, persist=False).nodes
    return link_mentions(mentions, nodes)


def _q_pdf_ingest(spark, sf_dir):
    # S2: binary-document ingest -> transcripts -> pipeline (stubbed decode)
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.ingest import extract_text, to_transcripts

    payload = b"%PDF-1.4 Steve Jobs founded Apple in 1976. stream xref"
    binary = spark.createDataFrame([("mem://a.pdf", bytearray(payload))], "path string, content binary")
    tr = to_transcripts(extract_text(binary, fake=True))  # pin = fake-extractor output
    return run_pipeline(spark, tr, persist=False).triples.select("source", "type", "target")


def _q_viz_graph(spark, sf_dir):
    # Q2/Q3: vis-network projection of the golden KG (width/opacity math)
    from knowledge_graph_builder_spark.operators.graph import viz_edges
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    return viz_edges(res.edges.filter(F.col("type") != "INVOLVES"))


def _q_viz_nodes(spark, sf_dir):
    # Q2: node projection with group/color map + event nodes unioned
    from knowledge_graph_builder_spark.operators.graph import build_event_nodes_and_edges, viz_nodes
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    event_nodes, _ = build_event_nodes_and_edges(res.events, res.nodes)
    return viz_nodes(res.nodes, event_nodes)


def _q_health(spark, sf_dir):
    # Q4: connectivity probe (reference main.py:47-62)
    from knowledge_graph_builder_spark.session import health_check

    return spark.createDataFrame([(health_check(spark)["status"],)], "status string")


def _q_snapshot_diff(spark, sf_dir):
    # CDC-style snapshot diff: a derived second snapshot (every 11th doc
    # removed, every 7th text revised, 50 new ids appended) diffed against
    # the original — one full-outer key join, null-safe value compare
    from knowledge_graph_builder_spark.operators.joins import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 11 != 0)
    mod = base.withColumn(
        "text", F.when(F.col("doc_id") % 7 == 0, F.lit("REVISED")).otherwise(F.col("text"))
    )
    added = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return snapshot_diff(docs, mod.unionByName(added), ["doc_id"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_triples": _q_kg_triples,
        "kg_events": _q_kg_events,
        "kg_precision_recall": _q_kg_precision_recall,
        "kg_insights": _q_kg_insights,
        "kg_triples_bucketed": _q_kg_triples_bucketed,
        "kg_incremental": _q_kg_incremental,
        "kg_incremental_multi": _q_kg_incremental_multi,
        "canonicalize": _q_canonicalize,
        "canonicalize_incr": _q_canonicalize_incr,
        "entity_linking": _q_entity_linking,
        "pdf_ingest": _q_pdf_ingest,
        "viz_graph": _q_viz_graph,
        "viz_nodes": _q_viz_nodes,
        "health": _q_health,
        "snapshot_diff": _q_snapshot_diff,
    }


def _kg_triples_sql() -> str:
    """Literal-VALUES oracle for the flagship extraction: the hand-derived
    reference-semantics triple set over the golden corpus (the same
    constant tests/test_metrics.py measures P/R against). A value-hash
    match against it is an exact P/R = 1.0 record for the flagship
    pipeline, not just a row count."""
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_TRIPLES

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n              ".join(
        "(" + ", ".join(q(v) for v in r) + ")" for r in sorted(GOLDEN_EXPECTED_TRIPLES)
    )
    return f"""
        SELECT * FROM (VALUES
              {rows}
        ) AS t(document_id, source, type, target)
    """


def _kg_precision_recall_sql() -> str:
    """Oracle for the north-rule headline metric: the pipeline must agree
    EXACTLY with the hand-derived reference-semantics set, so the pinned
    value is tp = emitted = expected = |golden set| and P = R = 1.0."""
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_TRIPLES

    n = len(GOLDEN_EXPECTED_TRIPLES)
    return f"""
        SELECT {n}::BIGINT AS tp, {n}::BIGINT AS n_emitted, {n}::BIGINT AS n_expected,
               CAST(1.0 AS DOUBLE) AS precision, CAST(1.0 AS DOUBLE) AS recall
    """


def _kg_events_sql() -> str:
    """Literal-VALUES oracle for the golden event set (see _kg_triples_sql)."""
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_EVENTS

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    rows = ",\n              ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in sorted(GOLDEN_EXPECTED_EVENTS, key=str)
    )
    return f"""
        SELECT * FROM (VALUES
              {rows}
        ) AS t(document_id, event_type, name, participants, date, amount, location, confidence)
    """


def _viz_nodes_sql() -> str:
    """Q2 node projection over the golden KG (reference graph_db.py:181-254
    semantics: group/color map incl. event types, dot/diamond shapes,
    tooltip text). Golden-corpus-derived, so the pin is testdata-independent."""
    return """
        SELECT id, label, "group", color, title, shape FROM (VALUES
          ('Alibaba', 'Alibaba', 'ORG', '#10b981', 'Alibaba (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Amazon', 'Amazon', 'ORG', '#10b981', 'Amazon (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Android', 'Android', 'PRODUCT', '#8b5cf6', 'Android (PRODUCT)

Source: Google launched Android in 2008....', 'dot'),
          ('Apple acquires Beats', 'Apple acquires Beats', 'Acquisition', '#fbbf24', 'EVENT: Apple acquires Beats
Type: Acquisition
Date: 2014
Amount: $3 billion

Context: Apple acquired Beats for $3 billion in 2014....', 'diamond'),
          ('Apple product launch', 'Apple product launch', 'ProductLaunch', '#ec4899', 'EVENT: Apple product launch
Type: ProductLaunch
Date: 2007

Context: Apple released products such as the iPhone in 2007....', 'diamond'),
          ('Apple', 'Apple', 'ORG', '#10b981', 'Apple (ORG)

Source: Tim Cook was named CEO of Apple in 2011....', 'dot'),
          ('Beats', 'Beats', 'ORG', '#10b981', 'Beats (ORG)

Source: Apple acquired Beats for $3 billion in 2014....', 'dot'),
          ('Bill Gates', 'Bill Gates', 'PERSON', '#3b82f6', 'Bill Gates (PERSON)

Source: Steve Jobs founded Bill Gates....', 'dot'),
          ('California', 'California', 'GPE', '#f59e0b', 'California (GPE)

Source: The company is headquartered in Cupertino, California....', 'dot'),
          ('Cupertino', 'Cupertino', 'GPE', '#f59e0b', 'Cupertino (GPE)

Source: Apple launched the iPhone in Cupertino....', 'dot'),
          ('Echo', 'Echo', 'PRODUCT', '#8b5cf6', 'Echo (PRODUCT)

Source: ...', 'dot'),
          ('Fire TV', 'Fire TV', 'PRODUCT', '#8b5cf6', 'Fire TV (PRODUCT)

Source: Amazon produces devices such as Kindle, Echo, and Fire TV....', 'dot'),
          ('Ford Motors', 'Ford Motors', 'ORG', '#10b981', 'Ford Motors (ORG)

Source: Tesla Corp. competes with Ford Motors in Texas....', 'dot'),
          ('Google product launch', 'Google product launch', 'ProductLaunch', '#ec4899', 'EVENT: Google product launch
Type: ProductLaunch
Date: 2008

Context: Google launched Android in 2008....', 'diamond'),
          ('Google', 'Google', 'ORG', '#10b981', 'Google (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Jeff Bezos', 'Jeff Bezos', 'PERSON', '#3b82f6', 'Jeff Bezos (PERSON)

Source: Amazon was founded by Jeff Bezos in Seattle....', 'dot'),
          ('Kindle', 'Kindle', 'PRODUCT', '#8b5cf6', 'Kindle (PRODUCT)

Source: Amazon produces devices such as Kindle, Echo, and Fire TV....', 'dot'),
          ('Microsoft funding round', 'Microsoft funding round', 'FundingRound', '#10b981', 'EVENT: Microsoft funding round
Type: FundingRound
Date: last year
Amount: $1 billion

Context: Microsoft raised $1 billion in Series B funding last year....', 'diamond'),
          ('Microsoft', 'Microsoft', 'ORG', '#10b981', 'Microsoft (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Pixel', 'Pixel', 'PRODUCT', '#8b5cf6', 'Pixel (PRODUCT)

Source: Sundar Pichai owns a Pixel....', 'dot'),
          ('PlayStation', 'PlayStation', 'PRODUCT', '#8b5cf6', 'PlayStation (PRODUCT)

Source: Sony manufactures the PlayStation....', 'dot'),
          ('Redmond', 'Redmond', 'GPE', '#f59e0b', 'Redmond (GPE)

Source: Microsoft is based in Redmond....', 'dot'),
          ('Satya Nadella', 'Satya Nadella', 'PERSON', '#3b82f6', 'Satya Nadella (PERSON)

Source: Satya Nadella and Microsoft appeared at the meeting....', 'dot'),
          ('Seattle', 'Seattle', 'GPE', '#f59e0b', 'Seattle (GPE)

Source: Amazon was founded by Jeff Bezos in Seattle....', 'dot'),
          ('Sony', 'Sony', 'ORG', '#10b981', 'Sony (ORG)

Source: Sony manufactures the PlayStation....', 'dot'),
          ('Steve Jobs', 'Steve Jobs', 'PERSON', '#3b82f6', 'Steve Jobs (PERSON)

Source: Apple was founded in 1976 by Steve Jobs....', 'dot'),
          ('Sundar Pichai', 'Sundar Pichai', 'PERSON', '#3b82f6', 'Sundar Pichai (PERSON)

Source: Sundar Pichai owns a Pixel....', 'dot'),
          ('Tesla', 'Tesla', 'ORG', '#10b981', 'Tesla (ORG)

Source: Tesla Corp. competes with Ford Motors in Texas....', 'dot'),
          ('Texas', 'Texas', 'GPE', '#f59e0b', 'Texas (GPE)

Source: Tesla Corp. competes with Ford Motors in Texas....', 'dot'),
          ('Tim Cook joins Apple', 'Tim Cook joins Apple', 'LeadershipChange', '#f59e0b', 'EVENT: Tim Cook joins Apple
Type: LeadershipChange
Date: 2011

Context: Tim Cook was named CEO of Apple in 2011....', 'diamond'),
          ('Tim Cook', 'Tim Cook', 'PERSON', '#3b82f6', 'Tim Cook (PERSON)

Source: Tim Cook was named CEO of Apple in 2011....', 'dot'),
          ('iPhone product launch', 'iPhone product launch', 'ProductLaunch', '#ec4899', 'EVENT: iPhone product launch
Type: ProductLaunch
Date: 2007
Amount: $599

Context: In 2007, Apple released the iPhone for $599....', 'diamond'),
          ('iPhone', 'iPhone', 'PRODUCT', '#8b5cf6', 'iPhone (PRODUCT)

Source: Apple released products such as the iPhone in 2007....', 'dot')
        ) AS t(id, label, "group", color, title, shape)
    """


def _viz_graph_sql() -> str:
    """Q3 edge projection over the golden KG (reference graph_db.py:256-284
    width/opacity math). Golden-corpus-derived pin."""
    return """
        SELECT "from", "to", label, confidence::DOUBLE AS confidence, width::DOUBLE AS width, opacity::DOUBLE AS opacity, color FROM (VALUES
          ('Amazon', 'Alibaba', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Amazon', 'Fire TV', 'PRODUCES', 0.65, 2.6, 0.95, '#64748b'),
          ('Amazon', 'Google', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Amazon', 'Kindle', 'PRODUCES', 0.65, 2.6, 0.95, '#64748b'),
          ('Amazon', 'Microsoft', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Amazon', 'Seattle', 'LOCATED_IN', 0.65, 2.6, 0.95, '#64748b'),
          ('Apple', 'Beats', 'ACQUIRED', 0.7, 2.8, 1.0, '#64748b'),
          ('Apple', 'Cupertino', 'HEADQUARTERED_IN', 0.95, 3.8, 1.0, '#64748b'),
          ('Apple', 'Cupertino', 'LOCATED_IN', 0.65, 2.6, 0.95, '#64748b'),
          ('Apple', 'Microsoft', 'COLLABORATES_WITH', 0.7, 2.8, 1.0, '#64748b'),
          ('Apple', 'iPhone', 'PRODUCES', 0.85, 3.4, 1.0, '#64748b'),
          ('Apple', 'iPhone', 'RELEASED', 0.9, 3.6, 1.0, '#64748b'),
          ('Ford Motors', 'Texas', 'LOCATED_IN', 0.65, 2.6, 0.95, '#64748b'),
          ('Google', 'Android', 'DEVELOPS', 0.85, 3.4, 1.0, '#64748b'),
          ('Google', 'Android', 'RELEASED', 0.9, 3.6, 1.0, '#64748b'),
          ('Jeff Bezos', 'Amazon', 'FOUNDED', 0.95, 3.8, 1.0, '#64748b'),
          ('Microsoft', 'Apple', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Microsoft', 'Redmond', 'HEADQUARTERED_IN', 0.7, 2.8, 1.0, '#64748b'),
          ('Microsoft', 'Redmond', 'LOCATED_IN', 0.85, 3.4, 1.0, '#64748b'),
          ('Sony', 'PlayStation', 'PRODUCES', 0.9, 3.6, 1.0, '#64748b'),
          ('Steve Jobs', 'Apple', 'CEO_OF', 0.95, 3.8, 1.0, '#64748b'),
          ('Steve Jobs', 'Apple', 'FOUNDED', 0.95, 3.8, 1.0, '#64748b'),
          ('Tim Cook', 'Apple', 'CEO_OF', 0.95, 3.8, 1.0, '#64748b'),
          ('Tim Cook', 'Apple', 'EMPLOYED_BY', 0.95, 3.8, 1.0, '#64748b')
        ) AS t("from", "to", label, confidence, width, opacity, color)
    """


def oracle_sql() -> dict[str, str]:
    out = {
        "kg_triples": _kg_triples_sql(),
        "kg_events": _kg_events_sql(),
        "kg_precision_recall": _kg_precision_recall_sql(),
        # pinned Q1 over the golden KG (hand-checkable: 27 entity nodes of
        # 4 types, 34 deduped edges incl. INVOLVES, avg confidence over the
        # 24 non-INVOLVES edges = 0.82 — reference graph_db.py:153-179)
        "kg_insights": """
            SELECT stat, value::DOUBLE AS value FROM (VALUES
              ('avg_confidence', 0.82), ('total_entities', 27.0),
              ('total_relationships', 34.0), ('type:GPE', 5.0),
              ('type:ORG', 9.0), ('type:PERSON', 6.0), ('type:PRODUCT', 7.0)
            ) AS t(stat, value)
        """,
        # pinned: canonicalization over the golden node set — the two
        # suffix aliases collapse ("Apple Inc."->"Apple", "Tesla Corp."->
        # "Tesla"); every other name is its own canonical id
        "canonicalize": """
            SELECT * FROM (VALUES
              ('Alibaba', 'ORG', 'Alibaba'), ('Amazon', 'ORG', 'Amazon'),
              ('Android', 'PRODUCT', 'Android'), ('Apple', 'ORG', 'Apple'),
              ('Beats', 'ORG', 'Beats'), ('Bill Gates', 'PERSON', 'Bill Gates'),
              ('California', 'GPE', 'California'), ('Cupertino', 'GPE', 'Cupertino'),
              ('Echo', 'PRODUCT', 'Echo'), ('Fire TV', 'PRODUCT', 'Fire TV'),
              ('Ford Motors', 'ORG', 'Ford Motors'), ('Google', 'ORG', 'Google'),
              ('Jeff Bezos', 'PERSON', 'Jeff Bezos'), ('Kindle', 'PRODUCT', 'Kindle'),
              ('Microsoft', 'ORG', 'Microsoft'), ('Pixel', 'PRODUCT', 'Pixel'),
              ('PlayStation', 'PRODUCT', 'PlayStation'), ('Redmond', 'GPE', 'Redmond'),
              ('Satya Nadella', 'PERSON', 'Satya Nadella'), ('Seattle', 'GPE', 'Seattle'),
              ('Sony', 'ORG', 'Sony'), ('Steve Jobs', 'PERSON', 'Steve Jobs'),
              ('Sundar Pichai', 'PERSON', 'Sundar Pichai'), ('Tesla', 'ORG', 'Tesla'),
              ('Texas', 'GPE', 'Texas'), ('Tim Cook', 'PERSON', 'Tim Cook'),
              ('iPhone', 'PRODUCT', 'iPhone')
            ) AS t(name, type, canonical_id)
        """,
        # pinned: mention->entity link scores over the golden KG (exact
        # self-links score 0.5*1+0.3*1+0.2*1=1.0; the two suffixed aliases
        # score 0.5*0.5+0.3*0+0.2*1=0.45 against their bare-name entity)
        "entity_linking": """
            SELECT mention, entity, link_score::DOUBLE AS link_score FROM (VALUES
              ('Alibaba', 'Alibaba', 1.0), ('Amazon', 'Amazon', 1.0),
              ('Android', 'Android', 1.0), ('Apple', 'Apple', 1.0),
              ('Apple Inc.', 'Apple', 0.45), ('Beats', 'Beats', 1.0),
              ('Bill Gates', 'Bill Gates', 1.0), ('California', 'California', 1.0),
              ('Cupertino', 'Cupertino', 1.0), ('Fire TV', 'Fire TV', 1.0),
              ('Ford Motors', 'Ford Motors', 1.0), ('Google', 'Google', 1.0),
              ('Jeff Bezos', 'Jeff Bezos', 1.0), ('Kindle', 'Kindle', 1.0),
              ('Microsoft', 'Microsoft', 1.0), ('Pixel', 'Pixel', 1.0),
              ('PlayStation', 'PlayStation', 1.0), ('Redmond', 'Redmond', 1.0),
              ('Satya Nadella', 'Satya Nadella', 1.0), ('Seattle', 'Seattle', 1.0),
              ('Sony', 'Sony', 1.0), ('Steve Jobs', 'Steve Jobs', 1.0),
              ('Sundar Pichai', 'Sundar Pichai', 1.0), ('Tesla Corp.', 'Tesla', 0.45),
              ('Texas', 'Texas', 1.0), ('Tim Cook', 'Tim Cook', 1.0),
              ('iPhone', 'iPhone', 1.0)
            ) AS t(mention, entity, link_score)
        """,
        # golden-pinned (hand derivation: "Steve Jobs founded Apple" ->
        # R1 FOUNDED indicator at 0.95 survives D1 over the SVO duplicate,
        # PERSON-FOUNDED->COMPANY passes V1/V2)
        "pdf_ingest": """
            SELECT * FROM (VALUES ('Steve Jobs', 'FOUNDED', 'Apple'))
            AS t(source, type, target)
        """,
        "viz_graph": _viz_graph_sql(),
        "viz_nodes": _viz_nodes_sql(),
        "health": "SELECT 'healthy' AS status",
        "snapshot_diff": """
            WITH newsnap AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN 'REVISED' ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 11 <> 0
              UNION ALL
              SELECT doc_id + 1000000, text, lang, source, n_chars
              FROM documents WHERE doc_id < 50
            ),
            d AS (
              SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
                     CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'removed'
                          WHEN (n.text IS DISTINCT FROM o.text)
                               OR (n.lang IS DISTINCT FROM o.lang)
                               OR (n.source IS DISTINCT FROM o.source)
                               OR (n.n_chars IS DISTINCT FROM o.n_chars)
                          THEN 'changed' END AS change
              FROM newsnap n FULL OUTER JOIN documents o ON n.doc_id = o.doc_id
            )
            SELECT doc_id, change FROM d WHERE change IS NOT NULL
        """,
    }
    # the bucketed-input pipeline emits the identical triple set (zero-
    # Exchange plan pinned by test), so it shares the golden literal
    out["kg_triples_bucketed"] = out["kg_triples"]
    # incremental maintenance converges the store to the full corpus's
    # triple set; the store MERGEs on (src, type, dst) across documents,
    # so both sides project the doc-agnostic distinct key
    out["kg_incremental"] = (
        "SELECT DISTINCT source, type, target FROM (" + out["kg_triples"] + ") t"
    )
    # the 3-snapshot torture sequence adds/re-adds whole conversations at
    # full content only, so its MERGE-accumulated final state is the same
    # full-corpus distinct triple set
    out["kg_incremental_multi"] = out["kg_incremental"]
    # incremental canonicalization: hand-derived final mapping ("Globex"
    # arriving re-canonicalizes the previously self-canonical "Globex
    # Corp"; "Acme Inc." aliases onto "Acme"; singletons stay themselves)
    out["canonicalize_incr"] = """
        SELECT * FROM (VALUES
          ('Acme', 'Acme'), ('Acme Inc.', 'Acme'),
          ('Fresh Unique', 'Fresh Unique'),
          ('Globex', 'Globex'), ('Globex Corp', 'Globex'),
          ('Solo Name', 'Solo Name')
        ) AS t(name, canonical_id)
    """
    return out
