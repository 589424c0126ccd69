"""Plan-quality audit: run `.explain` over the KG queries and assert the
physical properties the 100-TB design depends on:

* the fused pipeline contains exactly ONE exchange up to the kernel, and
  the kernel is Arrow-evaluated;
* bucketed transcripts reach the kernel with ZERO exchanges, through a
  scan that really is bucketed;
* incremental canonicalization and the snapshot diff join hash-wise,
  never through a cartesian product.

Usage: python tools/explain_audit.py [sf_dir]
Prints one PASS/FAIL line per check and exits non-zero on failure.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def plan_of(df, execute: bool = False) -> str:
    if execute:
        df.collect()  # finalize AQE so codegen stages are visible
    return df._jdf.queryExecution().executedPlan().toString()


def fmt_plan_of(df) -> str:
    """explain("formatted") as a string — the only rendering that shows
    the bucketed-scan decision ('Bucketed: true' vs 'Bucketed: false
    (disabled by query planner)'), which the operator-tree string hides."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main(sf_dir: str) -> int:
    import __spark_entry__ as entry
    from knowledge_graph_builder_spark.session import get_spark
    from knowledge_graph_builder_spark.operators.extraction import EMIT_GRAPH, extract_from_transcripts
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    failures = []

    def check(name: str, ok: bool, detail: str = ""):
        print(f"[{'PASS' if ok else 'FAIL'}] {name}{(' — ' + detail) if detail and not ok else ''}")
        if not ok:
            failures.append(name)

    # fused pipeline: exactly one exchange up to the kernel
    kr = extract_from_transcripts(golden_transcripts(spark), 8, emit=EMIT_GRAPH)
    pk = plan_of(kr)
    n_ex = pk.count("Exchange ")
    check("fused kernel has exactly one exchange", n_ex == 1, f"found {n_ex}")
    check("fused kernel is Arrow-evaluated", "MapInArrow" in pk or "ArrowEvalPython" in pk or "MapInPandas" in pk)

    # bucketed input: the clustered scan feeds the kernel directly
    qkb = entry.queries()["kg_triples_bucketed"](spark, sf_dir)
    pkb = plan_of(qkb)
    check("bucketed pipeline plans ZERO exchanges (clustered scan -> kernel)",
          "Exchange" not in pkb, pkb[:600])
    check("bucketed pipeline kernel is Arrow-evaluated", "MapInArrow" in pkb, pkb[:400])
    # zero-Exchange is necessary but not sufficient: Spark 4's
    # DisableUnnecessaryBucketedScan can DEMOTE the scan to size-based file
    # splits (breaking conversation co-location at production file sizes)
    # without adding an Exchange. Assert the scan is actually bucketed and
    # reads exactly one partition per bucket (the table is written with 4).
    fkb = fmt_plan_of(qkb)
    check("bucketed pipeline scan is ACTUALLY bucketed (not planner-demoted)",
          "Bucketed: true" in fkb and "disabled by query planner" not in fkb,
          fkb[:800])
    check("bucketed pipeline reads one partition per bucket",
          qkb.rdd.getNumPartitions() == 4,
          f"partitions={qkb.rdd.getNumPartitions()}")
    pci = plan_of(entry.queries()["canonicalize_incr"](spark, sf_dir))
    check("incremental canonicalize has no cartesian product",
          "CartesianProduct" not in pci, pci[:400])
    psd = plan_of(entry.queries()["snapshot_diff"](spark, sf_dir))
    check("snapshot_diff joins hash-wise, not nested-loop",
          "CartesianProduct" not in psd and "BroadcastNestedLoopJoin" not in psd, psd[:400])

    spark.stop()
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
