"""Graph analytics over the materialized node/edge tables.

Beyond the reference's read-side insights (graph_db.py:153-179 — counts
and averages only), a KG at 10^12-turn scale needs structural analytics:
degree statistics (hub detection, skew diagnosis for the canonicalization
blocking caps) and PageRank-style centrality (entity importance ranking
for downstream sampling/curation). Both are DataFrame-native; PageRank is
the engine's second driver-controlled iterative loop (after connected
components) and follows the same localCheckpoint-per-iteration pattern to
keep lineage bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def degree_stats(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node out/in/total degree. One aggregation per direction over
    the edge list, joined on the node id — partial-aggregable, no skew
    hazard (a hot node is one row per aggregate)."""
    out_deg = edges.groupBy(F.col(src_col).alias("node")).agg(F.count("*").alias("out_degree"))
    in_deg = edges.groupBy(F.col(dst_col).alias("node")).agg(F.count("*").alias("in_degree"))
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .na.fill(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node triangle counts over the undirected simple graph induced
    by the edge list (self-loops dropped, direction and multiplicity
    collapsed). Returns (node, n_triangles) for every node in >=1 triangle.

    Scale design — degree-ordered orientation: each undirected edge
    {a, b} is directed from the endpoint with the smaller (degree, id)
    pair to the larger. Under any total-order orientation a triangle has
    exactly one vertex with two out-edges, so one wedge join (u->v join
    v->w) plus one closing semi-join (u->w exists) counts each triangle
    exactly once. Ordering by DEGREE (not id) additionally bounds every
    node's out-degree by O(sqrt(m)), so the wedge join's per-key fan-out
    never explodes on a hub — the hazard that makes naive triangle
    enumeration infeasible at 100 TB. The oriented edge list is
    localCheckpoint'd because the three-way self-join reuses it.
    """
    e = edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("y")).filter(
        F.col("x") != F.col("y")
    )
    und = e.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    withdeg = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(F.col("e1.u").alias("u"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w"))
    )
    tri = wedges.alias("wg").join(
        oriented.alias("e3"),
        (F.col("wg.u") == F.col("e3.u")) & (F.col("wg.w") == F.col("e3.v")),
        "leftsemi",
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def neighbor_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Jaccard similarity of the neighbor sets of every ADJACENT node
    pair in the undirected graph: |N(a) n N(b)| / |N(a) u N(b)|.
    Returns (a, b, common, jaccard) with a < b.

    Scale shape: the intersection size comes from one wedge join over
    the symmetric adjacency list (pairs of edges sharing an endpoint),
    aggregated per pair — never a neighbor-set `collect_set` per node.
    Degrees join in as two scalar columns and the union size is
    deg(a) + deg(b) - common (inclusion-exclusion), so no set is ever
    materialized. The wedge fan-out at a center node is deg^2, which a
    super-hub makes infeasible at 100 TB; ``max_center_degree`` drops
    hub CENTERS before the self-join (count-filter first, the same
    guard as the LSH max_bucket cap), trading exactness for a bounded
    plan — counts through dropped hubs are then lower bounds, the
    standard concession for common-neighbor stats on power-law graphs.
    None (default) keeps exact counts for oracle comparison.
    """
    e = edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("y")).filter(
        F.col("x") != F.col("y")
    )
    und = e.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")).distinct()
    # symmetric adjacency: one row per (node, neighbor) in both directions
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).union(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    centers = adj
    if max_center_degree is not None:
        ok = deg.filter(F.col("deg") <= max_center_degree).select("node")
        centers = adj.join(ok, "node", "leftsemi")
    # wedges centered on c: neighbors (a, b) of c with a < b form one
    # co-occurrence; counting wedges per (a, b) = |N(a) n N(b)|
    common = (
        centers.alias("l")
        .join(centers.alias("r"), F.col("l.node") == F.col("r.node"))
        .filter(F.col("l.nbr") < F.col("r.nbr"))
        .groupBy(F.col("l.nbr").alias("a"), F.col("r.nbr").alias("b"))
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    # adjacent pairs only: semi-join against the edge list itself
    pairs = common.join(und, ["a", "b"], "leftsemi")
    return (
        pairs.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def k_core(edges: DataFrame, k: int, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k (undirected, self-loops dropped). Returns (node, core_degree).

    Iterative peel: drop nodes with degree < k, recompute degrees on the
    induced subgraph, repeat to fixpoint. Each round is one aggregation
    plus two semi-joins; the surviving edge list is localCheckpoint'd per
    round so lineage stays flat. Rounds are bounded by the peel depth
    (typically tens even on billion-edge graphs); each round's work
    shrinks monotonically, so the total cost is a small constant times
    one degree computation at full scale.
    """
    e = edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("y")).filter(
        F.col("x") != F.col("y")
    )
    und = (
        e.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = und.count()
    while True:
        deg = (
            und.select(F.col("a").alias("node"))
            .union(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        survivors = (
            und.join(keep.select(F.col("node").alias("a")), "a", "leftsemi")
            .join(keep.select(F.col("node").alias("b")), "b", "leftsemi")
            .localCheckpoint()
        )
        n_survivors = survivors.count()
        if n_survivors == n_edges:
            final_deg = (
                survivors.select(F.col("a").alias("node"))
                .union(survivors.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("core_degree"))
            )
            return final_deg.filter(F.col("core_degree") >= k)
        und, n_edges = survivors, n_survivors


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Standard damped PageRank over a directed edge list.

    rank_{t+1}(v) = (1-d)/N + d * (sum of rank_t(u)/outdeg(u) over
    in-neighbors u) + d * dangling_mass/N (dangling nodes' rank is
    redistributed uniformly, keeping the distribution normalized).

    Each iteration is one join + one aggregation; the rank frame is
    localCheckpoint'd per iteration so the plan does not grow with the
    iteration count (same discipline as the connected-components loop).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    out_deg = e.groupBy("src").agg(F.count("*").alias("out_degree"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        with_deg = ranks.join(out_deg, ranks["node"] == out_deg["src"], "left")
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            with_deg.filter(F.col("out_degree").isNull()).agg(F.sum("rank").alias("m")).collect()[0]["m"]
            or 0.0
        )
        contribs = (
            with_deg.filter(F.col("out_degree").isNotNull())
            .select("node", (F.col("rank") / F.col("out_degree")).alias("share"))
            .join(e, F.col("node") == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("incoming"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .na.fill(0.0, ["incoming"])
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * (F.col("incoming") + F.lit(dangling / n))).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (community detection)
    over an undirected edge list — the complement to the min-label
    connected-components loop in `canonicalize`: CC answers "which nodes
    touch at all", LPA answers "which nodes cluster densely".

    Each node starts labeled with itself; every round, a node adopts the
    label held by the MOST of its neighbors, ties broken by the smallest
    label — a fully deterministic update (no hash-order or partition-
    order dependence), so the result is stable across engines and
    partitionings and can be pinned by a literal oracle.

    Scale shape per iteration: one shuffle join (labels onto the
    symmetrized edge list, keyed by node) and one partial-aggregable
    count per (node, label), then a per-node window whose partition size
    is bounded by a node's distinct neighbor-label count (<= degree).
    The label frame is localCheckpoint'd per iteration so the plan stays
    flat across rounds. Hot hubs are bounded by degree, not corpus size;
    a fixed iteration count (not convergence polling) keeps the job DAG
    static for checkpoint/resume.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("label"))
    for _ in range(iterations):
        # each node votes its own current label once alongside its
        # neighbors' — the standard damping that stops synchronous LPA
        # from oscillating forever on bipartite substructures
        neigh = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"), "label"
        ).union(labels.select("node", "label"))
        counts = neigh.groupBy("node", "label").agg(F.count("*").alias("n"))
        labels = (
            counts.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    return labels.withColumnRenamed("label", "community")


def bfs_levels(
    edges: DataFrame,
    seeds: list,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 10,
    directed: bool = True,
) -> DataFrame:
    """Minimum hop distance from a seed set: returns (node, hops) for
    every node reachable within ``max_hops`` (seeds at 0). The multi-hop
    traversal primitive a KG needs for neighborhood export / subgraph
    sampling; the reference has no traversal beyond 1-hop INVOLVES.

    Scale shape — frontier expansion, the BFS analog of the CC loop's
    driver-controlled iteration: each round joins only the CURRENT
    frontier against the edge list (shuffle keyed on node id), anti-joins
    the visited set so a node is expanded exactly once, and
    localCheckpoints both frames to keep lineage flat. Rounds = graph
    diameter (bounded by ``max_hops``); total work is O(edges touched),
    never O(edges x hops), because expanded nodes leave the frontier.
    The per-round ``isEmpty`` is one lightweight job on an already-
    checkpointed frame — the same early-exit pattern as k_core.
    """
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")).filter(
        F.col("s") != F.col("d")
    )
    if not directed:
        e = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.distinct().localCheckpoint()

    spark = edges.sparkSession
    node_type = e.schema["s"].dataType
    visited = (
        spark.createDataFrame([(x,) for x in seeds], f"node {node_type.simpleString()}")
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return visited
