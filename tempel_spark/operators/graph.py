"""Match-graph quality analysis for ER edge lists.

`connected_components` (operators/clustering.py) welds everything a
match edge touches; a single false-positive edge between two dense
entity clusters silently merges them. The classic triage signal is
TRIANGLE SUPPORT: a true within-entity edge is usually embedded in
triangles (its endpoints share other matched records), while a false
bridge between two entities has no common neighbors at all. The
reference has no graph-diagnostics analogue (its clusters come from a
per-snapshot candidate ranking, s03_dataset_creator.py); this is part
of the engine's first-class ER tooling alongside blocking_quality and
pr_curve.

Scale posture — the standard distributed triangle plan:

* edges are canonicalized + deduped once;
* each edge is ORIENTED from its lower-(degree, id) endpoint to the
  higher one, so wedge enumeration fans out only from the low-degree
  side: the wedge count is Σ_v outdeg(v)² with outdeg bounded by
  O(√m) on any graph (hub nodes are never wedge apexes), the
  O(m^1.5) bound of Schank–Wagner / the MapReduce NodeIterator++ —
  a head-entity hot node with 10^6 edges contributes zero wedges;
* each triangle is found exactly once (apex = lowest-rank vertex) and
  credited to its three edges via one explode + hash agg.

Everything is joins + aggregations: AQE handles residual skew, no
driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["edge_triangle_support", "robust_components", "cluster_cohesion"]

ROUND_DP = 6  # cohesion scores and densities are rounded to this


def edge_triangle_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle count over an undirected (id_a, id_b) edge list.

    Returns one row per distinct undirected edge: ``id_a`` < ``id_b``
    (canonical order), ``n_triangles`` = number of common neighbors of
    the endpoints, and ``is_bridge_like`` = (n_triangles = 0) — the
    zero-support edges are the candidate false matches to audit first.
    Self-loops are dropped; duplicate edges count once.
    """
    e = (
        edges.select(F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # pinned: e feeds the degree census, the orientation join, the
        # closing-edge semi-join AND the final support join — without
        # the pin each consumer re-derives the distinct edge set
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)  # joined once per endpoint side
    )
    g = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    # orient low-rank -> high-rank; rank = (degree, id) is a total order
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = g.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=False)  # both wedge sides read it
    o1 = o.select("u", F.col("v").alias("v1"))
    o2 = o.select("u", F.col("v").alias("v2"))
    # wedges around each apex u; v1 < v2 by id makes the pair canonical
    # for the closing-edge lookup against the undirected edge set
    wedges = o1.join(o2, "u").filter(F.col("v1") < F.col("v2"))
    tri = wedges.join(
        e.select(F.col("a").alias("v1"), F.col("b").alias("v2")), ["v1", "v2"], "leftsemi"
    )
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v1").alias("a"), F.greatest("u", "v1").alias("b")
                ),
                F.struct(
                    F.least("u", "v2").alias("a"), F.greatest("u", "v2").alias("b")
                ),
                F.struct(F.col("v1").alias("a"), F.col("v2").alias("b")),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b")
    sup = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("_n"))
    return (
        e.join(sup, ["a", "b"], "left")
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_triangles"),
            (F.coalesce(F.col("_n"), F.lit(0)) == 0).alias("is_bridge_like"),
        )
    )


def robust_components(edges: DataFrame, min_support: int = 1):
    """Bridge-pruned connected components: drop every edge with fewer
    than ``min_support`` triangles (the bridge-like candidate false
    matches), then recluster — the standard repair for two entities
    welded together by a single spurious pair. Nodes that lose all
    their edges stay in the result as singletons (the node universe is
    the ORIGINAL edge set's endpoints), so no record silently
    disappears from the clustering.

    Returns a CCResult (components frame (node, component) +
    convergence metadata) from operators/clustering.py — same
    large-star/small-star machinery, same determinism guarantees.
    """
    from tempel_spark.operators.clustering import connected_components

    sup = edge_triangle_support(edges)
    kept = sup.filter(F.col("n_triangles") >= min_support).select("id_a", "id_b")
    nodes = (
        edges.select(F.least("id_a", "id_b").alias("id_a"))
        .unionAll(edges.select(F.greatest("id_a", "id_b").alias("id_a")))
        .distinct()
    )
    return connected_components(kept, nodes=nodes)


def cluster_cohesion(components: DataFrame, scored_pairs: DataFrame) -> DataFrame:
    """Per-cluster quality report for an ER clustering (``components``:
    node, component; ``scored_pairs``: id_a, id_b, score): how well
    does the pairwise evidence actually hold each cluster together?

    For every component: n_members, n_edges (scored pairs with BOTH
    endpoints inside), avg_score / min_score over those edges
    (rounded), and density = n_edges / C(n_members, 2). A big cluster
    with low density and a weak min_score is the classic
    over-merge signature (pair it with `edge_triangle_support` to find
    the culprit edge); singletons report 0 edges / NULL scores /
    density 1.0 by convention.

    Scale posture: two broadcast-or-hash equi-joins to tag edge
    endpoints, then per-component hash aggregations — no windows over
    edge-scale data, no per-cluster collect; a head-entity mega-cluster
    costs what its edge count costs.
    """
    comp = components.select(F.col("node").alias("_n"), F.col("component").alias("_c"))
    # canonicalize like edge_triangle_support: reversed duplicates of
    # the same pair must count ONE edge (matcher output is often
    # un-canonicalized; double-counting would corrupt density, the
    # very signal this reports). Duplicate scores resolve to the max.
    canon = (
        scored_pairs.select(
            F.least("id_a", "id_b").alias("_a"),
            F.greatest("id_a", "id_b").alias("_b"),
            F.col("score").alias("_s"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.max("_s").alias("_s"))
    )
    e = (
        canon
        .join(comp.select(F.col("_n").alias("_a"), F.col("_c").alias("_ca")), "_a")
        .join(comp.select(F.col("_n").alias("_b"), F.col("_c").alias("_cb")), "_b")
        .filter(F.col("_ca") == F.col("_cb"))
    )
    per_edge = e.groupBy(F.col("_ca").alias("component")).agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(F.avg("_s"), ROUND_DP).alias("avg_score"),
        F.round(F.min("_s"), ROUND_DP).alias("min_score"),
    )
    sizes = comp.groupBy(F.col("_c").alias("component")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    possible = F.col("n_members") * (F.col("n_members") - 1) / 2
    return (
        sizes.join(per_edge, "component", "left")
        .select(
            "component",
            "n_members",
            F.coalesce(F.col("n_edges"), F.lit(0)).cast("long").alias("n_edges"),
            "avg_score",
            "min_score",
            F.when(
                possible > 0,
                F.round(F.coalesce(F.col("n_edges"), F.lit(0)) / possible, ROUND_DP),
            )
            .otherwise(F.lit(1.0))
            .alias("density"),
        )
    )
