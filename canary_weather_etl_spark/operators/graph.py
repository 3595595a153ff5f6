"""Connected components over a pair list — the step that turns near-dup
*pairs* (MinHash/LSH, SimHash, embedding-cosine — operators/dedup.py,
operators/similarity.py) into dedup *clusters* with one canonical keeper
per cluster. The reference repo stops at pairwise dedupe (the NOT-EXISTS
upsert at README.md:1517-1526 keys on exact (date, location) identity);
a training-data pipeline needs transitive closure: if A~B and B~C, then
{A,B,C} is one duplicate group even when A and C share nothing directly.

Algorithm: iterative min-label propagation, entirely in DataFrame ops —
each round every node adopts the smallest label among itself and its
neighbors. Convergence takes O(diameter) rounds; near-dup clusters are
shallow (diameter rarely exceeds a handful of hops even for large
clusters, because near-dup similarity is close to transitive), so 3-5
rounds settle real corpora. Per round: one shuffle for the
edges-to-labels join + one for the min aggregation, both keyed on node
id, and the label frame is materialized to truncate lineage (an
unbounded iterative plan otherwise re-executes every prior round and
eventually overwhelms the optimizer). For adversarially long chains
(diameter ~ n) the alternating large-star/small-star contraction of
Kiveris et al. converges in O(log² n) rounds instead; label propagation
is the right default for the dedup workload where chains do not occur.

Scale notes (100 TB): node/label state is one row per document — orders
of magnitude smaller than the corpus text it summarizes; edges are the
LSH candidate pairs, already pruned to near-dup density. Both partition
on id, so every round is an equi-shuffle with map-side combine on the
min. The convergence check is a single count aggregate per round (the
same bounded driver-scalar class as the reference's 14-row location
list, README.md:626).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# pagerank_fixed materializes its ranks every this many rounds (and after
# the last). A few stacked rounds are still optimizer-cheap, and each
# skipped materialization saves one eager job's scheduling floor, which
# dominates wall time on small graphs. Ranks are integer math, hence
# bit-identical at any cadence (tests/test_r6_ops.py); the knee is
# measured in BENCHNOTES.md and OPTIMIZATION_r15.md. Unbounded stacking
# is not free: plan size grows linearly with stacked rounds.
PAGERANK_CADENCE = 3


def connected_components(pairs: DataFrame, a: str = "a", b: str = "b",
                         nodes: DataFrame | None = None,
                         id_col: str = "id",
                         max_iter: int = 25) -> DataFrame:
    """Transitive closure of an undirected pair list.

    pairs: DataFrame with two id columns (`a`, `b`), one row per edge.
    nodes: optional DataFrame of all ids (`id_col`) — include it so
        singleton documents (no near-dup edge) still get a component row;
        defaults to the ids appearing in `pairs`.
    Returns (id, component) where component = min id in the node's
    connected component. Raises if `max_iter` rounds don't converge
    (a correctness guard, not a truncation: partial propagation would
    silently under-merge clusters).
    """
    # materialize the symmetrized edge list ONCE, hash-partitioned and
    # pre-sorted on the per-round join key: without the checkpoint every
    # round's action re-runs the union+distinct from `pairs` (plans are
    # re-compiled per action, so cross-job stage reuse is not guaranteed),
    # and without the partitioning+ordering each round's sort-merge join
    # re-exchanges and re-sorts the edge side (the static-side fix
    # measured on pagerank_fixed at the 100x decade — SCALE.md)
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition("dst").sortWithinPartitions("dst")
        .transform(materialize)
    )
    if nodes is None:
        labels = (edges.select(F.col("src").alias("id")).distinct()
                  .withColumn("label", F.col("id")))
    else:
        labels = (nodes.select(F.col(id_col).alias("id")).distinct()
                  .withColumn("label", F.col("id")))
    labels = materialize(labels)

    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src").agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        updated = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
                (F.col("nbr_min") < F.col("label")).alias("_chg"),
            )
        )
        updated = materialize(updated)
        changed = updated.agg(
            F.sum(F.when(F.col("_chg"), 1).otherwise(0)).alias("n")
        ).collect()[0]["n"]
        labels = updated.drop("_chg")
        if not changed:
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "graph diameter exceeds the bound — raise max_iter or switch to "
        "star-contraction for chain-shaped graphs")


def dedup_clusters(pairs: DataFrame, nodes: DataFrame,
                   a: str = "a", b: str = "b",
                   id_col: str = "id") -> DataFrame:
    """Near-dup pairs + full id list → per-document cluster assignment:
    (id, component, cluster_size, is_keeper). Keeper = the min id of the
    component — deterministic, so re-running curation on a grown corpus
    keeps the same canonical doc as long as it survives. Downstream,
    `filter(is_keeper)` is the dedup; the non-keeper rows are the audit
    trail of what was dropped and why (which cluster claimed it)."""
    comp = connected_components(pairs, a=a, b=b, nodes=nodes, id_col=id_col)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            "id", "component", "cluster_size",
            (F.col("id") == F.col("component")).alias("is_keeper"),
        )
    )


def pagerank_fixed(edges: DataFrame, nodes: DataFrame,
                   src: str = "src", dst: str = "dst",
                   id_col: str = "id",
                   iterations: int = 5,
                   unit_scale: int = 1_000_000,
                   damping_num: int = 17, damping_den: int = 20) -> DataFrame:
    """Fixed-iteration PageRank in integer fixed-point arithmetic.

    Every rank is held in integer "units" (``unit_scale`` units = rank
    1.0) and every step is integer math: per-edge contribution is
    ``units DIV out_degree`` and the damping mix is
    ``(1-d)*scale + (d_num * Σcontrib) DIV d_den`` with d = 17/20 = 0.85.
    Integer sums are exact and order-free, so the result is bit-identical
    across engines, partitionings, and retries — which is what lets the
    driver hash-compare this against an unrolled SQL oracle, and what
    makes reruns at 100 TB reproducible. The quantization error vs float
    PageRank is ≤ out_degree ulps of 1/unit_scale per step — irrelevant
    for ranking use.

    Scale shape: ``iterations`` rounds of (equi-join edges⨝ranks on src →
    groupBy dst sum → left-join back to nodes). Edge list and degrees are
    computed once and cached by the caller if reused; each round is two
    shuffles on the same keys (AQE coalesces/skew-splits). Dangling nodes
    (out-degree 0) keep the (1-d) floor — their mass is not redistributed,
    matching the oracle.
    """
    # ONE shuffle, ONE materialization for the whole static side: the
    # out-degree is a window count over the src partition (no groupBy +
    # join-back, no second checkpointed copy), computed after a single
    # repartition("src") and followed by sortWithinPartitions on the same
    # key. LogicalRDD preserves both the partitioning and the ordering,
    # so every round's sort-merge join exchanges and sorts only the
    # node-sized ranks frame — without this the EDGE-sized side
    # re-exchanged and re-sorted all `iterations` rounds (measured at the
    # 100x decade: 337 s unfixed → 231 s partitioned → 184 s +sorted →
    # this fused build, SCALE.md; invisible at sf0.1 where the
    # scheduling floor dominates)
    from pyspark.sql import Window

    ed = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
          .repartition("src")
          .withColumn("out_deg",
                      F.count(F.lit(1)).over(Window.partitionBy("src")))
          .sortWithinPartitions("src")
          .transform(materialize))
    base_units = (unit_scale * (damping_den - damping_num)) // damping_den

    ranks = (nodes.select(F.col(id_col).alias("node")).distinct()
             .withColumn("units", F.lit(unit_scale).cast("long"))
             .transform(materialize))
    for it in range(iterations):
        # `div`, never `/`: float quotients round to nearest double and can
        # cross an integer boundary, breaking bit-parity with the oracle's
        # exact integer division
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F.col("dst"),
                    F.expr("units div out_deg").alias("c"))
        )
        agg = contrib.groupBy("dst").agg(F.sum("c").alias("mass"))
        ranks = (
            ranks.select("node")
            .join(agg, ranks["node"] == agg["dst"], "left")
            .select(
                "node",
                (F.lit(base_units).cast("long")
                 + F.expr(f"({damping_num} * coalesce(mass, 0L)) "
                          f"div {damping_den}"))
                .alias("units"))
        )
        if it % PAGERANK_CADENCE == PAGERANK_CADENCE - 1 \
                or it == iterations - 1:
            ranks = materialize(ranks)
    return ranks


def orient_by_degree(edges: DataFrame,
                     u1: str = "u1", u2: str = "u2") -> DataFrame:
    """Re-orient an undirected edge list (stored once per edge, any
    direction) so each edge points from its (degree, id)-lexicographically
    SMALLER endpoint to the larger — the skew lever for
    ``enumerate_triangles`` on power-law graphs.

    Why it matters: compact-forward's wedge count is Σ_v out_deg(v)². With
    id-orientation a hub whose id happens to be small keeps its full
    degree as OUT-degree, so one hub with degree d contributes d²/2
    wedges. Degree-orientation points every hub edge INWARD (low-degree
    endpoints get the out-edges), which bounds out-degrees by ~√m and the
    total wedge count by O(m^1.5) — the classical compact-forward bound —
    regardless of skew. Measured on a hub-and-spoke fixture in
    scripts/triangle_scale.py --skew (wedge count and wall both collapse).

    (deg, id) is a total order, hence acyclic: each triangle is still
    enumerated exactly once. Cost: one degree aggregate + two hash joins
    of edges against the (node, deg) table — linear, shuffles on node
    keys; at scale the degree table is usually broadcast-size after AQE.
    Integer-only, so downstream results stay oracle-exact.
    """
    e = edges.select(F.col(u1).alias("a"), F.col(u2).alias("b"))
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    j = e.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    return j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias(u1),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias(u2),
    )


def enumerate_triangles(edges: DataFrame,
                        u1: str = "u1", u2: str = "u2") -> DataFrame:
    """Compact-forward triangle enumeration over an ORIENTED edge list
    (each undirected edge stored once with u1 < u2 — or any acyclic
    orientation, e.g. (degree, id)-lexicographic for skewed graphs).

    Two equi-joins: wedges (a<b, b<c) probe the oriented closing edge
    (a, c); each triangle appears exactly once. Cost is O(Σ_v deg(v)²)
    wedge rows — the standard bound; degree-ordered orientation lowers it
    to O(m^1.5) on skewed graphs by pointing hub edges outward. Scaling
    measured in scripts/triangle_scale.py (linear in edge count at fixed
    degree). Returns (a_id, b_id, c_id)."""
    e = edges.select(F.col(u1).alias("u1"), F.col(u2).alias("u2"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.u2") == F.col("e2.u1"))
        .join(e3, (F.col("e1.u1") == F.col("e3.u1"))
              & (F.col("e2.u2") == F.col("e3.u2")))
        .select(F.col("e1.u1").alias("a_id"), F.col("e1.u2").alias("b_id"),
                F.col("e2.u2").alias("c_id"))
    )


def bfs_hop_levels(edges: DataFrame, max_hops: int = 4,
                   src: str = "src", dst: str = "dst") -> DataFrame:
    """Single-source BFS levels: (node, hop) = minimum hop distance from
    the graph's smallest node id, out to ``max_hops``.

    The reference (ilias-lp/canary-weather-etl README.md) ships no graph
    surface; this completes the engine's iterative-graph family
    (connected components, PageRank, triangles, k-core) with multi-hop
    reachability — the primitive behind "documents within k citation
    hops" / contamination-spread audits.

    Scale shape: classic frontier expansion — per hop one equi-join
    (frontier ⨝ edges on src: the frontier is small, Spark broadcasts it
    when it fits, AQE decides at runtime) + one distinct + one left_anti
    against the visited set. The visited set is materialized each
    round, so lineage stays flat and each round's anti-join probes a
    materialized table, not a growing plan. Hop count is fixed and small
    (the use cases above are k≤6); min-hop semantics make the result
    independent of partitioning and join order. The source node is picked
    by a one-row aggregate broadcast (MIN over node ids) — deterministic,
    no driver round-trip.
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .transform(materialize))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    source = nodes.agg(F.min("node").alias("node"))
    visited = (source.withColumn("hop", F.lit(0).cast("int"))
               .transform(materialize))
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier["node"] == e["src"])
               .select(F.col("dst").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("hop", F.lit(h).cast("int")))
        visited = materialize(visited.unionByName(nxt))
        frontier = visited.filter(F.col("hop") == h)
    return visited
