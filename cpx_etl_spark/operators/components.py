"""Connected components over pair edges (dedup clustering).

Near-dup PAIRS become dedup CLUSTERS: every document gets the minimum
doc id reachable through the pair graph as its cluster id, and one
representative per cluster survives.

Algorithm: iterative min-label propagation —

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until a fixed point. Each iteration is one shuffle
(join + groupBy-min); convergence needs at most graph-diameter
iterations, and near-dup graphs are shallow (clusters are cliques or
short chains), so the default cap is generous. This is the standard
large-graph CC formulation (label propagation / hash-min), not a
driver-side union-find — at 100 TB the edge list never leaves the
cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpx_etl_spark.operators.cut import cut


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Return (id, component) where component = min id in the group.

    nodes: one column `id_col` (all vertices, including isolated ones).
    edges: (src_col, dst_col) undirected pairs.
    Converges early when an iteration changes nothing.
    """
    # Materialize the edge list ONCE: its lineage is the full upstream
    # candidate/verify pipeline, which would otherwise be recomputed in
    # every propagation round. (The standard iterative-algorithm
    # pattern — GraphX does the same; what a lost executor costs is
    # `cut`'s policy.)
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionAll(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .transform(cut, eager=True)
    )
    labels = nodes.select(F.col(id_col).alias("a"), F.col(id_col).alias("label"))
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("a", "b"), on="b")
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, on="a", how="left")
            .select(
                "a",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
        ).transform(cut, eager=True)  # checkpoint FIRST, then the
        # fixed-point diff below joins two materialized frames (one
        # cheap job per round instead of a full recompute + a job)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="a")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("a").alias(id_col), F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str,
    pair_a: str = "doc_a", pair_b: str = "doc_b",
) -> DataFrame:
    """Cluster assignment for every row of `df`: component id of the
    near-dup graph (own id when unpaired) + survivor flag (the minimum
    id in its cluster)."""
    nodes = df.select(F.col(id_col))
    comps = connected_components(
        nodes, pairs.select(pair_a, pair_b), id_col=id_col,
        src_col=pair_a, dst_col=pair_b,
    )
    return comps.withColumn("is_survivor", F.col(id_col) == F.col("component"))


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): converges in O(log^2 n) ROUNDS regardless of graph
    diameter, where min-label propagation needs diameter rounds — a
    10^6-node path graph takes ~40 star rounds vs 10^6 propagation
    rounds, which is the difference between a job and a hang at 100 TB.
    Each round is two edge-keyed aggregations + joins (no driver-side
    graph state; the edge list never leaves the cluster):

      large-star(u): m = min(N(u) + {u}); relink every LARGER
        neighbor v > u to m  ->  edges stay canonical (big, small)
        because m <= u < v.
      small-star(u): over canonical edges (u, v<u): m = min(N<(u));
        relink u and all its smaller neighbors to m.

    Fixed point: a union of stars centered at each component's minimum
    id, detected by symmetric exceptAll emptiness (two bounded probe
    jobs per round on checkpointed frames). Raises on non-convergence
    (fail-fast, never wrong-answer). Returns (id, component)."""
    # canonical direction: (big, small)
    e = (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
            F.least(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(cut, eager=True)
    )
    for _ in range(max_iter):
        # large-star over the symmetric view: neighbors of a = both
        # directions of the canonical list
        sym = e.select("u", "v").unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over canonical (u, v<u)
        nm = large.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            large.join(nm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        center = nm.select(F.col("u"), F.col("m").alias("v"))
        new_e = relink.unionAll(center).distinct().transform(cut, eager=True)
        stable = (
            new_e.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(new_e).limit(1).count() == 0
        )
        # The superseded round's cut blocks are NOT
        # releasable via Dataset.unpersist() (it only uncaches
        # cache-manager entries; the checkpoint persists the underlying
        # RDD directly — code-review r10). They are freed by the
        # ContextCleaner once the JVM RDD becomes unreachable, which
        # the rebind below enables by dropping the last Python
        # reference to the old frame.
        e = new_e
        if stable:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixed point in {max_iter} rounds"
        )
    # stars centered at the component minimum: every non-center node
    # has exactly one smaller neighbor (the center); centers/singletons
    # map to themselves
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.select(F.col(id_col).alias("u"))
        .join(comp, "u", "left")
        .select(
            F.col("u").alias(id_col),
            F.coalesce("component", "u").alias("component"),
        )
    )


def bfs_min_hop(edges: DataFrame, seeds: DataFrame, k: int) -> DataFrame:
    """Hop-synchronous BFS over directed ``edges`` (a, b) from the
    ``seeds`` frame (node): k rounds of frontier JOIN edges with an
    anti-join against the visited set — each node is claimed by its
    MINIMUM hop exactly as BFS defines. Returns (node, hop), hop in
    [0, k]. Each round is one hash join + distinct + anti-join, all
    key-partitioned — the shape that walks a trillion-edge graph hop
    by hop; a hypothesis property test pins equality with a
    single-machine reference BFS on random graphs.

    Each round's frontier increment is localCheckpoint'ed (the CC
    operators' pattern): without it, round h's anti-join re-evaluates
    round h-1's plan on top of the frontier chain — lineage doubles per
    hop and the edge derivation would be recomputed ~2^k times, a
    silent exponential for deeper walks. Only the FRONTIER-sized
    increments materialize; the visited set stays a lazy union of the
    checkpointed leaves (k tiny scans, no per-round rewrite of the
    growing set). The EDGE LIST is checkpointed once up front: with the
    rounds split into separate jobs, the single-plan ReusedExchange
    dedup that used to share one edge-derivation shuffle across the
    lazy rounds no longer applies, so an un-materialized edge frame
    would be rebuilt from source every round (measured 4x on the sf1
    co-purchase graph)."""
    from pyspark.sql import functions as F

    edges = cut(edges, eager=True)
    visited = (
        seeds.select("node")
        .distinct()
        .withColumn("hop", F.lit(0))
        .transform(cut, eager=True)
    )
    frontier = visited.select("node")
    for h in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), on="node", how="left_anti")
            .withColumn("hop", F.lit(h))
            .transform(cut, eager=True)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited
