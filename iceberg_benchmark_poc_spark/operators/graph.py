"""Connected components and BFS over (src, dst) edge DataFrames.

``connected_components`` is the one CC operator. It runs min-label
propagation (the DataFrame form of Pregel/GraphX cc), which converges in
O(diameter) rounds: two or three for the near-clique graphs of duplicate
clusters. A path graph needs n rounds, so past ``MAX_LP_ROUNDS`` the
operator switches to ``connected_components_star``: the alternating
large-star / small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public literature), which converges in
O(log n) rounds on any graph shape. Both return the same mapping, so graph
shape costs latency, never correctness.

The star operators are one groupBy each per round:

- large-star: for each node u, connect every strictly-larger neighbor to the
  minimum of u's neighborhood (including u itself);
- small-star: orient edges toward smaller ids; for each node u, connect all
  its (smaller) neighbors and u to the minimum of the closed neighborhood.

The star fixed point is a star forest: every node points at its
component's minimum. Both algorithms detect convergence with one scalar agg
per round: a stable label sum (labels never increase) or a stable edge
multiset hash.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

MAX_LP_ROUNDS = 15  # label-propagation round cap (a diameter bound)
MAX_STAR_ROUNDS = 25  # ceil(log2(n)) + slack; a backstop, not the driver


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected (src, dst) view: both orientations of every edge, self-loops
    dropped. One explode per input row, so an uncut upstream runs once (a
    union of the two orientations runs it once per direction)."""
    return (
        edges.filter("src <> dst")
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for every node on an edge; component = min node id.

    Input: DataFrame with columns (src, dst), read as undirected. Nodes
    without an edge are the caller's concern. Label propagation runs over
    the persisted symmetric edge set; each round is one join + groupBy +
    join, cut with a lazy localCheckpoint, and a round's convergence check
    is the agg that materializes its cut: one job per round. Past
    ``MAX_LP_ROUNDS`` the star algorithm takes over.
    """
    sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    # round 0 fused into label construction: every node starts at
    # min(itself, its direct neighbors), one aggregation over sym; for
    # near-clique components this already IS the fixed point
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("node", F.least(F.col("node"), F.col("nbr_min")).alias("component"))
        .localCheckpoint(eager=False)
    )
    # labels never increase, so an unchanged SUM proves an unchanged label
    # vector. Every round is checked: a missed converged round costs a full
    # join+groupBy+join round, more than the scalar fold (checking sparsely,
    # or comparing rounds r and r-1 in one job, ran more jobs on the fixtures)
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(MAX_LP_ROUNDS):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias(
                    "component"
                ),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # high diameter (chained near-duplicates, a path): stopping here
        # would under-merge, so recompute with the O(log n) star algorithm
        labels = connected_components_star(sym)
    sym.unpersist()
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(closed neighborhood)."""
    nbr = symmetrize(edges)
    m = nbr.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        nbr.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient toward smaller ids; connect each small neighbor (and u) to m."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter("u <> v")
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(m, "u")
    to_small = joined.select(F.col("v").alias("src"), F.col("m").alias("dst"))
    u_to_m = joined.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return to_small.unionByName(u_to_m).filter("src <> dst").distinct()


def connected_components_star(edges: DataFrame) -> DataFrame:
    """(node, component) for every node on an edge; component = min node id.

    Input: DataFrame with columns (src, dst). Output covers every distinct
    endpoint; singleton nodes (no edges) are the caller's concern, exactly
    as in ``connected_components``.
    """
    cur = edges.select("src", "dst").filter("src <> dst").distinct().localCheckpoint(eager=False)
    prev_sig = None
    converged = False
    for _ in range(MAX_STAR_ROUNDS):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        # edge-multiset signature: order-insensitive sum of a mixed hash —
        # one scalar agg materializes the round (the same one-job-per-round
        # pattern as the label-sum check)
        sig = cur.select(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        ).collect()[0]
        sig = (sig["s"], sig["n"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # callers use this as the CORRECTNESS fallback for high-diameter
        # graphs — returning an under-merged (and possibly inconsistent)
        # mapping here would silently break that guarantee. 25 rounds covers
        # ~2^25 nodes; raise the cap for larger graphs rather than trusting
        # a truncated fixed point.
        raise RuntimeError(
            f"connected_components_star did not converge in {MAX_STAR_ROUNDS} rounds; "
            "increase MAX_STAR_ROUNDS (O(log2 n) rounds are required)"
        )
    # at the fixed point every edge is (node, root); nodes that ARE roots
    # appear only as dst — union them in as their own component
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("node")).distinct().join(
        members.select(F.col("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return members.unionByName(roots)


def bfs_distances(edges: DataFrame, seeds: DataFrame, hops: int) -> DataFrame:
    """Frontier-pruned BFS: exact min hop distance from a seed set.

    ``edges`` is a directed (src, dst) edge list (symmetrize before calling
    for undirected semantics); ``seeds`` is a (node) DataFrame. Returns
    (node, dist) for every node reachable within ``hops``, dist being the
    true minimum hop count (BFS optimality: a node is committed the first
    round it appears, so later paths can never improve it).

    Each round expands only the previous frontier and anti-joins the
    visited set — |frontier|-proportional work per round, never
    |reachable|-proportional. Every frontier is lazily localCheckpoint-ed:
    each is referenced twice (the union and the next round), so without
    lineage truncation the plan re-derives earlier rounds combinatorially.
    The unrolled plan stays lazy end to end — no collect, no driver state
    beyond the loop index.
    """
    seeds = seeds.select("node").distinct()
    visited = seeds.withColumn("dist", F.lit(0).cast("bigint"))
    frontier = seeds
    for hop in range(1, hops + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(nxt.withColumn("dist", F.lit(hop).cast("bigint")))
        frontier = nxt
    return visited
