"""Connected components via alternating large-star / small-star.

North-star stage 4 (canonicalization). Implements the two-round MapReduce
CC algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SoCC'14) as iterative DataFrame self-joins:

  large-star: for each node u, hang every neighbor v > u under
              m = min(Γ(u) ∪ {u});
  small-star: orient edges to the smaller endpoint, then hang u and all its
              smaller neighbors under their minimum.

Converges in O(log n) rounds; each round is two shuffles (groupBy + join),
AQE right-sizes the shuffle partitions per round, and `localCheckpoint`
truncates lineage so plans don't grow across iterations (SURVEY.md §4.1).
Node ids are strings (CURIEs); component label = lexicographic min, which
makes the canonical id reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecokg_spark.session import local_frame


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return edges.unionByName(rev).where(F.col("u") != F.col("v")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    sym = _symmetrize(edges)
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    out = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    hang_nbrs = o.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    hang_self = mins.select("u", F.col("m").alias("v"))
    return hang_nbrs.unionByName(hang_self).where(F.col("u") != F.col("v")).distinct()


def _edge_fingerprint(edges: DataFrame) -> int:
    """Order-insensitive content hash of the edge set (convergence check)."""
    row = edges.select(
        # decimal sum: immune to ANSI long-overflow on 64-bit hash values
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)).alias("h"),
        F.count(F.lit(1)).alias("c"),
    ).first()
    return hash((str(row["h"]), row["c"]))


# Below this many edges the graph is collected and solved driver-side —
# the same size-gating logic as a broadcast join: iterative distributed CC
# on a dimension-sized edge list pays O(log n) rounds of job-scheduling
# latency for work a single core finishes in microseconds. The distributed
# path remains the scale path (alias graphs at 10^12-doc scale exceed this).
SMALL_GRAPH_EDGES = 1_000_000


def unionfind_small(pairs) -> dict[str, str]:
    """Driver-side union-find for dimension-sized graphs (broadcast-style
    small-side gate). Takes collected (u, v) pairs; returns
    node -> component (min node id in its component) for every node that
    appears in a pair."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame, max_iter: int = 20, checkpoint_every: int = 2,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """(u,v) undirected edge list -> (node, component) with component =
    min node id in the component. Nodes appearing only as isolated
    vertices must be added by the caller (they are their own component)."""
    e = _symmetrize(edges)
    # size gate via take(N+1): if the scan yields <= N rows, those ARE the
    # whole edge set — one job replaces the checkpoint+count+collect
    # triple the gate used to cost (driver job latency is the serial tail
    # of the whole pipeline, see BENCH/BASELINE.md)
    sample = e.select("u", "v").take(small_graph_edges + 1)
    if len(sample) <= small_graph_edges:
        return local_frame(e.sparkSession, list(unionfind_small(sample).items()),
                           "node string, component string")
    e = e.localCheckpoint(eager=True)
    prev_fp = _edge_fingerprint(e)
    for it in range(max_iter):
        e = _small_star(_large_star(e))
        if (it + 1) % checkpoint_every == 0:
            e = e.localCheckpoint(eager=True)
        fp = _edge_fingerprint(e)
        if fp == prev_fp:
            break
        prev_fp = fp
    # converged star graph: every edge points node -> component min;
    # roots (the mins themselves) may not appear on the left — add them.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return (
        labels.unionByName(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def canonical_map(
    edges: DataFrame, all_nodes: DataFrame,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """(node, canonical) for EVERY node in `all_nodes` (col `node`):
    component min for connected nodes, identity for isolated ones."""
    comp = connected_components(edges, small_graph_edges=small_graph_edges)
    return (
        all_nodes.select("node").distinct()
        .join(comp, "node", "left")
        .select("node", F.coalesce("component", "node").alias("canonical"))
    )
