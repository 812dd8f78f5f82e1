"""Bridges and 2-edge-connected components, fully distributed.

Reference semantics (``networkx/algorithms/bridges.py:12`` ``bridges``,
``:108`` ``has_bridges``; ``networkx/algorithms/connectivity/
edge_kcomponents.py`` ``k_edge_components(k=2)``): a bridge is an edge whose
removal disconnects its component; the 2-edge-connected components are the
classes of the bridge-free graph.

The reference runs a sequential DFS with chain decomposition. A DFS does
not distribute, so this module uses the classic random-cancellation
certificate instead (Pătrașcu-style XOR trick, here in Z_p so Spark's
map-side-combinable SUM aggregate applies):

1. Build a BFS spanning forest: connected-components roots (the existing
   large-star/small-star CC gives each component its min-id root), then a
   multi-source BFS that records a ``min(parent)`` per newly reached node.
   Each level is one frontier⋈arcs join + aggregation.
2. Every NON-tree edge draws two deterministic pseudo-random values
   (xxhash64 mod two 31-bit primes) and deposits +value at both endpoints.
3. The label of a tree edge (parent, child) is the sum of deposits in
   child's subtree, mod p. A non-tree edge with both endpoints in the
   subtree contributes 2v and one outside contributes v — an edge is a
   bridge iff NO non-tree edge crosses it, iff its subtree sum over the
   *endpoint-difference* encoding (+v at one endpoint, −v ≡ p−v at the
   other) is 0 mod both primes (false-positive probability ≈ 2⁻⁶², and
   deterministic for a given ``seed``).
4. Subtree sums run by leaf peeling: each round the current leaves push
   their accumulated value to their parents — one groupBy per round,
   O(forest height) rounds (the BFS tree's height is the component radius,
   small for web-scale graphs).

Non-tree edges are never bridges; tree edges with subtree sum 0 are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.algos.components import connected_components
from linkgraph.iterutils import SuperstepCache

__all__ = ["bridges", "has_bridges", "two_edge_connected_components"]

_P1 = 2147483647  # 2^31 - 1 (Mersenne)
_P2 = 2147483629


def _simple(g: SparkGraph) -> DataFrame:
    if g.directed:
        raise NotImplementedForDirected(
            "bridges: not implemented for directed type"
        )
    return (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )


def _bfs_forest(g: SparkGraph, e: DataFrame, cache: SuperstepCache) -> DataFrame:
    """(child, parent, depth) rows of a BFS spanning forest rooted at each
    component's min id. Deterministic: ties pick the minimum parent."""
    sym = e.select("u", "v").unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    comp = connected_components(g)
    roots = comp.select(F.col("component").alias("id")).distinct()
    visited = cache.truncate(roots)
    frontier = visited
    parents = []
    depth = 0
    while True:
        depth += 1
        nxt = (
            sym.join(frontier.select(F.col("id").alias("u")), "u")
            .select(F.col("v").alias("id"), F.col("u").alias("parent"))
            .join(visited, "id", "left_anti")
            .groupBy("id")
            .agg(F.min("parent").alias("parent"))
            .select("id", "parent", F.lit(depth).cast("long").alias("depth"))
        )
        nxt = cache.truncate(nxt)
        if nxt.isEmpty():
            break
        parents.append(nxt)
        frontier = nxt.select("id")
        visited = cache.truncate(visited.unionAll(frontier), retire=visited)
    if not parents:
        return g.spark.createDataFrame([], "id long, parent long, depth long")
    out = parents[0]
    for p in parents[1:]:
        out = out.unionAll(p)
    return cache.truncate(out)


def bridges(g: SparkGraph, root=None, seed: int = 42) -> DataFrame:
    """(u, v): all bridges, canonical u < v (``bridges.py:12``).
    ``root=`` restricts to the connected component containing that node
    (the reference kwarg; raises NodeNotFound on an absent root)."""
    if root is not None:
        from linkgraph.exceptions import NodeNotFound
        from linkgraph.algos.components import connected_components

        if not g.vertices.filter(F.col("id") == int(root)).limit(1).count():
            raise NodeNotFound(f"node {root} not in G")
        cc = connected_components(g.undirected_view() if g.directed else g)
        comp = cc.filter(F.col("id") == int(root)).select("component")
        members = cc.join(comp, "component", "left_semi").select("id")
        out = bridges(g, seed=seed)
        return (
            out.join(members.withColumnRenamed("id", "u"), "u", "left_semi")
        )
    e = _simple(g).persist()
    cache = SuperstepCache(g.spark)
    try:
        tree = _bfs_forest(g, e, cache)  # (id=child, parent)
        tree_pairs = tree.select(
            F.least("id", "parent").alias("u"),
            F.greatest("id", "parent").alias("v"),
        )
        nontree = e.join(tree_pairs, ["u", "v"], "left_anti")
        # +h at u, (p - h) at v: crossing edges leave a nonzero residue,
        # fully-contained edges cancel mod p.
        h1 = F.pmod(F.xxhash64("u", "v", F.lit(seed)), F.lit(_P1))
        h2 = F.pmod(F.xxhash64("u", "v", F.lit(seed + 1)), F.lit(_P2))
        deposits = nontree.select(
            F.col("u").alias("id"), h1.alias("a1"), h2.alias("a2")
        ).unionAll(
            nontree.select(
                F.col("v").alias("id"),
                (F.lit(_P1) - h1).alias("a1"),
                (F.lit(_P2) - h2).alias("a2"),
            )
        )
        acc = (
            tree.select("id")
            .join(
                deposits.groupBy("id").agg(
                    F.pmod(F.sum("a1"), F.lit(_P1)).alias("a1"),
                    F.pmod(F.sum("a2"), F.lit(_P2)).alias("a2"),
                ),
                "id",
                "left",
            )
            .select(
                "id",
                F.coalesce("a1", F.lit(0)).alias("a1"),
                F.coalesce("a2", F.lit(0)).alias("a2"),
            )
        )
        remaining = cache.truncate(tree)
        acc = cache.truncate(acc)
        found = []
        while not remaining.isEmpty():
            inner = remaining.select(F.col("parent").alias("id")).distinct()
            leaves = remaining.join(inner, "id", "left_anti")  # (id, parent)
            leaf_acc = leaves.join(acc, "id")  # (id, parent, a1, a2)
            found.append(
                cache.truncate(
                    leaf_acc.filter((F.col("a1") == 0) & (F.col("a2") == 0)).select(
                        F.least("id", "parent").alias("u"),
                        F.greatest("id", "parent").alias("v"),
                    )
                )
            )
            pushed = leaf_acc.groupBy(F.col("parent").alias("id")).agg(
                F.sum("a1").alias("p1"), F.sum("a2").alias("p2")
            )
            acc = cache.truncate(
                acc.join(leaves.select("id"), "id", "left_anti")
                .join(pushed, "id", "left")
                .select(
                    "id",
                    F.pmod(F.col("a1") + F.coalesce("p1", F.lit(0)), F.lit(_P1)).alias("a1"),
                    F.pmod(F.col("a2") + F.coalesce("p2", F.lit(0)), F.lit(_P2)).alias("a2"),
                ),
                retire=acc,
            )
            remaining = cache.truncate(
                remaining.join(leaves.select("id"), "id", "left_anti"),
                retire=remaining,
            )
        if not found:
            return e.limit(0).select("u", "v")
        out = found[0]
        for f_ in found[1:]:
            out = out.unionAll(f_)
        return out.localCheckpoint()
    finally:
        e.unpersist()


def has_bridges(g: SparkGraph, seed: int = 42) -> bool:
    """``bridges.py:108``."""
    return not bridges(g, seed=seed).isEmpty()


def two_edge_connected_components(g: SparkGraph, seed: int = 42) -> DataFrame:
    """(id, component): the 2-edge-connected classes — connected components
    after deleting every bridge (``k_edge_components(G, k=2)``,
    ``edge_kcomponents.py:37``; component label = min member id)."""
    b = bridges(g, seed=seed)
    e = _simple(g).join(b, ["u", "v"], "left_anti").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    g2 = SparkGraph(e, g.vertices.select("id"), directed=False, coalesce_edges=False)
    return connected_components(g2)
