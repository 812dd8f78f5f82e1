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
4. Subtree sums run as a bottom-up level sweep: deepest level first, each
   level's nodes push their accumulated value to their parents — one
   groupBy per level, O(forest height) rounds (the BFS tree's height is
   the component radius, small for web-scale graphs).

Non-tree edges are never bridges; tree edges with subtree sum 0 are.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.algos.components import _components, connected_components
from linkgraph.iterutils import SuperstepCache, row_count

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


def _bfs_forest(
    g: SparkGraph, e: DataFrame, cache: SuperstepCache
) -> "tuple[DataFrame, int]":
    """(child, parent, depth) rows of a BFS spanning forest rooted at each
    component's min id, and the forest's depth. Deterministic: ties pick
    the minimum parent. One superstep per level: in an undirected graph a
    level's neighbours lie one level up, on the level itself or one level
    down, so the next level is the frontier's neighbours minus the last
    two levels (no growing visited set)."""
    sym = e.select("u", "v").unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    comp = _components(g, cache)
    frontier = cache.truncate(comp.select(F.col("component").alias("id")).distinct())
    done = frontier
    parents = []
    while True:
        nxt = (
            sym.join(frontier.select(F.col("id").alias("u")), "u")
            .select(F.col("v").alias("id"), F.col("u").alias("parent"))
            .join(done, "id", "left_anti")
            .groupBy("id")
            .agg(F.min("parent").alias("parent"))
            .select("id", "parent", F.lit(len(parents) + 1).cast("long").alias("depth"))
        )
        nxt, seen = cache.truncate(nxt, figures=row_count())
        if seen["rows"] == 0:
            break
        parents.append(nxt)
        done = frontier.unionAll(nxt.select("id"))
        frontier = nxt.select("id")
    if not parents:
        return g.spark.createDataFrame([], "id long, parent long, depth long"), 0
    out = parents[0]
    for p in parents[1:]:
        out = out.unionAll(p)
    return cache.truncate(out), len(parents)


def _fold_up(level, depths, fold: dict, cache: SuperstepCache) -> list:
    """Snapshots ``(id, parent, *values)`` of the forest's levels at
    ``depths`` (deepest first), each level's values folded up from its
    children one level per superstep: a level's children lie one level
    deeper, so they are already final. ``level(d)`` gives depth ``d``'s
    ``(id, parent, *values)`` with each node's own values; ``fold`` maps a
    value to (its aggregate over a node's children, ``combine(own,
    aggregate)``), the aggregate null for a node without children."""
    levels, pushed = [], None
    for d in depths:
        lvl, kids = level(d), lambda c: F.lit(None)
        if pushed is not None:
            lvl, kids = lvl.join(pushed, "id", "left"), lambda c: F.col("_" + c)
        lvl = cache.truncate(
            lvl.select(
                "id",
                "parent",
                *(comb(F.col(c), kids(c)).alias(c) for c, (_, comb) in fold.items()),
            )
        )
        levels.append(lvl)
        pushed = lvl.groupBy(F.col("parent").alias("id")).agg(
            *(agg(c).alias("_" + c) for c, (agg, _) in fold.items())
        )
    return levels


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
    with SuperstepCache(g.spark) as cache:
        e = cache.pin(_simple(g))
        tree, depth = _bfs_forest(g, e, cache)  # (id=child, parent, depth)
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
        # fold the residues up the tree, deepest level first
        acc = cache.truncate(acc)
        levels = _fold_up(
            lambda d: tree.filter(F.col("depth") == d).select("id", "parent").join(acc, "id"),
            range(depth, 0, -1),
            {
                a: (F.sum, lambda own, kids, p=p: F.pmod(own + F.coalesce(kids, F.lit(0)), F.lit(p)))
                for a, p in (("a1", _P1), ("a2", _P2))
            },
            cache,
        )
        if not levels:
            return e.limit(0).select("u", "v")
        out = reduce(DataFrame.unionAll, levels).filter(
            (F.col("a1") == 0) & (F.col("a2") == 0)
        )
        return cache.result(
            cache.truncate(
                out.select(
                    F.least("id", "parent").alias("u"),
                    F.greatest("id", "parent").alias("v"),
                )
            )
        )


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
