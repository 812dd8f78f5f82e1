"""Biconnected components and articulation points — Tarjan–Vishkin,
distributed.

Reference semantics (``networkx/algorithms/components/biconnected.py``):
``biconnected_components`` (``:166``) partitions the EDGES into maximal
2-vertex-connected classes; ``articulation_points`` (``:226``) are the
vertices that belong to more than one class (removing one disconnects its
component). The reference runs a sequential DFS with low-links — a DFS
does not distribute, so this module implements the Tarjan–Vishkin (1985)
reduction to connected components, which works over ANY rooted spanning
tree (public algorithm; see also its Wikipedia exposition):

1. BFS spanning forest from each component's min-id root (shared with
   :mod:`linkgraph.algos.bridges`), depths recorded per level.
2. Subtree sizes nd(v) by a bottom-up level sweep (one groupBy per tree
   level, deepest first).
3. **Preorder numbering by top-down level sweep**: preorder(child) =
   preorder(parent) + 1 + Σ nd(earlier siblings); the sibling prefix sums
   are a window partitioned by parent, so each tree level is one join +
   one window — no sequential DFS. Ancestor tests become interval tests:
   u is an ancestor of x iff pre(u) ≤ pre(x) < pre(u) + nd(u).
4. low/high(v) = min/max preorder reachable from subtree(v) via at most
   one non-tree edge — the same bottom-up sweep as nd.
5. Auxiliary graph on tree edges (each named by its child endpoint):
   - non-tree edge (u, w), neither an ancestor of the other → aux edge
     (u, w);
   - tree edge (v, w), v = parent(w), v non-root, with low(w) < pre(v) or
     high(w) ≥ pre(v) + nd(v) → aux edge (v, w).
   Connected components of the auxiliary graph ARE the biconnected
   components; a non-tree edge (u, w) with pre(u) < pre(w) joins the class
   of tree edge (parent(w), w).
6. Articulation points = vertices incident to ≥ 2 distinct classes.

Every step is a join/aggregation or an O(tree-height) superstep loop —
the exact machinery the rest of the engine runs on.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.algos.components import _components
from linkgraph.algos.bridges import _bfs_forest, _fold_up, _simple
from linkgraph.iterutils import SuperstepCache

__all__ = ["biconnected_components", "articulation_points"]


def _subtree_sizes(
    tree: DataFrame, roots: DataFrame, max_depth: int, cache: SuperstepCache
) -> DataFrame:
    """(id, nd): descendants including self — for children AND roots (a
    root's nd is its component size, needed for ancestor interval tests on
    root-incident non-tree edges) — folded up the tree one level per
    superstep, deepest first."""
    one = F.lit(1).cast("long").alias("nd")

    def level(d):
        if d:
            return tree.filter(F.col("depth") == d).select("id", "parent", one)
        return roots.select("id", F.lit(None).cast("long").alias("parent"), one)

    levels = _fold_up(
        level,
        range(max_depth, -1, -1),
        {"nd": (F.sum, lambda own, kids: own + F.coalesce(kids, F.lit(0)))},
        cache,
    )
    return cache.truncate(reduce(DataFrame.unionAll, levels).select("id", "nd"))


def _preorder(
    tree: DataFrame, roots: DataFrame, nd: DataFrame, max_depth: int,
    cache: SuperstepCache,
) -> DataFrame:
    """(id, pre): preorder numbers, one level sweep per tree depth."""
    pre = cache.truncate(roots.select("id", F.lit(0).cast("long").alias("pre")))
    tnd = tree.join(nd, "id").select("id", "parent", "depth", "nd")
    levels = [pre]
    for d in range(1, max_depth + 1):
        lvl = tnd.filter(F.col("depth") == d)
        w = (
            Window.partitionBy("parent")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = lvl.withColumn(
            "off", F.coalesce(F.sum("nd").over(w), F.lit(0))
        )
        nxt = (
            offs.join(pre.select(F.col("id").alias("parent"), F.col("pre").alias("ppre")), "parent")
            .select("id", (F.col("ppre") + 1 + F.col("off")).alias("pre"))
        )
        nxt = cache.truncate(nxt)
        levels.append(nxt)
        pre = nxt
    res = levels[0]
    for l in levels[1:]:
        res = res.unionAll(l)
    return cache.truncate(res)


def _low_high(
    tree: DataFrame, pre: DataFrame, nontree_sym: DataFrame, max_depth: int,
    cache: SuperstepCache,
) -> DataFrame:
    """(id, low, high): min/max preorder reachable from the subtree via ≤1
    non-tree edge, folded up the tree like the subtree sizes."""
    own = (
        pre.select("id", F.col("pre").alias("low"), F.col("pre").alias("high"))
        .unionAll(
            nontree_sym.join(
                pre.select(F.col("id").alias("dst"), "pre"), "dst"
            ).select(
                F.col("src").alias("id"),
                F.col("pre").alias("low"),
                F.col("pre").alias("high"),
            )
        )
        .groupBy("id")
        .agg(F.min("low").alias("low"), F.max("high").alias("high"))
    )
    acc = cache.truncate(own)
    levels = _fold_up(
        lambda d: tree.filter(F.col("depth") == d).select("id", "parent").join(acc, "id"),
        range(max_depth, 0, -1),
        {
            "low": (F.min, lambda own, kids: F.least(own, F.coalesce(kids, own))),
            "high": (F.max, lambda own, kids: F.greatest(own, F.coalesce(kids, own))),
        },
        cache,
    )
    # roots are not tree-edge children, so they are not needed here
    return cache.truncate(
        reduce(DataFrame.unionAll, levels).select("id", "low", "high")
    )


def biconnected_components(g: SparkGraph) -> DataFrame:
    """(u, v, block): every edge with its biconnected-component label
    (``biconnected.py:166``; labels are arbitrary-but-stable ids — the min
    tree-edge-child id of the class)."""
    if g.directed:
        raise NotImplementedForDirected(
            "biconnected_components: not implemented for directed type"
        )
    with SuperstepCache(g.spark) as cache:
        e = cache.pin(_simple(g))
        tree, max_depth = _bfs_forest(g, e, cache)  # (id=child, parent, depth)
        if max_depth == 0:
            return g.spark.createDataFrame([], "u long, v long, block long")
        roots = (
            tree.select(F.col("parent").alias("id"))
            .distinct()
            .join(tree.select("id"), "id", "left_anti")
        )
        nd = _subtree_sizes(tree, roots, max_depth, cache)
        pre = _preorder(tree, roots, nd, max_depth, cache)

        tree_pairs = tree.select(
            F.least("id", "parent").alias("u"), F.greatest("id", "parent").alias("v")
        )
        nontree = e.join(tree_pairs, ["u", "v"], "left_anti")
        nontree_sym = nontree.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionAll(nontree.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        lh = _low_high(tree, pre, nontree_sym, max_depth, cache)

        # relabel non-tree edges by preorder, classify ancestor relation
        pnd = pre.join(nd, "id").select("id", "pre", "nd")
        nt = (
            nontree.join(
                pnd.select(F.col("id").alias("u"), F.col("pre").alias("pu"), F.col("nd").alias("ndu")), "u"
            )
            .join(pnd.select(F.col("id").alias("v"), F.col("pre").alias("pv")), "v")
            .select(
                F.when(F.col("pu") < F.col("pv"), F.struct(F.col("u").alias("a"), F.col("v").alias("b"), F.col("pu").alias("pa"), F.col("pv").alias("pb"), F.col("ndu").alias("nda")))
                .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b"), F.col("pv").alias("pa"), F.col("pu").alias("pb"), F.lit(None).cast("long").alias("nda")))
                .alias("s"),
            )
            .select("s.a", "s.b", "s.pa", "s.pb", "s.nda")
        )
        # nda may be null when v was the lower-preorder endpoint; rejoin
        nt = (
            nt.join(pnd.select(F.col("id").alias("a"), F.col("nd").alias("nda2")), "a")
            .select("a", "b", "pa", "pb", F.col("nda2").alias("nda"))
        )
        unrelated = nt.filter(F.col("pb") >= F.col("pa") + F.col("nda"))
        aux1 = unrelated.select(F.col("a").alias("x"), F.col("b").alias("y"))

        # rule 2: tree edge (v=parent(w), w), v non-root
        vstats = pnd.select(
            F.col("id").alias("parent"), F.col("pre").alias("pv"), F.col("nd").alias("ndv")
        )
        nonroot = tree.select("id", "parent").join(
            tree.select(F.col("id").alias("parent")), "parent", "left_semi"
        )
        aux2 = (
            nonroot.join(vstats, "parent")
            .join(lh.select(F.col("id"), "low", "high"), "id")
            .filter(
                (F.col("low") < F.col("pv"))
                | (F.col("high") >= F.col("pv") + F.col("ndv"))
            )
            .select(F.col("parent").alias("x"), F.col("id").alias("y"))
        )

        aux = aux1.unionAll(aux2)
        aux_g = SparkGraph(
            aux.select(F.col("x").alias("src"), F.col("y").alias("dst")),
            vertices=tree.select("id"),
            directed=False,
            coalesce_edges=True,
        )
        blocks = _components(aux_g, cache)  # (id=tree child, component)

        tree_blocks = (
            tree.select("id", "parent")
            .join(blocks, "id")
            .select(
                F.least("id", "parent").alias("u"),
                F.greatest("id", "parent").alias("v"),
                F.col("component").alias("block"),
            )
        )
        # non-tree edge (a, b) with pre(a) < pre(b) joins the class of tree
        # edge (parent(b), b)
        nt_blocks = (
            nt.select("a", "b")
            .join(blocks.withColumnRenamed("id", "b"), "b")
            .select(
                F.least("a", "b").alias("u"),
                F.greatest("a", "b").alias("v"),
                F.col("component").alias("block"),
            )
        )
        return cache.result(cache.truncate(tree_blocks.unionAll(nt_blocks)))


def articulation_points(g: SparkGraph) -> DataFrame:
    """(id): vertices in more than one biconnected component
    (``biconnected.py:226``)."""
    bc = biconnected_components(g)
    ends = bc.select(F.col("u").alias("id"), "block").unionAll(
        bc.select(F.col("v").alias("id"), "block")
    )
    return (
        ends.groupBy("id")
        .agg(F.countDistinct("block").alias("nb"))
        .filter(F.col("nb") > 1)
        .select("id")
    )


def is_biconnected(g: SparkGraph) -> bool:
    """True iff the undirected graph is connected, has ≥ 2 nodes, and its
    edges form exactly one biconnected block covering every node
    (``networkx/algorithms/components/biconnected.py:13``). One block
    labeling + two aggregates."""
    if g.directed:
        raise NotImplementedForDirected(
            "is_biconnected: not implemented for undirected type"
        )
    n = g.number_of_nodes()
    if n < 2:
        return False
    if n == 2:
        # the reference: a single edge on two nodes IS biconnected
        return g.edges.filter(F.col("src") != F.col("dst")).limit(1).count() == 1
    blocks = biconnected_components(g).persist()
    try:
        if blocks.select("block").distinct().limit(2).count() != 1:
            return False
        covered = (
            blocks.select(F.col("u").alias("id"))
            .unionAll(blocks.select(F.col("v").alias("id")))
            .distinct()
            .count()
        )
        return covered == n
    finally:
        blocks.unpersist()


def biconnected_component_edges(g: SparkGraph) -> DataFrame:
    """``biconnected.py`` ``biconnected_component_edges`` — the same
    edge→block labeling :func:`biconnected_components` computes; the
    reference merely regroups it as per-block edge lists. Alias keeping
    the engine's flat relational shape (u, v, block)."""
    return biconnected_components(g)
