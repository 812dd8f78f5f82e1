"""Dominance — ``networkx/algorithms/dominance.py`` (``immediate_dominators``
Cooper-Harvey-Kennedy, ``dominance_frontiers``).

The reference walks the idom tree sequentially in reverse postorder. The
distributed twin is the *classic iterative dominance dataflow* the CHK paper
itself engineers around:

    Dom(n) = {n} ∪ ⋂_{p ∈ preds(n)} Dom(p),    Dom(start) = {start}

iterated Jacobi-style to the maximum fixpoint, with the TOP (= all nodes)
initial value represented SPARSELY: an undefined predecessor simply drops
out of the intersection (intersecting with TOP is the identity), so the
state is a pair table ``(n, d)`` = "d dominates n" that only ever holds
reachable nodes. One round is two joins and two aggregations:

1. ``defined`` preds of each node (semi-join against the current pairs);
2. per-(n, d) count of defined preds whose Dom contains d, kept when it
   equals the node's defined-pred count — a distributed set intersection
   as a group-by, the same shape as the k-truss support count.

State size is Σ|Dom(n)| = Σ depth(n) in the dominator tree — the same
O(n·depth) class as the DAG transitive closure this repo already ships;
convergence is detected by an xxhash64 checksum, not a driver collect.

``immediate_dominators``: dominators of a node form a chain, so idom(n) is
the dominator (≠ n) with the LARGEST dominator set — one join against the
per-node set sizes, no tree walk.

``dominance_frontiers``: DF(n) = {m : n dominates a pred of m, n does not
strictly dominate m} — one join of the pair table against the arc table
plus an anti-join, directly from the definition.

Self-loops are dropped (a self-arc adds no new vertex to any path, so it
never changes dominance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache
from linkgraph.exceptions import NetworkXError


def _preds(g: SparkGraph) -> DataFrame:
    """(n, p): p is a predecessor of n. Symmetric arcs when undirected —
    the reference runs on either graph type via ``G.pred`` / neighbors."""
    e = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    arcs = e
    if not g.directed:
        arcs = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return arcs.select(F.col("dst").alias("n"), F.col("src").alias("p"))


def dominator_pairs(g: SparkGraph, start, *, max_iter: int = 100) -> DataFrame:
    """(n, d): d dominates n, for every node n reachable from ``start``
    (every node dominates itself; ``start`` dominates everything)."""
    spark = g.spark
    start = int(start)
    with SuperstepCache(spark) as cache:
        preds = cache.truncate(_preds(g))

        root = spark.createDataFrame([(start, start)], "n long, d long")
        dom = cache.truncate(root)
        prev_sig = None
        for _ in range(max_iter):
            defined = dom.select("n").distinct()
            # defined predecessors of every non-start node
            defp = (
                preds.join(defined.select(F.col("n").alias("p")), "p", "left_semi")
                .filter(F.col("n") != start)
            )
            npred = defp.groupBy("n").agg(F.count(F.lit(1)).alias("np"))
            # ⋂ over defined preds: d survives iff it dominates ALL of them
            inter = (
                defp.join(dom.select(F.col("n").alias("p"), "d"), "p")
                .groupBy("n", "d")
                .agg(F.count(F.lit(1)).alias("c"))
                .join(npred, "n")
                .filter(F.col("c") == F.col("np"))
                .select("n", "d")
            )
            new_dom = (
                root.unionByName(npred.select("n", F.col("n").alias("d")))
                .unionByName(inter)
                .distinct()
            )
            dom, sig = cache.truncate(
                new_dom,
                retire=dom,
                figures={
                    "c": F.count(F.lit(1)),
                    "h": F.sum(F.xxhash64("n", "d").cast("decimal(38,0)")),
                },
            )
            if prev_sig == (sig["c"], sig["h"]):
                return cache.result(dom)
            prev_sig = (sig["c"], sig["h"])
        raise NetworkXError(f"dominator fixpoint did not converge in {max_iter} rounds")


def immediate_dominators(g: SparkGraph, start, *, max_iter: int = 100) -> DataFrame:
    """(id, idom) for every node reachable from ``start`` EXCEPT ``start``
    itself — exactly the reference's ``immediate_dominators`` dict contract
    (``networkx/algorithms/dominance.py:12``: "each node reachable from
    `start`, except for `start` itself")."""
    dom = dominator_pairs(g, start, max_iter=max_iter)
    sizes = dom.groupBy("n").agg(F.count(F.lit(1)).alias("sz"))
    start = int(start)
    idom = (
        dom.filter((F.col("n") != F.col("d")))
        .join(sizes.select(F.col("n").alias("d"), "sz"), "d")
        .groupBy("n")
        .agg(F.max(F.struct("sz", "d")).alias("m"))
        .select(F.col("n").alias("id"), F.col("m.d").alias("idom"))
    )
    return idom.filter(F.col("id") != start)


def dominance_frontiers(g: SparkGraph, start, *, max_iter: int = 100) -> DataFrame:
    """(id, frontier) pairs: ``frontier`` ∈ DF(id). Reachable nodes with an
    empty frontier simply have no rows — the reference returns them as empty
    sets (``dominance.py:78``); callers wanting the full keyed view join
    against ``dominator_pairs(...).select('n').distinct()``."""
    dom = dominator_pairs(g, start, max_iter=max_iter)
    preds = _preds(g)
    # n dominates pred p of m  →  candidate (n_dom = d, m)
    cand = (
        dom.select(F.col("n").alias("p"), F.col("d").alias("dom"))
        .join(preds.select(F.col("n").alias("m"), "p"), "p")
        .select("dom", "m")
        .distinct()
        # m must itself be reachable (its preds may include reachable nodes
        # even when m only has unreachable... cannot: a reachable pred makes
        # m reachable; candidates are reachable by construction)
    )
    strict = dom.filter(F.col("n") != F.col("d")).select(
        F.col("d").alias("dom"), F.col("n").alias("m")
    )
    return cand.join(strict, ["dom", "m"], "left_anti").select(
        F.col("dom").alias("id"), F.col("m").alias("frontier")
    )
