"""Clique enumeration — the distributable slice of
``networkx/algorithms/clique.py`` (``find_cliques:103`` Bron-Kerbosch,
``enumerate_all_cliques:50``, ``number_of_cliques``).

The reference's recursive Bron-Kerbosch is a depth-first search with
pivoting — inherently sequential. The distributed twin is the standard
ordered k-clique JOIN plan (the triangles wedge-join generalized, cf.
Afrati et al., "Enumerating subgraph instances using map-reduce"):

1. Orient every edge by the degree total order (``du < dv`` or tie on id)
   — the same acyclic orientation triangle counting uses, which caps the
   join fan-out at the graph's degeneracy instead of its max degree.
2. A (k+1)-clique is a k-clique ``M`` plus a node ``c`` reachable from
   M's LAST member via an oriented arc and adjacent to every member:
   one equi-join to produce candidates, one explode+join+count to verify
   full adjacency — two shuffles per size step, all sizes batched per
   step, no recursion.

``enumerate`` state grows with the clique count — the intrinsic output
size (the reference pays the same in time). ``max_size`` caps the
extension depth; without it the loop stops at the clique number ω(G)
when no extension survives.

``find_cliques`` (maximal cliques) = the k-cliques minus those contained
in any (k+1)-clique; containment is an anti-join against the
(k+1)-cliques' drop-one subsets (arrays stay sorted in orientation
order, so subset = array equality after removing one position).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count
from linkgraph.exceptions import NotImplementedForDirected


# Arcs max_weight_clique's branch and bound collects onto the driver.
_DRIVER_ARCS = 5_000_000


def _oriented(g: SparkGraph):
    """(oriented arcs (s, d), symmetric simple arcs (u, v)) — degree order."""
    if g.directed:
        raise NotImplementedForDirected(
            "cliques: not implemented for directed type"
        )
    e = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        e.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
    )
    oriented = with_deg.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
        )
        .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
        .alias("o")
    ).select(F.col("o.s").alias("s"), F.col("o.d").alias("d"))
    return oriented


def _extend(cliques: DataFrame, oriented: DataFrame, size: int) -> DataFrame:
    """(members, last) k-cliques → (k+1)-cliques: candidates from the last
    member's oriented out-arcs, verified adjacent to every member."""
    cand = cliques.join(
        oriented.select(F.col("s").alias("last"), F.col("d").alias("c")), "last"
    )
    # count oriented arcs member -> c over all members; == size means c
    # is adjacent to every member (orientation order makes all such arcs
    # point member -> c, since c is above every member in the order)
    checked = (
        cand.select("members", "c", F.explode("members").alias("m"))
        .join(
            oriented.select(F.col("s").alias("m"), F.col("d").alias("c")),
            ["m", "c"],
            "left_semi",
        )
        .groupBy("members", "c")
        .agg(F.count(F.lit(1)).alias("adj"))
        .filter(F.col("adj") == size)
    )
    return checked.select(
        F.concat("members", F.array("c")).alias("members"),
        F.col("c").alias("last"),
    )


def k_cliques(g: SparkGraph, k: int) -> DataFrame:
    """DataFrame ``(members array<BIGINT>)`` — every k-clique once, members
    in degree-orientation order."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if k == 1:
        return g.vertices.select(F.array("id").alias("members"))
    with SuperstepCache(g.spark) as cache:
        oriented = cache.truncate(_oriented(g))
        cur = oriented.select(
            F.array("s", "d").alias("members"), F.col("d").alias("last")
        )
        size = 2
        while size < k:
            # the 2-cliques are the oriented arcs themselves
            cur, seen = cache.truncate(
                _extend(cur, oriented, size),
                retire=cur if size > 2 else None,
                figures=row_count(),
            )
            size += 1
            if seen["rows"] == 0:
                break
        if size != k:
            return g.spark.createDataFrame([], "members array<bigint>")
        return cache.result(cur.select("members"))


def k_clique_count(g: SparkGraph, k: int) -> int:
    """Number of k-cliques."""
    with SuperstepCache(g.spark) as loop:
        cliques = k_cliques(g, k)
        n = cliques.count()
        loop.release(cliques)
    return n


def node_clique_counts(g: SparkGraph, k: int) -> DataFrame:
    """(id, cliques BIGINT): how many k-cliques each node belongs to —
    the per-size slice of ``number_of_cliques``. Nodes in none get 0."""
    counts = (
        k_cliques(g, k)
        .select(F.explode("members").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("cliques"))
    )
    return (
        g.vertices.select("id")
        .join(counts, "id", "left")
        .select("id", F.coalesce("cliques", F.lit(0)).alias("cliques"))
    )


def find_cliques(g: SparkGraph, max_size: Optional[int] = None) -> DataFrame:
    """DataFrame ``(members array<BIGINT>)`` — the MAXIMAL cliques
    (``clique.py:103`` ``find_cliques`` semantics; isolated vertices are
    their own maximal 1-cliques, matching the reference). ``max_size``
    caps enumeration (cliques above the cap are neither returned nor used
    to disqualify smaller ones); without it the loop runs to ω(G)."""
    with SuperstepCache(g.spark) as cache:
        oriented = cache.truncate(_oriented(g))

        # 1-cliques: isolated vertices only (any edge-covered vertex is in a
        # 2-clique); they are maximal by definition
        endpoints = oriented.select(F.col("s").alias("id")).unionAll(
            oriented.select(F.col("d").alias("id"))
        )
        singletons = (
            g.vertices.select("id")
            .join(endpoints, "id", "left_anti")
            .select(F.array("id").alias("members"))
        )

        levels = []  # per size: (members, last)
        cur = oriented.select(
            F.array("s", "d").alias("members"), F.col("d").alias("last")
        )
        size = 2
        while True:
            cur, seen = cache.truncate(cur, figures=row_count())
            if seen["rows"] == 0:
                break
            levels.append((size, cur))
            if max_size is not None and size >= max_size:
                break
            cur = _extend(cur, oriented, size)
            size += 1

        out = singletons
        for i, (size, lvl) in enumerate(levels):
            if i + 1 < len(levels):
                bigger = levels[i + 1][1]
                # drop-one subsets of each (size+1)-clique, as sorted arrays
                subsets = bigger.select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(0), F.lit(size)),
                            lambda idx: F.filter(
                                "members", lambda _, j: j != idx
                            ),
                        )
                    ).alias("members")
                ).distinct()
                maximal = lvl.select("members").join(
                    subsets, "members", "left_anti"
                )
            else:
                maximal = lvl.select("members")
            out = out.unionByName(maximal)
        return cache.result(cache.truncate(out))


def node_clique_number(g: SparkGraph, *, max_size: Optional[int] = None) -> DataFrame:
    """(id, clique_number): the size of the largest maximal clique
    containing each node (``clique.py:589`` ``node_clique_number``)."""
    mc = find_cliques(g, max_size=max_size)
    return (
        mc.select(F.explode("members").alias("id"), F.size("members").alias("s"))
        .groupBy("id")
        .agg(F.max("s").alias("clique_number"))
    )


def number_of_cliques(g: SparkGraph, *, max_size: Optional[int] = None) -> DataFrame:
    """(id, n_cliques): how many MAXIMAL cliques contain each node
    (``clique.py:645`` ``number_of_cliques``)."""
    mc = find_cliques(g, max_size=max_size)
    return (
        mc.select(F.explode("members").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_cliques"))
    )


def enumerate_all_cliques(g: SparkGraph, *, max_size: Optional[int] = None) -> DataFrame:
    """(members array): EVERY clique of every size >= 1, not just maximal
    ones (``clique.py:41`` ``enumerate_all_cliques``) — the per-size
    oriented wedge-extension levels unioned (each level is the same join
    kernel as ``k_cliques``)."""
    out = g.vertices.select(F.array("id").alias("members"))
    k = 2
    while True:
        lvl = k_cliques(g, k)
        if lvl.limit(1).count() == 0:
            break
        out = out.unionByName(lvl.select("members"))
        if max_size is not None and k >= max_size:
            break
        k += 1
    return out


def make_max_clique_graph(g: SparkGraph) -> "tuple[SparkGraph, DataFrame]":
    """(clique_graph, cliques): one node per maximal clique, edges between
    cliques sharing a vertex (``clique.py:23`` ``make_max_clique_graph``).
    Clique ids are dense ranks over the sorted member arrays
    (deterministic; the reference numbers by enumeration order)."""
    from pyspark.sql import Window

    mc = find_cliques(g).select(
        "members",
        (F.dense_rank().over(
            Window.orderBy(F.col("members").cast("string"))
        ) - 1).cast("long").alias("cid"),
    ).persist()
    inc = mc.select(F.col("cid"), F.explode("members").alias("id"))
    a = inc.select(F.col("id"), F.col("cid").alias("c1"))
    b = inc.select(F.col("id"), F.col("cid").alias("c2"))
    e = (
        a.join(b, "id")
        .filter(F.col("c1") < F.col("c2"))
        .select(F.col("c1").alias("src"), F.col("c2").alias("dst"))
        .distinct()
    )
    cg = SparkGraph(
        e, mc.select(F.col("cid").alias("id")), directed=False,
        coalesce_edges=False,
    )
    return cg, mc


def make_clique_bipartite(g: SparkGraph) -> "tuple[SparkGraph, DataFrame]":
    """(bipartite_graph, cliques): original nodes joined to the maximal
    cliques containing them (``clique.py:64`` ``make_clique_bipartite``).
    Clique nodes take ids past max(node id), original ids unchanged."""
    mc = find_cliques(g)
    base = g.vertices.agg(F.max("id")).collect()[0][0] or 0
    from pyspark.sql import Window

    mc = mc.select(
        "members",
        (F.lit(int(base) + 1) + F.dense_rank().over(
            Window.orderBy(F.col("members").cast("string"))
        ) - 1).cast("long").alias("cid"),
    ).persist()
    e = mc.select(F.col("cid").alias("src"), F.explode("members").alias("dst"))
    verts = g.vertices.select("id").unionByName(mc.select(F.col("cid").alias("id")))
    bg = SparkGraph(e, verts, directed=False, coalesce_edges=False)
    return bg, mc


def max_weight_clique(
    g: SparkGraph, weight: Optional[str] = "weight"
) -> "tuple[list[int], float]":
    """(clique, weight): a maximum-weight clique
    (``networkx/algorithms/clique.py:732`` ``max_weight_clique``;
    ``weight=None`` = unit weights = maximum clique). Branch-and-bound is
    sequential by definition, so the kernel is driver-gated under the DFS
    size guard; the weight is exact (the reference returns an arbitrary
    optimum too, so parity pins the VALUE plus clique validity)."""
    from linkgraph.algos.dfs import _driver_adjacency

    if g.directed:
        raise ValueError("max_weight_clique: undirected graphs only")
    adj_l, nodes = _driver_adjacency(g, _DRIVER_ARCS)
    adj = {u: set(vs) - {u} for u, vs in adj_l.items()}
    for n in nodes:
        adj.setdefault(n, set())
    if weight is None:
        w = {n: 1.0 for n in nodes}
    else:
        rows = g.vertices.columns
        if weight in rows:
            w = {
                r["id"]: float(r[weight])
                for r in g.vertices.select("id", weight).collect()
            }
        else:
            w = {n: 1.0 for n in nodes}
    if any(x <= 0 for x in w.values()):
        raise ValueError("max_weight_clique requires positive node weights")
    order = sorted(nodes, key=lambda n: (-w[n], n))
    best: "list[int]" = []
    best_w = 0.0

    def expand(cand: "list[int]", cur: "list[int]", cur_w: float):
        nonlocal best, best_w
        if not cand:
            if cur_w > best_w:
                best, best_w = list(cur), cur_w
            return
        bound = cur_w + sum(w[x] for x in cand)
        if bound <= best_w:
            return
        head, rest = cand[0], cand[1:]
        # include head
        expand([x for x in rest if x in adj[head]], cur + [head], cur_w + w[head])
        # exclude head
        expand(rest, cur, cur_w)

    expand(order, [], 0.0)
    return sorted(best), float(best_w)


def find_cliques_recursive(g, max_size=None):
    """``networkx/algorithms/clique.py`` ``find_cliques_recursive`` — the
    reference's recursive Bron-Kerbosch twin of ``find_cliques``; both
    enumerate the same maximal cliques, so this is the same distributed
    wedge-extension enumeration."""
    return find_cliques(g, max_size)
