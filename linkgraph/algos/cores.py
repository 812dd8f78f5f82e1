"""k-core decomposition — iterative degree peeling.

Semantics match ``networkx/algorithms/core.py``:

- ``core_number`` (``core.py:47``): largest k such that the node belongs to
  a subgraph where every node has degree >= k. Directed degree = in + out
  (``core.py:74-76``); self-loops raise (``core.py:101-106``).
- ``k_core`` (``core.py:154``): maximal subgraph with all degrees >= k;
  default k = max core number.

The reference peels with the O(m) Batagelj–Zaveršnik bucket algorithm —
inherently sequential. The distributed equivalent peels level-by-level:
for k = 0, 1, 2, …, repeatedly delete nodes whose remaining degree <= k
(assigning them core number k) until none remain at that level, then raise
k. Each peel round is one degree aggregation + one anti-join; rounds are
bounded by the degeneracy plus the peel depth per level (O(log n) typical
per level). At true web scale the h-index fixpoint of Lü et al. gives the
same numbers with fewer barriers; the level-peel keeps exact parity with
bounded, easily-verified rounds.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count


def _arc_ends(edges: DataFrame) -> DataFrame:
    """Per-arc endpoint multiset: degree = count of incident arc ends
    (directed: in+out, core.py:74-76; undirected canonical rows count once
    per side)."""
    return edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    )


def core_number(g: SparkGraph, *, max_rounds: int = 10_000) -> DataFrame:
    """Return DataFrame ``(id BIGINT, core BIGINT)`` for every vertex."""
    with SuperstepCache(g.spark) as loop:
        edges, remaining, left = _peel_start(g, loop)
        out = None
        k = 0
        rounds = 0
        while left > 0:
            deg = _arc_ends(edges).groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
            cur = remaining.join(deg, "id", "left").select(
                "id", F.coalesce("deg", F.lit(0)).alias("deg")
            )
            peel, seen = loop.truncate(
                cur.filter(F.col("deg") <= k).select(
                    "id", F.lit(k).cast("long").alias("core")
                ),
                figures=row_count(),
            )
            if seen["rows"] == 0:
                k += 1
                continue
            out = peel if out is None else out.unionByName(peel)
            left -= seen["rows"]
            remaining, edges = _peel(loop, remaining, edges, peel)
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError("core_number exceeded max_rounds")
        if out is None:
            return g.spark.createDataFrame([], "id long, core long")
        return loop.result(loop.truncate(out))


def _peel_start(g: SparkGraph, loop: SuperstepCache, verb: str = "has"):
    """``(edges, remaining, node count)``, the start of a level peel; raises
    on a self-loop with the reference's message (``core.py:101-106``)."""
    edges, seen = loop.truncate(
        g.edges.select("src", "dst"),
        figures={"loops": F.sum((F.col("src") == F.col("dst")).cast("long"))},
    )
    if seen["loops"]:
        raise ValueError(
            f"Input graph {verb} self loops which is not permitted; "
            "Consider using G.remove_edges_from(nx.selfloop_edges(G))."
        )
    remaining, seen = loop.truncate(g.vertices.select("id"), figures=row_count())
    return edges, remaining, seen["rows"]


def _peel(loop: SuperstepCache, remaining, edges, peeled):
    """``remaining`` and ``edges`` without the ``peeled`` nodes."""
    ids = peeled.select("id")
    return (
        loop.truncate(remaining.join(ids, "id", "left_anti"), retire=remaining),
        loop.truncate(
            edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti"),
            retire=edges,
        ),
    )


def _core_subgraph(g: SparkGraph, keep_ids: DataFrame) -> SparkGraph:
    """Induced subgraph helper (``core.py:125`` ``_core_subgraph``)."""
    return g.subgraph(keep_ids)


def k_shell(
    g: SparkGraph, k: Optional[int] = None, core: Optional[DataFrame] = None
) -> SparkGraph:
    """Subgraph induced by nodes with core number exactly k
    (``core.py:215`` — default k = max core number)."""
    core = core_number(g) if core is None else core
    if k is None:
        k = core.agg(F.max("core")).first()[0] or 0
    return _core_subgraph(g, core.filter(F.col("core") == k).select("id"))


def k_crust(
    g: SparkGraph, k: Optional[int] = None, core: Optional[DataFrame] = None
) -> SparkGraph:
    """Subgraph induced by nodes with core number <= k
    (``core.py:287`` — default k = max core number - 1)."""
    core = core_number(g) if core is None else core
    if k is None:
        k = (core.agg(F.max("core")).first()[0] or 0) - 1
    return _core_subgraph(g, core.filter(F.col("core") <= k).select("id"))


def k_corona(
    g: SparkGraph, k: Optional[int] = None, core: Optional[DataFrame] = None
) -> SparkGraph:
    """Nodes in the k-core with EXACTLY k neighbors in the k-core
    (``core.py:347``: ``c[v] == k and k == sum(1 for w in G[v] if c[w] >= k)``).
    The neighbor count is one join + groupBy over the symmetric arc view."""
    core = core_number(g) if core is None else core
    if k is None:
        k = core.agg(F.max("core")).first()[0] or 0
    # the reference counts w over G[v] — successors for directed graphs,
    # neighbors for undirected (core.py:404)
    sym = g.edges.select("src", "dst") if g.directed else (
        g.symmetric_edges().select("src", "dst")
    )
    in_core_nbrs = (
        sym.join(
            core.filter(F.col("core") >= k).select(F.col("id").alias("dst")),
            "dst",
            "left_semi",
        )
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("nk"))
    )
    keep = (
        core.filter(F.col("core") == k)
        .join(in_core_nbrs, "id", "left")
        .filter(F.coalesce("nk", F.lit(0)) == k)
        .select("id")
    )
    return _core_subgraph(g, keep)


def onion_layers(g: SparkGraph, *, max_rounds: int = 10_000) -> DataFrame:
    """Onion decomposition (``core.py:494`` ``onion_layers``): returns
    DataFrame ``(id BIGINT, layer BIGINT)``, layers contiguous from 1.

    Exact replication of the reference loop: isolated nodes form layer 1;
    then repeatedly peel ALL nodes whose remaining degree <= current_core
    (current_core = max(current_core, min remaining degree)) as one layer.
    Each round is a degree aggregation + min-aggregation + anti-join —
    the level-peel shape of ``core_number`` with a layer counter.
    """
    with SuperstepCache(g.spark) as loop:
        edges, remaining, left = _peel_start(g, loop, "contains")
        current_layer = 1
        # isolated nodes -> layer 1 (core.py:556-563)
        deg0 = _arc_ends(edges).groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        out, seen = loop.truncate(
            remaining.join(deg0, "id", "left_anti").select(
                "id", F.lit(1).cast("long").alias("layer")
            ),
            figures=row_count(),
        )
        if seen["rows"] > 0:
            left -= seen["rows"]
            remaining = loop.truncate(
                remaining.join(out.select("id"), "id", "left_anti"), retire=remaining
            )
            current_layer = 2
        current_core = 1
        rounds = 0
        while left > 0:
            deg = _arc_ends(edges).groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
            cur = remaining.join(deg, "id", "left").select(
                "id", F.coalesce("deg", F.lit(0)).alias("deg")
            )
            min_deg = cur.agg(F.min("deg")).first()[0]
            if min_deg > current_core:
                current_core = min_deg
            layer_nodes, seen = loop.truncate(
                cur.filter(F.col("deg") <= current_core).select(
                    "id", F.lit(current_layer).cast("long").alias("layer")
                ),
                figures=row_count(),
            )
            out = out.unionByName(layer_nodes)
            current_layer += 1
            left -= seen["rows"]
            remaining, edges = _peel(loop, remaining, edges, layer_nodes)
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError("onion_layers exceeded max_rounds")
        return loop.result(loop.truncate(out))


def k_truss(g: SparkGraph, k: int, *, max_rounds: int = 10_000) -> SparkGraph:
    """The k-truss (``core.py:412``): maximal subgraph where every edge is
    supported by >= k-2 triangles; edges below support are dropped and
    isolated nodes removed, to fixpoint.

    Per round: per-edge triangle support via the degree-oriented wedge join
    (the ``triangles`` machinery — every triangle found once, exploded to
    its three edges, groupBy-count), then an anti-join drop. Raises on
    directed input and self-loops like the reference.
    """
    from linkgraph.exceptions import NotImplementedForDirected
    from linkgraph.algos.triangles import _triangle_corners

    if g.directed:
        raise NotImplementedForDirected(
            "k_truss: not implemented for directed type"
        )
    with SuperstepCache(g.spark) as loop:
        edges, seen = loop.truncate(
            g.edges.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
            ).distinct(),
            figures={"loops": F.sum((F.col("src") == F.col("dst")).cast("long"))},
        )
        if seen["loops"]:
            raise ValueError(
                "Input graph has self loops which is not permitted; "
                "Consider using G.remove_edges_from(nx.selfloop_edges(G))."
            )
        # Incremental support maintenance (the standard truss-decomposition
        # plan, cf. Wang & Cheng VLDB 2012): triangles are enumerated ONCE
        # via the degree-oriented wedge join; each peel round then touches
        # only the triangles incident to the edges just dropped — join
        # dropped edges → dead triangles → decrement the surviving edges'
        # support — instead of re-running the full wedge join on the
        # remaining edge set every round.
        cur = SparkGraph(edges, directed=False, coalesce_edges=False)
        with _triangle_corners(cur) as tri:
            tri_edges = loop.truncate(
                tri.select(
                    "a",
                    "b",
                    "c",
                    F.explode(
                        F.array(
                            F.struct(
                                F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
                            ),
                            F.struct(
                                F.least("a", "c").alias("src"), F.greatest("a", "c").alias("dst")
                            ),
                            F.struct(
                                F.least("b", "c").alias("src"), F.greatest("b", "c").alias("dst")
                            ),
                        )
                    ).alias("e"),
                ).select("a", "b", "c", F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
            )
        support = loop.truncate(
            edges.join(
                tri_edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support")),
                ["src", "dst"],
                "left",
            ).select("src", "dst", F.coalesce("support", F.lit(0)).alias("support")),
            retire=edges,
        )
        rounds = 0
        while True:
            dropped, seen = loop.truncate(
                support.filter(F.col("support") < k - 2).select("src", "dst"),
                figures=row_count(),
            )
            if seen["rows"] == 0:
                edges = loop.truncate(support.select("src", "dst"))
                break
            dead = loop.truncate(
                tri_edges.join(dropped, ["src", "dst"], "left_semi")
                .select("a", "b", "c")
                .distinct()
            )
            dec = (
                tri_edges.join(dead, ["a", "b", "c"], "left_semi")
                .join(dropped, ["src", "dst"], "left_anti")
                .groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("dec"))
            )
            new_support = loop.truncate(
                support.join(dropped, ["src", "dst"], "left_anti")
                .join(dec, ["src", "dst"], "left")
                .select(
                    "src",
                    "dst",
                    (F.col("support") - F.coalesce("dec", F.lit(0))).alias("support"),
                )
            )
            new_tri_edges = loop.truncate(
                tri_edges.join(dead, ["a", "b", "c"], "left_anti")
            )
            loop.release([support, tri_edges, dropped, dead])
            support, tri_edges = new_support, new_tri_edges
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError("k_truss exceeded max_rounds")
        loop.result(edges)
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    sub = SparkGraph(
        edges.withColumn("weight", F.lit(1.0)),
        vertices,
        directed=False,
        coalesce_edges=False,
    )
    return sub


def k_core(g: SparkGraph, k: int) -> SparkGraph:
    """Maximal subgraph with every degree >= k (``core.py:154``): iterate
    'drop nodes with degree < k' to fixpoint."""
    with SuperstepCache(g.spark) as loop:
        edges = loop.truncate(g.edges.select("src", "dst", "weight"))
        vertices, seen = loop.truncate(g.vertices.select("id"), figures=row_count())
        while True:
            n_before = seen["rows"]
            deg = _arc_ends(edges).groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
            vertices, seen = loop.truncate(
                vertices.join(deg, "id", "left").filter(
                    F.coalesce("deg", F.lit(0)) >= k
                ).select("id"),
                retire=vertices,
                figures=row_count(),
            )
            edges = loop.truncate(
                edges.join(vertices.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(vertices.withColumnRenamed("id", "dst"), "dst", "left_semi"),
                retire=edges,
            )
            if seen["rows"] == n_before:
                break
        loop.result([edges, vertices])
    return SparkGraph(edges, vertices, directed=g.directed, coalesce_edges=False)
