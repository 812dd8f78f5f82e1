"""Shortest-path reconstruction and the reference's named path API.

Reference: ``networkx/algorithms/shortest_paths/`` — ``generic.py:285``
``shortest_path``, ``unweighted.py`` (``single_source_shortest_path_length``,
``all_pairs_shortest_path_length``, ``bidirectional_shortest_path``,
``predecessor``), ``weighted.py`` (``dijkstra_path``,
``dijkstra_path_length``, ``bellman_ford_path``,
``bellman_ford_path_length``), ``breadth_first_search.py``
(``bfs_predecessors``, ``bfs_successors``).

Distances come from the two existing distributed kernels (frontier BFS,
Bellman–Ford relaxation). Path RECONSTRUCTION adds one join: a parent of
v is any in-neighbor u with ``dist(u) + w(u, v) == dist(v)`` — computed
for every node at once (the distributed shortest-path TREE), after which
extracting one s→t path is a driver walk over the collected parent map
(size-guarded; the map is n rows — the path API is for point lookups, the
tree DataFrame is the scale object).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, driver_rows, resolve_weight_column


# Rows the driver walks collect: shortest_path's path tree, and the
# reachable arcs find_negative_cycle relaxes.
_DRIVER_NODES = 5_000_000
_DRIVER_EDGES = 5_000_000

__all__ = [
    "shortest_path_tree",
    "shortest_path",
    "single_source_shortest_path_length",
    "all_pairs_shortest_path_length",
    "bidirectional_shortest_path",
    "dijkstra_path",
    "dijkstra_path_length",
    "bellman_ford_path",
    "bellman_ford_path_length",
    "predecessor",
    "bfs_predecessors",
    "bfs_successors",
    "bfs_edges",
    "generic_bfs_edges",
    "bfs_labeled_edges",
    "is_path",
    "is_simple_path",
    "path_weight",
    # named single/multi-source and all-pairs surface
    "single_source_shortest_path",
    "single_source_dijkstra",
    "single_source_dijkstra_path",
    "single_source_dijkstra_path_length",
    "single_source_bellman_ford",
    "single_source_bellman_ford_path",
    "single_source_bellman_ford_path_length",
    "multi_source_dijkstra",
    "multi_source_dijkstra_path",
    "multi_source_dijkstra_path_length",
    "single_target_shortest_path",
    "single_target_shortest_path_length",
    "all_pairs_shortest_path",
    "all_pairs_dijkstra",
    "all_pairs_dijkstra_path",
    "all_pairs_dijkstra_path_length",
    "all_pairs_bellman_ford_path",
    "all_pairs_bellman_ford_path_length",
    "dijkstra_predecessor_and_distance",
    "bellman_ford_predecessor_and_distance",
    "bidirectional_dijkstra",
    "johnson",
    "goldberg_radzik",
    "negative_edge_cycle",
    "find_negative_cycle",
    "all_shortest_paths",
    "single_source_all_shortest_paths",
    "all_pairs_all_shortest_paths",
    "reconstruct_path",
    "bfs_beam_edges",
]


def _distances(g: SparkGraph, source, weight):
    if weight is None:
        from linkgraph.algos.setops import shortest_path_lengths

        d = shortest_path_lengths(g, [source]).select(
            "id", F.col("distance").cast("double").alias("distance")
        )
        wcol = F.lit(1.0)
    else:
        from linkgraph.algos.sssp import weighted_shortest_path_lengths

        d = weighted_shortest_path_lengths(g, [source], weight=weight)
        wcol = None
    return d, wcol


def shortest_path_tree(
    g: SparkGraph, source, *, weight=None, tol: float = 1e-9
) -> DataFrame:
    """(id, distance, parent): the single-source shortest-path tree —
    parent = the smallest in-neighbor u with dist(u) + w(u, v) = dist(v)
    (deterministic tie-break). One distance fixpoint + one arc⋈distance
    join; the source row carries a null parent."""
    base = g.symmetric_edges() if not g.directed else g.edges
    if weight is None:
        arcs = base.select("src", "dst", F.lit(1.0).alias("w"))
    else:
        arcs = base.select(
            "src", "dst", resolve_weight_column(base, weight).alias("w")
        )
    d, _ = _distances(g, source, weight)
    du = d.select(F.col("id").alias("src"), F.col("distance").alias("ds"))
    dv = d.select(F.col("id").alias("dst"), F.col("distance").alias("dv"))
    parents = (
        arcs.join(du, "src")
        .join(dv, "dst")
        .filter(F.col("ds") + F.col("w") <= F.col("dv") + F.lit(tol))
        .groupBy(F.col("dst").alias("id"))
        # prefer the strictly-closest parent, then min id: with 0-weight
        # edges two equal-distance nodes could otherwise pick each other
        # and orphan their subtree from the root
        .agg(
            F.min(F.struct(F.col("ds").alias("d"), F.col("src").alias("s")))
            .getField("s")
            .alias("parent")
        )
    )
    return d.join(parents, "id", "left").select("id", "distance", "parent")


def shortest_path(
    g: SparkGraph,
    source,
    target,
    *,
    weight=None,
) -> "list[int]":
    """The s→t shortest path as a node list (``generic.py:285`` with both
    endpoints given; ``weight=None`` hops, else the weighted kernel).
    Raises when no path exists, like the reference's ``NetworkXNoPath``."""
    source, target = int(source), int(target)
    tree = shortest_path_tree(g, source, weight=weight)
    rows = driver_rows(
        tree, _DRIVER_NODES, "shortest_path collects the path tree",
        "Use shortest_path_tree (distributed) instead.",
    )
    parent = {r["id"]: r["parent"] for r in rows}
    if target not in parent:
        raise NetworkXError(f"No path between {source} and {target}.")
    path = [target]
    while path[-1] != source:
        p = parent[path[-1]]
        if p is None:
            raise NetworkXError(f"No path between {source} and {target}.")
        path.append(p)
    return list(reversed(path))


def single_source_shortest_path_length(
    g: SparkGraph, source, cutoff: Optional[int] = None
) -> DataFrame:
    """(id, distance) — ``unweighted.py:12``."""
    from linkgraph.algos.setops import shortest_path_lengths

    return shortest_path_lengths(g, [source], max_depth=cutoff)


def all_pairs_shortest_path_length(g: SparkGraph, cutoff=None) -> DataFrame:
    """(src, id, distance) — ``unweighted.py:130``: the unit-weight case of
    the batched per-source Bellman-Ford (identical distances)."""
    from linkgraph.algos.sssp import all_pairs_bellman_ford_path_lengths

    out = all_pairs_bellman_ford_path_lengths(g, weight=F.lit(1.0))
    d = out.withColumn("distance", F.col("distance").cast("long"))
    if cutoff is not None:
        d = d.filter(F.col("distance") <= int(cutoff))
    return d


def bidirectional_shortest_path(g: SparkGraph, source, target) -> "list[int]":
    """``unweighted.py:223`` — result parity (the reference's two-frontier
    meet is a driver optimization; distances are identical)."""
    return shortest_path(g, source, target, weight=None)


def dijkstra_path(g: SparkGraph, source, target, *, weight=True) -> "list[int]":
    """``weighted.py:121`` (identical distances via Bellman-Ford)."""
    return shortest_path(g, source, target, weight=weight)


def dijkstra_path_length(g: SparkGraph, source, target, *, weight=True) -> float:
    """``weighted.py:202``."""
    from linkgraph.algos.sssp import weighted_shortest_path_lengths

    d = weighted_shortest_path_lengths(g, [source], weight=weight)
    row = d.filter(F.col("id") == int(target)).collect()
    if not row:
        raise NetworkXError(f"No path between {source} and {target}.")
    return float(row[0]["distance"])


def bellman_ford_path(g: SparkGraph, source, target, *, weight=True) -> "list[int]":
    """``weighted.py:2103``."""
    return shortest_path(g, source, target, weight=weight)


def bellman_ford_path_length(g: SparkGraph, source, target, *, weight=True) -> float:
    """``weighted.py:2155``."""
    return dijkstra_path_length(g, source, target, weight=weight)


def predecessor(g: SparkGraph, source) -> DataFrame:
    """(id, preds array<long>) — every BFS predecessor of each node
    (``unweighted.py:450`` ``predecessor``): dist join, preds(v) = sorted
    in-neighbors u with dist(u) + 1 = dist(v). The source row carries an
    empty array, like the reference's ``{source: []}``."""
    from linkgraph.algos.setops import shortest_path_lengths

    d = shortest_path_lengths(g, [source])
    base = g.symmetric_edges() if not g.directed else g.edges
    du = d.select(F.col("id").alias("src"), F.col("distance").alias("ds"))
    dv = d.select(F.col("id").alias("dst"), F.col("distance").alias("dv"))
    preds = (
        base.select("src", "dst")
        .join(du, "src")
        .join(dv, "dst")
        .filter(F.col("ds") + 1 == F.col("dv"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sort_array(F.collect_set("src")).alias("preds"))
    )
    return d.join(preds, "id", "left").select(
        "id",
        F.coalesce("preds", F.array().cast("array<long>")).alias("preds"),
    )


def bfs_predecessors(g: SparkGraph, source, *, depth_limit=None) -> DataFrame:
    """(id, pred): the BFS-tree parent of every reached node
    (``breadth_first_search.py:341``)."""
    from linkgraph.algos.setops import bfs_tree_edges

    return bfs_tree_edges(g, source, depth_limit=depth_limit).select(
        F.col("dst").alias("id"), F.col("src").alias("pred")
    )


def bfs_successors(g: SparkGraph, source, *, depth_limit=None) -> DataFrame:
    """(id, successors array<long>): BFS-tree children per expanded node
    (``breadth_first_search.py:392``)."""
    from linkgraph.algos.setops import bfs_tree_edges

    return (
        bfs_tree_edges(g, source, depth_limit=depth_limit)
        .groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_set("dst")).alias("successors"))
    )


def is_path(g: SparkGraph, path) -> bool:
    """True iff consecutive elements are joined by edges
    (``networkx/classes/function.py`` ``is_path``)."""
    path = [int(x) for x in path]
    if not path:
        return False
    if len(path) == 1:
        return g.vertices.filter(F.col("id") == path[0]).limit(1).count() > 0
    hops = g.spark.createDataFrame(
        list(zip(path, path[1:])), "src long, dst long"
    )
    arcs = g.symmetric_edges() if not g.directed else g.edges
    missing = hops.join(arcs.select("src", "dst"), ["src", "dst"], "left_anti")
    return missing.limit(1).count() == 0


def is_simple_path(g: SparkGraph, nodes) -> bool:
    """``networkx/algorithms/simple_paths.py:28`` ``is_simple_path`` —
    a path with no repeated nodes."""
    nodes = [int(x) for x in nodes]
    if len(nodes) != len(set(nodes)):
        return False
    return is_path(g, nodes)


def path_weight(g: SparkGraph, path, weight="weight") -> float:
    """Total weight along the path (``function.py`` ``path_weight``);
    raises when the path is broken, like the reference."""
    path = [int(x) for x in path]
    if not is_path(g, path):
        raise NetworkXError("path is not a valid path in the graph")
    if len(path) < 2:
        return 0.0
    hops = g.spark.createDataFrame(
        [(i, u, v) for i, (u, v) in enumerate(zip(path, path[1:]))],
        "i long, src long, dst long",
    )
    base = g.symmetric_edges() if not g.directed else g.edges
    arcs = base.select("src", "dst", resolve_weight_column(base, weight).alias("w"))
    # parallel edges coalesce to summed weight upstream; one row per hop
    tot = (
        hops.join(arcs, ["src", "dst"])
        .groupBy("i")
        .agg(F.min("w").alias("w"))
        .agg(F.sum("w"))
        .collect()[0][0]
    )
    return float(tot)


# --------------------------------------------------------------------- #
# distributed path reconstruction + the reference's full named surface
# --------------------------------------------------------------------- #


def _paths_from_tree(tree: DataFrame, source) -> DataFrame:
    """(id, distance, path array<long>) from a (id, distance, parent)
    shortest-path tree: iterative frontier join — level k resolves the
    paths of every node whose parent resolved at level k-1, so the whole
    reconstruction is O(depth) supersteps, never a driver walk."""
    from linkgraph.iterutils import SuperstepCache, row_count

    spark = tree.sparkSession
    with SuperstepCache(spark) as cache:
        reached = tree.filter(F.col("distance").isNotNull())
        known = cache.truncate(
            reached.filter(F.col("id") == int(source)).select(
                "id",
                "distance",
                F.array(F.lit(int(source)).cast("long")).alias("path"),
            )
        )
        frontier = known
        pending = cache.truncate(reached.filter(F.col("id") != int(source)))
        result = known
        while True:
            nxt = (
                pending.join(
                    frontier.select(
                        F.col("id").alias("parent"), F.col("path").alias("ppath")
                    ),
                    "parent",
                )
                .select(
                    "id",
                    "distance",
                    F.concat("ppath", F.array(F.col("id"))).alias("path"),
                )
            )
            nxt, seen = cache.truncate(nxt, figures=row_count())
            if seen["rows"] == 0:
                break
            result = cache.truncate(
                result.unionByName(nxt), retire=result
            )
            pending = cache.truncate(
                pending.join(nxt.select("id"), "id", "left_anti"), retire=pending
            )
            frontier = nxt
        return cache.result(result)


def single_source_shortest_path(g: SparkGraph, source, cutoff=None) -> DataFrame:
    """(id, distance, path) — ``unweighted.py:290``; the path column is the
    reference's per-node path list, reconstructed distributively."""
    tree = shortest_path_tree(g, source, weight=None)
    if cutoff is not None:
        tree = tree.filter(F.col("distance") <= int(cutoff))
    return _paths_from_tree(tree, source)


def single_source_dijkstra_path_length(
    g: SparkGraph, source, cutoff=None, weight="weight"
) -> DataFrame:
    """(id, distance) — ``weighted.py:745``."""
    from linkgraph.algos.sssp import weighted_shortest_path_lengths

    d = weighted_shortest_path_lengths(g, [source], weight=weight)
    if cutoff is not None:
        d = d.filter(F.col("distance") <= float(cutoff))
    return d


def single_source_dijkstra_path(
    g: SparkGraph, source, cutoff=None, weight="weight"
) -> DataFrame:
    """(id, distance, path) — ``weighted.py:695``."""
    tree = shortest_path_tree(g, source, weight=weight)
    if cutoff is not None:
        tree = tree.filter(F.col("distance") <= float(cutoff))
    return _paths_from_tree(tree, source)


def single_source_dijkstra(
    g: SparkGraph, source, target=None, cutoff=None, weight="weight"
):
    """``weighted.py:584`` — with a target: ``(length, path list)``;
    without: the (id, distance, path) DataFrame."""
    if target is not None:
        return (
            dijkstra_path_length(g, source, target, weight=weight),
            shortest_path(g, source, target, weight=weight),
        )
    return single_source_dijkstra_path(g, source, cutoff=cutoff, weight=weight)


def single_source_bellman_ford_path_length(
    g: SparkGraph, source, weight="weight"
) -> DataFrame:
    """``weighted.py:2199``."""
    return single_source_dijkstra_path_length(g, source, weight=weight)


def single_source_bellman_ford_path(
    g: SparkGraph, source, weight="weight"
) -> DataFrame:
    """``weighted.py:2148``."""
    return single_source_dijkstra_path(g, source, weight=weight)


def single_source_bellman_ford(
    g: SparkGraph, source, target=None, weight="weight"
):
    """``weighted.py:2250``."""
    return single_source_dijkstra(g, source, target=target, weight=weight)


def multi_source_dijkstra_path_length(
    g: SparkGraph, sources, cutoff=None, weight="weight"
) -> DataFrame:
    """(id, distance) from the NEAREST source — ``weighted.py:913``; the
    multi-source frontier is native to the kernel (one fixpoint, not
    |sources| runs)."""
    from linkgraph.algos.sssp import weighted_shortest_path_lengths

    d = weighted_shortest_path_lengths(g, sources, weight=weight)
    if cutoff is not None:
        d = d.filter(F.col("distance") <= float(cutoff))
    return d


def multi_source_dijkstra_path(
    g: SparkGraph, sources, cutoff=None, weight="weight"
) -> DataFrame:
    """(id, distance, path) from the nearest source — ``weighted.py:858``.
    Implemented by adding a virtual root wired to every source with
    0-weight arcs, then stripping it from the reconstructed paths."""
    sources = [int(s) for s in sources]
    spark = g.spark
    root = int(g.vertices.agg(F.max("id")).first()[0]) + 1
    extra = spark.createDataFrame(
        [(root, s, 0.0) for s in sources], "src long, dst long, weight double"
    )
    base = g.symmetric_edges() if not g.directed else g.edges
    arcs = base.select("src", "dst", resolve_weight_column(base, "weight").alias("weight") if "weight" in base.columns else F.lit(1.0).alias("weight"))
    g2 = SparkGraph(
        arcs.unionByName(extra),
        g.vertices.select("id").unionByName(
            spark.createDataFrame([(root,)], "id long")
        ),
        directed=True,
        coalesce_edges=False,
    )
    out = single_source_dijkstra_path(g2, root, cutoff=cutoff, weight="weight")
    return out.filter(F.col("id") != root).select(
        "id", "distance", F.slice("path", 2, F.size("path") - 1).alias("path")
    )


def multi_source_dijkstra(g: SparkGraph, sources, target=None, weight="weight"):
    """``weighted.py:807``."""
    if target is not None:
        d = multi_source_dijkstra_path(g, sources, weight=weight)
        row = d.filter(F.col("id") == int(target)).first()
        if row is None:
            raise NetworkXError(f"No path to {target}.")
        return float(row["distance"]), list(row["path"])
    return multi_source_dijkstra_path(g, sources, weight=weight)


def single_target_shortest_path_length(g: SparkGraph, target, cutoff=None) -> DataFrame:
    """(id, distance) TO the target — ``unweighted.py:77``: one BFS on the
    reversed graph."""
    rg = g.reverse() if g.directed else g
    from linkgraph.algos.setops import shortest_path_lengths

    return shortest_path_lengths(rg, [target], max_depth=cutoff)


def single_target_shortest_path(g: SparkGraph, target, cutoff=None) -> DataFrame:
    """(id, distance, path) where path runs from each node TO the target
    (``unweighted.py:349``): the reversed-graph tree, paths flipped."""
    rg = g.reverse() if g.directed else g
    tree = shortest_path_tree(rg, target, weight=None)
    if cutoff is not None:
        tree = tree.filter(F.col("distance") <= int(cutoff))
    out = _paths_from_tree(tree, target)
    return out.select("id", "distance", F.reverse("path").alias("path"))


def all_pairs_shortest_path(
    g: SparkGraph, cutoff=None, *, max_sources: int = 1000
) -> DataFrame:
    """(source, id, distance, path) — ``unweighted.py:413``. Inherently
    O(n * reach) output; guarded at ``max_sources`` driver-launched
    per-source reconstructions (each itself distributed)."""
    ids = [r["id"] for r in g.vertices.select("id").collect()]
    if len(ids) > max_sources:
        raise NetworkXError(
            f"all_pairs_shortest_path on {len(ids)} nodes exceeds "
            f"max_sources={max_sources}; run single_source_shortest_path "
            "per needed source instead"
        )
    parts = [
        single_source_shortest_path(g, s, cutoff=cutoff).select(
            F.lit(s).alias("source"), "id", "distance", "path"
        )
        for s in sorted(ids)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def all_pairs_dijkstra_path_length(g: SparkGraph, cutoff=None, weight="weight") -> DataFrame:
    """(source, id, distance) — ``weighted.py:1072``: the batched per-source
    Bellman-Ford (identical distances to Dijkstra)."""
    from linkgraph.algos.sssp import all_pairs_bellman_ford_path_lengths

    d = all_pairs_bellman_ford_path_lengths(g, weight=weight)
    if cutoff is not None:
        d = d.filter(F.col("distance") <= float(cutoff))
    return d


def all_pairs_bellman_ford_path_length(g: SparkGraph, weight="weight") -> DataFrame:
    """``weighted.py:2385``."""
    return all_pairs_dijkstra_path_length(g, weight=weight)


def all_pairs_dijkstra(g: SparkGraph, cutoff=None, weight="weight") -> DataFrame:
    """``weighted.py:1009`` — lengths AND paths per pair."""
    return all_pairs_dijkstra_path(g, cutoff=cutoff, weight=weight)


def all_pairs_dijkstra_path(
    g: SparkGraph, cutoff=None, weight="weight", *, max_sources: int = 1000
) -> DataFrame:
    """(source, id, distance, path) — ``weighted.py:1136``; guarded like
    ``all_pairs_shortest_path``."""
    ids = [r["id"] for r in g.vertices.select("id").collect()]
    if len(ids) > max_sources:
        raise NetworkXError(
            f"all_pairs_dijkstra_path on {len(ids)} nodes exceeds "
            f"max_sources={max_sources}"
        )
    parts = [
        single_source_dijkstra_path(g, s, cutoff=cutoff, weight=weight).select(
            F.lit(s).alias("source"), "id", "distance", "path"
        )
        for s in sorted(ids)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def all_pairs_bellman_ford_path(g: SparkGraph, weight="weight") -> DataFrame:
    """``weighted.py:2437``."""
    return all_pairs_dijkstra_path(g, weight=weight)


def dijkstra_predecessor_and_distance(
    g: SparkGraph, source, cutoff=None, weight="weight"
) -> DataFrame:
    """(id, preds array<long>, distance) — ``weighted.py:944``: every
    shortest-path predecessor (dist(u) + w(u,v) == dist(v)), one join."""
    from linkgraph.algos.sssp import weighted_shortest_path_lengths

    d = weighted_shortest_path_lengths(g, [source], weight=weight)
    base = g.symmetric_edges() if not g.directed else g.edges
    arcs = base.select("src", "dst", resolve_weight_column(base, weight).alias("w"))
    preds = (
        arcs.join(d.select(F.col("id").alias("src"), F.col("distance").alias("ds")), "src")
        .join(d.select(F.col("id").alias("dst"), F.col("distance").alias("dv")), "dst")
        .filter(F.abs(F.col("ds") + F.col("w") - F.col("dv")) <= 1e-9)
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sort_array(F.collect_set("src")).alias("preds"))
    )
    out = d.join(preds, "id", "left").select(
        "id",
        F.coalesce("preds", F.array().cast("array<long>")).alias("preds"),
        "distance",
    )
    if cutoff is not None:
        out = out.filter(F.col("distance") <= float(cutoff))
    return out


def bellman_ford_predecessor_and_distance(
    g: SparkGraph, source, target=None, weight="weight"
) -> DataFrame:
    """``weighted.py:1791`` (the target arg only filters the row set)."""
    out = dijkstra_predecessor_and_distance(g, source, weight=weight)
    if target is not None:
        out = out.filter(F.col("id") == int(target))
    return out


def bidirectional_dijkstra(g: SparkGraph, source, target, weight="weight"):
    """``weighted.py:2491`` — result parity (length, path); the reference's
    two-heap meet is a driver-search optimization, the distances agree."""
    return (
        dijkstra_path_length(g, source, target, weight=weight),
        shortest_path(g, source, target, weight=weight),
    )


def johnson(g: SparkGraph, weight="weight") -> DataFrame:
    """``weighted.py:2589`` — all-pairs shortest paths with negative
    weights allowed. The reference reweights (h from one Bellman-Ford) so
    Dijkstra applies per source; this engine's per-source kernel IS
    Bellman-Ford, so the batched all-pairs run already returns Johnson's
    answer (and raises on negative cycles the same way)."""
    return all_pairs_dijkstra_path(g, weight=weight)


def goldberg_radzik(g: SparkGraph, source, weight="weight") -> DataFrame:
    """``weighted.py:1979`` — (pred, dist) per node; scheduling variant of
    Bellman-Ford, identical output here."""
    return bellman_ford_predecessor_and_distance(g, source, weight=weight)


def negative_edge_cycle(g: SparkGraph, weight="weight") -> bool:
    """``weighted.py:2273`` — True iff a negative-cost cycle is reachable
    anywhere: the reference adds a virtual node wired to every node and
    Bellman-Fords from it; seeding EVERY node as a source is the identical
    relaxation, and the kernel's still-improving-after-n-rounds
    certificate is the detector."""
    from linkgraph.algos.sssp import (
        NegativeCycleError,
        weighted_shortest_path_lengths,
    )

    try:
        weighted_shortest_path_lengths(
            g, g.vertices.select("id"), weight=weight
        )
        return False
    except NegativeCycleError:
        return True


def find_negative_cycle(g: SparkGraph, source, weight="weight") -> "list[int]":
    """``weighted.py:2315`` — one negative cycle reachable from source, as
    a closed node list. Cycle EXTRACTION walks predecessor pointers — a
    size-guarded driver step over the collected reachable arc set (the
    distributed kernels detect the cycle; listing its members is a point
    lookup, not a scale object)."""
    from linkgraph.algos.setops import shortest_path_lengths

    reach = shortest_path_lengths(g, [source]).select("id")
    base = g.symmetric_edges() if not g.directed else g.edges
    arcs = (
        base.select("src", "dst", resolve_weight_column(base, weight).alias("w"))
        .join(reach.withColumnRenamed("id", "src"), "src", "left_semi")
    )
    rows = driver_rows(
        arcs, _DRIVER_EDGES, "find_negative_cycle collects the reachable arc set"
    )
    nodes = {r["src"] for r in rows} | {r["dst"] for r in rows} | {int(source)}
    dist = {n: _INF_ for n in nodes}
    pred = {n: None for n in nodes}
    dist[int(source)] = 0.0
    last_improved = None
    for _ in range(len(nodes)):
        last_improved = None
        for r in sorted(rows, key=lambda r: (r["src"], r["dst"])):
            u, v, w = r["src"], r["dst"], r["w"]
            if dist[u] + w < dist[v] - 1e-12:
                dist[v] = dist[u] + w
                pred[v] = u
                last_improved = v
    if last_improved is None:
        raise NetworkXError("No negative cycle found.")
    # walk n steps back to land inside the cycle, then peel it
    x = last_improved
    for _ in range(len(nodes)):
        x = pred[x]
    cycle = [x]
    y = pred[x]
    while y != x:
        cycle.append(y)
        y = pred[y]
    cycle.append(x)
    return list(reversed(cycle))


_INF_ = float("inf")


def all_shortest_paths(
    g: SparkGraph, source, target, weight=None, method=None,
    *, max_paths: int = 100_000
) -> "list[list[int]]":
    """``generic.py:434`` — EVERY shortest s→t path. The predecessor DAG
    is built distributed (one join); enumeration is a driver walk bounded
    by ``max_paths`` (path COUNT can be exponential — same blowup the
    reference's generator hits if drained)."""
    source, target = int(source), int(target)
    if weight is None:
        pred_df = predecessor(g, source)
    else:
        pred_df = dijkstra_predecessor_and_distance(
            g, source, weight=weight
        ).select("id", "preds")
    preds = {r["id"]: list(r["preds"]) for r in pred_df.collect()}
    if target not in preds:
        raise NetworkXError(f"No path between {source} and {target}.")
    out: "list[list[int]]" = []
    stack = [[target]]
    while stack:
        path = stack.pop()
        head = path[-1]
        if head == source:
            out.append(list(reversed(path)))
            if len(out) > max_paths:
                raise NetworkXError("all_shortest_paths exceeded max_paths")
            continue
        for p in sorted(preds.get(head, ())):
            stack.append(path + [p])
    return sorted(out)


def single_source_all_shortest_paths(
    g: SparkGraph, source, weight=None, *, max_paths: int = 100_000
) -> "dict[int, list[list[int]]]":
    """``generic.py:540`` — all shortest paths to every reachable node."""
    source = int(source)
    if weight is None:
        pred_df = predecessor(g, source)
    else:
        pred_df = dijkstra_predecessor_and_distance(
            g, source, weight=weight
        ).select("id", "preds")
    preds = {r["id"]: list(r["preds"]) for r in pred_df.collect()}
    memo: "dict[int, list[list[int]]]" = {source: [[source]]}

    def expand(v):
        if v in memo:
            return memo[v]
        acc = []
        for p in sorted(preds.get(v, ())):
            for pp in expand(p):
                acc.append(pp + [v])
                if len(acc) > max_paths:
                    raise NetworkXError("exceeded max_paths")
        memo[v] = acc
        return acc

    import sys

    old = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old, len(preds) * 2 + 100))
    try:
        return {v: sorted(expand(v)) for v in sorted(preds)}
    finally:
        sys.setrecursionlimit(old)


def all_pairs_all_shortest_paths(
    g: SparkGraph, weight=None, method=None, *, max_sources: int = 500
) -> "dict[int, dict[int, list[list[int]]]]":
    """``generic.py:604`` — guarded driver composition."""
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    if len(ids) > max_sources:
        raise NetworkXError(f"{len(ids)} sources exceeds max_sources")
    return {
        s: single_source_all_shortest_paths(g, s, weight=weight) for s in ids
    }


def reconstruct_path(source, target, predecessors) -> "list[int]":
    """``dense.py:212`` — rebuild the s→t path from a predecessor map:
    accepts the dict-of-single-predecessor form (floyd_warshall's) or a
    (id, preds)/(id, parent) DataFrame."""
    source, target = int(source), int(target)
    if isinstance(predecessors, DataFrame):
        cols = predecessors.columns
        if "preds" in cols:
            pred = {
                r["id"]: (list(r["preds"])[0] if r["preds"] else None)
                for r in predecessors.collect()
            }
        else:
            pcol = "parent" if "parent" in cols else cols[1]
            pred = {r["id"]: r[pcol] for r in predecessors.collect()}
    else:
        pred = {int(k): (int(v) if v is not None else None) for k, v in predecessors.items()}
    if source == target:
        return []
    path = [target]
    while path[-1] != source:
        p = pred.get(path[-1])
        if p is None:
            raise NetworkXError(f"No path between {source} and {target}.")
        path.append(p)
    return list(reversed(path))


def bfs_beam_edges(
    g: SparkGraph, source, value, width: int = None
) -> DataFrame:
    """``beamsearch.py:9`` — BFS keeping only the top-``width`` frontier
    nodes per level, scored by ``value`` (a vertex column name / Column /
    SQL expression over the vertices DataFrame — the Spark twin of the
    reference's callable). Returns tree arcs (src, dst, depth). Fully
    distributed: the per-level cut is one orderBy-limit."""
    from pyspark.sql import Column

    if isinstance(value, Column):
        score = value
    elif isinstance(value, str) and value in g.vertices.columns:
        score = F.col(value)
    else:
        score = F.expr(value)
    verts = g.vertices.select("id", score.cast("double").alias("_score"))
    adj = (
        g.symmetric_edges().select("src", "dst")
        if not g.directed
        else g.edges.select("src", "dst")
    )
    spark = g.spark
    from linkgraph.iterutils import SuperstepCache, row_count

    with SuperstepCache(spark) as cache:
        visited = cache.truncate(
            spark.createDataFrame([(int(source),)], "id long")
        )
        frontier = visited
        depth = 0
        edges_acc = None
        while True:
            depth += 1
            nxt = (
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("src").alias("parent"))
                .join(visited, "id", "left_anti")
            )
            nxt, seen = cache.truncate(nxt, figures=row_count())
            if seen["rows"] == 0:
                break
            if width is not None:
                nxt = cache.truncate(
                    nxt.join(verts, "id")
                    .orderBy(F.col("_score").desc(), F.col("id"))
                    .limit(int(width))
                    .select("id", "parent")
                )
            level = nxt.select(
                F.col("parent").alias("src"),
                F.col("id").alias("dst"),
                F.lit(depth).cast("long").alias("depth"),
            )
            edges_acc = cache.truncate(
                level if edges_acc is None else edges_acc.unionByName(level),
                retire=edges_acc,
            )
            visited = cache.truncate(
                visited.unionByName(nxt.select("id")), retire=visited
            )
            frontier = nxt.select("id")
        if edges_acc is None:
            return spark.createDataFrame([], "src long, dst long, depth long")
        return cache.result(edges_acc)


def _bfs_ranked(
    g: SparkGraph,
    sources,
    *,
    reverse: bool = False,
    depth_limit: Optional[int] = None,
) -> DataFrame:
    """Exact BFS queue order as data: ``(id, depth, rank, parent)``.

    Reproduces the reference's FIFO discovery order under
    ``sort_neighbors=sorted`` (``breadth_first_search.py:109``): sources
    rank in the order given; each next layer orders children by
    (rank of first discoverer, child id) — exactly the order the queue
    would pop them. Every layer is one join + one group-by + one ranking.

    Scale note: the within-layer ``row_number`` is a single total order
    per layer. Exact queue order is inherently a total order — at 100×
    swap the window for the two-phase sort + zipWithIndex ranking used in
    ``dag.lexicographical_topological_sort``; layer structure and parents
    are order-free and stay fully distributed either way.
    """
    from pyspark.sql import Window

    spark = g.spark
    if not isinstance(sources, (list, tuple)):
        sources = [sources]
    src_rows = [(int(s), i) for i, s in enumerate(sources)]
    src_df = spark.createDataFrame(src_rows, "id long, _ord long").join(
        g.vertices.select("id"), "id", "left_semi"
    )
    if g.directed:
        adj = g.edges.select("src", "dst")
        if reverse:
            adj = adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    else:
        adj = g.symmetric_edges().select("src", "dst")

    from linkgraph.iterutils import SuperstepCache, row_count

    with SuperstepCache(spark) as cache:
        adj = cache.pin(adj)
        ranked, seen = cache.truncate(
            src_df.select(
                "id",
                F.lit(0).cast("long").alias("depth"),
                F.row_number().over(Window.orderBy("_ord")).cast("long").alias("rank"),
                F.lit(None).cast("long").alias("parent"),
            ),
            figures=row_count(),
        )
        frontier = ranked
        offset = seen["rows"]
        depth = 0
        while True:
            if depth_limit is not None and depth >= depth_limit:
                break
            depth += 1
            cand = (
                adj.join(
                    frontier.select(
                        F.col("id").alias("src"), F.col("rank").alias("_prank")
                    ),
                    "src",
                )
                .join(
                    ranked.select("id"),
                    F.col("dst") == F.col("id"),
                    "left_anti",
                )
                .groupBy(F.col("dst"))
                .agg(F.min(F.struct("_prank", "src")).alias("_disc"))
                .select(
                    F.col("dst").alias("id"),
                    F.col("_disc._prank").alias("_disc_rank"),
                    F.col("_disc.src").alias("parent"),
                )
            )
            nxt, seen = cache.truncate(
                cand.select(
                    "id",
                    F.lit(depth).cast("long").alias("depth"),
                    (
                        F.row_number().over(Window.orderBy("_disc_rank", "id"))
                        + F.lit(offset)
                    ).cast("long").alias("rank"),
                    "parent",
                ),
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            offset += seen["rows"]
            ranked = cache.truncate(
                ranked.unionByName(nxt), retire=ranked
            )
            frontier = nxt
        return cache.result(ranked)


def bfs_edges(
    g: SparkGraph,
    source,
    reverse: bool = False,
    depth_limit: Optional[int] = None,
) -> DataFrame:
    """``breadth_first_search.py:109`` ``bfs_edges`` — the BFS tree arcs in
    exact discovery order: ``(src, dst, order)``, event-for-event equal to
    the reference with ``sort_neighbors=sorted`` (the engine's canonical
    neighbor order). ``reverse=True`` traverses a directed graph over
    in-edges, like the reference."""
    ranked = _bfs_ranked(g, source, reverse=reverse, depth_limit=depth_limit)
    from pyspark.sql import Window

    return (
        ranked.filter(F.col("depth") > 0)
        .select(
            F.col("parent").alias("src"),
            F.col("id").alias("dst"),
            (F.row_number().over(Window.orderBy("rank")) - 1)
            .cast("long")
            .alias("order"),
        )
    )


def generic_bfs_edges(
    g: SparkGraph,
    source,
    neighbors=None,
    depth_limit: Optional[int] = None,
) -> DataFrame:
    """``breadth_first_search.py:20`` ``generic_bfs_edges``. The reference's
    ``neighbors=`` callable rebinds the successor function; the engine's
    distributed equivalent is passing a different graph view (e.g.
    ``g.reverse()`` or a ``subgraph_view``), so only the default successor
    function is accepted here."""
    if neighbors is not None:
        raise NetworkXError(
            "generic_bfs_edges: pass a transformed SparkGraph view instead "
            "of a neighbors callable (driver callables cannot run "
            "distributed); e.g. reverse() or subgraph_view()"
        )
    return bfs_edges(g, source, depth_limit=depth_limit)


def bfs_labeled_edges(g: SparkGraph, sources) -> DataFrame:
    """``breadth_first_search.py:465`` ``bfs_labeled_edges`` — every
    explored arc labeled ``tree`` / ``level`` / ``forward`` / ``reverse``,
    each edge emitted exactly once (directed: every arc), in exploration order ``(src, dst,
    label, order)``.

    The label is a pure function of the BFS depths/ranks, so after the
    ranked BFS this is ONE join over the arc table — no per-edge driver
    work. Reference quirks preserved exactly: a same-level arc is emitted
    only from the endpoint dequeued first; ``reverse`` arcs exist only in
    directed graphs.
    """
    from pyspark.sql import Window

    ranked = _bfs_ranked(g, sources)
    arcs = (
        g.edges.select("src", "dst")
        if g.directed
        else g.symmetric_edges().select("src", "dst")
    )
    u = ranked.select(
        F.col("id").alias("src"),
        F.col("depth").alias("_du"),
        F.col("rank").alias("_ru"),
    )
    v = ranked.select(
        F.col("id").alias("dst"),
        F.col("depth").alias("_dv"),
        F.col("rank").alias("_rv"),
        F.col("parent").alias("_pv"),
    )
    lab = (
        arcs.join(u, "src")
        .join(v, "dst")
        .withColumn(
            "label",
            F.when(
                (F.col("_dv") == F.col("_du") + 1)
                & (F.col("_pv") == F.col("src")),
                F.lit("tree"),
            )
            .when(
                (F.col("_du") == F.col("_dv"))
                & (F.lit(bool(g.directed)) | (F.col("_ru") < F.col("_rv"))),
                F.lit("level"),
            )
            .when(F.col("_du") < F.col("_dv"), F.lit("forward"))
            .when(
                F.lit(bool(g.directed)) & (F.col("_du") > F.col("_dv")),
                F.lit("reverse"),
            ),
        )
        .filter(F.col("label").isNotNull())
    )
    return lab.select(
        "src",
        "dst",
        "label",
        (F.row_number().over(Window.orderBy("_ru", "dst")) - 1)
        .cast("long")
        .alias("order"),
    )
