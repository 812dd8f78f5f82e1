"""Weighted shortest paths — distributed Bellman-Ford relaxation.

Semantics match the reference's Dijkstra family on non-negative weights
(``networkx/algorithms/shortest_paths/weighted.py:784``
``_dijkstra_multisource``: distance = minimum total edge weight from the
nearest source; unreachable nodes absent from the result dict) and the
Bellman-Ford family on arbitrary weights
(``weighted.py:1166-1512`` ``bellman_ford_predecessor_and_distance`` /
``_bellman_ford``), including negative-cycle detection: a node relaxed more
than n times lies on a negative cycle and the reference raises
``NetworkXUnbounded`` (``weighted.py:1252-1258``).

Both sequential algorithms are priority-queue/queue driven and inherently
serial, so the distributed twin is **frontier relaxation** (the classic
Pregel SSSP): per superstep, join the improved frontier against the arc
table, take the per-destination min of ``dist + weight``, and merge with
the running distances keeping improvements only. Rounds are bounded by the
weighted hop-diameter for non-negative weights (and by n in general, which
is the negative-cycle certificate). Each superstep is one join + one
groupBy-min + one outer merge — all map-side-combinable — with lineage
truncated per round.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, check_driver_limit
from linkgraph.exceptions import NetworkXUnbounded
from linkgraph.iterutils import SuperstepCache
from linkgraph.state import CheckpointStore


# Arcs the A* heap walk collects onto the driver.
_DRIVER_EDGES = 5_000_000


class NegativeCycleError(NetworkXUnbounded):
    """Mirror of ``networkx.NetworkXUnbounded`` for negative-cost cycles
    reachable from the sources (``weighted.py:1252-1258``)."""


def _source_df(g: SparkGraph, sources) -> DataFrame:
    if isinstance(sources, DataFrame):
        src = sources.select(F.col(sources.columns[0]).cast("long").alias("id"))
    else:
        src = g.spark.createDataFrame([(int(s),) for s in sources], "id long")
    return src.join(g.vertices.select("id"), "id", "left_semi")


def weighted_shortest_path_lengths(
    g: SparkGraph,
    sources,
    *,
    weight=None,
    max_rounds: Optional[int] = None,
    checkpoint_store: Optional[CheckpointStore] = None,
) -> DataFrame:
    """Multi-source weighted shortest-path lengths.

    Returns DataFrame ``(id BIGINT, distance DOUBLE)`` — minimum total
    weight from the nearest source; unreachable nodes absent, matching the
    reference's result-dict shape (``weighted.py:745-783``).

    ``sources`` is an iterable of node ids or a one-column DataFrame.
    Undirected graphs relax along both directions of each edge (the
    reference walks ``G.adj``); directed graphs along arcs only.

    ``weight`` accepts ``None`` (the ``weight`` column), a column name, a
    SQL expression string, or a ``Column`` — the Spark twin of the
    reference's ``weight=callable (u, v, d) -> float`` adapter
    (``weighted.py:41-79``); see
    :func:`linkgraph.graph.resolve_weight_column`.

    Raises :class:`NegativeCycleError` when relaxation is still improving
    after n rounds (every simple path has < n hops, so round n+1 can only
    improve via a negative cycle — the certificate the reference uses,
    ``weighted.py:1252``).
    """
    from linkgraph.graph import resolve_weight_column

    spark = g.spark
    base = g.symmetric_edges() if not g.directed else g.edges
    with SuperstepCache(spark, store=checkpoint_store) as loop:
        adj = loop.pin(
            base.select(
                "src", "dst", resolve_weight_column(base, weight).alias("weight")
            )
        )
        dist = loop.truncate(
            _source_df(g, sources).select("id", F.lit(0.0).alias("distance"))
        )
        frontier = dist
        n_limit = None  # computed lazily — only needed to certify a neg. cycle

        rounds = 0
        while True:
            rounds += 1
            if max_rounds is not None and rounds > max_rounds:
                break
            if max_rounds is None:
                if n_limit is None and rounds > 64:
                    n_limit = g.number_of_nodes()
                if n_limit is not None and rounds > n_limit:
                    raise NegativeCycleError(
                        "Negative cost cycle detected: relaxation still "
                        f"improving after {n_limit} rounds"
                    )
            # relax arcs out of the improved frontier only
            cand = (
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("distance") + F.col("weight")).alias("cand"))
            )
            merged = dist.join(cand, "id", "full").select(
                "id",
                F.least(
                    F.coalesce("distance", F.lit(float("inf"))),
                    F.coalesce("cand", F.lit(float("inf"))),
                ).alias("distance"),
                (
                    F.col("distance").isNull() | (F.col("cand") < F.col("distance"))
                ).alias("_improved"),
            )
            merged, seen = loop.commit(
                merged, rounds - 1, {"changed": F.count_if("_improved")}
            )
            loop.release(dist)
            frontier = merged.filter("_improved").select("id", "distance")
            dist = merged.select("id", "distance")
            if seen["changed"] == 0:
                break
        return loop.result(dist)


def single_source_weighted_path_length(
    g: SparkGraph, source, **kwargs
) -> DataFrame:
    """``single_source_dijkstra_path_length`` twin (``weighted.py:745``)."""
    return weighted_shortest_path_lengths(g, [source], **kwargs)


def bellman_ford_path_lengths(g: SparkGraph, sources, **kwargs) -> DataFrame:
    """Alias making the algorithm family explicit
    (``weighted.py:1166`` semantics; identical relaxation loop)."""
    return weighted_shortest_path_lengths(g, sources, **kwargs)


def has_path(g: SparkGraph, source, target) -> bool:
    """``networkx/algorithms/shortest_paths/generic.py:22`` — True when
    target is reachable from source (unweighted BFS to fixpoint)."""
    from linkgraph.algos.setops import shortest_path_lengths

    d = shortest_path_lengths(g, [source])
    return (
        d.filter(F.col("id") == int(target)).limit(1).count() > 0
    )


def shortest_path_length(g: SparkGraph, sources, *, weight: bool = False, **kwargs) -> DataFrame:
    """Generic dispatch (``networkx/algorithms/shortest_paths/generic.py:182``):
    ``weight=False`` routes to the unweighted frontier BFS
    (``unweighted.py`` twin), ``weight=True`` to the Bellman-Ford
    relaxation loop over the graph's ``weight`` column (the reference
    dispatches source/target/weight combinations to BFS / Dijkstra; the
    distributed engine's two kernels cover the same split). Returns
    DataFrame ``(id, distance)`` from the nearest source; unreachable nodes
    absent."""
    if weight:
        # weight=True → the weight column; any other truthy value (name,
        # SQL expression, Column) passes through to the resolver
        wkw = {} if weight is True else {"weight": weight}
        return weighted_shortest_path_lengths(g, sources, **wkw, **kwargs)
    from linkgraph.algos.setops import shortest_path_lengths

    return shortest_path_lengths(g, sources, **kwargs)


def voronoi_cells(
    g: SparkGraph,
    center_nodes,
    *,
    weight: bool = True,
    max_rounds: Optional[int] = None,
) -> DataFrame:
    """Nearest-center partition — ``networkx/algorithms/voronoi.py:10``
    (``voronoi_cells``, multi-source Dijkstra). DataFrame
    ``(id BIGINT, center BIGINT, distance DOUBLE)``: each reachable node
    keyed by its nearest center. Unreachable nodes are simply absent (the
    reference collects them under an ``"unreachable"`` dict key — callers
    wanting that view anti-join ``g.vertices``). Distance ties break to the
    MINIMUM center id — a deterministic rule where the reference inherits
    heap insertion order.

    Same frontier-relaxation loop as ``weighted_shortest_path_lengths``
    with the state widened to a ``struct(distance, center)`` whose natural
    lexicographic order implements the tie-break inside the same
    map-side-combinable ``min``. ``weight=False`` counts hops.
    """
    spark = g.spark
    adj = (
        g.symmetric_edges().select("src", "dst", "weight")
        if not g.directed
        else g.edges.select("src", "dst", "weight")
    )
    w = F.col("weight") if weight else F.lit(1.0)
    adj = adj.select("src", "dst", w.cast("double").alias("w"))

    with SuperstepCache(spark) as cache:
        adj = cache.pin(adj)
        best = cache.truncate(
            _source_df(g, center_nodes).select(
                "id",
                F.struct(
                    F.lit(0.0).alias("distance"), F.col("id").alias("center")
                ).alias("best"),
            )
        )
        frontier = best
        n_limit = None
        rounds = 0
        while True:
            rounds += 1
            if max_rounds is not None and rounds > max_rounds:
                break
            if max_rounds is None:
                if n_limit is None and rounds > 64:
                    n_limit = g.number_of_nodes()
                if n_limit is not None and rounds > n_limit:
                    raise NegativeCycleError(
                        "voronoi_cells: relaxation still improving after "
                        f"{n_limit} rounds (negative weights?)"
                    )
            cand = (
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(
                    F.min(
                        F.struct(
                            (F.col("best.distance") + F.col("w")).alias("distance"),
                            F.col("best.center").alias("center"),
                        )
                    ).alias("cand")
                )
            )
            merged, seen = cache.truncate(
                best.join(cand, "id", "full").select(
                    "id",
                    F.when(
                        F.col("best").isNull() | (F.col("cand") < F.col("best")),
                        F.col("cand"),
                    )
                    .otherwise(F.col("best"))
                    .alias("best"),
                    (
                        F.col("best").isNull()
                        | (F.col("cand") < F.col("best"))
                    ).alias("_improved"),
                ),
                retire=best,
                figures={"improved": F.count(F.when(F.col("_improved"), 1))},
            )
            frontier = merged.filter("_improved").select("id", "best")
            best = merged.select("id", "best")
            if seen["improved"] == 0:
                break
        return cache.result(
            best.select(
                "id",
                F.col("best.center").alias("center"),
                F.col("best.distance").alias("distance"),
            )
        )


def all_pairs_bellman_ford_path_lengths(
    g: SparkGraph,
    sources=None,
    *,
    weight=None,
    max_rounds: Optional[int] = None,
) -> DataFrame:
    """Per-source weighted shortest-path lengths: ``(source BIGINT,
    id BIGINT, distance DOUBLE)`` — the reference's
    ``all_pairs_bellman_ford_path_length`` (``weighted.py:2061``) /
    Johnson-style APSP, with every source relaxing SIMULTANEOUSLY by
    carrying the source id in the state key (the weighted twin of the
    batched BFS in :mod:`linkgraph.algos.distance`). ``sources=None`` uses
    every vertex; pass a one-column DataFrame of landmarks at scale —
    exact weighted APSP is O(n·m) state by definition, exactly the
    reference's per-source loop cost, sharded.

    Unreachable pairs are absent; raises :class:`NegativeCycleError` after
    n rounds of continued improvement, like the single-source form.
    """
    from linkgraph.graph import resolve_weight_column

    spark = g.spark
    base = g.symmetric_edges() if not g.directed else g.edges
    adj = base.select(
        "src", "dst", resolve_weight_column(base, weight).alias("weight")
    )
    if sources is None:
        src_df = g.vertices.select(F.col("id").alias("source"))
    else:
        src_df = _source_df(g, sources).select(F.col("id").alias("source"))

    with SuperstepCache(spark) as cache:
        adj = cache.pin(adj)
        dist = cache.truncate(
            src_df.select(
                "source", F.col("source").alias("id"), F.lit(0.0).alias("distance")
            )
        )
        frontier = dist
        last_trunc = dist
        n_limit = None
        rounds = 0
        while True:
            rounds += 1
            if max_rounds is not None and rounds > max_rounds:
                break
            if max_rounds is None:
                if n_limit is None and rounds > 64:
                    n_limit = g.number_of_nodes()
                if n_limit is not None and rounds > n_limit:
                    raise NegativeCycleError(
                        "Negative cost cycle detected: relaxation still "
                        f"improving after {n_limit} rounds"
                    )
            cand = (
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .groupBy("source", F.col("dst").alias("id"))
                .agg(F.min(F.col("distance") + F.col("weight")).alias("cand"))
            )
            merged = (
                dist.join(cand, ["source", "id"], "full")
                .select(
                    "source",
                    "id",
                    F.least(
                        F.coalesce("distance", F.lit(float("inf"))),
                        F.coalesce("cand", F.lit(float("inf"))),
                    ).alias("distance"),
                    (
                        F.col("distance").isNull()
                        | (F.col("cand") < F.col("distance"))
                    ).alias("_improved"),
                )
            )
            merged, seen = cache.truncate(
                merged,
                retire=last_trunc,
                figures={"improved": F.count_if(F.col("_improved"))},
            )
            last_trunc = merged
            frontier = merged.filter("_improved").select("source", "id", "distance")
            dist = merged.select("source", "id", "distance")
            if seen["improved"] == 0:
                break
        return cache.result(dist)


def floyd_warshall(g: SparkGraph, *, weight=None, sources=None) -> DataFrame:
    """(src, dst, distance): all-pairs weighted shortest-path lengths —
    the reference's ``floyd_warshall`` (``shortest_paths/dense.py:18``).

    The reference's triple loop is O(n³) DENSE dynamic programming with an
    n² matrix on one machine; the engine computes the identical values
    with the batched per-source Bellman–Ford fixpoint
    (:func:`all_pairs_bellman_ford_path_lengths`) — O(diameter) join
    rounds over (source, id) state, which is the shuffle-parallel plan and
    strictly less work on sparse graphs. Differences from the reference's
    dict-of-dicts, both engine-wide conventions: unreachable pairs are
    ABSENT instead of ``inf`` (the diagonal ``(v, v, 0.0)`` is present),
    and a negative cycle raises :class:`NegativeCycleError` where the
    reference silently returns wrong distances. Negative edge WEIGHTS are
    fine, like the reference. ``sources`` restricts the row space (the
    landmark valve at scale); ``weight`` takes a column/SQL expression."""
    out = all_pairs_bellman_ford_path_lengths(g, sources, weight=weight)
    return out.select(
        F.col("source").alias("src"), F.col("id").alias("dst"), "distance"
    )


def _astar(g: SparkGraph, source, target, heuristic, weight, cutoff=None):
    """Textbook A* on a driver-collected weighted arc list (size-guarded).

    The reference (``astar.py:22``) is a sequential heap walk whose pop
    order is the algorithm itself — no join form exists; same driver-gate
    pattern as the DFS family. Weight resolves Spark-side (column / SQL
    expression / Column), so expression weights work identically to the
    distributed paths."""
    import heapq
    from itertools import count

    from linkgraph.exceptions import NetworkXError
    from linkgraph.graph import resolve_weight_column

    base = g.symmetric_edges() if not g.directed else g.edges
    arcs = base.select(
        "src", "dst", resolve_weight_column(base, weight).alias("w")
    )
    check_driver_limit(
        arcs.count(), _DRIVER_EDGES, "astar_path pop order is sequential",
        "Use weighted_shortest_path_lengths (distributed) for lengths.",
    )
    adj: dict[int, list[tuple[int, float]]] = {}
    nodes = {r["id"] for r in g.vertices.select("id").collect()}
    source, target = int(source), int(target)
    if source not in nodes or target not in nodes:
        raise NetworkXError(
            f"Either source {source} or target {target} is not in G"
        )
    for r in arcs.collect():
        adj.setdefault(r["src"], []).append((r["dst"], float(r["w"])))
    h = heuristic if heuristic is not None else (lambda u, v: 0.0)

    c = count()
    queue = [(0.0, next(c), source, 0.0, None)]
    enqueued: dict[int, tuple[float, float]] = {}
    explored: dict[int, Optional[int]] = {}
    while queue:
        _, _, cur, dist, parent = heapq.heappop(queue)
        if cur == target:
            path = [cur]
            p = parent
            while p is not None:
                path.append(p)
                p = explored[p]
            path.reverse()
            return path, dist
        if cur in explored:
            if explored[cur] is None:
                continue
            qcost, hval = enqueued[cur]
            if qcost < dist:
                continue
        explored[cur] = parent
        for nbr, w in adj.get(cur, ()):
            ncost = dist + w
            if nbr in enqueued:
                qcost, hval = enqueued[nbr]
                if qcost <= ncost:
                    continue
            else:
                hval = h(nbr, target)
            if cutoff and ncost + hval > cutoff:
                continue
            enqueued[nbr] = ncost, hval
            heapq.heappush(queue, (ncost + hval, next(c), nbr, ncost, cur))
    raise NetworkXError(f"Node {target} not reachable from {source}")


def astar_path(
    g: SparkGraph,
    source,
    target,
    heuristic=None,
    *,
    weight=None,
    cutoff=None,
) -> DataFrame:
    """(order, id): nodes of a minimum-weight source→target path under an
    admissible ``heuristic(u, target)`` (``astar.py:22`` ``astar_path``) —
    identical path cost to the reference; tie paths may differ by heap
    order, so tests pin the COST, the endpoints, and edge validity.
    ``cutoff`` prunes nodes whose g+h exceeds it, exactly the reference's
    rule (``astar.py:165``)."""
    path, _ = _astar(
        g, source, target, heuristic, weight, cutoff
    )
    return g.spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(path)], "order int, id bigint"
    )


def astar_path_length(
    g: SparkGraph,
    source,
    target,
    heuristic=None,
    *,
    weight=None,
    cutoff=None,
) -> float:
    """``astar.py:160`` ``astar_path_length`` — the cost of the A* path."""
    _, dist = _astar(
        g, source, target, heuristic, weight, cutoff
    )
    return float(dist)


def floyd_warshall_predecessor_and_distance(
    g: SparkGraph, *, weight=None, sources=None, tol: float = 1e-9
):
    """``dense.py`` ``floyd_warshall_predecessor_and_distance`` — the same
    all-pairs table as :func:`floyd_warshall` plus a predecessor relation:
    ``pred(s, v)`` = the smallest in-neighbor u on a shortest s→v path
    (deterministic tie-break; the reference keeps whichever u its loop
    touched last — any valid predecessor reconstructs the same lengths).
    Returns ``(pred DataFrame (src, dst, pred), dist DataFrame
    (src, dst, distance))``. One arc⋈distance join over the batched
    per-source Bellman–Ford state — no dense matrix."""
    from linkgraph.graph import resolve_weight_column

    d = floyd_warshall(g, weight=weight, sources=sources).persist()
    base = g.symmetric_edges() if not g.directed else g.edges
    if weight is None:
        arcs = base.select("src", "dst", F.lit(1.0).alias("w"))
    else:
        arcs = base.select(
            "src", "dst", resolve_weight_column(base, weight).alias("w")
        )
    du = d.select(
        F.col("src").alias("s"), F.col("dst").alias("u"), F.col("distance").alias("dsu")
    )
    dv = d.select(
        F.col("src").alias("s"), F.col("dst").alias("v"), F.col("distance").alias("dsv")
    )
    pred = (
        arcs.select(F.col("src").alias("u"), F.col("dst").alias("v"), "w")
        .join(du, "u")
        .join(dv, ["s", "v"])
        .filter(F.col("dsu") + F.col("w") <= F.col("dsv") + F.lit(tol))
        .filter(F.col("dsv") > 0)  # the diagonal has no predecessor
        .groupBy(F.col("s").alias("src"), F.col("v").alias("dst"))
        .agg(F.min("u").alias("pred"))
    )
    return pred, d


def floyd_warshall_numpy(g: SparkGraph, nodelist=None, *, weight=None):
    """``dense.py`` ``floyd_warshall_numpy`` — the all-pairs distance
    matrix as a dense numpy array (inf where unreachable), node order =
    ``nodelist`` or sorted ids. A driver-side bridge over the distributed
    table (the reference's own cost class is the n² matrix)."""
    import numpy as np

    ids = (
        [int(x) for x in nodelist]
        if nodelist is not None
        else [r["id"] for r in g.vertices.select("id").orderBy("id").collect()]
    )
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = np.full((n, n), np.inf)
    rows = floyd_warshall(g, weight=weight).collect()
    for r in rows:
        i, j = pos.get(r["src"]), pos.get(r["dst"])
        if i is not None and j is not None:
            out[i, j] = r["distance"]
    np.fill_diagonal(out, 0.0)
    return out
