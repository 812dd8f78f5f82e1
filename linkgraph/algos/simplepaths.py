"""Simple-path enumeration (bounded).

Reference: ``networkx/algorithms/simple_paths.py:63`` ``all_simple_paths``
— every loop-free path from source to target up to ``cutoff`` edges. The
output itself can be exponential, so like bounded ``simple_cycles`` the
distributed form REQUIRES the cutoff (the reference defaults it to n−1,
which explodes identically — its generator just defers the blowup).

Plan: frontier rows carry the path as an array column; each superstep is
one frontier⋈arcs join with an ``array_contains`` loop filter — path
state is exactly the output the user asked to enumerate, so the row
volume is the answer's size, never more.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.iterutils import SuperstepCache


# Arcs the spur schedule collects onto the driver.
_DRIVER_EDGES = 5_000_000

__all__ = ["all_simple_paths"]


def all_simple_paths(
    g: SparkGraph, source, target, cutoff: int
) -> DataFrame:
    """(path ARRAY<BIGINT>): every simple path from ``source`` to
    ``target`` with at most ``cutoff`` edges (``simple_paths.py:63``
    semantics with an explicit cutoff; undirected graphs walk both
    directions). ``source``/``target`` are node ids."""
    if cutoff < 1:
        raise ValueError("cutoff must be at least 1")
    source, target = int(source), int(target)
    present = {
        r["id"]
        for r in g.vertices.filter(F.col("id").isin([source, target])).collect()
    }
    if source not in present:
        raise ValueError(f"source node {source} not in graph")
    if target not in present:
        raise ValueError(f"target node {target} not in graph")
    spark = g.spark
    with SuperstepCache(spark) as cache:
        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        frontier = cache.truncate(
            spark.createDataFrame([(source,)], "head bigint").select(
                "head", F.array(F.col("head")).alias("path")
            )
        )
        outs = []
        for _ in range(cutoff):
            step, seen = cache.truncate(
                frontier.join(arcs.withColumnRenamed("src", "head"), "head")
                .filter(~F.array_contains(F.col("path"), F.col("dst")))
                .select(
                    F.col("dst").alias("head"),
                    F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                ),
                figures={"open": F.count(F.when(F.col("head") != target, 1))},
            )
            outs.append(step.filter(F.col("head") == target).select("path"))
            frontier = step.filter(F.col("head") != target)
            if seen["open"] == 0:
                break
        out = outs[0]
        for df in outs[1:]:
            out = out.unionByName(df)
        return cache.result(cache.truncate(out))


def all_simple_edge_paths(
    g: SparkGraph, source, target, cutoff: int
) -> DataFrame:
    """(path ARRAY<STRUCT<src, dst>>): every simple path as its edge
    sequence (``simple_paths.py:331`` with the engine's explicit-cutoff
    contract). Derived from :func:`all_simple_paths` by one ``transform``
    over the node array — no second traversal."""
    paths = all_simple_paths(g, source, target, cutoff)
    n = F.size(F.col("path"))
    return paths.select(
        F.expr(
            "transform(slice(path, 1, size(path) - 1), "
            "(x, i) -> struct(x as src, path[i + 1] as dst))"
        ).alias("path")
    ).filter(n >= 2)


def shortest_simple_paths(
    g: SparkGraph,
    source,
    target,
    weight=None,
    *,
    k: int = None,
):
    """Yen's algorithm (``simple_paths.py:424`` ``shortest_simple_paths``):
    simple s→t paths in nondecreasing length order, as a lazy generator of
    node lists — ``weight=None`` counts hops, otherwise the named weight
    column. ``k`` caps how many paths may be requested (the generator ends
    early); ``None`` = unbounded, matching the reference.

    The candidate schedule (spur at each prefix of the last yielded path,
    min-heap pop) is inherently sequential — each yielded path changes the
    next spur set — so the kernel is the size-guarded driver pattern used
    for the DFS family: collect the weighted arc list once, then run
    Yen/Dijkstra in memory. At web scale each spur solve could be one
    distributed SSSP, but k-shortest on a 100 TB graph is not a
    whole-graph product — the guard documents the boundary honestly.
    """
    import heapq

    source, target = int(source), int(target)
    present = {
        r["id"]
        for r in g.vertices.filter(F.col("id").isin([source, target])).collect()
    }
    if source not in present:
        raise ValueError(f"source node {source} not in graph")
    if target not in present:
        raise ValueError(f"target node {target} not in graph")
    from linkgraph.graph import resolve_weight_column

    base = g.edges if g.directed else g.symmetric_edges()
    if weight is None:
        warcs = base.select("src", "dst", F.lit(1.0).alias("w"))
    else:
        warcs = base.select(
            "src", "dst", resolve_weight_column(base, weight).alias("w")
        )
    adj: dict = {}
    for r in driver_rows(
        warcs, _DRIVER_EDGES, "shortest_simple_paths' spur schedule is sequential"
    ):
        # parallel arcs coalesce to the min weight (shortest-path semantics)
        cur = adj.setdefault(r["src"], {})
        w = float(r["w"])
        if r["dst"] not in cur or w < cur[r["dst"]]:
            cur[r["dst"]] = w

    def dijkstra(src, banned_nodes, banned_arcs):
        dist = {src: 0.0}
        prev = {}
        heap = [(0.0, src)]
        while heap:
            d, u = heapq.heappop(heap)
            if d > dist.get(u, float("inf")):
                continue
            if u == target:
                break
            for v, w in adj.get(u, {}).items():
                if v in banned_nodes or (u, v) in banned_arcs:
                    continue
                nd = d + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    prev[v] = u
                    heapq.heappush(heap, (nd, v))
        if target not in dist:
            return None, None
        path = [target]
        while path[-1] != src:
            path.append(prev[path[-1]])
        return dist[target], list(reversed(path))

    def gen():
        from linkgraph.exceptions import NetworkXNoPath

        d0, p0 = dijkstra(source, frozenset(), frozenset())
        if p0 is None:
            raise NetworkXNoPath(f"No path between {source} and {target}.")
        yielded = []
        yield p0
        yielded.append((d0, p0))
        if k is not None and len(yielded) >= k:
            return
        candidates: list = []
        seen = {tuple(p0)}
        while True:
            _, last = yielded[-1]
            for i in range(len(last) - 1):
                spur = last[i]
                root = last[: i + 1]
                root_cost = sum(
                    adj[root[j]][root[j + 1]] for j in range(len(root) - 1)
                )
                banned_arcs = {
                    (p[i], p[i + 1])
                    for _, p in yielded
                    if len(p) > i + 1 and p[: i + 1] == root
                }
                banned_nodes = frozenset(root[:-1])
                dspur, pspur = dijkstra(spur, banned_nodes, banned_arcs)
                if pspur is None:
                    continue
                total = root[:-1] + pspur
                key = tuple(total)
                if key in seen:
                    continue
                seen.add(key)
                heapq.heappush(candidates, (root_cost + dspur, total))
            if not candidates:
                return
            dn, pn = heapq.heappop(candidates)
            yield pn
            yielded.append((dn, pn))
            if k is not None and len(yielded) >= k:
                return

    return gen()
