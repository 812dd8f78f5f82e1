"""Depth-first traversal family.

Reference: ``networkx/algorithms/traversal/depth_first_search.py:19-414``
(``dfs_edges``, ``dfs_tree``, ``dfs_preorder_nodes``,
``dfs_postorder_nodes``, ``dfs_labeled_edges``).

Scale note: the DFS *visit order* is inherently sequential — lex-first DFS
is P-complete (Reif 1985), so no shuffle-parallel schedule can reproduce it.
The engine therefore runs the stack walk on the driver over a size-guarded
collected edge list (the established pattern for order-exact sequential
schedules, ``lpa.py`` greedy-coloring path) and returns DataFrames. For
order-free reachability at 100 TB scale use the BFS family /
``descendants`` — same *set*, distributed plan; the guard message says so.

Determinism: neighbors are iterated in ascending node id, which equals the
reference called with ``sort_neighbors=sorted``. Insertion order — the
reference's default — does not survive a shuffle, so ascending id is the
only neighbor order a column-store graph can promise; parity tests pin
every function against ``sort_neighbors=sorted``.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, driver_rows

__all__ = [
    "dfs_edges",
    "dfs_tree",
    "dfs_preorder_nodes",
    "dfs_postorder_nodes",
    "dfs_labeled_edges",
]

# Arcs the driver walk collects.
_DRIVER_EDGES = 5_000_000

_SCHEMA_EDGES = "src long, dst long, order long"
_SCHEMA_NODES = "id long, pos long"
_SCHEMA_LABELED = "src long, dst long, label string, order long"


def _driver_adjacency(
    g: SparkGraph,
    limit: int,
    *,
    loops: bool = True,
    what: str = "DFS visit order is sequential; the driver walk collects the arc list",
    hint: str = (
        "For order-free reachability at scale use bfs_edges/descendants "
        "(distributed)."
    ),
) -> "tuple[dict[int, list[int]], list[int]]":
    """Collect the distinct arc list (both directions of an undirected
    graph; self-loops dropped unless ``loops``) onto the driver, at most
    ``limit`` arcs (:func:`linkgraph.graph.driver_rows`), and return
    ``{node: ascending neighbor ids}`` plus the ascending node list.
    Parallel-edge multiplicity cannot change any output of its users, so
    arcs are distinct()'d before the count."""
    arcs = g.edges if g.directed else g.symmetric_edges()
    if not loops:
        arcs = arcs.filter(F.col("src") != F.col("dst"))
    arcs = arcs.select("src", "dst").distinct()
    adj: dict[int, list[int]] = {}
    for r in driver_rows(arcs, limit, what, hint):
        adj.setdefault(r["src"], []).append(r["dst"])
    for nbrs in adj.values():
        nbrs.sort()
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    return adj, nodes


def _dfs_events(
    adj: "dict[int, list[int]]",
    roots: Iterable[int],
    depth_limit: Optional[int],
) -> Iterator["tuple[int, int, str]"]:
    """Yield ``(u, v, label)`` DFS events with the reference's labeling:
    ``forward`` tree edges (roots as ``(r, r)`` self-events), ``nontree``
    for already-visited targets, ``reverse`` on stack pop, and
    ``reverse-depth_limit`` for children admitted *at* the depth cap (they
    are visited but never expanded, and get no plain ``reverse``)."""
    if depth_limit is None:
        depth_limit = len(adj) + 1  # never binding
    visited: set[int] = set()
    for start in roots:
        if start in visited:
            continue
        visited.add(start)
        yield (start, start, "forward")
        stack = [(start, start, iter(adj.get(start, ())))]
        while stack:
            par, node, children = stack[-1]
            pushed = False
            for child in children:
                if child in visited:
                    yield (node, child, "nontree")
                    continue
                visited.add(child)
                yield (node, child, "forward")
                if len(stack) < depth_limit:
                    stack.append((node, child, iter(adj.get(child, ()))))
                    pushed = True
                    break
                yield (node, child, "reverse-depth_limit")
            if not pushed:
                stack.pop()
                yield (par, node, "reverse")


def _roots(g: SparkGraph, source, nodes: "list[int]") -> "list[int]":
    if source is None:
        return nodes
    if source not in set(nodes):
        raise ValueError(f"source {source} is not in the graph")
    return [source]


def dfs_labeled_edges(
    g: SparkGraph,
    source=None,
    depth_limit: Optional[int] = None,
) -> DataFrame:
    """(src, dst, label, order): the full DFS event stream
    (``depth_first_search.py:343`` semantics; roots appear as
    ``(r, r, 'forward')`` / ``(r, r, 'reverse')`` self-events). ``order``
    is the 1-based event position."""
    adj, nodes = _driver_adjacency(g, _DRIVER_EDGES)
    events = [
        (u, v, lab, i + 1)
        for i, (u, v, lab) in enumerate(
            _dfs_events(adj, _roots(g, source, nodes), depth_limit)
        )
    ]
    return g.spark.createDataFrame(events or [], _SCHEMA_LABELED)


def dfs_edges(
    g: SparkGraph,
    source=None,
    depth_limit: Optional[int] = None,
) -> DataFrame:
    """(src, dst, order): DFS tree edges in visit order
    (``depth_first_search.py:19``). ``order`` is the 1-based yield position."""
    adj, nodes = _driver_adjacency(g, _DRIVER_EDGES)
    rows = []
    for u, v, lab in _dfs_events(adj, _roots(g, source, nodes), depth_limit):
        if lab == "forward" and u != v:
            rows.append((u, v, len(rows) + 1))
    return g.spark.createDataFrame(rows or [], _SCHEMA_EDGES)


def dfs_tree(
    g: SparkGraph,
    source=None,
    depth_limit: Optional[int] = None,
) -> SparkGraph:
    """Directed DFS tree (forest when ``source=None``) over the visited
    nodes (``depth_first_search.py:122``) — unreached nodes are excluded,
    visited-but-unexpanded depth-limit leaves included, like the reference."""
    adj, nodes = _driver_adjacency(g, _DRIVER_EDGES)
    rows, seen = [], []
    for u, v, lab in _dfs_events(adj, _roots(g, source, nodes), depth_limit):
        if lab == "forward":
            if u == v:
                seen.append(v)
            else:
                rows.append((u, v))
                seen.append(v)
    spark = g.spark
    edges = spark.createDataFrame(rows or [], "src long, dst long")
    verts = spark.createDataFrame([(n,) for n in seen] or [], "id long")
    return SparkGraph(edges, vertices=verts, directed=True, coalesce_edges=False)


def _order_nodes(g, source, depth_limit, want: str) -> DataFrame:
    adj, nodes = _driver_adjacency(g, _DRIVER_EDGES)
    rows = []
    for u, v, lab in _dfs_events(adj, _roots(g, source, nodes), depth_limit):
        if lab == want:
            rows.append((v, len(rows) + 1))
    return g.spark.createDataFrame(rows or [], _SCHEMA_NODES)


def dfs_preorder_nodes(
    g: SparkGraph,
    source=None,
    depth_limit: Optional[int] = None,
) -> DataFrame:
    """(id, pos): nodes in DFS discovery order, 1-based
    (``depth_first_search.py:268``)."""
    return _order_nodes(g, source, depth_limit, "forward")


def dfs_postorder_nodes(
    g: SparkGraph,
    source=None,
    depth_limit: Optional[int] = None,
) -> DataFrame:
    """(id, pos): nodes in DFS finish order, 1-based
    (``depth_first_search.py:203``). Depth-limit leaves never finish
    (``reverse-depth_limit``), so — like the reference — they are absent."""
    return _order_nodes(g, source, depth_limit, "reverse")


def edge_dfs(
    g: SparkGraph,
    source=None,
) -> "list[tuple[int, int]]":
    """Every EDGE in depth-first order
    (``networkx/algorithms/traversal/edgedfs.py:12`` ``edge_dfs``,
    default orientation): unlike ``dfs_edges``, every edge is reported
    once, including back/cross edges; undirected edges are reported in
    traversal orientation. Driver-gated like the node DFS family
    (sequential by definition)."""
    adj, nodes = _driver_adjacency(g, _DRIVER_EDGES)
    roots = _roots(g, source, nodes)
    seen_edges: set = set()
    out = []
    visited_starts: set = set()
    for start in roots:
        if start in visited_starts:
            continue
        stack = [start]
        iters = {start: iter(adj.get(start, ()))}
        while stack:
            u = stack[-1]
            advanced = False
            for v in iters[u]:
                key = (u, v) if g.directed else frozenset((u, v)) if u != v else (u, u)
                if key in seen_edges:
                    continue
                seen_edges.add(key)
                out.append((u, v))
                # the reference descends into v on EVERY new edge, even a
                # previously-visited node (edgedfs.py: stack.append(child))
                if v not in iters:
                    iters[v] = iter(adj.get(v, ()))
                stack.append(v)
                advanced = True
                break
            if not advanced:
                stack.pop()
        visited_starts.update(iters.keys())
    return out


def edge_bfs(
    g: SparkGraph,
    source=None,
) -> "list[tuple[int, int]]":
    """Every edge in breadth-first order (``traversal/edgebfs.py:12``
    ``edge_bfs``): edges grouped by the BFS level of their tail. The LEVEL
    structure is the distributed BFS; only the within-level emission order
    is driver work."""
    adj, nodes = _driver_adjacency(g, _DRIVER_EDGES)
    roots = _roots(g, source, nodes)
    from collections import deque

    seen_edges: set = set()
    out = []
    queued: set = set()
    q = deque()
    for r in roots:
        if r not in queued:
            queued.add(r)
            q.append(r)
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                key = (u, v) if g.directed else frozenset((u, v)) if u != v else (u, u)
                if key in seen_edges:
                    continue
                seen_edges.add(key)
                out.append((u, v))
                if v not in queued:
                    queued.add(v)
                    q.append(v)
    return out


def dfs_predecessors(g: SparkGraph, source=None, depth_limit=None) -> DataFrame:
    """(id, pred) — each visited node's DFS-tree parent
    (``depth_first_search.py`` ``dfs_predecessors``; root rows absent,
    like the reference's dict)."""
    t = dfs_tree(g, source=source, depth_limit=depth_limit)
    return t.edges.select(
        F.col("dst").alias("id"), F.col("src").alias("pred")
    )


def dfs_successors(g: SparkGraph, source=None, depth_limit=None) -> DataFrame:
    """(id, successors array<long>) — DFS-tree children per expanded node
    (``depth_first_search.py`` ``dfs_successors``)."""
    t = dfs_tree(g, source=source, depth_limit=depth_limit)
    return (
        t.edges.groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_list("dst")).alias("successors"))
    )
