"""(k, l)-connectivity — the "hybrid graph" property.

Reference: ``networkx/algorithms/hybrid.py`` — ``is_kl_connected`` (every
edge lies on at least l locally-edge-disjoint paths within the k-hop
neighborhood) and ``kl_connected_subgraph`` (the maximum spanning
subgraph with that property, by repeated edge deletion).

The per-edge check is a local BFS over the collected adjacency — a
driver kernel like the reference (whose quirks, including the unbounded
path length in the default memory mode, are preserved exactly; parity
tests run against the reference directly since it is SciPy-free).
"""

from __future__ import annotations

from collections import deque

from linkgraph.graph import SparkGraph, driver_rows

__all__ = ["is_kl_connected", "kl_connected_subgraph"]

_MAX_DRIVER_EDGES = 1_000_000


def _collect_adj(g: SparkGraph):
    rows = driver_rows(g.edges.select("src", "dst"), _MAX_DRIVER_EDGES, "kl_connected")
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    adj = {v: set() for v in nodes}
    for r in rows:
        u, v = r["src"], r["dst"]
        adj[u].add(v)
        adj[v].add(u)
    return adj


def _bfs_path(adj, removed, u, v):
    """Shortest u→v path avoiding removed edges; None when disconnected."""
    if u == v:
        return [u]
    prev = {u: None}
    q = deque([u])
    while q:
        x = q.popleft()
        for y in sorted(adj[x]):
            key = (x, y) if x <= y else (y, x)
            if key in removed or y in prev:
                continue
            prev[y] = x
            if y == v:
                path = [v]
                while prev[path[-1]] is not None:
                    path.append(prev[path[-1]])
                return list(reversed(path))
            q.append(y)
    return None


def _edge_ok(adj, u, v, k, l, low_memory):
    if low_memory:
        verts = {u, v}
        for _ in range(k):
            for w in list(verts):
                verts |= adj[w]
        local = {x: adj[x] & verts for x in verts}
    else:
        local = adj
    removed = set()
    path = [u, v]
    cnt = 0
    while path:
        cnt += 1
        if cnt >= l:
            return True
        prev = u
        for w in path:
            if w != prev:
                removed.add((prev, w) if prev <= w else (w, prev))
                prev = w
        path = _bfs_path(local, removed, u, v)
    return False


def is_kl_connected(g: SparkGraph, k: int, l: int, low_memory: bool = False) -> bool:
    """``hybrid.py`` ``is_kl_connected`` — True iff every edge admits
    ``l`` locally edge-disjoint u-v paths (k-hop local when
    ``low_memory``)."""
    adj = _collect_adj(g)
    for r in g.edges.select("src", "dst").collect():
        u, v = r["src"], r["dst"]
        if u == v:
            continue
        if not _edge_ok(adj, u, v, int(k), int(l), low_memory):
            return False
    return True


def kl_connected_subgraph(
    g: SparkGraph, k: int, l: int, low_memory: bool = False,
    same_as_graph: bool = False,
):
    """``hybrid.py`` ``kl_connected_subgraph`` — keep exactly the edges
    that pass the (k, l) test AGAINST THE ORIGINAL GRAPH (the reference
    deep-copies G for every check, so deletions never cascade — quirk
    preserved); returns the subgraph (plus the "was already
    kl-connected" flag when ``same_as_graph``)."""
    adj = _collect_adj(g)
    kept = []
    graph_ok = True
    for r in g.edges.select("src", "dst").collect():
        u, v = r["src"], r["dst"]
        if u != v and _edge_ok(adj, u, v, int(k), int(l), low_memory):
            kept.append((u, v))
        else:
            graph_ok = False
    rows = [(min(u, v), max(u, v), 1.0) for u, v in sorted(kept)]
    e = g.spark.createDataFrame(rows or [], "src long, dst long, weight double")
    sub = SparkGraph(e, g.vertices.select("id"), directed=False,
                     coalesce_edges=False)
    if same_as_graph:
        return sub, graph_ok
    return sub
