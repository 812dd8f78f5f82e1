"""Exact k-components, minimum node-cut enumeration, and all-pairs local
node connectivity.

Reference: ``networkx/algorithms/connectivity/kcomponents.py``
(``k_components``, Moody & White 2003), ``kcutsets.py``
(``all_node_cuts``), ``connectivity.py``
(``all_pairs_node_connectivity``).

Scale shape: every routine here is output- or search-bound — k-component
detection recursively removes minimum node cuts and re-examines the
pieces, and cut ENUMERATION is combinatorial by definition — so the
kernels run driver-side under the engine's size guard (the DFS-family
pattern), with an independent local unit-capacity max-flow; the
distributed :func:`linkgraph.algos.flow.node_connectivity` remains the
scale path for single values. Parity is pinned against the reference in
``tests/test_kcomponents.py``.
"""

from __future__ import annotations

import itertools
from collections import deque

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError, NotImplementedForDirected
from linkgraph.graph import SparkGraph

__all__ = [
    "all_node_cuts",
    "k_components",
    "all_pairs_node_connectivity",
]


# Distinct non-loop arcs the connectivity searches collect.
_DRIVER_ARCS = 1_000_000


def _collect_adj(g: SparkGraph):
    """Every node's neighbor set (successors when directed), self-loops
    dropped, from the DFS family's arc collection."""
    from linkgraph.algos.dfs import _driver_adjacency

    adj, nodes = _driver_adjacency(
        g, _DRIVER_ARCS, loops=False,
        what="driver-gated connectivity search", hint="",
    )
    return {v: set(adj.get(v, ())) for v in nodes}


def _kappa_st(adj: dict, s, t, *, directed=False, cap=None) -> int:
    """Local node connectivity κ(s, t) — max internally-disjoint paths —
    by unit-capacity max flow on the node-split digraph (Even–Tarjan
    reduction), BFS augmenting paths. ``cap`` bounds the search (early
    exit once the flow reaches it)."""
    if t in adj.get(s, ()):
        raise ValueError("kappa_st undefined for adjacent nodes")
    # split v -> (v, 'in'), (v, 'out'); residual adjacency as dict of sets
    res: dict = {}

    def add(u, v):
        res.setdefault(u, set()).add(v)

    for v in adj:
        add((v, 0), (v, 1))  # in -> out, capacity 1
    for u, nbrs in adj.items():
        for v in nbrs:
            add((u, 1), (v, 0))
            if not directed:
                pass  # symmetric adj already carries both directions
    S, T = (s, 1), (t, 0)
    flow = 0
    while cap is None or flow < cap:
        # BFS for augmenting path in residual
        parent = {S: None}
        q = deque([S])
        while q and T not in parent:
            x = q.popleft()
            for y in res.get(x, ()):
                if y not in parent:
                    parent[y] = x
                    q.append(y)
        if T not in parent:
            break
        # augment: flip edges along the path
        y = T
        while parent[y] is not None:
            x = parent[y]
            res[x].discard(y)
            add(y, x)
            y = x
        flow += 1
    return flow


def _local_node_connectivity(adj: dict) -> int:
    """κ(G) for the collected graph: min over the reference's pivot
    schedule (min-degree node vs its non-neighbors, plus its neighbor
    pairs — ``connectivity.py:412``)."""
    nodes = list(adj)
    n = len(nodes)
    if n < 2:
        return 0
    # disconnected or trivially split
    if any(not adj[v] for v in nodes):
        return 0
    x = min(nodes, key=lambda v: len(adj[v]))
    best = len(adj[x])  # kappa <= min degree
    for v in nodes:
        if v == x or v in adj[x]:
            continue
        best = min(best, _kappa_st(adj, x, v, cap=best))
        if best == 0:
            return 0
    for u, w in itertools.combinations(sorted(adj[x]), 2):
        if w in adj[u]:
            continue
        best = min(best, _kappa_st(adj, u, w, cap=best))
        if best == 0:
            return 0
    return best


def _connected(adj: dict, removed: frozenset) -> bool:
    left = [v for v in adj if v not in removed]
    if not left:
        return True
    seen = {left[0]}
    q = deque(seen)
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in removed and v not in seen:
                seen.add(v)
                q.append(v)
    return len(seen) == len(left)


def all_node_cuts(
    g: SparkGraph, k: int = None, flow_func=None, *, max_combinations: int = 2_000_000,
) -> "list[set]":
    """Every minimum-size separating node set of an undirected connected
    graph (``kcutsets.py`` ``all_node_cuts``; Kanevsky's enumeration).
    Returns the cuts as a list of sets; complete graphs have none, like
    the reference.

    The reference enumerates via antichains of a condensed residual
    network; the engine enumerates candidate κ-subsets directly under a
    combination guard — the output contract (ALL minimum cuts) is
    combinatorial either way, and the guard documents the boundary."""
    import math

    if g.directed:
        raise NotImplementedForDirected("all_node_cuts: undirected only")
    adj = _collect_adj(g)
    n = len(adj)
    if n == 0:
        raise NetworkXError("Input graph is disconnected.")
    if not _connected(adj, frozenset()):
        raise NetworkXError("Input graph is disconnected.")
    if k is None:
        k = _local_node_connectivity(adj)
    if k >= n - 1:  # complete graph: no separating set exists
        return []
    n_comb = math.comb(n, k)
    if n_comb > max_combinations:
        raise ValueError(
            f"all_node_cuts enumerates C({n},{k})={n_comb} candidates > "
            f"max_combinations={max_combinations}"
        )
    cuts = []
    for comb in itertools.combinations(sorted(adj), k):
        cset = frozenset(comb)
        if not _connected(adj, cset):
            cuts.append(set(cset))
    return cuts


def _consolidate(sets, k):
    """Merge node sets sharing >= k elements (transitively)."""
    sets = [set(s) for s in sets]
    parent = list(range(len(sets)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, j in itertools.combinations(range(len(sets)), 2):
        if len(sets[i] & sets[j]) >= k:
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[rj] = ri
    merged: dict = {}
    for i, s in enumerate(sets):
        merged.setdefault(find(i), set()).update(s)
    return list(merged.values())


def _local_components(adj: dict, nodes=None):
    nodes = set(adj) if nodes is None else set(nodes)
    seen: set = set()
    for root in nodes:
        if root in seen:
            continue
        comp = {root}
        q = deque([root])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v in nodes and v not in comp:
                    comp.add(v)
                    q.append(v)
        seen |= comp
        yield comp


def _sub_adj(adj: dict, nodes):
    nodes = set(nodes)
    return {v: adj[v] & nodes for v in nodes}


def _generate_partition(adj: dict, cuts, k):
    n_in_cuts = {n for cut in cuts for n in cut}
    keep = {v for v in adj if len(adj[v]) > k} - n_in_cuts
    parts = []
    for cc in _local_components(_sub_adj(adj, keep)):
        component = cc | {
            n for n in n_in_cuts if adj[n] & cc
        }
        if len(component) < len(adj):
            parts.append(component)
    yield from _consolidate(parts, k + 1)


def k_components(
    g: SparkGraph, *,
    max_combinations: int = 2_000_000,
) -> "dict[int, list[set]]":
    """Exact k-component structure (``kcomponents.py`` ``k_components``;
    Moody & White 2003): {k: [node sets]} for every connectivity level,
    nested and consolidated exactly like the reference (components at
    level k may overlap in k−1 nodes).

    Level 1 = connected components, level 2 = biconnected components;
    higher levels recursively remove ALL minimum node cuts inside each
    bicomponent and re-examine the pieces — the reference's recursion,
    driver-gated (see module docstring)."""
    if g.directed:
        raise NotImplementedForDirected("k_components: undirected only")
    adj = _collect_adj(g)
    from linkgraph.algos.biconnected import biconnected_components

    k_comps: dict = {}
    for comp in _local_components(adj):
        if len(comp) > 1:
            k_comps.setdefault(1, []).append(set(comp))
    blocks: dict = {}
    for r in biconnected_components(g).collect():
        blocks.setdefault(r["block"], set()).update((r["u"], r["v"]))
    bicomps = list(blocks.values())
    for b in bicomps:
        if len(b) > 2:
            k_comps.setdefault(2, []).append(set(b))
    for b in bicomps:
        if len(b) <= 2:
            continue
        badj = _sub_adj(adj, b)
        k = _local_node_connectivity(badj)
        if k > 2:
            k_comps.setdefault(k, []).append(set(b))
        cuts = _all_cuts_local(badj, k, max_combinations)
        stack = [(k, _generate_partition(badj, cuts, k))]
        while stack:
            parent_k, partition = stack[-1]
            got = next(partition, None)
            if got is None:
                stack.pop()
                continue
            cadj = _sub_adj(adj, got)
            this_k = _local_node_connectivity(cadj)
            if this_k > parent_k and this_k > 2:
                k_comps.setdefault(this_k, []).append(set(got))
            cuts = _all_cuts_local(cadj, this_k, max_combinations)
            if cuts:
                stack.append((this_k, _generate_partition(cadj, cuts, this_k)))
    # reconstruct every level downward, consolidating
    result: dict = {}
    if not k_comps:
        return result
    max_k = max(k_comps)
    for k in range(max_k, 0, -1):
        if k == max_k:
            result[k] = list(_consolidate(k_comps[k], k))
        elif k not in k_comps:
            result[k] = list(_consolidate(result[k + 1], k))
        else:
            nodes_at_k = set().union(*k_comps[k])
            to_add = [
                c for c in result[k + 1] if any(n not in nodes_at_k for n in c)
            ]
            if to_add:
                result[k] = list(_consolidate(k_comps[k] + to_add, k))
            else:
                result[k] = list(_consolidate(k_comps[k], k))
    return result


def _all_cuts_local(adj: dict, k: int, max_combinations: int):
    import math

    n = len(adj)
    if n == 0 or k >= n - 1:
        return []
    if not _connected(adj, frozenset()):
        return []
    n_comb = math.comb(n, k)
    if n_comb > max_combinations:
        raise ValueError(
            f"k_components cut enumeration C({n},{k})={n_comb} > "
            f"max_combinations={max_combinations}"
        )
    out = []
    for comb in itertools.combinations(sorted(adj), k):
        cset = frozenset(comb)
        if not _connected(adj, cset):
            out.append(set(cset))
    return out


def all_pairs_node_connectivity(
    g: SparkGraph, nbunch=None, flow_func=None
) -> DataFrame:
    """(u, v, connectivity): local node connectivity for every node pair
    (ordered for digraphs, unordered u < v otherwise) —
    ``connectivity.py`` ``all_pairs_node_connectivity``. κ(u, v) for
    ADJACENT pairs follows the reference's auxiliary-digraph semantics
    (the direct edge contributes one disjoint path). Driver-gated: the
    pair space is quadratic by definition."""
    directed = g.directed
    adj = _collect_adj(g)
    if nbunch is not None:
        ids = sorted(int(x) for x in nbunch)
    else:
        ids = sorted(adj)
    rows = []
    for i, u in enumerate(ids):
        for v in ids[i + 1:] if not directed else ids:
            if directed and u == v:
                continue
            rows.append((u, v, _kappa_pair(adj, u, v, directed)))
    return g.spark.createDataFrame(
        rows or [], "u long, v long, connectivity long"
    )


def _kappa_pair(adj: dict, u, v, directed) -> int:
    if v in adj.get(u, ()):
        # remove the direct arc (and its twin on undirected views)
        a2 = {x: set(n) for x, n in adj.items()}
        a2[u].discard(v)
        if not directed:
            a2[v].discard(u)
        return 1 + _kappa_st(a2, u, v, directed=directed)
    return _kappa_st(adj, u, v, directed=directed)
