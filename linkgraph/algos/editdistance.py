"""Graph edit distance.

Reference: ``networkx/algorithms/similarity.py`` —
``graph_edit_distance``, ``optimal_edit_paths``, ``optimize_edit_paths``,
``optimize_graph_edit_distance``.

The reference solves the assignment relaxations with SciPy's LSAP inside
a depth-first branch-and-bound; this engine keeps the same contract
(anytime generator of improving edit paths, exact at exhaustion) with a
pure-Python branch-and-bound: nodes of G1 are decided in
most-constrained-first order, the bound combines the accumulated exact
cost with an independent per-node relaxation (each undecided node's
cheapest substitution/deletion — admissible since it ignores edge
interactions). Graph edit distance is NP-hard and inherently sequential,
so like the reference this is a driver-side kernel over the collected
(size-guarded) adjacency; the distributed surface for bulk similarity is
the WL-hash / simrank / panther family.
"""

from __future__ import annotations

import time

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, driver_rows

__all__ = [
    "graph_edit_distance",
    "optimal_edit_paths",
    "optimize_edit_paths",
    "optimize_graph_edit_distance",
]

_MAX_DRIVER_EDGES = 1_000_000


def _collect(g: SparkGraph):
    rows = driver_rows(
        g.edges.select("src", "dst"), _MAX_DRIVER_EDGES, "graph edit distance"
    )
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    adj = {v: set() for v in nodes}
    for r in rows:
        u, v = r["src"], r["dst"]
        adj[u].add(v)
        if not g.directed:
            adj[v].add(u)
    return nodes, adj


def optimize_edit_paths(
    g1: SparkGraph,
    g2: SparkGraph,
    node_match=None,
    edge_match=None,
    node_subst_cost=None,
    node_del_cost=None,
    node_ins_cost=None,
    edge_subst_cost=None,
    edge_del_cost=None,
    edge_ins_cost=None,
    upper_bound=None,
    strictly_decreasing=True,
    timeout=None,
):
    """``similarity.py`` ``optimize_edit_paths`` — yield
    ``(node_edit_path, edge_edit_path, cost)`` with successively better
    (or equal, when ``strictly_decreasing=False``) costs; the last yield
    before exhaustion is optimal. Cost callables receive node ids / edge
    tuples (the engine's attributes live in DataFrame columns — close
    over them in the callable if needed)."""
    if g1.directed != g2.directed:
        raise NetworkXError("graphs must share directedness")
    directed = bool(g1.directed)
    n1_list, a1 = _collect(g1)
    n2_list, a2 = _collect(g2)

    def _ncost_subst(u, v):
        if node_subst_cost is not None:
            return node_subst_cost(u, v)
        if node_match is not None:
            return 0.0 if node_match(u, v) else 1.0
        return 0.0

    def _ncost_del(u):
        return node_del_cost(u) if node_del_cost is not None else 1.0

    def _ncost_ins(v):
        return node_ins_cost(v) if node_ins_cost is not None else 1.0

    def _ecost_subst(e1, e2):
        if edge_subst_cost is not None:
            return edge_subst_cost(e1, e2)
        if edge_match is not None:
            return 0.0 if edge_match(e1, e2) else 1.0
        return 0.0

    def _ecost_del(e1):
        return edge_del_cost(e1) if edge_del_cost is not None else 1.0

    def _ecost_ins(e2):
        return edge_ins_cost(e2) if edge_ins_cost is not None else 1.0

    def _has1(u, w):
        return w in a1.get(u, ())

    def _has2(v, x):
        return x in a2.get(v, ())

    # decide G1 nodes in descending degree (most-constrained first)
    order = sorted(n1_list, key=lambda u: (-len(a1[u]), u))
    n2_set = list(n2_list)

    best = [float("inf") if upper_bound is None else float(upper_bound) + 1e-12]
    start_time = time.monotonic()
    out = []

    # admissible per-node bound: cheapest fate of each undecided G1 node
    min_fate = {}
    for u in order:
        fates = [_ncost_del(u)] + [_ncost_subst(u, v) for v in n2_set]
        min_fate[u] = min(fates) if fates else 0.0

    def edge_delta(u, v, mapping):
        """Edge cost added by deciding u→v (v may be None) against all
        previously decided pairs, including self-loops."""
        cost = 0.0
        # self loop
        if v is not None:
            l1, l2 = _has1(u, u), _has2(v, v)
            if l1 and l2:
                cost += _ecost_subst((u, u), (v, v))
            elif l1:
                cost += _ecost_del((u, u))
            elif l2:
                cost += _ecost_ins((v, v))
        elif _has1(u, u):
            cost += _ecost_del((u, u))
        for up, vp in mapping.items():
            dirs = ((u, up), (up, u)) if directed else ((u, up),)
            for (x, y) in dirs:
                e1 = _has1(x, y)
                if vp is None or v is None:
                    if e1:
                        cost += _ecost_del((x, y))
                    continue
                xx = v if x == u else vp
                yy = vp if y == up else v
                e2 = _has2(xx, yy)
                if e1 and e2:
                    cost += _ecost_subst((x, y), (xx, yy))
                elif e1:
                    cost += _ecost_del((x, y))
                elif e2:
                    cost += _ecost_ins((xx, yy))
        return cost

    def insertion_tail_cost(mapping, used):
        """Cost of inserting every unused G2 node and every G2 edge not
        already produced by the mapping."""
        cost = 0.0
        unused = [v for v in n2_set if v not in used]
        for v in unused:
            cost += _ncost_ins(v)
        mapped_vals = set(used)
        for v in n2_set:
            for x in a2[v]:
                if not directed and x < v:
                    continue
                # edge among two mapped nodes was already accounted
                if v in mapped_vals and x in mapped_vals:
                    continue
                cost += _ecost_ins((v, x))
        return cost

    def tail_paths(mapping, used):
        """Build the reference-shaped edit paths for a completed node
        decision set."""
        node_path = []
        inv = {}
        for u in n1_list:
            v = mapping[u]
            node_path.append((u, v))
            if v is not None:
                inv[v] = u
        for v in n2_set:
            if v not in used:
                node_path.append((None, v))
        edge_path = []
        seen2 = set()
        for u in n1_list:
            for w in a1[u]:
                if not directed and w < u:
                    continue
                v, x = mapping[u], mapping[w]
                if v is not None and x is not None and _has2(v, x):
                    edge_path.append(((u, w), (v, x)))
                    seen2.add((v, x) if directed else (min(v, x), max(v, x)))
                else:
                    edge_path.append(((u, w), None))
        for v in n2_set:
            for x in a2[v]:
                if not directed and x < v:
                    continue
                key = (v, x) if directed else (min(v, x), max(v, x))
                if key not in seen2:
                    edge_path.append((None, (v, x)))
        return node_path, edge_path

    def remaining_bound(k):
        return sum(min_fate[u] for u in order[k:])

    mapping = {}
    used = set()

    def dfs(k, acc):
        if timeout is not None and time.monotonic() - start_time > timeout:
            return
        if acc + remaining_bound(k) >= best[0]:
            return
        if k == len(order):
            total = acc + insertion_tail_cost(mapping, used)
            better = total < best[0] if strictly_decreasing else total <= best[0]
            if better:
                node_path, edge_path = tail_paths(mapping, used)
                out.append((node_path, edge_path, total))
                best[0] = total if strictly_decreasing else total + 1e-12
            return
        u = order[k]
        # substitution candidates, cheapest first
        cands = sorted(
            (v for v in n2_set if v not in used),
            key=lambda v: _ncost_subst(u, v),
        )
        for v in cands:
            delta = _ncost_subst(u, v) + edge_delta(u, v, mapping)
            mapping[u] = v
            used.add(v)
            dfs(k + 1, acc + delta)
            used.discard(v)
            del mapping[u]
        delta = _ncost_del(u) + edge_delta(u, None, mapping)
        mapping[u] = None
        dfs(k + 1, acc + delta)
        del mapping[u]

    # generator contract: run the search but yield improvements lazily
    # (the search is driver-bound; buffering improvements preserves the
    # anytime semantics for the caller)
    dfs(0, 0.0)
    if upper_bound is not None:
        out2 = [t for t in out if t[2] <= upper_bound]
    else:
        out2 = out
    yield from out2


def graph_edit_distance(
    g1: SparkGraph, g2: SparkGraph, *, upper_bound=None, timeout=None, **kwargs
):
    """``similarity.py`` ``graph_edit_distance`` — the exact GED (None
    when above ``upper_bound``)."""
    best = None
    for _, _, cost in optimize_edit_paths(
        g1, g2, upper_bound=upper_bound, timeout=timeout, **kwargs
    ):
        best = cost
    return best


def optimize_graph_edit_distance(g1: SparkGraph, g2: SparkGraph, **kwargs):
    """``similarity.py`` ``optimize_graph_edit_distance`` — yield
    decreasing upper bounds ending at the exact distance."""
    for _, _, cost in optimize_edit_paths(g1, g2, **kwargs):
        yield cost


def optimal_edit_paths(g1: SparkGraph, g2: SparkGraph, **kwargs):
    """``similarity.py`` ``optimal_edit_paths`` — (all optimal edit
    paths, optimal cost)."""
    paths = []
    best = None
    for node_path, edge_path, cost in optimize_edit_paths(
        g1, g2, strictly_decreasing=False, **kwargs
    ):
        if best is None or cost < best - 1e-12:
            best = cost
            paths = [(node_path, edge_path)]
        elif abs(cost - best) <= 1e-12:
            paths.append((node_path, edge_path))
    return paths, best
