"""Graph polynomials.

Reference: ``networkx/algorithms/polynomials.py`` — ``tutte_polynomial``
(deletion-contraction with loop/bridge shortcuts) and
``chromatic_polynomial`` (deletion-contraction on simple graphs).

Both are #P-hard exponential recursions over a shrinking multigraph —
inherently a driver kernel, size-guarded; results are sympy expressions
exactly like the reference (sympy is a pure-Python dependency)."""

from __future__ import annotations

from linkgraph.graph import SparkGraph, check_driver_limit

__all__ = ["tutte_polynomial", "chromatic_polynomial"]

_MAX_EDGES = 200


def _collect_multi(g: SparkGraph):
    """Edge multiset (weights from a SparkMultiGraph stay distinct rows;
    a plain SparkGraph contributes one copy per row)."""
    rows = g.edges.select("src", "dst").collect()
    check_driver_limit(len(rows), _MAX_EDGES, "graph polynomial recursion")
    edges = [(r["src"], r["dst"]) for r in rows]
    nodes = {r["id"] for r in g.vertices.select("id").collect()}
    return nodes, edges


def _bridges(nodes, edges):
    """Bridges of the multigraph (parallel edges are never bridges)."""
    from collections import Counter, defaultdict

    mult = Counter((min(u, v), max(u, v)) for u, v in edges if u != v)
    adj = defaultdict(set)
    for (u, v) in mult:
        adj[u].add(v)
        adj[v].add(u)
    disc, low = {}, {}
    out = set()
    t = [0]

    def dfs(root):
        stack = [(root, None, iter(sorted(adj[root])))]
        disc[root] = low[root] = t[0]
        t[0] += 1
        while stack:
            u, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w not in disc:
                    disc[w] = low[w] = t[0]
                    t[0] += 1
                    stack.append((w, u, iter(sorted(adj[w]))))
                    advanced = True
                    break
                elif w != parent:
                    low[u] = min(low[u], disc[w])
            if not advanced:
                stack.pop()
                if stack:
                    p = stack[-1][0]
                    low[p] = min(low[p], low[u])
                    if low[u] > disc[p] and mult[(min(p, u), max(p, u))] == 1:
                        out.add((min(p, u), max(p, u)))

    for v in nodes:
        if v in adj and v not in disc:
            dfs(v)
    return out


def tutte_polynomial(g: SparkGraph):
    """``polynomials.py`` ``tutte_polynomial`` — T_G(x, y) by
    deletion-contraction: loops factor y, bridges factor x, otherwise
    ``T = T(G-e) + T(G/e)``. Returns a sympy expression over symbols
    x, y, identical to the reference."""
    import sympy

    x = sympy.Symbol("x")
    y = sympy.Symbol("y")
    nodes, edges = _collect_multi(g)

    def rec(nodes, edges):
        loops = [(u, v) for u, v in edges if u == v]
        if loops:
            rest = list(edges)
            rest.remove(loops[0])
            return y * rec(nodes, rest)
        bridges = _bridges(nodes, edges)
        nonbridge = next(
            ((u, v) for u, v in edges if (min(u, v), max(u, v)) not in bridges),
            None,
        )
        if nonbridge is None:
            return x ** len(edges)
        u, v = nonbridge
        deleted = list(edges)
        deleted.remove(nonbridge)
        # contract v into u
        contracted = []
        for a, b in deleted:
            a2 = u if a == v else a
            b2 = u if b == v else b
            contracted.append((a2, b2))
        nodes2 = nodes - {v}
        return rec(nodes, deleted) + rec(nodes2, contracted)

    return sympy.simplify(rec(nodes, edges))


def chromatic_polynomial(g: SparkGraph):
    """``polynomials.py`` ``chromatic_polynomial`` — X_G(x) by
    deletion-contraction ``X(G) = X(G-e) - X(G/e)`` down to edgeless
    graphs (x^n). Simple-graph recursion: contractions coalesce parallel
    edges and drop loops, like the reference's simple-graph contract.
    Returns a sympy expression in x."""
    import sympy

    x = sympy.Symbol("x")
    nodes, edges = _collect_multi(g)
    simple = {(min(u, v), max(u, v)) for u, v in edges if u != v}

    def rec(nodes, edges):
        if not edges:
            return x ** len(nodes)
        e = next(iter(sorted(edges)))
        u, v = e
        deleted = set(edges)
        deleted.discard(e)
        contracted = set()
        for a, b in deleted:
            a2 = u if a == v else a
            b2 = u if b == v else b
            if a2 != b2:
                contracted.add((min(a2, b2), max(a2, b2)))
        return rec(nodes, deleted) - rec(nodes - {v}, contracted)

    return sympy.expand(rec(nodes, simple))
