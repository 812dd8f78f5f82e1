"""Public greedy graph-coloring API.

Reference: ``networkx/algorithms/coloring/greedy_coloring.py`` —
``greedy_color(G, strategy="largest_first")`` assigns each node, visited
in a strategy-chosen order, the smallest color unused by its already-
colored neighbors. Returns {node: color}; here ``(id BIGINT, color INT)``.

Greedy sequential coloring is P-complete in the general case — the color
of node k depends on every earlier decision — so exact order parity has
no shuffle-parallel form. The engine's established split applies
(SURVEY §2, lpa.py): the named reference strategies run driver-gated
under a size guard with exact semantics, and ``strategy=
"jones_plassmann"`` is the distributed scale path (the same proper-
coloring CONTRACT — adjacent nodes never share a color — via hash-
priority rounds, no driver edge collection, valid at any size).

Strategy parity notes:

- ``largest_first`` (the reference default): exact — byte-for-byte the
  coloring of ``nx.greedy_color(G)`` (degree-descending stable order,
  ``greedy_coloring.py:42``).
- ``random_sequential``: exact for a given ``seed`` — the reference
  shuffles with ``random.Random(seed).shuffle``; the same stdlib call on
  the same sorted node list reproduces the identical order (`:30`).
- ``smallest_last`` (Matula–Beck, ``:60``) and
  ``saturation_largest_first`` (DSATUR, ``:146``): same algorithm, but
  the reference breaks ties by Python-set pop order, which is an
  implementation accident, not a contract — parity is therefore
  guaranteed on the proper-coloring invariant and color count, not on
  per-node color identity (pinned in tests).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.iterutils import SuperstepCache
from linkgraph.algos.lpa import _jones_plassmann_coloring

__all__ = ["greedy_color", "equitable_color"]

STRATEGIES = (
    "largest_first",
    "random_sequential",
    "smallest_last",
    "saturation_largest_first",
    "jones_plassmann",
)


# Edge rows the sequential colorings collect onto the driver.
_DRIVER_EDGES = 5_000_000
_EQUITABLE_EDGES = 1_000_000


def _simple_adjacency(g: SparkGraph, limit: int, what: str, hint: str = ""):
    """``(nodes, adj)``: the ascending node list and every node's neighbor
    set in the undirected view of ``g``, self-loops dropped, from at most
    ``limit`` collected edge rows (:func:`linkgraph.graph.driver_rows`)."""
    rows = driver_rows(g.edges.select("src", "dst"), limit, what, hint)
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    return nodes, _undirected_adjacency(nodes, rows)


def _undirected_adjacency(nodes, rows):
    """Every node's neighbor set over the ``(src, dst)`` rows, both
    directions, self-loops dropped."""
    adj: dict = {v: set() for v in nodes}
    for r in rows:
        u, v = r["src"], r["dst"]
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def _greedy_assign(adj, order):
    colors: dict[int, int] = {}
    for n in order:
        used = {colors[v] for v in adj[n] if v in colors}
        c = 0
        while c in used:
            c += 1
        colors[n] = c
    return colors


def _greedy_color_largest_first(adj, nodes):
    """Exact replication of ``nx.coloring.greedy_color(G)`` with the default
    ``largest_first`` strategy (``greedy_coloring.py:266``, strategy at
    ``:42``): nodes sorted by degree descending (a stable sort: ties keep
    ``nodes``' order, here ascending id), each assigned the smallest color
    unused by already-colored neighbors. Returns {node: color}."""
    return _greedy_assign(
        adj, sorted(nodes, key=lambda n: len(adj[n]), reverse=True)
    )


def _order_smallest_last(adj, nodes):
    """Matula–Beck: repeatedly strip a minimum-degree node; color in
    reverse removal order (ties by ascending id — deterministic where the
    reference's set-pop is an accident)."""
    deg = {n: len(adj[n]) for n in nodes}
    alive = set(nodes)
    removal = []
    while alive:
        n = min(alive, key=lambda x: (deg[x], x))
        alive.remove(n)
        removal.append(n)
        for v in adj[n]:
            if v in alive:
                deg[v] -= 1
    removal.reverse()
    return removal


def _dsatur(adj, nodes):
    """DSATUR: always color the uncolored node with the most distinct
    neighbor colors (saturation), ties by degree then ascending id."""
    colors: dict[int, int] = {}
    sat = {n: set() for n in nodes}
    uncolored = set(nodes)
    while uncolored:
        n = max(uncolored, key=lambda x: (len(sat[x]), len(adj[x]), -x))
        c = 0
        while c in sat[n]:
            c += 1
        colors[n] = c
        uncolored.remove(n)
        for v in adj[n]:
            if v in uncolored:
                sat[v].add(c)
    return colors


def greedy_color(
    g: SparkGraph,
    strategy: str = "largest_first",
    *,
    seed: int = 0,
) -> DataFrame:
    """(id, color): a proper greedy coloring of the undirected view of
    ``g`` (``greedy_coloring.py:266``). See module docstring for the
    strategy table; ``jones_plassmann`` is the distributed scale path."""
    if strategy not in STRATEGIES:
        raise NetworkXError(
            f"strategy must be one of {STRATEGIES}, got {strategy!r}"
        )
    spark = g.spark
    if strategy == "jones_plassmann":
        sym = g.symmetric_edges().select("src", "dst").distinct()
        with SuperstepCache(spark) as loop:
            colors = _jones_plassmann_coloring(
                sym, g.vertices.select("id"), loop, seed=int(seed) or 17
            )
            return loop.result(colors)

    nodes, adj = _simple_adjacency(
        g, _DRIVER_EDGES,
        "greedy_color: a sequential strategy's order is inherently "
        "order-dependent",
        "Use strategy='jones_plassmann' for a distributed proper coloring at "
        "scale.",
    )
    if strategy == "largest_first":
        colors = _greedy_color_largest_first(adj, nodes)
    elif strategy == "random_sequential":
        order = list(nodes)
        random.Random(seed).shuffle(order)
        colors = _greedy_assign(adj, order)
    elif strategy == "smallest_last":
        colors = _greedy_assign(adj, _order_smallest_last(adj, nodes))
    else:  # saturation_largest_first
        colors = _dsatur(adj, nodes)
    return spark.createDataFrame(
        [(int(n), int(c)) for n, c in sorted(colors.items())],
        "id bigint, color int",
    )


def equitable_color(g: SparkGraph, num_colors: int) -> DataFrame:
    """``coloring/equitable_coloring.py`` ``equitable_color`` — a proper
    coloring whose class sizes differ by at most one, guaranteed to exist
    whenever ``num_colors >= Δ + 1`` (Hajnal-Szemerédi); raises the
    reference's error otherwise.

    Search strategy (documented deviation): the reference runs the
    Kierstead-Kostochka witness-moving procedure; this engine fills
    size-capped color classes greedily (most-constrained node first) and
    completes with exact backtracking when the greedy pass wedges — the
    same contract (always succeeds under the degree bound), a different
    constructive path. Driver-side like every sequential coloring; the
    distributed scale path for plain proper coloring remains
    Jones-Plassmann (``greedy_color``)."""
    spark = g.spark
    nodes, adj = _simple_adjacency(g, _EQUITABLE_EDGES, "equitable_color")
    r_ = max((len(adj[v]) for v in nodes), default=0)
    if r_ >= num_colors:
        raise NetworkXError(
            f"Graph has maximum degree {r_}, needs "
            f"{r_ + 1} (> {num_colors}) colors for guaranteed coloring."
        )
    n = len(nodes)
    k = int(num_colors)
    base, extra = divmod(n, k)
    # class c may hold base+1 nodes for c < extra, else base
    cap = [base + 1 if c < extra else base for c in range(k)]
    order = sorted(nodes, key=lambda v: (-len(adj[v]), v))
    color = {}
    sizes = [0] * k

    def feasible(v, c):
        if sizes[c] >= cap[c]:
            return False
        return all(color.get(w) != c for w in adj[v])

    def backtrack(i):
        if i == len(order):
            return True
        v = order[i]
        # fewest-used classes first keeps the fill balanced
        for c in sorted(range(k), key=lambda c: (sizes[c], c)):
            if feasible(v, c):
                color[v] = c
                sizes[c] += 1
                if backtrack(i + 1):
                    return True
                sizes[c] -= 1
                del color[v]
        return False

    import sys as _sys

    old = _sys.getrecursionlimit()
    _sys.setrecursionlimit(max(old, n + 100))
    try:
        ok = backtrack(0)
    finally:
        _sys.setrecursionlimit(old)
    if not ok:  # cannot happen under the degree bound; defensive
        raise NetworkXError("equitable_color: search failed unexpectedly")
    return spark.createDataFrame(
        [(int(v), int(c)) for v, c in sorted(color.items())],
        "id bigint, color int",
    )
