"""Chordal-graph recognition.

Reference: ``networkx/algorithms/chordal.py`` ``is_chordal`` (MCS-based
perfect-elimination-ordering test, Tarjan & Yannakakis 1984). MCS numbers
vertices one at a time by maximum weight — inherently sequential, so the
test runs driver-side under the usual size guard (the DFS-family pattern).

Algorithm: Maximum Cardinality Search numbers vertices n..1 (weight = #
numbered neighbors, ties toward the smallest id); the graph is chordal
iff the resulting order is a perfect elimination ordering, i.e. for every
vertex v the earliest-numbered later neighbor u of v is adjacent to every
other later neighbor of v — checked in O(Σ deg²) worst case.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from linkgraph.exceptions import (
    NetworkXError,
    NetworkXException,
    NotImplementedForDirected,
)
from linkgraph.graph import SparkGraph, driver_rows

__all__ = ["is_chordal"]


# Simple edges the MCS kernel collects onto the driver.
_DRIVER_EDGES = 5_000_000


def _undirected_adjacency(
    g: SparkGraph, limit: int, what: str, *, weighted: bool = False
):
    """``(adj, edges, nodes)``: the simple undirected graph on the driver —
    ``edges`` its canonical non-loop edges ``(u < v, w)``, at most ``limit``
    of them (:func:`linkgraph.graph.driver_rows`), with ``w`` the largest
    parallel weight when ``weighted`` (else None); ``adj`` every node's
    neighbor set and ``nodes`` the ascending node list."""
    pairs = g.edges.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        *([F.col("weight")] if weighted else []),
    )
    if weighted:
        pairs = pairs.groupBy("u", "v").agg(F.max("weight").alias("w"))
    else:
        pairs = pairs.distinct()
    edges = [
        (r["u"], r["v"], float(r["w"]) if weighted else None)
        for r in driver_rows(pairs, limit, what)
    ]
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    adj: dict = {v: set() for v in nodes}
    for u, v, _ in edges:
        adj[u].add(v)
        adj[v].add(u)
    return adj, edges, nodes


def _mcs_numbering(adj: dict, nodes: list) -> dict:
    """Maximum Cardinality Search with a bucket queue (O(n + m)): the
    number (n..1) of every node, ties to the smallest id."""
    weight = {v: 0 for v in nodes}
    buckets: dict = {0: set(nodes)}
    maxw = 0
    number: dict = {}
    for k in range(len(nodes), 0, -1):
        while maxw >= 0 and not buckets.get(maxw):
            maxw -= 1
        v = min(buckets[maxw])
        buckets[maxw].discard(v)
        number[v] = k
        for w in adj[v]:
            if w in number:
                continue
            buckets[weight[w]].discard(w)
            weight[w] += 1
            buckets.setdefault(weight[w], set()).add(w)
            if weight[w] > maxw:
                maxw = weight[w]
    return number


def _is_peo(adj: dict, nodes: list, number: dict) -> bool:
    """Whether the MCS numbering is a perfect elimination order — true
    exactly for chordal graphs. The elimination order is the reverse of
    the numbering: for each v, the later (higher-numbered) neighbors must
    form a clique anchored at the earliest of them."""
    for v in nodes:
        later = [w for w in adj[v] if number[w] > number[v]]
        if len(later) <= 1:
            continue
        u = min(later, key=lambda w: number[w])
        for w in later:
            if w != u and w not in adj[u]:
                return False
    return True


def _mcs_state(g: SparkGraph):
    """Shared MCS kernel: returns (adj, nodes, number)."""
    adj, _, nodes = _undirected_adjacency(
        g, _DRIVER_EDGES,
        "chordality testing (MCS) is sequential; the driver kernel collects "
        "the edge list",
    )
    return adj, nodes, _mcs_numbering(adj, nodes)


def is_chordal(g: SparkGraph) -> bool:
    """``nx.is_chordal`` twin. Directed input raises like the reference
    (``chordal.py`` is ``@not_implemented_for("directed")``)."""
    if g.directed:
        raise NotImplementedForDirected(
            "is_chordal: not implemented for directed type"
        )
    return _is_peo(*_mcs_state(g))


def chordal_graph_cliques(g: SparkGraph) -> "list[frozenset]":
    """``chordal.py`` ``chordal_graph_cliques`` — the maximal cliques of a
    chordal graph read off the PEO: {v} ∪ later-neighbors(v) for each v,
    keeping only sets not contained in another. Raises on non-chordal
    input like the reference."""
    if g.directed:
        raise NotImplementedForDirected("chordal_graph_cliques: undirected only")
    adj, nodes, number = _mcs_state(g)
    if not _is_peo(adj, nodes, number):
        raise NetworkXError("Input graph is not chordal.")
    cands = []
    for v in nodes:
        later = {w for w in adj[v] if number[w] > number[v]}
        cands.append(frozenset({v} | later))
    # drop dominated candidate cliques
    cands = sorted(set(cands), key=len, reverse=True)
    out: "list[frozenset]" = []
    for c in cands:
        if not any(c < o for o in out):
            out.append(c)
    return sorted(out, key=lambda s: (len(s), sorted(s)))


def chordal_graph_treewidth(g: SparkGraph) -> int:
    """``chordal.py`` ``chordal_graph_treewidth`` — max clique size - 1."""
    cliques = chordal_graph_cliques(g)
    return max((len(c) for c in cliques), default=1) - 1


class NetworkXTreewidthBoundExceeded(NetworkXException):
    """Treewidth bound exceeded during the induced-node search
    (``nx.NetworkXTreewidthBoundExceeded``)."""


def _chordality_breaker(adj, nodes, s, bound):
    """One max-cardinality sweep from ``s``; returns the (u, v, w)
    non-chordal witness triangle-to-be, or () when the current graph is
    chordal (Elidan & Gould 2008, Alg. 4 — the search the reference's
    induced-node routine repeats). Ties break toward the smallest id so
    the sweep is deterministic."""
    unnumbered = set(nodes) - {s}
    numbered = {s}
    tw = -1
    while unnumbered:
        v = max(
            unnumbered,
            key=lambda x: (len(adj[x] & numbered), -x),
        )
        unnumbered.discard(v)
        numbered.add(v)
        wannabe = sorted(adj[v] & numbered)
        missing = None
        for i, x in enumerate(wannabe):
            for y in wannabe[i + 1 :]:
                if y not in adj[x]:
                    missing = (x, y)
                    break
            if missing:
                break
        if missing is None:
            tw = max(tw, len(wannabe))
            if bound is not None and tw > bound:
                raise NetworkXTreewidthBoundExceeded(
                    f"treewidth_bound exceeded: {tw}"
                )
        else:
            return (missing[0], v, missing[1])
    return ()


def find_induced_nodes(
    g: SparkGraph, s: int, t: int, treewidth_bound: int = None
) -> "set[int]":
    """``chordal.py`` ``find_induced_nodes`` — the induced nodes on the
    path from s to t in a chordal graph: add the chord (s, t), then
    repeatedly locate the chordality-breaking triple and wire it to s
    until the graph is chordal again; every witness joins the induced
    set. Driver-side like the recognition kernel; raises on non-chordal
    input and on a treewidth bound violation, like the reference."""
    if g.directed:
        raise NotImplementedForDirected(
            "is_chordal: not implemented for directed type"
        )
    adj, nodes, number = _mcs_state(g)
    if not _is_peo(adj, nodes, number):
        raise NetworkXError("Input graph is not chordal.")
    orig = {k: set(v) for k, v in adj.items()}
    s, t = int(s), int(t)
    adj = {k: set(v) for k, v in adj.items()}
    adj[s].add(t)
    adj[t].add(s)
    induced: "set[int]" = set()
    triplet = _chordality_breaker(adj, nodes, s, treewidth_bound)
    while triplet:
        induced.update(triplet)
        for nd in triplet:
            if nd != s:
                adj[s].add(nd)
                adj[nd].add(s)
        triplet = _chordality_breaker(adj, nodes, s, treewidth_bound)
    if induced:
        induced.add(t)
        # the second node of the induced path: a neighbor of s adjacent
        # to exactly two induced nodes
        for u in sorted(orig[s]):
            if len(induced & orig[u]) == 2:
                induced.add(u)
                break
    return induced
