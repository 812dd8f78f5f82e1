"""Reference results from networkx, and the counts the engine does not expose.

Every comparison runs outside the timed region. ``nx.pagerank`` needs scipy,
which is not installed, so ranks are checked against ``_pagerank_python``,
the reference's pure-Python power iteration.
"""

from __future__ import annotations

import math

import networkx as nx
import numpy as np
from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python as pagerank


def crawl_digraph(ids: list[int], links: dict) -> nx.DiGraph:
    """The crawl as the engine should see it: every page a node (ascending
    id), parallel links summed into ``weight``. ``links`` maps
    ``(src_id, dst_id)`` to the link count."""
    g = nx.DiGraph()
    g.add_nodes_from(sorted(ids))
    g.add_weighted_edges_from((s, d, float(w)) for (s, d), w in links.items())
    return g


def undirected(g: nx.DiGraph) -> nx.Graph:
    """Underlying simple undirected graph, nodes in ascending id order so
    label propagation enumerates them as the engine assumes."""
    u = nx.Graph()
    u.add_nodes_from(sorted(g.nodes))
    u.add_edges_from((a, b) for a, b in g.edges if a != b)
    return u


def pagerank_iterations(g: nx.DiGraph, tol: float) -> int:
    """Power iterations the reference stopping rule (``err < N * tol``)
    takes on ``g``: the reference's ``_pagerank_python`` loop, vectorized."""
    index = {n: i for i, n in enumerate(g.nodes)}
    n = len(index)
    edges = [(index[a], index[b], w) for a, b, w in g.edges(data="weight")]
    rows = np.array([e[0] for e in edges], dtype=np.int64)
    cols = np.array([e[1] for e in edges], dtype=np.int64)
    vals = np.array([e[2] for e in edges], dtype=np.float64)
    out_w = np.bincount(rows, weights=vals, minlength=n)
    p = vals / out_w[rows]
    dangling = out_w == 0
    x = np.full(n, 1.0 / n)
    for it in range(1, 101):
        nxt = np.bincount(cols, weights=0.85 * x[rows] * p, minlength=n)
        nxt += 0.85 * x[dangling].sum() / n + 0.15 / n
        err = np.abs(nxt - x).sum()
        x = nxt
        if err < n * tol:
            return it
    raise nx.PowerIterationFailedConvergence(100)


def star_rounds(edges) -> int:
    """Large-star/small-star rounds until the edge set stops changing, the
    loop ``linkgraph.algos.components`` runs (the converged round counts)."""
    e = {(a, b) for a, b in edges if a != b}
    rounds = 0
    while True:
        rounds += 1
        nbrs: dict = {}
        for a, b in e:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        large = set()
        for u, ns in nbrs.items():
            m = min(min(ns), u)
            large.update((v, m) for v in ns if v > u)
        smaller: dict = {}
        for a, b in large:
            if a != b:
                smaller.setdefault(max(a, b), set()).add(min(a, b))
        small = set()
        for u, ns in smaller.items():
            m = min(ns)
            small.update((v, m) for v in ns | {u} if v != m)
        if small == e:
            return rounds
        e = small


def ranks_match(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        math.isclose(got[k], want[k], rel_tol=0, abs_tol=1e-6) for k in want
    )


def partition(labels: dict) -> set:
    groups: dict = {}
    for node, lab in labels.items():
        groups.setdefault(lab, set()).add(node)
    return {frozenset(s) for s in groups.values()}


def components(g: nx.Graph) -> set:
    return {frozenset(c) for c in nx.connected_components(g)}


def lpa(g: nx.Graph) -> set:
    return {frozenset(c) for c in nx.community.label_propagation_communities(g)}
