"""Pattern-matching parity vs the reference's VF2 matchers
(`isomorphism/isomorphvf2.py`)."""

from __future__ import annotations

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.isomorphism import (
    subgraph_matches,
    count_subgraph_matches,
    subgraph_is_isomorphic,
)
from linkgraph.exceptions import NetworkXError


@pytest.fixture
def G():
    return nx.gnp_random_graph(16, 0.3, seed=7)


@pytest.fixture
def D():
    return nx.gnp_random_graph(14, 0.2, seed=11, directed=True)


def _nx_induced(G, P, directed):
    M = (nx.isomorphism.DiGraphMatcher if directed else nx.isomorphism.GraphMatcher)(
        G, P
    )
    # nx yields {G_node: P_node}; invert to frozenset of (P_node, G_node)
    return {
        frozenset((p, g) for g, p in m.items())
        for m in M.subgraph_isomorphisms_iter()
    }


def _nx_mono(G, P, directed):
    M = (nx.isomorphism.DiGraphMatcher if directed else nx.isomorphism.GraphMatcher)(
        G, P
    )
    return {
        frozenset((p, g) for g, p in m.items())
        for m in M.subgraph_monomorphisms_iter()
    }


def _ours(g, pattern_edges, induced):
    rows = subgraph_matches(g, pattern_edges, induced=induced).collect()
    out = set()
    for r in rows:
        d = r.asDict()
        out.add(frozenset((int(c[2:]), v) for c, v in d.items()))
    return out


PATTERNS_UND = [
    [(0, 1), (1, 2)],                      # path P3
    [(0, 1), (1, 2), (0, 2)],              # triangle
    [(0, 1), (1, 2), (2, 3), (0, 3)],      # 4-cycle
    [(0, 1), (0, 2), (0, 3)],              # star K1,3
    [(0, 1), (1, 2), (2, 3), (0, 3), (0, 2)],  # diamond + chord
]


@pytest.mark.parametrize("pe", PATTERNS_UND)
def test_undirected_induced_matches_nx(spark, G, pe):
    P = nx.Graph(pe)
    g = from_nx(spark, G)
    assert _ours(g, pe, True) == _nx_induced(G, P, False)


@pytest.mark.parametrize("pe", PATTERNS_UND)
def test_undirected_mono_matches_nx(spark, G, pe):
    P = nx.Graph(pe)
    g = from_nx(spark, G)
    assert _ours(g, pe, False) == _nx_mono(G, P, False)


PATTERNS_DIR = [
    [(0, 1), (1, 2)],                      # directed 2-path
    [(0, 1), (0, 2), (1, 2)],              # feed-forward triangle
    [(0, 1), (1, 0)],                      # 2-cycle
    [(0, 1), (1, 2), (2, 0)],              # directed 3-cycle
]


@pytest.mark.parametrize("pe", PATTERNS_DIR)
def test_directed_induced_matches_nx(spark, D, pe):
    P = nx.DiGraph(pe)
    g = from_nx(spark, D)
    assert _ours(g, pe, True) == _nx_induced(D, P, True)


@pytest.mark.parametrize("pe", PATTERNS_DIR)
def test_directed_mono_matches_nx(spark, D, pe):
    P = nx.DiGraph(pe)
    g = from_nx(spark, D)
    assert _ours(g, pe, False) == _nx_mono(D, P, True)


def test_counts_and_witness(spark, G):
    g = from_nx(spark, G)
    tri = [(0, 1), (1, 2), (0, 2)]
    n = count_subgraph_matches(g, tri, induced=True)
    # 6 automorphic embeddings per data triangle
    assert n == 6 * sum(nx.triangles(G).values()) // 3
    assert subgraph_is_isomorphic(g, tri) == (n > 0)


def test_disconnected_pattern(spark):
    G = nx.path_graph(5)
    g = from_nx(spark, G)
    # two disjoint edges, induced: {a,b} and {c,d} edges with no edge between
    pe = [(0, 1), (2, 3)]
    P = nx.Graph(pe)
    assert _ours(g, pe, True) == _nx_induced(G, P, False)
    assert _ours(g, pe, False) == _nx_mono(G, P, False)


def test_pattern_validation(spark, G):
    g = from_nx(spark, G)
    with pytest.raises(NetworkXError):
        subgraph_matches(g, [(0, 0)])
    with pytest.raises(NetworkXError):
        subgraph_matches(g, [])


def test_is_isomorphic_exact(spark, monkeypatch):
    """Exact graph isomorphism (driver-gated WL-guided backtracking) vs
    the reference, including WL-indistinguishable 3-regular pairs."""
    import random

    import networkx as nx
    import pytest
    from linkgraph.graph import from_nx
    from linkgraph.algos.isomorphism import is_isomorphic, could_be_isomorphic

    rng = random.Random(3)
    G = nx.gnp_random_graph(14, 0.3, seed=5)
    H = nx.relabel_nodes(G, dict(zip(G.nodes(), rng.sample(list(G.nodes()), 14))))
    assert is_isomorphic(from_nx(spark, G), from_nx(spark, H))
    assert could_be_isomorphic(from_nx(spark, G), from_nx(spark, H))

    # same degree sequence, not isomorphic
    A, B = nx.cycle_graph(6), nx.disjoint_union(nx.cycle_graph(3), nx.cycle_graph(3))
    assert not is_isomorphic(from_nx(spark, A), from_nx(spark, B))
    assert not could_be_isomorphic(from_nx(spark, A), from_nx(spark, B))

    # both 3-regular on 10 nodes / 15 edges — WL colors agree, search must
    # still separate them
    P, L = nx.petersen_graph(), nx.circular_ladder_graph(5)
    assert not is_isomorphic(from_nx(spark, P), from_nx(spark, L))

    # directed
    D = nx.gnp_random_graph(10, 0.3, seed=2, directed=True)
    Dp = nx.relabel_nodes(D, dict(zip(D.nodes(), rng.sample(list(D.nodes()), 10))))
    assert is_isomorphic(from_nx(spark, D), from_nx(spark, Dp))

    from linkgraph.algos import isomorphism

    monkeypatch.setattr(isomorphism, "_DRIVER_ARCS", 2)
    with pytest.raises(ValueError, match="driver limit"):
        is_isomorphic(from_nx(spark, G), from_nx(spark, H))
