"""Parity tests for is_planar (planarity.py; Demoucron kernel vs the
reference's LR algorithm — booleans must agree everywhere)."""

import random

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.planarity import is_planar


@pytest.mark.parametrize(
    "G,want",
    [
        (nx.complete_graph(4), True),
        (nx.complete_graph(5), False),
        (nx.complete_bipartite_graph(3, 3), False),
        (nx.petersen_graph(), False),
        (nx.convert_node_labels_to_integers(nx.grid_2d_graph(5, 6)), True),
        (nx.wheel_graph(10), True),
        (nx.dodecahedral_graph(), True),
        (nx.balanced_tree(3, 3), True),
        (nx.barbell_graph(4, 2), True),
    ],
)
def test_is_planar_fixed(spark, G, want):
    assert nx.is_planar(G) == want
    assert is_planar(from_nx(spark, G)) == want


def test_is_planar_subdivision(spark):
    # K5 subdivision defeats degree/Euler heuristics
    H = nx.Graph()
    nid = 100
    for u, v in nx.complete_graph(5).edges():
        H.add_edge(u, nid)
        H.add_edge(nid, v)
        nid += 1
    assert not nx.is_planar(H)
    assert not is_planar(from_nx(spark, H))


def test_is_planar_random(spark):
    rng = random.Random(9)
    for _ in range(6):
        n = rng.randint(8, 20)
        m = rng.randint(n, 3 * n - 6)
        G = nx.gnm_random_graph(n, m, seed=rng.randint(0, 10**6))
        assert is_planar(from_nx(spark, G)) == nx.is_planar(G)


def test_is_planar_guard(spark, monkeypatch):
    g = from_nx(spark, nx.cycle_graph(9))
    from linkgraph.algos import planarity

    monkeypatch.setattr(planarity, "_DRIVER_EDGES", 2)
    with pytest.raises(ValueError, match="driver limit"):
        is_planar(g)


def test_is_chordal_parity(spark, monkeypatch):
    """MCS chordality vs the reference (chordal.py)."""
    from linkgraph.algos.chordal import is_chordal
    from linkgraph.exceptions import NotImplementedForDirected

    cases = [
        (nx.cycle_graph(4), False),
        (nx.cycle_graph(5), False),
        (nx.complete_graph(6), True),
        (nx.balanced_tree(2, 3), True),
        (nx.Graph([(0, 1), (1, 2), (2, 0), (0, 3), (3, 2)]), True),
    ]
    rng = random.Random(2)
    for _ in range(4):
        G = nx.gnp_random_graph(12, 0.4, seed=rng.randint(0, 10**6))
        cases.append((G, nx.is_chordal(G)))
    for G, want in cases:
        assert is_chordal(from_nx(spark, G)) == want
    with pytest.raises(NotImplementedForDirected):
        is_chordal(from_nx(spark, nx.DiGraph([(0, 1)])))
    from linkgraph.algos import chordal

    monkeypatch.setattr(chordal, "_DRIVER_EDGES", 2)
    with pytest.raises(ValueError, match="driver limit"):
        is_chordal(from_nx(spark, nx.complete_graph(6)))
