"""Connected-components parity vs the reference test suite.

Mirrors ``networkx/algorithms/components/tests/test_connected.py`` fixtures:
union of grid/lollipop/house graphs with exact expected partitions, plus the
Eppstein digraph for weakly-connected reading, plus seeded-random exact
parity (BASELINE.json:6).
"""

import networkx as nx
import pytest

from linkgraph.graph import from_nx, from_edgelist
from linkgraph.algos.components import (
    connected_components,
    weakly_connected_components,
    number_connected_components,
    is_connected,
    is_weakly_connected,
    component_sizes,
)


def _partition(df):
    """{component_label: frozenset(ids)} → set of frozensets."""
    out = {}
    for r in df.collect():
        out.setdefault(r["component"], set()).add(r["id"])
    return {frozenset(v) for v in out.values()}


def _nx_partition(G):
    return {frozenset(c) for c in nx.connected_components(G)}


def test_union_fixture(spark):
    """test_connected.py:12-17,64-74: grid + lollipop + house, relabeled to
    disjoint integer ranges — exactly 3 components."""
    G = nx.Graph()
    grid = nx.convert_node_labels_to_integers(nx.grid_2d_graph(2, 2), first_label=0)
    lollipop = nx.relabel_nodes(nx.lollipop_graph(3, 3), {i: i + 4 for i in range(6)})
    house = nx.relabel_nodes(nx.house_graph(), {i: i + 10 for i in range(5)})
    G.add_edges_from(grid.edges())
    G.add_edges_from(lollipop.edges())
    G.add_edges_from(house.edges())
    g = from_nx(spark, G)
    got = _partition(connected_components(g))
    assert got == _nx_partition(G)
    assert len(got) == 3
    assert number_connected_components(g) == 3
    assert not is_connected(g)


def test_eppstein_wcc(spark):
    """test_connected.py:20-58 digraph, undirected reading."""
    edges = [(1, 2), (2, 3), (2, 8), (3, 4), (3, 7), (4, 5),
             (5, 3), (5, 6), (7, 4), (7, 6), (8, 1), (8, 7)]
    G = nx.DiGraph(edges)
    g = from_nx(spark, G)
    got = _partition(weakly_connected_components(g))
    want = {frozenset(c) for c in nx.weakly_connected_components(G)}
    assert got == want


def test_isolated_nodes_are_singletons(spark):
    G = nx.Graph([(1, 2), (3, 4)])
    G.add_nodes_from([10, 11])
    g = from_nx(spark, G)
    got = _partition(connected_components(g))
    assert got == _nx_partition(G)
    assert frozenset({10}) in got


def test_single_component_path(spark):
    G = nx.path_graph(50)
    g = from_nx(spark, G)
    assert is_connected(g)
    sizes = {r["size"] for r in component_sizes(g).collect()}
    assert sizes == {50}


def test_self_loops_ignored(spark):
    g = from_edgelist(spark, [(1, 1), (2, 3)], directed=False)
    got = _partition(connected_components(g))
    assert got == {frozenset({1}), frozenset({2, 3})}


@pytest.mark.parametrize("n,p,seed", [(200, 0.008, 42), (300, 0.004, 7)])
def test_random_parity(spark, n, p, seed):
    """Sparse gnp graphs fragment into many components — exact partition
    parity (BASELINE.json:6)."""
    G = nx.fast_gnp_random_graph(n, p, seed=seed)
    g = from_nx(spark, G)
    assert _partition(connected_components(g)) == _nx_partition(G)


def test_long_path_chain_convergence(spark):
    """Path graph = worst-case diameter; large-star/small-star must converge
    in O(log n) rounds, well under max_rounds."""
    G = nx.path_graph(257)
    g = from_nx(spark, G)
    got = _partition(connected_components(g, max_rounds=20))
    assert got == {frozenset(range(257))}


def test_null_graph_connectivity_raises(spark):
    """``connected.py``/``weakly_connected.py``: connectivity is undefined
    on the null graph, for both the undirected and the directed check."""
    with pytest.raises(ValueError, match="null graph"):
        is_connected(from_nx(spark, nx.Graph()))
    with pytest.raises(ValueError, match="null graph"):
        is_weakly_connected(from_nx(spark, nx.DiGraph()))
