"""Parity tests for the DFS family (depth_first_search.py:19-414).

The engine's neighbor order is ascending id, so every reference call pins
``sort_neighbors=sorted``.
"""

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.dfs import (
    dfs_edges,
    dfs_tree,
    dfs_preorder_nodes,
    dfs_postorder_nodes,
    dfs_labeled_edges,
)


def _edges(df):
    return [(r["src"], r["dst"]) for r in df.orderBy("order").collect()]


def _nodes(df):
    return [r["id"] for r in df.orderBy("pos").collect()]


FIXTURES = [
    nx.gnp_random_graph(18, 0.15, seed=3),
    nx.gnp_random_graph(18, 0.2, seed=5, directed=True),
    nx.balanced_tree(3, 3),
    nx.disjoint_union(nx.cycle_graph(5), nx.path_graph(6)),
]


@pytest.mark.parametrize("G", FIXTURES)
@pytest.mark.parametrize("source", [None, 0])
@pytest.mark.parametrize("depth_limit", [None, 2])
def test_dfs_edges_parity(spark, G, source, depth_limit):
    g = from_nx(spark, G)
    got = _edges(dfs_edges(g, source, depth_limit))
    want = list(
        nx.dfs_edges(G, source, depth_limit, sort_neighbors=sorted)
    )
    assert got == want


@pytest.mark.parametrize("G", FIXTURES)
@pytest.mark.parametrize("source", [None, 0])
@pytest.mark.parametrize("depth_limit", [None, 2])
def test_dfs_orders_parity(spark, G, source, depth_limit):
    g = from_nx(spark, G)
    assert _nodes(dfs_preorder_nodes(g, source, depth_limit)) == list(
        nx.dfs_preorder_nodes(G, source, depth_limit, sort_neighbors=sorted)
    )
    assert _nodes(dfs_postorder_nodes(g, source, depth_limit)) == list(
        nx.dfs_postorder_nodes(G, source, depth_limit, sort_neighbors=sorted)
    )


@pytest.mark.parametrize("G", FIXTURES[:2])
@pytest.mark.parametrize("depth_limit", [None, 1, 2])
def test_dfs_labeled_parity(spark, G, depth_limit):
    g = from_nx(spark, G)
    got = [
        (r["src"], r["dst"], r["label"])
        for r in dfs_labeled_edges(g, 0, depth_limit).orderBy("order").collect()
    ]
    want = list(
        nx.dfs_labeled_edges(G, 0, depth_limit, sort_neighbors=sorted)
    )
    assert got == want


@pytest.mark.parametrize("source", [None, 0])
def test_dfs_tree_parity(spark, source):
    G = nx.gnp_random_graph(15, 0.2, seed=11)
    g = from_nx(spark, G)
    T = dfs_tree(g, source)
    want = nx.dfs_tree(G, source, sort_neighbors=sorted)
    assert sorted(
        (r["src"], r["dst"]) for r in T.edges.collect()
    ) == sorted(want.edges())
    assert sorted(r["id"] for r in T.vertices.collect()) == sorted(want.nodes())


def test_dfs_guards(spark, monkeypatch):
    G = nx.path_graph(5)
    g = from_nx(spark, G)
    from linkgraph.algos import dfs

    with monkeypatch.context() as mp:
        mp.setattr(dfs, "_DRIVER_EDGES", 2)
        with pytest.raises(ValueError, match="driver limit"):
            dfs_edges(g, 0)
    with pytest.raises(ValueError, match="not in the graph"):
        dfs_edges(g, 99)


def test_dfs_empty_graph(spark):
    g = from_nx(spark, nx.empty_graph(0))
    assert dfs_edges(g).count() == 0
    assert dfs_preorder_nodes(g).count() == 0
