"""Label propagation parity vs
``networkx/algorithms/community/tests/test_label_propagation.py``.

Node-order contract: the reference's result depends on node enumeration
order (initial labels = enumeration index, label_propagation.py:269). Parity
tests build the nx graph with nodes inserted in ascending-id order so our
id-as-initial-label encoding is a monotone relabeling (see lpa.py docstring).
"""

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.lpa import (
    label_propagation_communities,
    communities_as_sets,
    NotImplementedForDirected,
)
from linkgraph.algos.coloring import (
    _greedy_color_largest_first,
    _undirected_adjacency,
)


def _sorted_nx(G):
    """Rebuild G with nodes inserted in ascending order (parity contract)."""
    H = nx.Graph()
    H.add_nodes_from(sorted(G.nodes()))
    H.add_edges_from(G.edges())
    return H


def _run(spark, G):
    g = from_nx(spark, G)
    return set(communities_as_sets(label_propagation_communities(g)))


def test_directed_raises(spark):
    """test_label_propagation.py:8."""
    g = from_nx(spark, nx.DiGraph([(1, 2)]))
    with pytest.raises(NotImplementedForDirected):
        label_propagation_communities(g)


def test_two_cliques_bridge(spark):
    """test_label_propagation.py:57-103 reshaped to integer ids: two K5s
    joined by one edge + one isolated edge + one isolated node. The answer
    must be one of the reference-sanctioned partitions."""
    G = nx.Graph()
    G.add_nodes_from(range(13))
    K5a = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    K5b = [(a + 5, b + 5) for a, b in K5a]
    G.add_edges_from(K5a + K5b + [(0, 5), (10, 11)])
    got = _run(spark, G)
    allowed = [
        {frozenset(range(5)), frozenset(range(5, 10)), frozenset({10, 11}),
         frozenset({12})},
        {frozenset(range(10)), frozenset({10, 11}), frozenset({12})},
    ]
    assert got in allowed
    # and exact match against the reference run on the same insertion order
    want = {frozenset(c) for c in nx.community.label_propagation_communities(G)}
    assert got == want


def test_termination_and_cover(spark):
    """test_label_propagation.py:107: terminates and labels cover all nodes."""
    G = _sorted_nx(nx.karate_club_graph())
    g = from_nx(spark, G)
    labels = label_propagation_communities(g)
    assert labels.count() == G.number_of_nodes()
    got = _run(spark, G)
    assert set().union(*got) == set(G.nodes())


@pytest.mark.parametrize(
    "maker",
    [
        lambda: nx.karate_club_graph(),
        lambda: nx.fast_gnp_random_graph(60, 0.08, seed=42),
        lambda: nx.barabasi_albert_graph(60, 2, seed=42),
        lambda: nx.caveman_graph(4, 5),
        # a 4-path whose middle nodes are 2 and 1: node 1 keeps its own
        # label on a tie (Prec-Max keep-current), else it takes label 2
        # and the path becomes one community
        lambda: nx.Graph([(0, 2), (2, 1), (1, 3)]),
    ],
)
def test_exact_partition_parity(spark, maker):
    """BASELINE.json:6: exact partition match vs the reference run with the
    same (ascending-id) enumeration order."""
    G = _sorted_nx(maker())
    got = _run(spark, G)
    want = {frozenset(c) for c in nx.community.label_propagation_communities(G)}
    assert got == want


def test_greedy_color_matches_nx():
    for maker in (nx.karate_club_graph, lambda: nx.lollipop_graph(4, 3)):
        G = _sorted_nx(maker())
        nodes = sorted(G.nodes())
        rows = [{"src": u, "dst": v} for u, v in G.edges()]
        ours = _greedy_color_largest_first(_undirected_adjacency(nodes, rows), nodes)
        theirs = nx.coloring.greedy_color(G)
        assert ours == theirs


def test_distributed_coloring_proper_and_lpa_valid(spark):
    """Jones-Plassmann path: the coloring must be proper, and LPA with it
    must still terminate on a valid partition (two 5-cliques joined by one
    edge -> the two cliques, the allowed-set style of
    test_label_propagation.py:88-103)."""
    from pyspark.sql import functions as F
    from linkgraph.algos.lpa import _jones_plassmann_coloring
    from linkgraph.iterutils import SuperstepCache

    G = nx.caveman_graph(2, 5)
    G.add_edge(0, 5)
    g = from_nx(spark, G)

    simple = g.edges.select("src", "dst")
    sym = simple.unionAll(
        simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    colors = _jones_plassmann_coloring(
        sym, g.vertices.select("id"), SuperstepCache(spark)
    )
    # proper: no edge joins two same-colored nodes
    bad = (
        sym.join(colors.withColumnRenamed("id", "src").withColumnRenamed("color", "c1"), "src")
        .join(colors.withColumnRenamed("id", "dst").withColumnRenamed("color", "c2"), "dst")
        .filter(F.col("c1") == F.col("c2"))
        .count()
    )
    assert bad == 0
    assert colors.count() == 10

    got = set(
        communities_as_sets(
            label_propagation_communities(g, coloring="distributed")
        )
    )
    assert got in (
        {frozenset(range(5)), frozenset(range(5, 10))},
        {frozenset(range(10))},
    )
