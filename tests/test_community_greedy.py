"""Parity tests for greedy_modularity_communities (modularity_max.py:228)."""

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.community import greedy_modularity_communities, modularity


def _partition(df):
    comm = {}
    for r in df.collect():
        comm.setdefault(r["community"], set()).add(r["id"])
    return sorted(map(frozenset, comm.values()), key=lambda s: (len(s), min(s)))


def _nxpart(cs):
    return sorted(map(frozenset, cs), key=lambda s: (len(s), min(s)))


CASES = [
    (nx.disjoint_union(nx.complete_graph(5), nx.complete_graph(6)), {}),
    (nx.barbell_graph(5, 2), {}),
    (nx.karate_club_graph(), {}),
    (nx.karate_club_graph(), {"best_n": 2}),
    (nx.karate_club_graph(), {"cutoff": 5}),
    (nx.karate_club_graph(), {"resolution": 0.5}),
    (nx.gnp_random_graph(30, 0.15, seed=4), {}),
    (nx.gnp_random_graph(50, 0.08, seed=9), {}),
    (nx.watts_strogatz_graph(40, 4, 0.1, seed=2), {}),
    # forced merging across disconnected components (StopIteration branch)
    (nx.disjoint_union(nx.complete_graph(4), nx.complete_graph(4)), {"best_n": 2}),
    (nx.gnp_random_graph(25, 0.1, seed=3, directed=True), {}),
]


@pytest.mark.parametrize("G,kw", CASES)
def test_greedy_modularity_exact_parity(spark, G, kw):
    g = from_nx(spark, G)
    nxkw = dict(kw)
    got = _partition(greedy_modularity_communities(g, **kw))
    want = _nxpart(nx.community.greedy_modularity_communities(G, **nxkw))
    assert got == want


def test_greedy_modularity_weighted(spark):
    G = nx.karate_club_graph()  # carries integer edge weights
    g = from_nx(spark, G)
    got = _partition(greedy_modularity_communities(g, weight=True))
    want = _nxpart(nx.community.greedy_modularity_communities(G, weight="weight"))
    assert got == want


def test_greedy_modularity_quality_and_guards(spark, monkeypatch):
    G = nx.karate_club_graph()
    g = from_nx(spark, G)
    part = greedy_modularity_communities(g)
    q = modularity(g, part)
    assert q == pytest.approx(
        nx.community.modularity(G, nx.community.greedy_modularity_communities(G))
    )
    with pytest.raises(ValueError, match="cutoff"):
        greedy_modularity_communities(g, cutoff=0)
    with pytest.raises(ValueError, match="best_n"):
        greedy_modularity_communities(g, cutoff=5, best_n=2)
    from linkgraph.algos import community

    monkeypatch.setattr(community, "_DRIVER_ARCS", 3)
    with pytest.raises(ValueError, match="driver limit"):
        greedy_modularity_communities(g)


def test_greedy_modularity_edgeless(spark):
    G = nx.empty_graph(4)
    g = from_nx(spark, G)
    got = _partition(greedy_modularity_communities(g))
    assert got == [frozenset([n]) for n in range(4)]
    assert _partition(greedy_modularity_communities(g, best_n=1)) == [
        frozenset(range(4))
    ]
