"""Parity tests for max_weight_matching / min_weight_matching
(matching.py:247/:186). Weight sums are the canonical invariant (every
maximum-weight matching shares them); exact sets compared where the
optimum is unique."""

import random

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.matching_weight import max_weight_matching, min_weight_matching


def _pairs(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


def _wsum(G, pairs):
    return sum(G[u][v]["weight"] for u, v in pairs)


def _assert_valid(G, pairs):
    seen = set()
    for u, v in pairs:
        assert G.has_edge(u, v)
        assert u not in seen and v not in seen
        seen.update((u, v))


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("maxcardinality", [False, True])
def test_max_weight_matching_parity(spark, seed, maxcardinality):
    rng = random.Random(seed)
    G = nx.gnp_random_graph(18, 0.3, seed=seed)
    for u, v in G.edges():
        G[u][v]["weight"] = rng.randint(1, 20)
    g = from_nx(spark, G)
    got = _pairs(max_weight_matching(g, maxcardinality=maxcardinality))
    want = {
        (min(u, v), max(u, v))
        for u, v in nx.max_weight_matching(G, maxcardinality=maxcardinality)
    }
    _assert_valid(G, got)
    assert _wsum(G, got) == _wsum(G, want)
    if maxcardinality:
        assert len(got) == len(want)


def test_max_weight_matching_unique_optimum(spark):
    # distinct powers of two force a unique optimum -> exact set parity
    G = nx.Graph()
    w = 1
    for u, v in [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (1, 4)]:
        G.add_edge(u, v, weight=w)
        w *= 2
    g = from_nx(spark, G)
    got = _pairs(max_weight_matching(g))
    want = {(min(u, v), max(u, v)) for u, v in nx.max_weight_matching(G)}
    assert got == want


def test_max_weight_matching_blossom_structure(spark):
    # odd cycles force blossom shrink/expand
    G = nx.cycle_graph(9)
    for i, (u, v) in enumerate(G.edges()):
        G[u][v]["weight"] = (i % 4) + 1
    g = from_nx(spark, G)
    got = _pairs(max_weight_matching(g))
    want = {(min(u, v), max(u, v)) for u, v in nx.max_weight_matching(G)}
    _assert_valid(G, got)
    assert _wsum(G, got) == _wsum(G, want)


def test_min_weight_matching_parity(spark):
    rng = random.Random(5)
    G = nx.complete_graph(8)
    for u, v in G.edges():
        G[u][v]["weight"] = rng.randint(1, 30)
    g = from_nx(spark, G)
    got = _pairs(min_weight_matching(g))
    want = {(min(u, v), max(u, v)) for u, v in nx.min_weight_matching(G)}
    _assert_valid(G, got)
    assert len(got) == len(want)
    assert _wsum(G, got) == _wsum(G, want)


def test_max_weight_matching_guards_and_empty(spark, monkeypatch):
    G = nx.empty_graph(4)
    g = from_nx(spark, G)
    assert _pairs(max_weight_matching(g)) == set()
    G2 = nx.path_graph(5)
    for u, v in G2.edges():
        G2[u][v]["weight"] = 1
    from linkgraph.algos import matching_weight

    monkeypatch.setattr(matching_weight, "_DRIVER_EDGES", 2)
    with pytest.raises(ValueError, match="driver limit"):
        max_weight_matching(from_nx(spark, G2))
