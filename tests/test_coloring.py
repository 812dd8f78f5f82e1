"""Public ``greedy_color`` parity vs the reference.

Exact parity where the reference order is a contract (largest_first,
seeded random_sequential); proper-coloring + color-count parity where the
reference's tie-break is a set-pop accident (smallest_last, DSATUR);
proper-coloring invariant for the distributed Jones-Plassmann scale path.
"""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.sql import functions as F

import linkgraph
from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph


def _fixtures(spark):
    out = []
    for name, G in [
        ("karate", nx.karate_club_graph()),
        ("gnp", nx.gnp_random_graph(60, 0.12, seed=5)),
        ("cycle5", nx.cycle_graph(5)),
        ("petersen", nx.petersen_graph()),
    ]:
        G = nx.convert_node_labels_to_integers(G)
        e = spark.createDataFrame(
            [(int(u), int(v)) for u, v in G.edges()] or [(0, 0)],
            "src long, dst long",
        )
        if not G.edges():
            e = e.limit(0)
        g = SparkGraph(
            e,
            vertices=spark.createDataFrame(
                [(int(n),) for n in G.nodes()], "id long"
            ),
            directed=False,
        )
        out.append((name, G, g))
    return out


def _colors(df):
    return {r["id"]: r["color"] for r in df.collect()}


def _is_proper(G, colors):
    assert set(colors) == set(G.nodes())
    for u, v in G.edges():
        if u != v:
            assert colors[u] != colors[v], (u, v)


def test_largest_first_exact(spark):
    for name, G, g in _fixtures(spark):
        got = _colors(linkgraph.greedy_color(g))
        want = nx.greedy_color(G, strategy="largest_first")
        assert got == want, name


def test_random_sequential_exact(spark):
    from functools import partial

    strat = partial(nx.coloring.strategy_random_sequential, seed=11)
    for name, G, g in _fixtures(spark):
        got = _colors(linkgraph.greedy_color(g, "random_sequential", seed=11))
        want = nx.greedy_color(G, strategy=strat)
        assert got == want, name


@pytest.mark.parametrize("strategy", ["smallest_last", "saturation_largest_first"])
def test_order_heuristics_proper_and_competitive(spark, strategy):
    for name, G, g in _fixtures(spark):
        got = _colors(linkgraph.greedy_color(g, strategy))
        _is_proper(G, got)
        ref = nx.greedy_color(G, strategy=strategy)
        # same heuristic, tie-breaks differ: color count within one color
        assert max(got.values(), default=-1) <= max(ref.values(), default=-1) + 1, name


def test_jones_plassmann_distributed(spark):
    for name, G, g in _fixtures(spark):
        got = _colors(linkgraph.greedy_color(g, "jones_plassmann"))
        _is_proper(G, got)


def test_guard_and_validation(spark, monkeypatch):
    _, G, g = _fixtures(spark)[0]
    from linkgraph.algos import coloring

    monkeypatch.setattr(coloring, "_DRIVER_EDGES", 3)
    with pytest.raises(NetworkXError):
        linkgraph.greedy_color(g)
    with pytest.raises(NetworkXError):
        linkgraph.greedy_color(g, "nope")
    # jones_plassmann ignores the guard (scale path)
    got = _colors(linkgraph.greedy_color(g, "jones_plassmann"))
    _is_proper(G, got)


class TestEquitableColor:
    def test_valid_and_equitable(self, spark):
        import networkx as nx
        from linkgraph.graph import from_nx
        from linkgraph.algos.coloring import equitable_color

        for G, k in [
            (nx.cycle_graph(7), 3),
            (nx.gnp_random_graph(16, 0.3, seed=3), 12),
            (nx.complete_graph(5), 5),
            (nx.path_graph(10), 4),
        ]:
            g = from_nx(spark, G)
            rows = equitable_color(g, k).collect()
            colors = {r["id"]: r["color"] for r in rows}
            # proper
            for u, v in G.edges():
                assert colors[u] != colors[v]
            # equitable: class sizes differ by <= 1
            from collections import Counter

            sizes = Counter(colors.values())
            filled = list(sizes.values()) + [0] * (k - len(sizes))
            assert max(filled) - min(filled) <= 1
            # matches the reference's own validity checker
            from networkx.algorithms.coloring.equitable_coloring import (
                is_coloring, is_equitable,
            )

            assert is_coloring(G, colors)
            assert is_equitable(G, colors, num_colors=k)

    def test_insufficient_colors_raises(self, spark):
        import networkx as nx
        import pytest
        from linkgraph.graph import from_nx
        from linkgraph.algos.coloring import equitable_color
        from linkgraph.exceptions import NetworkXError

        g = from_nx(spark, nx.complete_graph(5))
        with pytest.raises(NetworkXError):
            equitable_color(g, 4)
