"""floyd_warshall / A* parity vs the reference."""

from __future__ import annotations

import math
import random

import networkx as nx
import pytest
from pyspark.sql import functions as F

import linkgraph
from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph


def _wgraph(spark, G, directed):
    e = spark.createDataFrame(
        [(int(u), int(v), float(d["weight"])) for u, v, d in G.edges(data=True)],
        "src long, dst long, weight double",
    )
    return SparkGraph(
        e,
        vertices=spark.createDataFrame([(int(n),) for n in G.nodes()], "id long"),
        directed=directed,
    )


def _random_weighted(directed, seed, n=40, p=0.12, lo=1, hi=9):
    rng = random.Random(seed)
    G = nx.gnp_random_graph(n, p, seed=seed, directed=directed)
    for u, v in G.edges():
        G[u][v]["weight"] = float(rng.randint(lo, hi))
    return G


@pytest.mark.parametrize("directed", [False, True])
def test_floyd_warshall_matches_nx(spark, directed):
    G = _random_weighted(directed, seed=3)
    g = _wgraph(spark, G, directed)
    got = {
        (r["src"], r["dst"]): r["distance"]
        for r in linkgraph.floyd_warshall(g).collect()
    }
    want = {
        (u, v): d
        for u, row in nx.floyd_warshall(G).items()
        for v, d in row.items()
        if not math.isinf(d)  # relational form drops unreachable pairs
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


def test_floyd_warshall_negative_weights_dag(spark):
    G = nx.DiGraph()
    G.add_weighted_edges_from(
        [(0, 1, 2.0), (0, 2, 5.0), (1, 2, -3.0), (2, 3, 1.0), (1, 3, 4.0)]
    )
    g = _wgraph(spark, G, directed=True)
    got = {
        (r["src"], r["dst"]): r["distance"]
        for r in linkgraph.floyd_warshall(g).collect()
    }
    fw = nx.floyd_warshall(G)
    assert got[(0, 3)] == pytest.approx(fw[0][3]) == 0.0
    assert got[(0, 2)] == pytest.approx(fw[0][2]) == -1.0


def test_floyd_warshall_sources_slice(spark):
    G = _random_weighted(False, seed=9)
    g = _wgraph(spark, G, directed=False)
    got = linkgraph.floyd_warshall(g, sources=[0, 1])
    assert {r["src"] for r in got.select("src").distinct().collect()} <= {0, 1}
    want = nx.single_source_dijkstra_path_length(G, 0)
    mine = {r["dst"]: r["distance"] for r in got.filter("src = 0").collect()}
    assert mine == pytest.approx(want)


@pytest.mark.parametrize("directed", [False, True])
def test_astar_matches_nx_cost(spark, directed):
    G = _random_weighted(directed, seed=5, n=50, p=0.15)
    g = _wgraph(spark, G, directed)
    pairs = [(u, v) for u in [0, 1] for v in [30, 40] if nx.has_path(G, u, v)]
    assert pairs
    for s, t in pairs:
        want = nx.astar_path_length(G, s, t)
        assert linkgraph.astar_path_length(g, s, t) == pytest.approx(want)
        path = [r["id"] for r in linkgraph.astar_path(g, s, t).orderBy("order").collect()]
        assert path[0] == s and path[-1] == t
        # path is real and has the optimal cost
        cost = sum(G[u][v]["weight"] for u, v in zip(path, path[1:]))
        assert cost == pytest.approx(want)


def test_astar_heuristic_and_errors(spark, monkeypatch):
    # grid with euclidean heuristic — admissible, must keep optimality
    G = nx.grid_2d_graph(6, 6)
    G = nx.convert_node_labels_to_integers(G, ordering="sorted")
    for u, v in G.edges():
        G[u][v]["weight"] = 1.0
    g = _wgraph(spark, G, directed=False)

    def h(u, v):
        (r1, c1), (r2, c2) = divmod(u, 6), divmod(v, 6)
        return math.hypot(r1 - r2, c1 - c2)

    want = nx.astar_path_length(G, 0, 35, heuristic=h)
    assert linkgraph.astar_path_length(g, 0, 35, heuristic=h) == pytest.approx(want)

    with pytest.raises(NetworkXError):
        linkgraph.astar_path(g, 0, 999)
    H = nx.Graph()
    H.add_edge(0, 1, weight=1.0)
    H.add_node(5)
    gh = _wgraph(spark, H, directed=False)
    with pytest.raises(NetworkXError):
        linkgraph.astar_path(gh, 0, 5)  # disconnected target
    from linkgraph.algos import sssp

    monkeypatch.setattr(sssp, "_DRIVER_EDGES", 2)
    with pytest.raises(NetworkXError):
        linkgraph.astar_path(g, 0, 35)


def test_astar_weight_expression(spark):
    G = _random_weighted(True, seed=11)
    g = _wgraph(spark, G, directed=True)
    # doubled weight expression must double the cost
    s, t = next((u, v) for u in [0, 1, 2] for v in [20, 30] if nx.has_path(G, u, v))
    base = linkgraph.astar_path_length(g, s, t)
    assert linkgraph.astar_path_length(
        g, s, t, weight="weight * 2"
    ) == pytest.approx(2 * base)
