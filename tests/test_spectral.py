"""Matrix-exponential measures vs the reference.

``communicability``/``subgraph_centrality``/``estrada_index`` compare
directly against networkx (whose implementations use numpy eigh —
available here). ``communicability_betweenness_centrality`` and
``second_order_centrality``'s reference paths import scipy (absent in
this env), so they compare against dense eigh/solve replicas of the
reference formulas, like test_resistance does.
"""

import math

import networkx as nx
import numpy as np
import pytest

from linkgraph.exceptions import NetworkXError, NotImplementedForDirected
from linkgraph.graph import from_nx
from linkgraph.algos.spectral import (
    communicability,
    subgraph_centrality,
    subgraph_centrality_exp,
    estrada_index,
    second_order_centrality,
    communicability_betweenness_centrality,
)

ESTRADA_G = nx.Graph(
    [(0, 1), (1, 2), (1, 5), (5, 4), (2, 4), (2, 3), (4, 3), (3, 6)]
)
SC_G = nx.Graph(
    [(1, 2), (1, 5), (1, 8), (2, 3), (2, 8), (3, 4), (3, 6),
     (4, 5), (4, 7), (5, 6), (6, 7), (7, 8)]
)


def _comm_dict(df):
    return {(r["src"], r["dst"]): r["communicability"] for r in df.collect()}


def test_communicability_matches_nx(spark):
    got = _comm_dict(communicability(from_nx(spark, ESTRADA_G)))
    want = nx.communicability(ESTRADA_G)
    for u in ESTRADA_G:
        for v in ESTRADA_G:
            assert got[(u, v)] == pytest.approx(want[u][v], abs=1e-8)


def test_communicability_gnp(spark):
    G = nx.gnp_random_graph(24, 0.18, seed=11)
    got = _comm_dict(communicability(from_nx(spark, G)))
    want = nx.communicability(G)
    comp = {u: c for c in nx.connected_components(G) for u in c}
    for u in G:
        for v in G:
            if comp[u] is comp[v]:
                assert got[(u, v)] == pytest.approx(want[u][v], abs=1e-7)
            else:
                # structural zeros are dropped relationally; the reference's
                # eigh value there is numerical noise around 0
                assert abs(want[u][v]) < 1e-9
                assert (u, v) not in got


def test_communicability_directed_raises(spark):
    with pytest.raises(NotImplementedForDirected):
        communicability(from_nx(spark, nx.DiGraph([(0, 1)])))


def test_subgraph_centrality_example(spark):
    got = {r["id"]: r["centrality"]
           for r in subgraph_centrality(from_nx(spark, SC_G)).collect()}
    want = nx.subgraph_centrality(SC_G)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-8)


def test_subgraph_centrality_normalized(spark):
    got = {
        r["id"]: r["centrality"]
        for r in subgraph_centrality(
            from_nx(spark, SC_G), normalized=True
        ).collect()
    }
    want = nx.subgraph_centrality(SC_G, normalized=True)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-6)


def test_subgraph_centrality_exp_alias(spark):
    # nx.subgraph_centrality_exp imports scipy (absent); it computes the
    # same values as subgraph_centrality (expm diagonal == eigh form)
    got = {r["id"]: r["centrality"]
           for r in subgraph_centrality_exp(from_nx(spark, ESTRADA_G)).collect()}
    want = nx.subgraph_centrality(ESTRADA_G)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-8)


def test_estrada_index(spark):
    ei = estrada_index(from_nx(spark, ESTRADA_G))
    assert ei == pytest.approx(nx.estrada_index(ESTRADA_G), abs=1e-8)


def test_estrada_empty_edges(spark):
    # expm(0) = I: index == n
    G = nx.empty_graph(5)
    assert estrada_index(from_nx(spark, G)) == pytest.approx(5.0, abs=1e-12)


def _second_order_ref(G):
    """Dense replica of centrality/second_order.py (scipy-free)."""
    nodes = list(G)
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((n, n))
    for u, v in G.edges():
        A[idx[u], idx[v]] = 1.0
        A[idx[v], idx[u]] = 1.0
    deg = A.sum(axis=0)
    np.fill_diagonal(A, A.diagonal() + (deg.max() - deg))
    P = A / A.sum(axis=1)[:, None]
    eye = np.eye(n)
    out = {}
    for v in nodes:
        i = idx[v]
        Q = P.copy()
        Q[:, i] = 0.0
        m = np.linalg.solve(eye - Q, np.ones(n))
        out[v] = math.sqrt(2.0 * m.sum() - n * (n + 1))
    return out


@pytest.mark.parametrize(
    "G",
    [
        nx.path_graph(6),
        nx.cycle_graph(7),
        nx.star_graph(5),
        nx.gnp_random_graph(15, 0.3, seed=5),
    ],
    ids=["path", "cycle", "star", "gnp"],
)
def test_second_order_matches_reference(spark, G):
    G = G.subgraph(max(nx.connected_components(G), key=len)).copy()
    got = {r["id"]: r["centrality"]
           for r in second_order_centrality(from_nx(spark, G)).collect()}
    want = _second_order_ref(G)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-7)


def test_second_order_star_center_most_central(spark):
    got = {r["id"]: r["centrality"]
           for r in second_order_centrality(
               from_nx(spark, nx.star_graph(6))).collect()}
    assert min(got, key=got.get) == 0  # hub has the smallest deviation


def test_second_order_disconnected_raises(spark):
    G = nx.union(nx.path_graph(3), nx.path_graph(3), rename=("a", "b"))
    G = nx.convert_node_labels_to_integers(G)
    with pytest.raises(NetworkXError):
        second_order_centrality(from_nx(spark, G))


def test_second_order_guard(spark, monkeypatch):
    from linkgraph.algos import spectral

    monkeypatch.setattr(spectral, "_SECOND_ORDER_NODES", 3)
    with pytest.raises(NetworkXError):
        second_order_centrality(from_nx(spark, nx.path_graph(5)))


def _cbc_ref(G):
    """Dense eigh replica of subgraph_alg.communicability_betweenness."""
    nodes = list(G)
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((n, n))
    for u, v in G.edges():
        if u != v:
            A[idx[u], idx[v]] = 1.0
            A[idx[v], idx[u]] = 1.0

    def expm(M):
        w, vec = np.linalg.eigh(M)
        return (vec * np.exp(w)) @ vec.T

    expA = expm(A)
    out = {}
    for v in nodes:
        i = idx[v]
        row, col = A[i, :].copy(), A[:, i].copy()
        A[i, :] = 0
        A[:, i] = 0
        B = (expA - expm(A)) / expA
        B[i, :] = 0
        B[:, i] = 0
        B -= np.diag(np.diag(B))
        out[v] = B.sum()
        A[i, :] = row
        A[:, i] = col
    if n > 2:
        scale = 1.0 / ((n - 1.0) ** 2 - (n - 1.0))
        out = {k: val * scale for k, val in out.items()}
    return out


@pytest.mark.parametrize(
    "G",
    [
        nx.path_graph(5),
        nx.star_graph(4),
        nx.gnp_random_graph(14, 0.3, seed=9),
    ],
    ids=["path", "star", "gnp"],
)
def test_cbc_matches_reference(spark, G):
    G = G.subgraph(max(nx.connected_components(G), key=len)).copy()
    G = nx.convert_node_labels_to_integers(G)
    got = {r["id"]: r["centrality"]
           for r in communicability_betweenness_centrality(
               from_nx(spark, G)).collect()}
    want = _cbc_ref(G)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-8)


def test_cbc_path_middle_highest(spark):
    got = {r["id"]: r["centrality"]
           for r in communicability_betweenness_centrality(
               from_nx(spark, nx.path_graph(5))).collect()}
    assert max(got, key=got.get) == 2
