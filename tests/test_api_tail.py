"""Parity tests for the round-4 API tail: k_edge_subgraphs, edge_dfs/bfs,
LCA wrappers, bipartite matching + König cover, path/dominating
predicates, mixing wrappers."""

import networkx as nx
import pytest
from pyspark.sql import functions as F

from linkgraph.graph import from_nx
from linkgraph.algos.flow import k_edge_subgraphs
from linkgraph.algos.dfs import edge_dfs, edge_bfs
from linkgraph.algos.dag import (
    lowest_common_ancestor,
    all_pairs_lowest_common_ancestor,
    tree_all_pairs_lowest_common_ancestor,
)
from linkgraph.algos import bipartite as BP
from linkgraph.algos.paths import is_path, is_simple_path, path_weight
from linkgraph.algos.components import node_connected_component
from linkgraph.algos.selection import (
    is_dominating_set,
    is_connected_dominating_set,
)
from linkgraph.algos.assortativity import (
    node_degree_xy,
    node_attribute_xy,
    degree_mixing_dict,
    attribute_mixing_dict,
    mixing_dict,
    degree_mixing_matrix,
)


@pytest.mark.parametrize("k", [2, 3, 4])
def test_k_edge_subgraphs_parity(spark, k):
    G = nx.gnp_random_graph(16, 0.25, seed=27)
    g = from_nx(spark, G)
    want = {frozenset(c) for c in nx.k_edge_subgraphs(G, k)}
    rows = k_edge_subgraphs(g, k).collect()
    by = {}
    for r in rows:
        by.setdefault(r["component"], set()).add(r["id"])
    got = {frozenset(c) for c in by.values()}
    assert got == want


def test_k_edge_subgraphs_guards_each_component(spark, monkeypatch):
    # past the driver edge guard the graph is collected in batches of whole
    # components; only a single component over the guard is refused
    from linkgraph.algos import flow
    from linkgraph.exceptions import NetworkXError

    G = nx.disjoint_union_all(
        [nx.complete_graph(4), nx.cycle_graph(5), nx.path_graph(3), nx.empty_graph(1)]
    )
    g = from_nx(spark, G)
    monkeypatch.setattr(flow, "_DRIVER_EDGES", 6)  # K4's 6 edges, of 13
    for k in (2, 3):
        by = {}
        for r in k_edge_subgraphs(g, k).collect():
            by.setdefault(r["component"], set()).add(r["id"])
        want = {frozenset(c) for c in nx.k_edge_subgraphs(G, k)}
        assert {frozenset(c) for c in by.values()} == want
    monkeypatch.setattr(flow, "_DRIVER_EDGES", 5)
    with pytest.raises(NetworkXError):
        k_edge_subgraphs(g, 2)


@pytest.mark.parametrize("directed", [False, True])
def test_edge_dfs_parity(spark, directed):
    # gnp adds edges in ascending order, so the reference's
    # insertion-order adjacency == our sorted adjacency: exact order parity
    G = nx.gnp_random_graph(12, 0.25, seed=29, directed=directed)
    g = from_nx(spark, G)
    want = list(nx.edge_dfs(G, source=0))
    got_all = edge_dfs(g, source=0)
    got = got_all[: len(want)]
    assert got == want


@pytest.mark.parametrize("directed", [False, True])
def test_edge_bfs_parity(spark, directed):
    G = nx.gnp_random_graph(12, 0.25, seed=33, directed=directed)
    g = from_nx(spark, G)
    want = list(nx.edge_bfs(G, source=0))
    got = edge_bfs(g, source=0)[: len(want)]
    assert got == want


def test_lca_wrappers(spark):
    G = nx.DiGraph(
        [(0, 1), (0, 2), (1, 3), (2, 3), (2, 4), (3, 5), (4, 5)]
    )
    g = from_nx(spark, G)
    got = lowest_common_ancestor(g, 3, 4)
    want = nx.lowest_common_ancestor(G, 3, 4)
    # LCA may be non-unique; ours must be a common ancestor of max depth
    assert got is not None
    anc3 = nx.ancestors(G, 3) | {3}
    anc4 = nx.ancestors(G, 4) | {4}
    assert got in (anc3 & anc4)
    rows = all_pairs_lowest_common_ancestor(g).collect()
    want_pairs = dict(nx.all_pairs_lowest_common_ancestor(G))
    got_pairs = {(r["u"], r["v"]): r["lca"] for r in rows}
    # the reference yields each unordered pair once; ours both orders
    assert {frozenset(k) for k in got_pairs} == {
        frozenset(k) for k, lca in want_pairs.items() if lca is not None
    }
    # tree variant agrees on a tree (unique LCAs)
    T = nx.bfs_tree(nx.balanced_tree(2, 3), 0)
    tg = from_nx(spark, T)
    trows = tree_all_pairs_lowest_common_ancestor(tg, root=0).collect()
    want_t = dict(nx.tree_all_pairs_lowest_common_ancestor(T, root=0))
    got_t = {(r["u"], r["v"]): r["lca"] for r in trows}
    for (u, v), lca in want_t.items():
        assert got_t.get((u, v), got_t.get((v, u))) == lca


def test_bipartite_matching_and_cover(spark):
    G = nx.bipartite.gnmk_random_graph(8, 9, 30, seed=5)
    top = [n for n, d in G.nodes(data=True) if d["bipartite"] == 0]
    g = from_nx(spark, G)
    tdf = g.spark.createDataFrame([(int(t),) for t in top], "id long")
    m = BP.maximum_matching(g, tdf)
    want = nx.bipartite.hopcroft_karp_matching(G, top)
    got_pairs = [(r["u"], r["v"]) for r in m.collect()]
    assert len(got_pairs) == len(want) // 2  # nx dict holds both directions
    used = [x for p in got_pairs for x in p]
    assert len(used) == len(set(used))
    for u, v in got_pairs:
        assert G.has_edge(u, v)
    cover = BP.to_vertex_cover(g, m, tdf)
    cset = {r["id"] for r in cover.collect()}
    want_cover = nx.bipartite.to_vertex_cover(G, want, top)
    assert len(cset) == len(want_cover) == len(got_pairs)  # König
    for u, v in G.edges:
        assert u in cset or v in cset


def test_path_predicates(spark):
    G = nx.path_graph(5)
    for u, v in G.edges:
        G.edges[u, v]["weight"] = float(u + 1)
    g = from_nx(spark, G)
    assert is_path(g, [0, 1, 2, 3]) == nx.is_path(G, [0, 1, 2, 3])
    assert is_path(g, [0, 2]) == nx.is_path(G, [0, 2])
    assert is_simple_path(g, [0, 1, 2]) == nx.is_simple_path(G, [0, 1, 2])
    assert is_simple_path(g, [0, 1, 0]) == nx.is_simple_path(G, [0, 1, 0])
    assert path_weight(g, [0, 1, 2], weight="weight") == nx.path_weight(
        G, [0, 1, 2], weight="weight"
    )
    with pytest.raises(Exception):
        path_weight(g, [0, 2], weight="weight")


def test_node_connected_component(spark):
    G = nx.Graph([(0, 1), (1, 2), (3, 4)])
    g = from_nx(spark, G)
    got = {r["id"] for r in node_connected_component(g, 1).collect()}
    assert got == nx.node_connected_component(G, 1)


def test_dominating_predicates(spark):
    G = nx.gnp_random_graph(14, 0.25, seed=41)
    g = from_nx(spark, G)
    ds = nx.dominating_set(G)
    assert is_dominating_set(g, ds) == nx.is_dominating_set(G, ds)
    assert is_dominating_set(g, [0]) == nx.is_dominating_set(G, [0])
    cds = set(G.nodes)
    assert is_connected_dominating_set(g, cds) == nx.is_connected_dominating_set(
        G, cds
    )


def test_mixing_wrappers(spark):
    G = nx.gnp_random_graph(12, 0.3, seed=43)
    for n in G.nodes:
        G.nodes[n]["color"] = n % 3
    g0 = from_nx(spark, G)
    rows = [(int(n), int(n % 3)) for n in G.nodes]
    g = g0.with_node_attrs(g0.spark.createDataFrame(rows, ["id", "color"]))
    assert degree_mixing_dict(g) == nx.degree_mixing_dict(G)
    assert attribute_mixing_dict(g, "color") == nx.attribute_mixing_dict(
        G, "color"
    )
    # xy long forms match as multisets
    got_xy = sorted(
        (r["x"], r["y"]) for r in node_degree_xy(g).collect()
    )
    want_xy = sorted(nx.node_degree_xy(G))
    assert got_xy == want_xy
    got_axy = sorted((r["x"], r["y"]) for r in node_attribute_xy(g, "color").collect())
    want_axy = sorted(nx.node_attribute_xy(G, "color"))
    assert got_axy == want_axy
    # matrix form sums to 1 and matches the dict counts
    M, idx = degree_mixing_matrix(g)
    assert abs(M.sum() - 1.0) < 1e-12
    md = mixing_dict(node_degree_xy(g))
    assert md == nx.degree_mixing_dict(G)
