"""Parity tests for HITS, cores, link prediction, set ops, BFS,
assortativity vs the reference."""

import math

import networkx as nx
import pytest
from pyspark.sql import functions as F

from linkgraph.graph import from_nx
from linkgraph.algos.hits import hits
from linkgraph.algos.cores import core_number, k_core
from linkgraph.algos import linkpred as LP
from linkgraph.algos import setops as SO
from linkgraph.algos.assortativity import degree_assortativity_coefficient
from linkgraph.algos.pagerank import PowerIterationFailedConvergence


# ------------------------------ HITS --------------------------------- #


def nx_hits(G, **kw):
    # scipy is absent in this sandbox; the reference's pure-Python kernel
    # (hits_alg.py:99) has identical semantics.
    from networkx.algorithms.link_analysis.hits_alg import _hits_python

    return _hits_python(G, **kw)


def test_hits_parity_directed(spark):
    G = nx.DiGraph(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 2), (2, 4), (5, 4)]
    )
    want_h, want_a = nx_hits(G)
    got = {r["id"]: r for r in hits(from_nx(spark, G)).collect()}
    for n in G:
        assert got[n]["hub"] == pytest.approx(want_h[n], abs=1e-6)
        assert got[n]["authority"] == pytest.approx(want_a[n], abs=1e-6)


def test_hits_parity_path_graph(spark):
    G = nx.path_graph(5)
    want_h, want_a = nx_hits(G)
    got = {r["id"]: r for r in hits(from_nx(spark, G)).collect()}
    for n in G:
        assert got[n]["hub"] == pytest.approx(want_h[n], abs=1e-6)
        assert got[n]["authority"] == pytest.approx(want_a[n], abs=1e-6)


def test_hits_nonconvergence_raises(spark):
    G = nx.DiGraph([(1, 2), (2, 1)])
    with pytest.raises(PowerIterationFailedConvergence):
        hits(from_nx(spark, G), max_iter=0)


# ------------------------------ cores -------------------------------- #


def test_core_number_havel_hakimi(spark):
    """core.py docstring example."""
    H = nx.havel_hakimi_graph([0, 1, 2, 2, 2, 2, 3])
    got = {r["id"]: r["core"] for r in core_number(from_nx(spark, H)).collect()}
    assert got == nx.core_number(H)


def test_core_number_directed(spark):
    G = nx.DiGraph([(1, 2), (2, 1), (2, 3), (2, 4), (3, 4), (4, 3)])
    got = {r["id"]: r["core"] for r in core_number(from_nx(spark, G)).collect()}
    assert got == nx.core_number(G)


def test_core_number_random_parity(spark):
    G = nx.gnp_random_graph(60, 0.08, seed=5)
    got = {r["id"]: r["core"] for r in core_number(from_nx(spark, G)).collect()}
    assert got == nx.core_number(G)


def test_core_number_selfloop_raises(spark):
    G = nx.Graph([(0, 0), (0, 1)])
    with pytest.raises(ValueError):
        core_number(from_nx(spark, G))


def test_k_core_parity(spark):
    G = nx.gnp_random_graph(50, 0.12, seed=9)
    want = nx.k_core(G, 3)
    sub = k_core(from_nx(spark, G), 3)
    got_nodes = {r["id"] for r in sub.vertices.collect()}
    got_edges = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in sub.edges.collect()
    }
    assert got_nodes == set(want.nodes())
    assert got_edges == {(min(u, v), max(u, v)) for u, v in want.edges()}


# --------------------------- link prediction -------------------------- #


@pytest.fixture(scope="module")
def lp_graph():
    return nx.karate_club_graph()


def _pairs_df(spark, pairs):
    return spark.createDataFrame([(int(u), int(v)) for u, v in pairs], "u long, v long")


def test_jaccard_parity(spark, lp_graph):
    G = lp_graph
    ebunch = [(0, 5), (1, 33), (2, 8), (13, 33), (20, 25)]
    want = {(u, v): p for u, v, p in nx.jaccard_coefficient(G, ebunch)}
    got = {
        (r["u"], r["v"]): r["jaccard"]
        for r in LP.jaccard_coefficient(
            from_nx(spark, G), _pairs_df(spark, ebunch)
        ).collect()
    }
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_adamic_adar_and_ra_parity(spark, lp_graph):
    G = lp_graph
    ebunch = [(0, 5), (1, 33), (2, 8), (13, 33)]
    g = from_nx(spark, G)
    want_aa = {(u, v): p for u, v, p in nx.adamic_adar_index(G, ebunch)}
    got_aa = {
        (r["u"], r["v"]): r["aa_index"]
        for r in LP.adamic_adar_index(g, _pairs_df(spark, ebunch)).collect()
    }
    want_ra = {(u, v): p for u, v, p in nx.resource_allocation_index(G, ebunch)}
    got_ra = {
        (r["u"], r["v"]): r["ra_index"]
        for r in LP.resource_allocation_index(g, _pairs_df(spark, ebunch)).collect()
    }
    for k in want_aa:
        assert got_aa[k] == pytest.approx(want_aa[k], abs=1e-9)
        assert got_ra[k] == pytest.approx(want_ra[k], abs=1e-12)


def test_preferential_attachment_parity(spark, lp_graph):
    G = lp_graph
    ebunch = [(0, 5), (1, 33)]
    want = {(u, v): p for u, v, p in nx.preferential_attachment(G, ebunch)}
    got = {
        (r["u"], r["v"]): r["pa"]
        for r in LP.preferential_attachment(
            from_nx(spark, G), _pairs_df(spark, ebunch)
        ).collect()
    }
    assert got == want


def test_candidate_pairs_cover_nonzero_jaccard(spark):
    G = nx.gnp_random_graph(30, 0.12, seed=11)
    g = from_nx(spark, G)
    got = {
        (r["u"], r["v"]): r["jaccard"]
        for r in LP.jaccard_coefficient(g).collect()
    }
    want_nonzero = {
        tuple(sorted((u, v))): p
        for u, v, p in nx.jaccard_coefficient(G)
        if p > 0
    }
    assert set(got) == set(want_nonzero)
    for k, v in want_nonzero.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_directed_linkpred_raises(spark):
    g = from_nx(spark, nx.DiGraph([(0, 1)]))
    with pytest.raises(ValueError):
        LP.jaccard_coefficient(g)


# ------------------------------ set ops ------------------------------- #


def test_intersection_difference_symmetric_difference(spark):
    G = nx.Graph([(0, 1), (1, 2), (2, 3), (3, 0)])
    H = nx.Graph([(1, 2), (2, 3), (0, 2)])
    H.add_nodes_from(G.nodes())
    G.add_nodes_from(H.nodes())
    g, h = from_nx(spark, G), from_nx(spark, H)

    inter = SO.intersection(g, h)
    assert {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in inter.edges.collect()
    } == {(1, 2), (2, 3)}

    diff = SO.difference(g, h)
    assert {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in diff.edges.collect()
    } == {(0, 1), (0, 3)}

    sym = SO.symmetric_difference(g, h)
    assert {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in sym.edges.collect()
    } == {(0, 1), (0, 3), (0, 2)}


def test_difference_node_mismatch_raises(spark):
    g = from_nx(spark, nx.Graph([(0, 1)]))
    h = from_nx(spark, nx.Graph([(0, 2)]))
    with pytest.raises(ValueError):
        SO.difference(g, h)


def test_compose_h_weight_wins(spark):
    G = nx.Graph()
    G.add_weighted_edges_from([(0, 1, 1.0), (1, 2, 5.0)])
    H = nx.Graph()
    H.add_weighted_edges_from([(1, 2, 9.0), (2, 3, 2.0)])
    got = SO.compose(from_nx(spark, G), from_nx(spark, H))
    w = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"])): r["weight"]
        for r in got.edges.collect()
    }
    assert w == {(0, 1): 1.0, (1, 2): 9.0, (2, 3): 2.0}
    assert got.vertices.count() == 4


def test_union_disjoint_required(spark):
    g = from_nx(spark, nx.Graph([(0, 1)]))
    h = from_nx(spark, nx.Graph([(1, 2)]))
    with pytest.raises(ValueError):
        SO.union(g, h)
    h2 = from_nx(spark, nx.Graph([(5, 6)]))
    u = SO.union(g, h2)
    assert u.number_of_nodes() == 4 and u.number_of_edges() == 2


def test_complement_parity(spark):
    G = nx.gnp_random_graph(12, 0.3, seed=3)
    want = {(min(u, v), max(u, v)) for u, v in nx.complement(G).edges()}
    got = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in SO.complement(from_nx(spark, G)).edges.collect()
    }
    assert got == want


# ------------------------------- BFS ---------------------------------- #


def test_bfs_lengths_parity(spark):
    G = nx.gnp_random_graph(40, 0.08, seed=21)
    want = nx.single_source_shortest_path_length(G, 0)
    got = {
        r["id"]: r["distance"]
        for r in SO.shortest_path_lengths(from_nx(spark, G), [0]).collect()
    }
    assert got == want


def test_bfs_directed_and_multisource(spark):
    G = nx.DiGraph([(0, 1), (1, 2), (2, 3), (5, 3), (3, 0)])
    g = from_nx(spark, G)
    got = {
        r["id"]: r["distance"]
        for r in SO.shortest_path_lengths(g, [0, 5]).collect()
    }
    want = {}
    for n in G:
        best = None
        for s in (0, 5):
            try:
                d = nx.shortest_path_length(G, s, n)
            except nx.NetworkXNoPath:
                continue
            best = d if best is None else min(best, d)
        if best is not None:
            want[n] = best
    assert got == want


# --------------------------- assortativity ---------------------------- #


def test_assortativity_parity_undirected(spark):
    G = nx.barabasi_albert_graph(80, 3, seed=4)
    got = degree_assortativity_coefficient(from_nx(spark, G))
    want = nx.degree_assortativity_coefficient(G)
    assert got == pytest.approx(want, abs=1e-9)


def test_assortativity_parity_directed(spark):
    G = nx.gnp_random_graph(50, 0.08, seed=13, directed=True)
    got = degree_assortativity_coefficient(from_nx(spark, G))
    want = nx.degree_assortativity_coefficient(G, x="out", y="in")
    assert got == pytest.approx(want, abs=1e-9)


# --------------------- eigenvector / katz centrality ------------------- #


def test_eigenvector_centrality_parity(spark):
    from linkgraph.algos.centrality import eigenvector_centrality

    G = nx.karate_club_graph()
    want = nx.eigenvector_centrality(G)
    got = {
        r["id"]: r["centrality"]
        for r in eigenvector_centrality(from_nx(spark, G)).collect()
    }
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-6)


def test_eigenvector_directed_parity(spark):
    from linkgraph.algos.centrality import eigenvector_centrality

    G = nx.gnp_random_graph(25, 0.2, seed=8, directed=True)
    # ensure convergence reference-side too
    want = nx.eigenvector_centrality(G, max_iter=500)
    got = {
        r["id"]: r["centrality"]
        for r in eigenvector_centrality(from_nx(spark, G), max_iter=500).collect()
    }
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-5)


def test_katz_centrality_parity(spark):
    from linkgraph.algos.centrality import katz_centrality

    G = nx.path_graph(6)
    want = nx.katz_centrality(G, alpha=0.1, beta=1.0)
    got = {
        r["id"]: r["centrality"]
        for r in katz_centrality(from_nx(spark, G), alpha=0.1, beta=1.0).collect()
    }
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-6)


@pytest.mark.parametrize("name", ["hits", "eigenvector", "katz"])
def test_convergence_runs_no_side_error_job(spark, name):
    """Convergence mode observes each iteration's L1 error on the job that
    materializes the iteration: three non-converging iterations run no
    more Spark jobs than ``fixed_iter=3``."""
    from linkgraph.algos.centrality import eigenvector_centrality, katz_centrality

    fn = {"hits": hits, "eigenvector": eigenvector_centrality, "katz": katz_centrality}[
        name
    ]
    g = from_nx(spark, nx.karate_club_graph())
    sc = spark.sparkContext

    def jobs(group, call):
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def converge():
        with pytest.raises(PowerIterationFailedConvergence):
            fn(g, max_iter=3, tol=0)

    assert jobs(f"{name}-converge", converge) <= jobs(
        f"{name}-fixed", lambda: fn(g, fixed_iter=3)
    )


def test_katz_beta_dict_and_errors(spark):
    from linkgraph.algos.centrality import katz_centrality

    G = nx.cycle_graph(4)
    beta = {0: 1.0, 1: 2.0, 2: 1.0, 3: 2.0}
    want = nx.katz_centrality(G, alpha=0.2, beta=beta)
    got = {
        r["id"]: r["centrality"]
        for r in katz_centrality(from_nx(spark, G), alpha=0.2, beta=beta).collect()
    }
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-6)
    with pytest.raises(ValueError):
        katz_centrality(from_nx(spark, G), beta={0: 1.0})
