"""PageRank parity vs the reference test suite.

Mirrors ``networkx/algorithms/link_analysis/tests/test_pagerank.py`` golden
values (Langville–Meyer 6-node digraph etc.) plus randomized allclose-1e-6
parity on seeded graphs per BASELINE.json:6.
"""

import networkx as nx
import numpy as np
import pytest
from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

# scipy is absent in this sandbox, so the nx reference runs its pure-Python
# kernel (pagerank_alg.py:115) — identical semantics to _pagerank_scipy.
def nx_pagerank(G, **kw):
    return _pagerank_python(G, **kw)

from linkgraph.graph import from_nx, from_edgelist
from linkgraph.algos.pagerank import (
    pagerank,
    top_pagerank,
    PowerIterationFailedConvergence,
)

# Langville & Meyer graph (test_pagerank.py:24-33); node 2 is dangling.
LM_EDGES = [
    (1, 2), (1, 3), (3, 1), (3, 2), (3, 5),
    (4, 5), (4, 6), (5, 4), (5, 6), (6, 4),
]
LM_EXPECTED = {  # alpha=0.9, tol=1e-8 (test_pagerank.py:36-44)
    1: 0.03721197, 2: 0.05395735, 3: 0.04150565,
    4: 0.37508082, 5: 0.20599833, 6: 0.28624589,
}


def _run(spark, G, **kw):
    g = from_nx(spark, G)
    return {r["id"]: r["rank"] for r in pagerank(g, **kw).collect()}


def test_langville_meyer_golden(spark):
    G = nx.DiGraph(LM_EDGES)
    got = _run(spark, G, alpha=0.9, tol=1e-08)
    for n, want in LM_EXPECTED.items():
        assert got[n] == pytest.approx(want, abs=1e-4)


def test_parity_vs_nx_directed(spark):
    G = nx.DiGraph(LM_EDGES)
    got = _run(spark, G)
    want = nx_pagerank(G)
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-6)


def test_undirected_symmetrized(spark):
    G = nx.Graph(LM_EDGES)
    got = _run(spark, G, alpha=0.9, tol=1e-8)
    want = nx_pagerank(G, alpha=0.9, tol=1e-8)
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-6)


def test_personalization_k4(spark):
    """test_pagerank.py:95-107."""
    G = nx.complete_graph(4)
    personalize = {0: 1, 1: 1, 2: 4, 3: 4}
    want = {0: 0.23246732, 1: 0.23246732, 2: 0.26753268, 3: 0.26753268}
    got = _run(spark, G, alpha=0.85, personalization=personalize)
    for n, w in want.items():
        assert got[n] == pytest.approx(w, abs=1e-4)


def test_zero_personalization_raises(spark):
    """test_pagerank.py:109-113."""
    G = nx.complete_graph(4)
    with pytest.raises(ZeroDivisionError):
        _run(spark, G, personalization={0: 0, 1: 0, 2: 0, 3: 0})


def test_dangling_dict(spark):
    """test_pagerank.py:53-59 semantics: dangling mass redistributed by
    the provided dict instead of the personalization vector."""
    G = nx.DiGraph(LM_EDGES)
    dangling = {1: 2, 2: 3, 3: 0, 4: 0, 5: 0, 6: 0}
    got = _run(spark, G, dangling=dangling)
    want = nx_pagerank(G, dangling=dangling)
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-6)


def test_nstart(spark):
    G = nx.DiGraph(LM_EDGES)
    nstart = {n: np.random.default_rng(1).random() + i for i, n in enumerate(G)}
    got = _run(spark, G, nstart=nstart)
    want = nx_pagerank(G, nstart=nstart)
    for n in G:
        assert got[n] == pytest.approx(want[n], abs=1e-6)


def test_max_iter_zero_raises(spark):
    """test_pagerank.py:75-78."""
    G = nx.DiGraph(LM_EDGES)
    with pytest.raises(PowerIterationFailedConvergence):
        _run(spark, G, max_iter=0)


def test_empty_graph(spark):
    G = nx.DiGraph()
    g = from_nx(spark, G)
    assert pagerank(g).count() == 0


@pytest.mark.parametrize("n,seed", [(100, 42), (250, 7)])
def test_random_parity_gnp(spark, n, seed):
    """BASELINE.json:6 — allclose 1e-6 vs nx.pagerank on seeded graphs."""
    G = nx.fast_gnp_random_graph(n, 4.0 / n, seed=seed, directed=True)
    got = _run(spark, G)
    want = nx_pagerank(G)
    assert all(got[v] == pytest.approx(want[v], abs=1e-6) for v in G)


def test_random_parity_barabasi_hub_skew(spark):
    """Power-law hub graph — the skew shape of the target workload."""
    G = nx.barabasi_albert_graph(200, 3, seed=42)
    got = _run(spark, G)
    want = nx_pagerank(G)
    assert all(got[v] == pytest.approx(want[v], abs=1e-6) for v in G)


def test_hub_salt_same_result(spark):
    G = nx.barabasi_albert_graph(100, 3, seed=1)
    g = from_nx(spark, G)
    base = {r["id"]: r["rank"] for r in pagerank(g).collect()}
    salted = {r["id"]: r["rank"] for r in pagerank(g, hub_salt=4).collect()}
    assert all(salted[v] == pytest.approx(base[v], abs=1e-9) for v in base)


def test_weighted_edges(spark):
    G = nx.DiGraph()
    G.add_weighted_edges_from([(1, 2, 0.5), (1, 3, 2.0), (2, 3, 1.0), (3, 1, 4.0)])
    got = _run(spark, G)
    want = nx_pagerank(G)
    assert all(got[v] == pytest.approx(want[v], abs=1e-6) for v in G)


def test_top_pagerank(spark):
    g = from_edgelist(spark, LM_EDGES, directed=True)
    top = top_pagerank(g, k=2, alpha=0.9, tol=1e-8).collect()
    assert [r["id"] for r in top] == [4, 6]


def test_convergence_runs_no_side_error_job(spark, tmp_path):
    """Convergence mode observes each iteration's L1 error on the job that
    materializes the iteration, so it runs no more Spark jobs than
    ``fixed_iter`` over the same iterations with one job per iteration."""
    from linkgraph.state import CheckpointStore

    G = nx.DiGraph(LM_EDGES)
    g = from_nx(spark, G)
    store = CheckpointStore(str(tmp_path), "pr", spark)
    pagerank(g, tol=1e-8, checkpoint_store=store)
    iterations = store.latest_iteration() + 1
    assert iterations > 2

    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    converged = jobs("pr-converge", lambda: pagerank(g, tol=1e-8))
    fixed = jobs(
        "pr-fixed",
        lambda: pagerank(g, fixed_iter=iterations, check_interval=1),
    )
    assert converged <= fixed
