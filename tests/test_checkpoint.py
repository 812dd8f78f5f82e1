"""Checkpoint/resume — superstep state with per-partition lineage + metrics.

North-rule requirement: every iteration's state checkpoints with lineage
and convergence metrics, and a killed run resumes mid-iteration from the
latest complete snapshot (see linkgraph/state.py for the parquet+manifest
stand-in for Iceberg snapshots).
"""

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.pagerank import pagerank
from linkgraph.algos.components import connected_components
from linkgraph.state import CheckpointStore


@pytest.fixture()
def G():
    return nx.barabasi_albert_graph(60, 2, seed=3)


def test_pagerank_resume_equals_straight_run(spark, tmp_path, G):
    g = from_nx(spark, G)
    straight = {
        r["id"]: r["rank"] for r in pagerank(g, fixed_iter=6, check_interval=1).collect()
    }

    store = CheckpointStore(str(tmp_path), "pr", spark)
    pagerank(g, fixed_iter=3, check_interval=1, checkpoint_store=store)
    assert store.latest_iteration() == 2  # iterations 0..2 committed

    resumed = {
        r["id"]: r["rank"]
        for r in pagerank(
            g,
            fixed_iter=6,
            check_interval=1,
            checkpoint_store=store,
            resume=True,
        ).collect()
    }
    assert store.latest_iteration() == 5
    for v in straight:
        assert resumed[v] == pytest.approx(straight[v], abs=1e-12)


def test_manifest_lineage_and_metrics(spark, tmp_path, G):
    g = from_nx(spark, G)
    store = CheckpointStore(str(tmp_path), "pr2", spark)
    pagerank(g, checkpoint_store=store, tol=1e-6)
    hist = store.metrics_history()
    assert len(hist) >= 2
    # convergence metrics recorded and decreasing toward the end
    errs = [m["l1_err"] for m in hist if m.get("l1_err") is not None]
    assert errs and errs[-1] < errs[0]
    # per-partition lineage present in every manifest
    m = store.manifest(store.latest_iteration())
    assert m["partitions"] and all(p["rows"] >= 0 for p in m["partitions"])
    assert m["metrics"]["edges_processed"] > 0


def test_connected_components_resume(spark, tmp_path, G):
    g = from_nx(spark, G)
    want = {r["id"]: r["component"] for r in connected_components(g).collect()}

    store = CheckpointStore(str(tmp_path), "cc", spark)
    connected_components(g, checkpoint_store=store)
    assert store.latest_iteration() >= 0

    resumed = {
        r["id"]: r["component"]
        for r in connected_components(
            g, checkpoint_store=store, resume=True
        ).collect()
    }
    assert resumed == want


def test_manifest_wall_covers_commit(spark, tmp_path, G):
    """Every durable PageRank, CC and LPA manifest times the whole
    superstep, so its ``wall_ms`` is at least the commit's own time."""
    from linkgraph.algos.lpa import label_propagation_communities

    g = from_nx(spark, G)
    stores = {
        name: CheckpointStore(str(tmp_path), name, spark)
        for name in ("pr", "cc", "lpa")
    }
    pagerank(g, checkpoint_store=stores["pr"])
    connected_components(g, checkpoint_store=stores["cc"])
    label_propagation_communities(g, checkpoint_store=stores["lpa"]).count()
    for name, store in stores.items():
        last = store.latest_iteration()
        assert last >= 0, name
        for k in range(last + 1):
            m = store.manifest(k)
            assert m["metrics"]["wall_ms"] >= m["commit_wall_ms"], (name, k)


def test_sssp_manifest_counts_improved_nodes(spark, tmp_path):
    """A durable weighted-shortest-path run records how many nodes each
    round improved: all five leaves of a star, then none."""
    from linkgraph.algos.sssp import weighted_shortest_path_lengths

    store = CheckpointStore(str(tmp_path), "sssp", spark)
    g = from_nx(spark, nx.star_graph(5))
    dist = weighted_shortest_path_lengths(g, [0], checkpoint_store=store)
    assert sorted(r["distance"] for r in dist.collect()) == [0.0] + [1.0] * 5
    assert [m["changed"] for m in store.metrics_history()] == [5, 0]


# Loop conf keys a superstep runtime may touch; each call must hand them
# back exactly as it found them.
LOOP_CONF_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.shuffle.partitions",
)


def _dag(g):
    """``g``'s edges oriented from the smaller id to the larger: a DAG."""
    from linkgraph.graph import SparkGraph

    return SparkGraph(
        g.edges.filter("src < dst"), g.vertices, directed=True, coalesce_edges=False
    )


def _both_ways(g):
    """``g`` as a digraph with every edge in both directions: cyclic."""
    from linkgraph.graph import SparkGraph

    arcs = g.edges.select("src", "dst")
    return SparkGraph(
        arcs.unionByName(arcs.selectExpr("dst as src", "src as dst")),
        g.vertices,
        directed=True,
        coalesce_edges=False,
    )


def _call_cases():
    """name -> (call, exception it raises or None, expected result rows:
    None for one row per node, else a function of the networkx graph)."""
    from linkgraph.algos.betweenness import betweenness_centrality
    from linkgraph.algos.branchings import maximum_spanning_arborescence
    from linkgraph.algos.coloring import greedy_color
    from linkgraph.algos.cores import core_number, k_truss
    from linkgraph.algos.dag import GraphContainsCycle, topological_generations
    from linkgraph.algos.distance import all_pairs_shortest_path_lengths
    from linkgraph.algos.mst import minimum_spanning_edges
    from linkgraph.algos.lpa import label_propagation_communities
    from linkgraph.algos.lpa_variants import (
        asyn_fluidc,
        asyn_lpa_communities,
        fast_label_propagation_communities,
    )
    from linkgraph.algos.setops import shortest_path_lengths
    from linkgraph.algos.sssp import NegativeCycleError, weighted_shortest_path_lengths
    from linkgraph.algos.triangles import clustering, triangles
    from linkgraph.exceptions import PowerIterationFailedConvergence

    return {
        "asyn-lpa": (lambda g: asyn_lpa_communities(g, seed=7), None),
        "fast-lpa": (lambda g: fast_label_propagation_communities(g, seed=7), None),
        "fluidc": (lambda g: asyn_fluidc(g, 3), None),
        "lpa-distributed": (
            lambda g: label_propagation_communities(g, coloring="distributed"),
            None,
        ),
        "greedy-color-jp": (
            lambda g: greedy_color(g, strategy="jones_plassmann"),
            None,
        ),
        "clustering-weighted": (lambda g: clustering(g, weight="weight"), None),
        "pagerank": (lambda g: pagerank(g), None),
        "pagerank-zero-personalization": (
            lambda g: pagerank(g, personalization={0: 0.0}),
            ZeroDivisionError,
        ),
        "pagerank-max-iter": (
            lambda g: pagerank(g, max_iter=1),
            PowerIterationFailedConvergence,
        ),
        "components": (lambda g: connected_components(g), None),
        "components-max-rounds": (
            lambda g: connected_components(g, max_rounds=1),
            RuntimeError,
        ),
        "lpa": (lambda g: label_propagation_communities(g), None),
        "lpa-max-sweeps": (
            lambda g: label_propagation_communities(g, max_sweeps=1),
            RuntimeError,
        ),
        "triangles": (lambda g: triangles(g), None),
        "shortest-path-lengths": (lambda g: shortest_path_lengths(g, [0]), None),
        "weighted-shortest-paths": (
            lambda g: weighted_shortest_path_lengths(g, [0]),
            None,
        ),
        "weighted-shortest-paths-negative-cycle": (
            lambda g: weighted_shortest_path_lengths(g, [0], weight="-weight"),
            NegativeCycleError,
        ),
        "topological-generations": (
            lambda g: topological_generations(_dag(g)),
            None,
        ),
        "topological-generations-cycle": (
            lambda g: topological_generations(_both_ways(g)),
            GraphContainsCycle,
        ),
        "core-number": (lambda g: core_number(g), None),
        "k-truss": (
            lambda g: k_truss(g, 3).edges,
            None,
            lambda G: nx.k_truss(G, 3).number_of_edges(),
        ),
        "minimum-spanning-edges": (
            lambda g: minimum_spanning_edges(g, weight="weight"),
            None,
            lambda G: G.number_of_nodes() - 1,
        ),
        "maximum-spanning-arborescence": (
            lambda g: maximum_spanning_arborescence(_dag(g)),
            None,
            lambda G: G.number_of_nodes() - 1,
        ),
        "betweenness": (lambda g: betweenness_centrality(g), None),
        "all-pairs-shortest-path-lengths": (
            lambda g: all_pairs_shortest_path_lengths(g),
            None,
            lambda G: G.number_of_nodes() ** 2,
        ),
    }


def _superstep_dirs():
    import glob
    import tempfile

    return set(glob.glob(f"{tempfile.gettempdir()}/linkgraph-superstep-*"))


def _start_clean(spark):
    """Drop every cached table and pinned RDD (earlier tests' results may
    still pin RDDs, and the JVM's context cleaner drops those at
    unpredictable times); returns the Java SparkContext."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    pinned = jsc.getPersistentRDDs()
    for rid in list(pinned.keys()):
        pinned.get(rid).unpersist(True)
    return jsc


@pytest.mark.parametrize("case", sorted(_call_cases()))
def test_call_leaves_no_pinned_state(spark, G, case):
    """A call, raising or not, leaves nothing cached or pinned once its
    result is consumed and released, and restores the loop conf."""
    from linkgraph.iterutils import SuperstepCache

    fn, raises, *rows = _call_cases()[case]
    g = from_nx(spark, G)
    jsc = _start_clean(spark)
    conf0 = {k: spark.conf.get(k) for k in LOOP_CONF_KEYS}
    dirs0 = _superstep_dirs()
    if raises is None:
        result = fn(g)
        assert result.count() == (rows[0](G) if rows else G.number_of_nodes())
        SuperstepCache(spark).release(result)
    else:
        with pytest.raises(raises):
            fn(g)
    assert jsc.getPersistentRDDs().size() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert {k: spark.conf.get(k) for k in LOOP_CONF_KEYS} == conf0
    assert _superstep_dirs() <= dirs0


def test_superstep_calls_leave_no_temp_dirs(spark, G):
    """Neither d-separation nor distributed-coloring LPA leaves a scratch
    directory behind."""
    import networkx as nx
    from linkgraph.algos.dseparation import (
        find_minimal_d_separator,
        is_d_separator,
    )
    from linkgraph.algos.lpa import label_propagation_communities

    def ids(xs):
        return spark.createDataFrame([(int(i),) for i in xs], "id bigint")

    dirs0 = _superstep_dirs()
    dag = from_nx(spark, nx.DiGraph([(0, 1), (1, 2), (3, 1), (1, 4)]))
    assert not is_d_separator(dag, ids([0]), ids([2]), ids([]))
    find_minimal_d_separator(dag, ids([0]), ids([2]))
    label_propagation_communities(from_nx(spark, G), coloring="distributed").count()
    assert _superstep_dirs() <= dirs0


def test_component_scalars_release_their_result(spark, G):
    """The scalar wrappers over connected components release the labeling
    they reduce, so nothing stays pinned after they return — and nothing
    the graph itself reads."""
    from linkgraph.algos import components as cc
    from linkgraph.graph import SparkGraph

    und, dig = from_nx(spark, G), from_nx(spark, nx.DiGraph(G))
    for fn, g, want in (
        (cc.number_connected_components, und, 1),
        (cc.is_connected, und, True),
        (cc.is_weakly_connected, dig, True),
        (cc.number_weakly_connected_components, dig, 1),
    ):
        jsc = _start_clean(spark)
        assert fn(g) == want, fn.__name__
        assert jsc.getPersistentRDDs().size() == 0, fn.__name__
    snap = SparkGraph(
        und.edges.localCheckpoint(),
        vertices=und.vertices.localCheckpoint(),
        directed=False,
    )
    assert cc.is_connected(snap)
    assert snap.edges.count() == G.number_of_edges()


def test_release_leaves_the_input_graph_readable(spark):
    """Releasing a result frees only the snapshots the library made: a
    graph whose edges and vertices are the caller's own local checkpoints
    stays pinned and readable after its labeling is released."""
    from linkgraph.graph import SparkGraph
    from linkgraph.iterutils import SuperstepCache

    base = from_nx(spark, nx.path_graph(6))
    jsc = _start_clean(spark)
    g = SparkGraph(
        base.edges.localCheckpoint(eager=True),
        vertices=base.vertices.localCheckpoint(eager=True),
        directed=False,
    )
    before = jsc.getPersistentRDDs().size()
    assert before == 2
    result = connected_components(g)
    assert result.count() == 6
    SuperstepCache(spark).release(result)
    assert jsc.getPersistentRDDs().size() == before
    assert g.vertices.count() == 6
    assert g.edges.count() == 5


def _family_cases():
    """Calls on the superstep runtime — the label-propagation family and
    two peel loops — each with its set-up allowance: the Spark jobs a
    call runs outside its supersteps."""
    from linkgraph.algos.coloring import greedy_color
    from linkgraph.algos.cores import core_number
    from linkgraph.algos.dag import topological_generations
    from linkgraph.algos.lpa import label_propagation_communities
    from linkgraph.algos.lpa_variants import (
        asyn_fluidc,
        asyn_lpa_communities,
        fast_label_propagation_communities,
    )

    return {
        # one job per superstep, the initial state included: no set-up
        "core-number": (lambda g: core_number(g), 0),
        "topological-generations": (lambda g: topological_generations(_dag(g)), 0),
        "asyn-lpa": (lambda g: asyn_lpa_communities(g, seed=7), 0),
        "fast-lpa": (lambda g: fast_label_propagation_communities(g, seed=7), 0),
        "greedy-color-jp": (lambda g: greedy_color(g, strategy="jones_plassmann"), 0),
        # the node count (k <= n check), and inside is_connected the
        # component count (which also answers the null-graph check)
        "fluidc": (lambda g: asyn_fluidc(g, 3), 2),
        # the simple-edge count (loop sizing) and the color count (max
        # color over the coloring)
        "lpa-distributed": (
            lambda g: label_propagation_communities(g, coloring="distributed"),
            2,
        ),
    }


@pytest.mark.parametrize("case", sorted(_family_cases()))
def test_label_propagation_family_runs_one_job_per_superstep(spark, monkeypatch, case):
    """With automatic broadcasts and adaptive execution off (each action
    is then one job), a label-propagation-family or peel call on the karate
    club (oriented into a DAG for topological generations) runs at most one
    Spark job per superstep — decisions come from figures observed on the
    superstep's own job — plus its stated set-up allowance."""
    from linkgraph.iterutils import SuperstepCache

    fn, setup = _family_cases()[case]
    supersteps = []
    truncate = SuperstepCache.truncate

    def counted(self, *args, **kwargs):
        supersteps.append(1)
        return truncate(self, *args, **kwargs)

    monkeypatch.setattr(SuperstepCache, "truncate", counted)
    g = from_nx(spark, nx.karate_club_graph())
    sc = spark.sparkContext
    group = f"lpa-family-{case}"
    one_job_per_action = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    session = {k: spark.conf.get(k) for k in one_job_per_action}
    for k, v in one_job_per_action.items():
        spark.conf.set(k, v)
    sc.setJobGroup(group, group)
    try:
        result = fn(g)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for k, v in session.items():
            spark.conf.set(k, v)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    SuperstepCache(spark).release(result)
    assert supersteps
    assert jobs <= len(supersteps) + setup, (jobs, len(supersteps))


def test_failed_truncate_leaves_nothing_pinned(spark):
    """A superstep whose checkpoint job raises leaves no RDD pinned: the
    checkpoint registers its RDD before the job runs, and ``truncate``
    unpersists it before the error propagates."""
    from pyspark.sql import functions as F

    from linkgraph.iterutils import SuperstepCache

    jsc = _start_clean(spark)
    failing = spark.range(10).select("id", F.expr("1 div (id - 5)").alias("x"))
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        with SuperstepCache(spark) as loop:
            loop.truncate(failing)
    assert jsc.getPersistentRDDs().size() == 0


def test_every_runtime_is_opened_with_with():
    """Every ``SuperstepCache(...)`` call in the library is the context
    expression of a ``with`` item: there is no bare runtime that truncates
    without setting the loop conf or releasing what it made."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "linkgraph"
    bare = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        opened = {
            id(item.context_expr)
            for node in ast.walk(tree)
            if isinstance(node, (ast.With, ast.AsyncWith))
            for item in node.items
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None))
                == "SuperstepCache"
                and id(node) not in opened
            ):
                bare.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    assert not bare, bare
