"""Strongly connected components and condensation — distributed
forward/backward min-label decomposition.

Semantics match ``networkx/algorithms/components/strongly_connected.py:17``
(``strongly_connected_components``: partition of a directed graph into
maximal sets of mutually-reachable nodes, Tarjan/nonrecursive DFS) and
``:279`` (``condensation``: the DAG of SCCs). DFS is inherently sequential,
so the distributed algorithm is the **trim + double-min-label** method
(Orzan's coloring / FW-BW family — Slota, Rajamanickam & Madduri, "BFS and
Coloring-based Parallel Algorithms for Strongly Connected Components",
IPDPS 2014):

1. **Trim**: nodes with zero in- or out-degree in the remaining subgraph
   are singleton SCCs; peel them (few rounds kill the bow-tie tendrils of
   a web graph).
2. **Label**: propagate ``f(v) = min(ancestors(v) ∪ {v})`` forward and
   ``b(v) = min(descendants(v) ∪ {v})`` backward to fixpoint (each a
   min-aggregation superstep loop, the connected-components machinery on
   directed arcs). If ``f(v) = b(v) = c`` then c reaches v and v reaches
   c, so v ∈ SCC(c); the resolved nodes of each such c are exactly that
   whole SCC. At least the minimum remaining id's SCC resolves per round.
3. Remove resolved nodes, repeat.

Worst case is a chain of SCCs (O(#SCCs) outer rounds — the known weakness
of every label-propagation SCC method); web-scale graphs resolve in a
handful of rounds because the giant SCC and the trimmed tendrils cover
almost everything. Every step is joins + groupBy-min with per-round lineage
truncation; nothing touches the driver beyond counts.

The SCC label is the component's minimum node id (deterministic under
distribution). The reference's ``condensation`` numbers components
0..C-1 in generator enumeration order — an arbitrary bijection of the same
partition; tests compare partitions, not label spellings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError, NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count


def _min_label_fixpoint(
    edges: DataFrame, nodes: DataFrame, cache: SuperstepCache, max_rounds: int
) -> DataFrame:
    """Propagate min label along arcs src→dst to fixpoint.

    Returns (id, lab): lab = min(id over ancestors ∪ self). Frontier-based:
    only improved labels re-propagate, so each round is one join +
    groupBy-min + merge over the active frontier.
    """
    lab = cache.truncate(nodes.select("id", F.col("id").alias("lab")))
    frontier = state = lab
    for _ in range(max_rounds):
        cand = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lab").alias("cand"))
        )
        state, seen = cache.truncate(
            lab.join(cand, "id", "left").select(
                "id",
                F.least("lab", F.coalesce("cand", F.col("lab"))).alias("lab"),
                (F.col("cand") < F.col("lab")).alias("_improved"),
            ),
            retire=state,
            figures={"improved": F.count(F.when(F.col("_improved"), 1))},
        )
        frontier = state.filter("_improved").select("id", "lab")
        lab = state.select("id", "lab")
        if seen["improved"] == 0:
            return lab
    raise RuntimeError(f"min-label propagation did not converge in {max_rounds} rounds")


def strongly_connected_components(
    g: SparkGraph, *, max_outer: int = 200, max_rounds: int = 10_000
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, component BIGINT)`` where ``component``
    is the minimum node id of the node's SCC — an exact encoding of the
    ``nx.strongly_connected_components`` partition
    (``strongly_connected.py:17``).
    """
    if not g.directed:
        raise ValueError(
            "strongly_connected_components: not defined for undirected "
            "graphs (use connected_components)"
        )
    spark = g.spark
    with SuperstepCache(spark) as cache:
        remaining, seen = cache.truncate(g.vertices.select("id"), figures=row_count())
        left = seen["rows"]
        edges = cache.truncate(
            g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
        )
        resolved = []  # (DataFrame (id, component)) chunks

        def keep_only(remaining, edges, keep):
            """``remaining`` cut to ``keep``, and the arcs inside it."""
            remaining = cache.truncate(keep, retire=remaining)
            return remaining, cache.truncate(
                edges.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi"),
                retire=edges,
            )

        for _outer in range(max_outer):
            if left == 0:
                break

            # --- trim: zero in- or out-degree => singleton SCC --------------- #
            while True:
                has_out = edges.select(F.col("src").alias("id")).distinct()
                has_in = edges.select(F.col("dst").alias("id")).distinct()
                core = remaining.join(has_out, "id", "left_semi").join(
                    has_in, "id", "left_semi"
                )
                trimmed, seen = cache.truncate(
                    remaining.join(core, "id", "left_anti"), figures=row_count()
                )
                if seen["rows"] == 0:
                    break
                resolved.append(trimmed.select("id", F.col("id").alias("component")))
                left -= seen["rows"]
                remaining, edges = keep_only(remaining, edges, core)
            if left == 0:
                break

            # --- double min-label: f forward, b backward --------------------- #
            fwd = _min_label_fixpoint(edges, remaining, cache, max_rounds)
            bwd = _min_label_fixpoint(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                remaining,
                cache,
                max_rounds,
            )
            done = (
                fwd.join(bwd.select("id", F.col("lab").alias("blab")), "id")
                .filter(F.col("lab") == F.col("blab"))
                .select("id", F.col("lab").alias("component"))
            )
            done, seen = cache.truncate(done, figures=row_count())
            cache.release([fwd, bwd])
            resolved.append(done)
            left -= seen["rows"]
            remaining, edges = keep_only(
                remaining, edges, remaining.join(done, "id", "left_anti")
            )
        else:
            raise RuntimeError(f"SCC decomposition did not finish in {max_outer} rounds")

        if not resolved:
            return spark.createDataFrame([], "id long, component long")
        out = resolved[0]
        for df in resolved[1:]:
            out = out.unionByName(df)
        return cache.result(cache.truncate(out))


def number_strongly_connected_components(g: SparkGraph, **kwargs) -> int:
    """``strongly_connected.py:184``."""
    return (
        strongly_connected_components(g, **kwargs)
        .agg(F.countDistinct("component"))
        .first()[0]
    )


def is_strongly_connected(g: SparkGraph, **kwargs) -> bool:
    """``strongly_connected.py:225`` — raises on the null graph like the
    reference's ``NetworkXPointlessConcept``."""
    if g.number_of_nodes() == 0:
        raise ValueError(
            "Connectivity is undefined for the null graph"
        )
    return number_strongly_connected_components(g, **kwargs) == 1


def condensation(g: SparkGraph, scc: DataFrame | None = None) -> SparkGraph:
    """The condensation DAG (``strongly_connected.py:279``): one node per
    SCC (labeled by the SCC's min node id — the reference uses enumeration
    indices, an arbitrary bijection of the same structure), with an arc
    C1→C2 when some arc of G crosses from C1 to C2. The result is acyclic.

    ``scc`` may pass a precomputed ``strongly_connected_components`` result.
    """
    if scc is None:
        scc = strongly_connected_components(g)
    e = (
        g.edges.join(
            scc.select(F.col("id").alias("src"), F.col("component").alias("cs")),
            "src",
        )
        .join(
            scc.select(F.col("id").alias("dst"), F.col("component").alias("cd")),
            "dst",
        )
        .filter(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    v = scc.select(F.col("component").alias("id")).distinct()
    return SparkGraph(e, v, directed=True, coalesce_edges=False)


def attracting_components(g: SparkGraph) -> DataFrame:
    """(id, component): nodes of the attracting SCCs — components with
    out-degree 0 in the condensation (``components/attracting.py:10``).
    One SCC labeling + one anti-join against the condensation arcs."""
    if not g.directed:
        raise NotImplementedForDirected(
            "attracting_components: not implemented for undirected type"
        )
    scc = strongly_connected_components(g)
    cond = condensation(g, scc)
    sinks = cond.vertices.select("id").join(
        cond.edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    )
    return scc.join(
        sinks.withColumnRenamed("id", "component"), "component", "left_semi"
    ).select("id", "component")


def number_attracting_components(g: SparkGraph) -> int:
    """Count of attracting SCCs (``attracting.py:59``)."""
    return (
        attracting_components(g).select("component").distinct().count()
    )


def is_semiconnected(g: SparkGraph) -> bool:
    """True iff every node pair is joined by a path in at least one
    direction (``components/semiconnected.py:10``): weakly connected AND
    the condensation's topological order is a chain — every Kahn
    generation is a single component with an arc to the next one."""
    if not g.directed:
        raise NotImplementedForDirected(
            "is_semiconnected: not implemented for undirected type"
        )
    if g.number_of_nodes() == 0:
        raise ValueError("Connectivity is undefined for the null graph.")
    from linkgraph.algos.components import is_weakly_connected
    from linkgraph.algos.dag import topological_generations

    if not is_weakly_connected(g):
        return False
    with SuperstepCache(g.spark) as loop:
        cond = condensation(g)
        gen = topological_generations(cond)
        try:
            # unique topological order: one component per generation
            if gen.groupBy("generation").count().filter(F.col("count") > 1).limit(
                1
            ).count():
                return False
            # consecutive singletons must be linked
            chain = gen.select(F.col("id").alias("src"), F.col("generation").alias("gs"))
            nxt = gen.select(F.col("id").alias("dst"), F.col("generation").alias("gd"))
            need = (
                chain.join(nxt, F.col("gd") == F.col("gs") + 1)
                .join(cond.edges.select("src", "dst"), ["src", "dst"], "left_anti")
                .limit(1)
                .count()
            )
            return need == 0
        finally:
            loop.release([gen, cond.vertices])


def is_aperiodic(g: SparkGraph) -> bool:
    """True iff the gcd of the strongly connected digraph's cycle lengths
    is 1 (``networkx/algorithms/dag.py:575`` ``is_aperiodic``, restricted
    like the reference to strongly connected input): BFS levels from one
    root, then
    ``gcd over edges of (level(u) − level(v) + 1)`` — tree arcs contribute
    0 (the gcd identity), so the aggregate runs over ALL arcs in one join.
    The distinct residual values are bounded by the diameter, so the final
    gcd folds a tiny collected set. Raises on undirected input, the null
    graph, and non-strongly-connected graphs, like the reference.
    """
    if not g.directed:
        raise NetworkXError("is_aperiodic not defined for undirected graphs")
    n = g.number_of_nodes()
    if n == 0:
        raise ValueError("Graph has no nodes.")
    if not is_strongly_connected(g):
        raise NetworkXError("Graph is not strongly connected.")
    from math import gcd

    from linkgraph.algos.setops import shortest_path_lengths

    root = g.vertices.agg(F.min("id")).first()[0]
    lev = shortest_path_lengths(g, [root])
    vals = (
        g.edges.select("src", "dst")
        .join(lev.select(F.col("id").alias("src"), F.col("distance").alias("du")), "src")
        .join(lev.select(F.col("id").alias("dst"), F.col("distance").alias("dv")), "dst")
        .select((F.col("du") - F.col("dv") + 1).alias("r"))
        .distinct()
        .collect()
    )
    out = 0
    for row in vals:
        out = gcd(out, int(row["r"]))
    return out == 1


def kosaraju_strongly_connected_components(g: SparkGraph) -> DataFrame:
    """``strongly_connected.py:145`` — identical partition; Kosaraju's
    two-DFS schedule is sequential, the min-label forward/backward
    fixpoint returns the same components."""
    return strongly_connected_components(g)


def is_attracting_component(g: SparkGraph) -> bool:
    """``components/attracting.py`` ``is_attracting_component`` — the
    whole graph is one attracting SCC: exactly one attracting component
    covering every node."""
    ac = attracting_components(g)
    return ac.count() == g.number_of_nodes() and (
        ac.select("component").distinct().count() == 1
    )
