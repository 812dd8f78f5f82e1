"""Flow hierarchy, trophic analysis, and reaching centrality.

Reference semantics (networkx 3.6.1):

- ``flow_hierarchy`` — ``networkx/algorithms/hierarchy.py:10``: the fraction
  of a digraph's edges NOT participating in any cycle. An edge is cyclic iff
  both endpoints share a strongly connected component, so the measure is one
  SCC labeling plus a tagged edge aggregation.
- ``trophic_levels`` — ``networkx/algorithms/centrality/trophic.py:12``:
  ``s_i = 1 + Σ_j p_ij s_j`` with ``p_ij = w(j→i) / in_w(i)`` and basal
  nodes (in-degree 0) fixed at level 1. The reference inverts ``(I − P)``
  dense; here the same solution is reached by Jacobi iteration — one
  arcs⋈state join + groupBy per superstep, the PageRank shape — which is
  the only formulation that survives 100 TB (no node-count-sized matrix
  anywhere).
- ``trophic_differences`` / ``trophic_incoherence_parameter`` —
  ``trophic.py:80,110``: per-edge level differences and their population
  standard deviation.
- ``local_reaching_centrality`` / ``global_reaching_centrality`` —
  ``networkx/algorithms/hierarchy.py`` sibling ``reaching.py:60,14``
  (unweighted semantics): the fraction of the graph reachable from each
  node, and the normalized gap to the maximum. Reachability counts come
  from the batched all-pairs BFS (``sources=`` bounds the sweep at scale,
  the standard landmark estimator — same contract as ``wiener_index``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError, NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, loop_partitions

__all__ = [
    "flow_hierarchy",
    "trophic_levels",
    "trophic_differences",
    "trophic_incoherence_parameter",
    "local_reaching_centrality",
    "global_reaching_centrality",
]


def flow_hierarchy(g: SparkGraph, *, weight: Optional[str] = None) -> float:
    """Fraction of edge weight not inside any cycle (``hierarchy.py:10``).

    One SCC labeling (trim + double min-label sweeps), then a single pass
    tagging each arc with whether its endpoints share a component.
    """
    if g.number_of_edges() == 0:
        raise NetworkXError("flow_hierarchy not applicable to empty graphs")
    if not g.directed:
        raise NetworkXError("G must be a digraph in flow_hierarchy")
    from linkgraph.algos.strongly_connected import strongly_connected_components

    scc = strongly_connected_components(g)
    w = (
        F.lit(1.0)
        if weight is None
        else F.coalesce(F.col(weight).cast("double"), F.lit(1.0))
    )
    tagged = (
        g.edges.select("src", "dst", w.alias("w"))
        .join(scc.select(F.col("id").alias("src"), F.col("component").alias("c_src")), "src")
        .join(scc.select(F.col("id").alias("dst"), F.col("component").alias("c_dst")), "dst")
    )
    row = tagged.agg(
        F.sum(
            F.when(F.col("c_src") == F.col("c_dst"), F.col("w")).otherwise(F.lit(0.0))
        ).alias("cyclic"),
        F.sum("w").alias("total"),
    ).first()
    return 1.0 - float(row["cyclic"] or 0.0) / float(row["total"])


def trophic_levels(
    g: SparkGraph,
    *,
    weight: str = "weight",
    max_iter: int = 500,
    tol: float = 1e-9,
) -> DataFrame:
    """(id, trophic_level): MacKay–Johnson–Rogers trophic levels
    (``trophic.py:12``).

    Jacobi iteration of ``s = 1 + P s`` with basal rows pinned at 1; each
    superstep is one arcs⋈state join keyed on the arc destination plus one
    aggregation, lineage-truncated. Converges exactly when the reference's
    ``(I − P)`` is invertible; raises :class:`NetworkXError` otherwise
    (e.g. a cycle unreachable from any basal node), matching the
    reference's singular-matrix error.
    """
    if not g.directed:
        raise NotImplementedForDirected(
            "trophic_levels: not implemented for undirected type"
        )
    spark = g.spark
    wcol = (
        F.coalesce(F.col(weight).cast("double"), F.lit(1.0))
        if weight in g.edges.columns
        else F.lit(1.0)
    )
    arcs = g.edges.select("src", "dst", wcol.alias("w"))
    in_w = arcs.groupBy(F.col("dst").alias("id")).agg(F.sum("w").alias("in_w"))
    # p_ij = w(j→i) / in_w(i): normalized in-adjacency, keyed by destination
    p = arcs.join(in_w.withColumnRenamed("id", "dst"), "dst").select(
        "src", "dst", (F.col("w") / F.col("in_w")).alias("p")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_parts = loop_partitions(g.number_of_edges(), cap)
    nodes = g.vertices.select("id").join(
        in_w.select("id").withColumn("_fed", F.lit(True)), "id", "left"
    )
    basal = nodes.filter(F.col("_fed").isNull()).select("id")
    state = nodes.select("id", F.lit(1.0).alias("s"), F.col("_fed").isNotNull().alias("fed"))

    with SuperstepCache(spark, partitions=n_parts) as cache:
        p = cache.pin(p.repartition(n_parts, "dst"))
        state = cache.truncate(state)
        for _ in range(max_iter):
            contrib = (
                p.join(
                    state.select(F.col("id").alias("src"), F.col("s").alias("s_src")),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("p") * F.col("s_src")).alias("agg"))
            )
            nxt = (
                state.join(contrib, "id", "left")
                .select(
                    "id",
                    F.when(F.col("fed"), 1.0 + F.coalesce(F.col("agg"), F.lit(0.0)))
                    .otherwise(F.lit(1.0))
                    .alias("s_new"),
                    "fed",
                    "s",
                )
            )
            # the convergence check is observed on the materialization
            nxt = nxt.withColumn("delta", F.abs(F.col("s_new") - F.col("s"))).select(
                "id", F.col("s_new").alias("s"), "fed", "delta"
            )
            new_state, seen = cache.truncate(
                nxt, retire=state, figures={"err": F.max("delta")}
            )
            state = new_state.select("id", "s", "fed")
            if (seen["err"] or 0.0) < tol:
                return cache.result(state.select("id", F.col("s").alias("trophic_level")))
        raise NetworkXError(
            "Trophic levels are only defined for graphs where every node "
            "has a path from a basal node (matrix has no inverse)."
        )


def trophic_differences(
    g: SparkGraph, *, weight: str = "weight", levels: Optional[DataFrame] = None
) -> DataFrame:
    """(src, dst, diff): ``s(dst) − s(src)`` per arc (``trophic.py:80``)."""
    if levels is None:
        levels = trophic_levels(g, weight=weight)
    lv = levels.select(F.col("id"), F.col("trophic_level").alias("_s"))
    return (
        g.edges.select("src", "dst")
        .join(lv.withColumnRenamed("id", "src").withColumnRenamed("_s", "s_src"), "src")
        .join(lv.withColumnRenamed("id", "dst").withColumnRenamed("_s", "s_dst"), "dst")
        .select("src", "dst", (F.col("s_dst") - F.col("s_src")).alias("diff"))
    )


def trophic_incoherence_parameter(
    g: SparkGraph,
    *,
    weight: str = "weight",
    cannibalism: bool = False,
    levels: Optional[DataFrame] = None,
) -> float:
    """Population standard deviation of the trophic differences
    (``trophic.py:110``). ``cannibalism=False`` drops self-loops first,
    like the reference. Pass precomputed ``levels`` to skip the fixpoint."""
    base = g if cannibalism else _without_selfloops(g)
    diffs = trophic_differences(base, weight=weight, levels=levels)
    row = diffs.agg(
        F.avg("diff").alias("mu"), F.avg(F.col("diff") * F.col("diff")).alias("m2")
    ).first()
    var = float(row["m2"] or 0.0) - float(row["mu"] or 0.0) ** 2
    return max(var, 0.0) ** 0.5


def _without_selfloops(g: SparkGraph) -> SparkGraph:
    return SparkGraph(
        g.edges.filter(F.col("src") != F.col("dst")),
        g.vertices,
        directed=g.directed,
        coalesce_edges=False,
    )


def _weighted_reach_table(g: SparkGraph, weight, sources):
    """Per (source, target≠source) reach rows for the weighted reaching
    centralities: ``(source, id, wsum, hops)`` along the shortest path
    under the reference's INVERTED metric (``reaching.py:123``:
    ``as_distance = total_weight / w`` — strong edges are short). The
    relaxation carries a lexicographic struct (dist, hops, wsum) so the
    per-path average weight ``wsum / hops`` is deterministic; the
    reference's tie choice among equal-distance paths is dict-order
    arbitrary, so only tie-free fixtures are parity-comparable."""
    from linkgraph.graph import resolve_weight_column
    from linkgraph.iterutils import SuperstepCache, row_count

    base = g.edges if g.directed else g.symmetric_edges()
    spark = g.spark
    with SuperstepCache(spark) as cache:
        arcs = cache.pin(
            base.select(
                "src", "dst", resolve_weight_column(base, weight).alias("w")
            )
            .groupBy("src", "dst")
            .agg(F.max("w").alias("w"))
        )
        if arcs.filter(F.col("w") <= 0).limit(1).count():
            raise NetworkXError("edge weights must be positive")
        total_w = float(
            g.edges.select(resolve_weight_column(g.edges, weight).alias("w"))
            .agg(F.sum("w"))
            .first()[0]
            or 0.0
        )
        if total_w <= 0:
            raise NetworkXError("Size of G must be positive")
        warcs = arcs.select(
            "src", "dst", "w", (F.lit(total_w) / F.col("w")).alias("inv")
        )
        src_df = (
            g.vertices.select(F.col("id").alias("source"))
            if sources is None
            else sources.select(
                F.col(sources.columns[0]).cast("long").alias("source")
            )
        )
        init = src_df.select(
            "source",
            F.col("source").alias("id"),
            F.struct(
                F.lit(0.0).alias("dist"),
                F.lit(0).cast("long").alias("hops"),
                F.lit(0.0).alias("wsum"),
            ).alias("s"),
        )
        state = cache.truncate(init)
        frontier = state
        while True:
            cand = (
                warcs.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(
                    "source",
                    F.col("dst").alias("id"),
                    F.struct(
                        (F.col("s.dist") + F.col("inv")).alias("dist"),
                        (F.col("s.hops") + F.lit(1)).alias("hops"),
                        (F.col("s.wsum") + F.col("w")).alias("wsum"),
                    ).alias("s"),
                )
                .groupBy("source", "id")
                .agg(F.min("s").alias("s"))
            )
            improved, seen = cache.truncate(
                cand.join(
                    state.select("source", "id", F.col("s").alias("_old")),
                    ["source", "id"],
                    "left",
                )
                .filter(F.col("_old").isNull() | (F.col("s") < F.col("_old")))
                .select("source", "id", "s"),
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            state = cache.truncate(
                state.join(
                    improved.select("source", "id"), ["source", "id"], "left_anti"
                ).unionByName(improved),
                retire=state,
            )
            frontier = improved
        out = state.filter(F.col("source") != F.col("id")).select(
            "source", "id", F.col("s.wsum").alias("wsum"), F.col("s.hops").alias("hops")
        )
        return cache.result(cache.truncate(out)), total_w


def local_reaching_centrality(
    g: SparkGraph,
    *,
    sources: Optional[DataFrame] = None,
    weight=None,
    normalized: bool = True,
) -> DataFrame:
    """(id, lrc): local reaching centrality
    (``networkx/algorithms/centrality/reaching.py:121``). Unweighted
    directed graphs: the fraction of the other nodes reachable from each
    node. Undirected graphs: the reference sums the per-path average
    weight ``1/d(v, u)``, i.e. ``Σ_{u≠v} 1/d(v, u) / (n − 1)`` — the
    outward harmonic sum. ``weight=`` follows the reference exactly:
    paths minimize the INVERTED metric total_weight/w (strong edges are
    short), each reached target contributes its path's average original
    weight, and ``normalized`` divides by total_weight/m.

    One batched multi-source sweep; ``sources=`` restricts it (the
    landmark estimator for web scale — exact all-pairs reachability is
    inherently O(n·reach), the same cost the reference pays per call).
    """
    from linkgraph.algos.distance import all_pairs_shortest_path_lengths

    n = g.number_of_nodes()
    if n <= 1:
        raise NetworkXError("local_reaching_centrality is undefined on <2 nodes.")
    base = (
        g.vertices.select("id")
        if sources is None
        else sources.select(F.col(sources.columns[0]).cast("long").alias("id"))
    )
    if weight is not None:
        reach, total_w = _weighted_reach_table(g, weight, sources)
        m = g.edges.count()
        norm = total_w / m if normalized else 1.0
        agg = reach.groupBy(F.col("source").alias("id")).agg(
            F.sum(F.col("wsum") / F.col("hops")).alias("m")
        )
        return base.join(agg, "id", "left").select(
            "id",
            (
                F.coalesce(F.col("m"), F.lit(0.0))
                / F.lit(float(norm))
                / F.lit(float(n - 1))
            ).alias("lrc"),
        )
    pairs = all_pairs_shortest_path_lengths(g, sources).filter(
        F.col("distance") > 0
    )
    measure = (
        F.count(F.lit(1)).alias("m")
        if g.directed
        else F.sum(1.0 / F.col("distance")).alias("m")
    )
    reached = pairs.groupBy(F.col("source").alias("id")).agg(measure)
    return base.join(reached, "id", "left").select(
        "id",
        (F.coalesce(F.col("m"), F.lit(0.0)) / F.lit(float(n - 1))).alias("lrc"),
    )


def global_reaching_centrality(
    g: SparkGraph,
    *,
    sources: Optional[DataFrame] = None,
    weight=None,
    normalized: bool = True,
) -> float:
    """``Σ_v (max lrc − lrc(v)) / (n − 1)`` (``reaching.py:14``;
    ``weight``/``normalized`` thread into the per-node lrc exactly like
    the reference). With ``sources=`` both the max and the sum run over
    the landmark set (and the denominator is its size − 1)."""
    with SuperstepCache(g.spark) as loop:
        lrc = local_reaching_centrality(
            g, sources=sources, weight=weight, normalized=normalized
        )
        row = lrc.agg(
            F.max("lrc").alias("mx"),
            F.sum("lrc").alias("sm"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        loop.release(lrc)
    n = int(row["n"])
    if n <= 1:
        raise NetworkXError("global_reaching_centrality is undefined on <2 nodes.")
    return (n * float(row["mx"]) - float(row["sm"])) / (n - 1)
