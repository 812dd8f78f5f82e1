"""Bipartite projections — the web/co-occurrence graph construction.

Reference: ``networkx/algorithms/bipartite/projection.py`` —
``projected_graph`` (``:12``), ``weighted_projected_graph`` (``:90``,
weight = number of shared neighbors, or the ratio of that count to the
opposite-side size), ``overlap_weighted_projected_graph`` (``:244``,
Jaccard of neighborhoods). This family IS the engine's copurchase pattern
(items sharing an order) generalized.

Spark shape: one self-join of the arc table on the opposite-side node plus
a count aggregation — no iteration. The join key is the opposite-side
vertex, so power-law "hub" opposite nodes (an order containing thousands of
items) blow up quadratically; ``max_opposite_degree`` drops those hubs
before the join, the standard projection guard at crawl scale (a 100 TB
run would cap, then handle the capped hubs with a dedicated path if their
pairs matter).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, check_driver_limit
from linkgraph.iterutils import local_checkpoint


# Edges of the graphs the driver kernels take: the callable projection and
# the full matching, and (per-pair flows) maximal_extendability.
_DRIVER_EDGES = 1_000_000
_EXTENDABILITY_EDGES = 100_000

__all__ = [
    "projected_graph",
    "weighted_projected_graph",
    "overlap_weighted_projected_graph",
    "birank",
    "hopcroft_karp_matching",
    "eppstein_matching",
    "is_bipartite_node_set",
    "node_redundancy",
    "spectral_bipartivity",
    "biadjacency_matrix",
    "from_biadjacency_matrix",
    "collaboration_weighted_projected_graph",
    "generic_weighted_projected_graph",
    "minimum_weight_full_matching",
    "maximal_extendability",
    "bipartite_random_graph",
    "gnmk_random_graph",
    "preferential_attachment_graph",
    "reverse_havel_hakimi_graph",
    "alternating_havel_hakimi_graph",
]


def _side_arcs(g: SparkGraph, nodes: DataFrame, max_opposite_degree: Optional[int]):
    """(node, other) arcs with ``node`` on the projected side, hub-capped.
    Direction is meaningless for side membership, so arcs are symmetrized
    regardless of the graph's directed flag (the reference's bipartite
    module treats DiGraph input the same way)."""
    e = g.edges
    arcs = e.select("src", "dst").unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    keep = nodes.select(F.col(nodes.columns[0]).cast("long").alias("src"))
    arcs = arcs.join(keep, "src").select(
        F.col("src").alias("node"), F.col("dst").alias("other")
    ).distinct()
    if max_opposite_degree is not None:
        deg = arcs.groupBy("other").agg(F.count(F.lit(1)).alias("d"))
        arcs = arcs.join(
            deg.filter(F.col("d") <= max_opposite_degree).select("other"), "other"
        )
    return arcs


def weighted_projected_graph(
    g: SparkGraph,
    nodes: DataFrame,
    *,
    ratio: bool = False,
    max_opposite_degree: Optional[int] = None,
) -> SparkGraph:
    """Project the bipartite graph onto ``nodes``; edge weight = number of
    shared opposite-side neighbors (``ratio=True`` divides by the size of
    the opposite side, ``projection.py:90`` semantics). Returns an
    undirected SparkGraph over ``nodes``.
    """
    arcs = _side_arcs(g, nodes, max_opposite_degree)
    a = arcs.select(F.col("node").alias("src"), "other")
    b = arcs.select(F.col("node").alias("dst"), "other")
    pairs = (
        a.join(b, "other")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    if ratio:
        keep = nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
        n_opp = (
            g.vertices.select("id").join(keep, "id", "left_anti").count()
        )
        pairs = pairs.withColumn(
            "weight", F.col("weight") / F.lit(float(n_opp or 1))
        )
    return SparkGraph(
        pairs,
        nodes.select(F.col(nodes.columns[0]).cast("long").alias("id")),
        directed=False,
        coalesce_edges=False,
    )


def projected_graph(
    g: SparkGraph, nodes: DataFrame, *, max_opposite_degree: Optional[int] = None
) -> SparkGraph:
    """Unweighted projection (``projection.py:12``): u ~ v iff they share at
    least one opposite-side neighbor."""
    w = weighted_projected_graph(
        g, nodes, max_opposite_degree=max_opposite_degree
    )
    return SparkGraph(
        w.edges.select("src", "dst", F.lit(1.0).alias("weight")),
        w.vertices,
        directed=False,
        coalesce_edges=False,
    )


def overlap_weighted_projected_graph(
    g: SparkGraph,
    nodes: DataFrame,
    *,
    jaccard: bool = True,
    max_opposite_degree: Optional[int] = None,
) -> SparkGraph:
    """Neighborhood-overlap weights (``projection.py:244``): Jaccard
    |N(u)∩N(v)| / |N(u)∪N(v)|, or with ``jaccard=False`` the overlap
    coefficient |N(u)∩N(v)| / min(|N(u)|, |N(v)|)."""
    arcs = _side_arcs(g, nodes, max_opposite_degree)
    deg = arcs.groupBy("node").agg(F.count(F.lit(1)).alias("nd"))
    a = arcs.select(F.col("node").alias("src"), "other")
    b = arcs.select(F.col("node").alias("dst"), "other")
    inter = (
        a.join(b, "other")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("i"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("nd").alias("da"))
    db = deg.select(F.col("node").alias("dst"), F.col("nd").alias("db"))
    joined = inter.join(da, "src").join(db, "dst")
    if jaccard:
        w = F.col("i") / (F.col("da") + F.col("db") - F.col("i"))
    else:
        w = F.col("i") / F.least("da", "db")
    pairs = joined.select("src", "dst", w.alias("weight"))
    return SparkGraph(
        pairs,
        nodes.select(F.col(nodes.columns[0]).cast("long").alias("id")),
        directed=False,
        coalesce_edges=False,
    )


def birank(
    g: SparkGraph,
    top_nodes: DataFrame,
    *,
    alpha: Optional[float] = None,
    beta: Optional[float] = None,
    top_personalization: Optional[DataFrame] = None,
    bottom_personalization: Optional[DataFrame] = None,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    fixed_iter: Optional[int] = None,
) -> DataFrame:
    """BiRank scores (He et al., TKDE 2017) — ``(id BIGINT, score DOUBLE)``
    over both bipartite sides.

    Matches ``networkx/algorithms/bipartite/link_analysis.py:9`` exactly:
    symmetric-sqrt-normalized biadjacency ``S = D_u^{-1/2} W D_p^{-1/2}``
    (disconnected degrees treated as 1), iteration
    ``p = α·Sᵀu + (1−α)·p0`` / ``u = β·Sp + (1−β)·u0`` from
    ``p = 1/|top|``, relative-L1 convergence per side (err < n_side·tol),
    L1 normalization of both sides when α = β = 1, and
    ``PowerIterationFailedConvergence`` past ``max_iter``. α/β default to
    0.8 when the matching personalization is given, else 1; personalization
    values must be non-negative and are NOT normalized (unlike pagerank).

    Same plan shape as :func:`linkgraph.algos.hits.hits`: the normalized
    arc table is computed once and pinned; each iteration is two join+agg
    passes over it plus one state checkpoint.

    ``fixed_iter=k`` runs exactly k iterations with no convergence test
    (the deterministic oracle/benchmark workload).
    """
    from linkgraph.iterutils import SuperstepCache, loop_partitions
    from linkgraph.exceptions import PowerIterationFailedConvergence

    spark = g.spark
    top = top_nodes.select(
        F.col(top_nodes.columns[0]).cast("long").alias("id")
    ).distinct()
    bottom = g.vertices.select("id").join(top, "id", "left_anti")
    n_top = top.count()
    n_bottom = bottom.count()
    if n_top == 0 or n_bottom == 0:
        raise ValueError(
            "birank requires a bipartite graph with at least one node per set"
        )
    if alpha is None:
        alpha = 0.8 if top_personalization is not None else 1.0
    if beta is None:
        beta = 0.8 if bottom_personalization is not None else 1.0
    if not (0 <= alpha <= 1 and 0 <= beta <= 1):
        raise ValueError("alpha and beta must be in [0, 1]")

    def _pers(df, side, name):
        if df is None:
            return side.select("id", F.lit(0.0).alias(name))
        p = df.select(
            F.col(df.columns[0]).cast("long").alias("id"),
            F.col(df.columns[1]).cast("double").alias(name),
        )
        if p.filter(F.col(name) < 0).limit(1).count():
            raise ValueError("personalization values must be non-negative")
        return side.join(p, "id", "left").select(
            "id", F.coalesce(name, F.lit(0.0)).alias(name)
        )

    # cross-side arcs (i in bottom, j in top) with symmetric-sqrt weights
    sym = g.symmetric_edges()
    bt = (
        sym.join(bottom.select(F.col("id").alias("src")), "src")
        .join(top.select(F.col("id").alias("dst")), "dst")
        .select(F.col("src").alias("i"), F.col("dst").alias("j"), "weight")
    )
    di = bt.groupBy("i").agg(F.sum("weight").alias("di"))
    dj = bt.groupBy("j").agg(F.sum("weight").alias("dj"))
    arcs = (
        bt.join(di, "i")
        .join(dj, "j")
        .select(
            "i",
            "j",
            (
                F.col("weight")
                / F.sqrt(F.when(F.col("di") != 0, F.col("di")).otherwise(1.0))
                / F.sqrt(F.when(F.col("dj") != 0, F.col("dj")).otherwise(1.0))
            ).alias("s"),
        )
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    m = bt.count()
    parts = loop_partitions(m, cap, rows_per_partition=40_000)
    with SuperstepCache(spark, partitions=parts) as loop:
        arcs = loop.pin(arcs, "i")
        arcs.count()
        p0 = _pers(top_personalization, top, "p0")
        u0 = _pers(bottom_personalization, bottom, "u0")
        base_t = loop.truncate(p0)  # (id, p0)
        base_b = loop.truncate(u0)  # (id, u0)

        def s_p(p):  # u-side contribution: (S p)_i = Σ_j s_ij p_j
            return (
                arcs.join(p.withColumnRenamed("id", "j"), "j")
                .groupBy(F.col("i").alias("id"))
                .agg(F.sum(F.col("s") * F.col("val")).alias("c"))
            )

        def s_t_u(u):  # p-side contribution: (Sᵀ u)_j = Σ_i s_ij u_i
            return (
                arcs.join(u.withColumnRenamed("id", "i"), "i")
                .groupBy(F.col("j").alias("id"))
                .agg(F.sum(F.col("s") * F.col("val")).alias("c"))
            )

        p = top.select("id", F.lit(1.0 / n_top).alias("val"))
        u = base_b.join(s_p(p), "id", "left").select(
            "id",
            (
                F.lit(beta) * F.coalesce("c", F.lit(0.0))
                + F.lit(1.0 - beta) * F.col("u0")
            ).alias("val"),
        )
        state_p = loop.truncate(p)
        state_u = loop.truncate(u)
        n_iter = fixed_iter if fixed_iter is not None else max_iter
        converged = fixed_iter is not None
        for _ in range(n_iter):
            new_p = base_t.join(s_t_u(state_u), "id", "left").select(
                "id",
                (
                    F.lit(alpha) * F.coalesce("c", F.lit(0.0))
                    + F.lit(1.0 - alpha) * F.col("p0")
                ).alias("val"),
            )
            new_p = loop.truncate(new_p)
            new_u = base_b.join(s_p(new_p), "id", "left").select(
                "id",
                (
                    F.lit(beta) * F.coalesce("c", F.lit(0.0))
                    + F.lit(1.0 - beta) * F.col("u0")
                ).alias("val"),
            )
            new_u = loop.truncate(new_u)
            if fixed_iter is None:
                # relative-L1 errors, both sides in one pass each
                def _err(old, new):
                    return (
                        old.select("id", F.col("val").alias("o"))
                        .join(new, "id")
                        .agg(
                            F.sum(
                                F.abs(
                                    (F.col("o") - F.col("val"))
                                    / F.greatest(F.lit(1.0), F.col("o"))
                                )
                            )
                        )
                        .first()[0]
                        or 0.0
                    )

                err_u = _err(state_u, new_u)
                done = err_u < n_bottom * tol and _err(state_p, new_p) < n_top * tol
            else:
                done = False
            loop.release(state_p)
            loop.release(state_u)
            state_p, state_u = new_p, new_u
            if done:
                converged = True
                break
        if not converged:
            raise PowerIterationFailedConvergence(max_iter)
        out = state_p.unionByName(state_u)
        if alpha == 1 and beta == 1:
            sums = state_p.agg(F.sum("val").alias("sp")).crossJoin(
                state_u.agg(F.sum("val").alias("su"))
            )
            out = (
                state_p.crossJoin(F.broadcast(sums)).select(
                    "id", (F.col("val") / F.col("sp")).alias("val")
                )
            ).unionByName(
                state_u.crossJoin(F.broadcast(sums)).select(
                    "id", (F.col("val") / F.col("su")).alias("val")
                )
            )
        res = out.select("id", F.col("val").alias("score"))
        return loop.result(res)


def color(g: SparkGraph) -> DataFrame:
    """(id, color): a two-coloring (``networkx/algorithms/bipartite/
    basic.py:17``): per component the min-id node takes color 1 (the
    reference's scan-order start), neighbors alternate; isolates take 0.
    Raises :class:`NetworkXError` when the graph is not bipartite.

    Plan: BFS parity from every component root simultaneously (the roots
    come from the large-star/small-star CC labels), then one edge⋈color
    join checks every edge is bi-chromatic.
    """
    from linkgraph.exceptions import NetworkXError
    from linkgraph.algos.components import connected_components
    from linkgraph.algos.distance import all_pairs_shortest_path_lengths

    und = g.undirected_view() if g.directed else g
    comp = connected_components(und)
    roots = comp.select(F.col("component").alias("id")).distinct()
    dist = all_pairs_shortest_path_lengths(und, sources=roots)
    deg0 = und.symmetric_edges().select(F.col("src").alias("id")).distinct()
    colors = local_checkpoint(
        dist.select("id", (1 - F.pmod(F.col("distance"), F.lit(2))).alias("color"))
        .join(deg0, "id", "left_semi")  # non-isolates: parity color
        .unionByName(
            g.vertices.select("id").join(deg0, "id", "left_anti")
            .select("id", F.lit(0).cast("long").alias("color"))
        )
    )
    bad = (
        und.symmetric_edges()
        .join(colors.select(F.col("id").alias("src"), F.col("color").alias("cs")), "src")
        .join(colors.select(F.col("id").alias("dst"), F.col("color").alias("cd")), "dst")
        .filter(F.col("cs") == F.col("cd"))
    )
    if not bad.isEmpty():
        raise NetworkXError("Graph is not bipartite.")
    return colors


def is_bipartite(g: SparkGraph) -> bool:
    """``basic.py:88``."""
    from linkgraph.exceptions import NetworkXError

    try:
        color(g)
        return True
    except NetworkXError:
        return False


def sets(g: SparkGraph) -> "tuple[DataFrame, DataFrame]":
    """Bipartite node sets (X, Y) as two one-column DataFrames
    (``basic.py:109``). Like the reference, raises
    :class:`AmbiguousSolution` when the graph is disconnected (the
    bipartition is not unique) and :class:`NetworkXError` when it is not
    bipartite."""
    from linkgraph.exceptions import AmbiguousSolution

    und = g.undirected_view() if g.directed else g
    from linkgraph.algos.components import connected_components

    n_comp = (
        connected_components(und).select("component").distinct().count()
    )
    if n_comp > 1:
        raise AmbiguousSolution(
            "Disconnected graph: ambiguous solution for bipartite sets."
        )
    c = color(g)
    return (
        c.filter(F.col("color") == 1).select("id"),
        c.filter(F.col("color") == 0).select("id"),
    )


def maximum_matching(g: SparkGraph, top_nodes: DataFrame) -> DataFrame:
    """Maximum-cardinality bipartite matching as ``(u, v)`` rows (u on the
    top side) — ``networkx/algorithms/bipartite/matching.py:58``
    ``hopcroft_karp_matching`` result parity via unit-capacity Dinitz
    (max matching = max flow through a super source/sink; the blocking-flow
    phases ARE Hopcroft–Karp's level phases, O(√V) of them).
    """
    from linkgraph.algos.flow import maximum_flow

    spark = g.spark
    top = top_nodes.select(
        F.col(top_nodes.columns[0]).cast("long").alias("id")
    ).persist()
    verts = g.vertices.select("id")
    bottom = verts.join(top, "id", "left_anti").persist()
    hi = verts.agg(F.max("id")).collect()[0][0] or 0
    s, t = int(hi) + 1, int(hi) + 2
    arcs = g.symmetric_edges().select("src", "dst")
    tb = arcs.join(top.withColumnRenamed("id", "src"), "src", "left_semi").join(
        bottom.withColumnRenamed("id", "dst"), "dst", "left_semi"
    )
    net = (
        top.select(F.lit(s).cast("long").alias("src"), F.col("id").alias("dst"))
        .unionByName(tb.select("src", "dst"))
        .unionByName(
            bottom.select(F.col("id").alias("src"), F.lit(t).cast("long").alias("dst"))
        )
        .withColumn("capacity", F.lit(1.0))
    )
    net_g = SparkGraph(net, directed=True, coalesce_edges=False)
    _, flow = maximum_flow(net_g, s, t, "capacity")
    out = (
        flow.filter((F.col("flow") > 0.5) & (F.col("u") != s) & (F.col("v") != t))
        .select(F.col("u"), F.col("v"))
        .join(top.withColumnRenamed("id", "u"), "u", "left_semi")
    )
    return out


def to_vertex_cover(g: SparkGraph, matching: DataFrame, top_nodes: DataFrame) -> DataFrame:
    """König's theorem: a minimum vertex cover from a maximum bipartite
    matching (``bipartite/matching.py:172`` ``to_vertex_cover``):
    Z = nodes reachable from unmatched top nodes by alternating paths;
    cover = (top − Z) ∪ (bottom ∩ Z). Alternating reachability is one
    distributed BFS over (unmatched-direction top→bottom, matched-direction
    bottom→top) arcs."""
    from linkgraph.iterutils import SuperstepCache, row_count

    with SuperstepCache(g.spark) as cache:
        top = cache.pin(
            top_nodes.select(F.col(top_nodes.columns[0]).cast("long").alias("id"))
        )
        verts = g.vertices.select("id")
        bottom = verts.join(top, "id", "left_anti")
        m = cache.pin(
            matching.select(
                F.col(matching.columns[0]).cast("long").alias("u"),
                F.col(matching.columns[1]).cast("long").alias("v"),
            )
        )
        arcs = g.symmetric_edges().select("src", "dst")
        tb = arcs.join(top.withColumnRenamed("id", "src"), "src", "left_semi").join(
            bottom.withColumnRenamed("id", "dst"), "dst", "left_semi"
        )
        unmatched_fwd = tb.join(m.withColumnRenamed("u", "src").withColumnRenamed("v", "dst"), ["src", "dst"], "left_anti")
        matched_back = m.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        walk = cache.pin(unmatched_fwd.unionByName(matched_back))
        free_top = top.join(m.select(F.col("u").alias("id")), "id", "left_anti")
        seen = cache.truncate(free_top.select("id"))
        frontier = seen
        while True:
            nxt, found = cache.truncate(
                walk.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(seen, "id", "left_anti"),
                retire=None if frontier is seen else frontier,
                figures=row_count(),
            )
            if found["rows"] == 0:
                break
            seen = cache.truncate(seen.unionByName(nxt), retire=seen)
            frontier = nxt
        cover = top.join(seen, "id", "left_anti").unionByName(
            bottom.join(seen, "id", "left_semi")
        )
        return cache.result(cover)


def latapy_clustering(g: SparkGraph, *, mode: str = "dot") -> DataFrame:
    """(id, clustering): the Latapy bipartite clustering coefficient
    (``bipartite/cluster.py:31`` ``latapy_clustering``):
    c_u = mean over second-order neighbors v of c_uv, with c_uv the
    dot/min/max common-neighbor ratio. Three joins: wedges u–w–v give the
    common counts, a degree join gives the denominators, one groupBy
    averages — no per-node Python."""
    if mode not in ("dot", "min", "max"):
        raise ValueError(f"Mode for bipartite clustering must be: dot, min or max")
    from linkgraph.algos.degrees import degrees

    arcs = g.symmetric_edges().select("src", "dst")
    deg = degrees(g).persist()
    a = arcs.select(F.col("dst").alias("w"), F.col("src").alias("u"))
    b = arcs.select(F.col("dst").alias("w"), F.col("src").alias("v"))
    common = (
        a.join(b, "w")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
    pairs = common.join(du, "u").join(dv, "v")
    if mode == "dot":
        cc = F.col("c") / (F.col("du") + F.col("dv") - F.col("c"))
    elif mode == "min":
        cc = F.col("c") / F.least("du", "dv")
    else:
        cc = F.col("c") / F.greatest("du", "dv")
    per_u = pairs.groupBy(F.col("u").alias("id")).agg(
        (F.sum(cc) / F.count(F.lit(1))).alias("clustering")
    )
    out = g.vertices.select("id").join(per_u, "id", "left").select(
        "id", F.coalesce("clustering", F.lit(0.0)).alias("clustering")
    )
    return out


def average_bipartite_clustering(g: SparkGraph, nodes: "Optional[DataFrame]" = None,
                                 *, mode: str = "dot") -> float:
    """Mean Latapy clustering (``bipartite/cluster.py:153``
    ``average_clustering``), optionally over one node set."""
    cl = latapy_clustering(g, mode=mode)
    if nodes is not None:
        cl = cl.join(
            nodes.select(F.col(nodes.columns[0]).cast("long").alias("id")),
            "id",
            "left_semi",
        )
    return float(cl.agg(F.avg("clustering")).collect()[0][0])


def robins_alexander_clustering(g: SparkGraph) -> float:
    """4·C₄ / L₃ (``bipartite/cluster.py:218``
    ``robins_alexander_clustering``): C₄ from same-side common-neighbor
    pairs (Σ C(c_uv, 2) / 2 — each square is seen from both sides), L₃
    from per-edge degree products (bipartite graphs are triangle-free, so
    Σ_(u,v)∈E (d_u−1)(d_v−1) counts 3-edge paths exactly)."""
    from linkgraph.algos.degrees import degrees

    if g.number_of_nodes() < 4 or g.number_of_edges() < 3:
        return 0.0
    deg = degrees(g).persist()
    e = g.edges.select("src", "dst")
    l3 = (
        e.join(deg.select(F.col("id").alias("src"), F.col("degree").alias("du")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("dv")), "dst")
        .agg(F.sum((F.col("du") - 1) * (F.col("dv") - 1)))
        .collect()[0][0]
    )
    if not l3:
        return 0.0
    arcs = g.symmetric_edges().select("src", "dst")
    a = arcs.select(F.col("dst").alias("w"), F.col("src").alias("u"))
    b = arcs.select(F.col("dst").alias("w"), F.col("src").alias("v"))
    sq = (
        a.join(b, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2))
        .collect()[0][0]
    ) or 0
    c4 = float(sq) / 2.0
    return float(4.0 * c4 / float(l3))


def bipartite_density(g: SparkGraph, nodes: DataFrame) -> float:
    """Bipartite density (``bipartite/basic.py:226`` ``density``)."""
    n = g.number_of_nodes()
    m = g.number_of_edges()
    nb = nodes.select(
        F.col(nodes.columns[0]).cast("long").alias("id")
    ).distinct().count()
    nt = n - nb
    if m == 0:
        return 0.0
    if g.directed:
        return float(m) / (2.0 * nb * nt)
    return float(m) / (nb * nt)


def bipartite_degrees(g: SparkGraph, nodes: DataFrame, *, weight=None):
    """(degrees of the opposite set, degrees of ``nodes``) —
    ``bipartite/basic.py:279`` ``degrees``."""
    from linkgraph.algos.degrees import degrees

    d = degrees(g, weight is not None, weight=weight)
    side = nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
    bottom = d.join(side, "id", "left_semi")
    top = d.join(side, "id", "left_anti")
    return top, bottom


# ---------------------------------------------------------------------- #
# bipartite tail: matchings, redundancy, spectral bipartivity,
# biadjacency bridges, weighted projections, generators, extendability
# (``networkx/algorithms/bipartite/{matching,redundancy,spectral,
# matrix,projection,generators,extendability}.py``)
# ---------------------------------------------------------------------- #


def hopcroft_karp_matching(g: SparkGraph, top_nodes: DataFrame) -> DataFrame:
    """``bipartite/matching.py`` ``hopcroft_karp_matching`` — alias of
    :func:`maximum_matching` (whose Dinitz phases ARE Hopcroft-Karp)."""
    return maximum_matching(g, top_nodes)


def eppstein_matching(g: SparkGraph, top_nodes: DataFrame) -> DataFrame:
    """``bipartite/matching.py`` ``eppstein_matching`` — same maximum
    matching, different reference schedule; one distributed kernel here."""
    return maximum_matching(g, top_nodes)


def is_bipartite_node_set(g: SparkGraph, nodes) -> bool:
    """``bipartite/basic.py`` ``is_bipartite_node_set`` — True iff
    ``nodes`` is one side of a bipartition: every edge crosses the set
    exactly once. One membership join + one violation count."""
    if isinstance(nodes, DataFrame):
        side = nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
    else:
        side = g.spark.createDataFrame([(int(x),) for x in nodes], "id long")
    side = side.distinct().persist()
    arcs = g.symmetric_edges().select("src", "dst") if not g.directed else (
        g.edges.select("src", "dst")
    )
    marked = (
        arcs.join(
            side.select(F.col("id").alias("src"), F.lit(1).alias("_s")),
            "src", "left",
        )
        .join(
            side.select(F.col("id").alias("dst"), F.lit(1).alias("_t")),
            "dst", "left",
        )
        .select(
            (F.coalesce("_s", F.lit(0)) + F.coalesce("_t", F.lit(0))).alias("k")
        )
    )
    bad = marked.filter((F.col("k") == 0) | (F.col("k") == 2)).limit(1).count()
    side.unpersist()
    return bad == 0


def node_redundancy(g: SparkGraph, nodes: Optional[DataFrame] = None) -> DataFrame:
    """``bipartite/redundancy.py`` ``node_redundancy`` — (id, redundancy):
    the fraction of a node's neighbor pairs that would remain connected
    through some OTHER shared neighbor if the node vanished. A pair
    (u, w) ⊆ N(v) qualifies iff |N(u) ∩ N(w)| ≥ 2 (v is always one), so
    the whole table is: one wedge self-join → per-pair common-neighbor
    counts → one membership join back to the wedges — never per-node
    Python. Raises on nodes with fewer than two neighbors, like the
    reference."""
    arcs = g.symmetric_edges().select("src", "dst")
    deg = arcs.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    ).persist()
    scope = (
        nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
        if nodes is not None
        else g.vertices.select("id")
    )
    under = scope.join(deg, "id", "left").filter(
        F.coalesce("d", F.lit(0)) < 2
    )
    if under.limit(1).count() > 0:
        raise NetworkXError(
            "Cannot compute redundancy coefficient for a node"
            " that has fewer than two neighbors."
        )
    # wedges centered at v: neighbor pairs u < w
    a = arcs.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    b = arcs.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = a.join(b, "v").filter(F.col("u") < F.col("w")).persist()
    pair_counts = (
        wedges.groupBy("u", "w").agg(F.count(F.lit(1)).alias("c"))
    )
    good = pair_counts.filter(F.col("c") >= 2).select("u", "w")
    overlap = (
        wedges.join(good, ["u", "w"], "left_semi")
        .groupBy(F.col("v").alias("id"))
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    out = (
        scope.join(deg, "id")
        .join(overlap, "id", "left")
        .select(
            "id",
            (
                2.0 * F.coalesce("ov", F.lit(0))
                / (F.col("d") * (F.col("d") - 1))
            ).alias("redundancy"),
        )
    )
    out = local_checkpoint(out)
    wedges.unpersist()
    deg.unpersist()
    return out


def spectral_bipartivity(g: SparkGraph, nodes=None, weight="weight",
                         *, max_nodes: int = 20000):
    """``bipartite/spectral.py`` ``spectral_bipartivity`` (Estrada &
    Rodríguez-Velázquez 2005) — ``tr cosh(A) / tr exp(A)`` via the dense
    symmetric eigendecomposition (the reference's scipy ``expm``);
    driver-gated numerics over the distributed adjacency. With ``nodes``
    returns the per-node ratios as a dict like the reference."""
    import numpy as np

    from linkgraph.linalg import adjacency_matrix

    A, ids = adjacency_matrix(g, weight=weight, max_nodes=max_nodes)
    evals, evecs = np.linalg.eigh(A)
    expA = (evecs * np.exp(evals)) @ evecs.T
    expmA = (evecs * np.exp(-evals)) @ evecs.T
    coshA = 0.5 * (expA + expmA)
    if nodes is None:
        return float(coshA.diagonal().sum() / expA.diagonal().sum())
    index = {v: i for i, v in enumerate(ids)}
    return {
        n: float(coshA[index[n], index[n]] / expA[index[n], index[n]])
        for n in nodes
    }


def biadjacency_matrix(g: SparkGraph, row_order, column_order=None,
                       weight="weight", *, max_nodes: int = 20000):
    """``bipartite/matrix.py`` ``biadjacency_matrix`` — the |U|×|V| dense
    block (SciPy-free ndarray like the engine's other matrix bridges)."""
    import numpy as np

    from linkgraph.graph import resolve_weight_column

    rows = [int(x) for x in row_order]
    if column_order is None:
        rowset = set(rows)
        column_order = [
            r["id"] for r in g.vertices.select("id").collect()
            if r["id"] not in rowset
        ]
        column_order.sort()
    cols = [int(x) for x in column_order]
    if len(rows) + len(cols) > max_nodes:
        raise NetworkXError("biadjacency_matrix is dense; too many nodes")
    ri = {v: i for i, v in enumerate(rows)}
    ci = {v: i for i, v in enumerate(cols)}
    base = g.symmetric_edges() if not g.directed else g.edges
    M = np.zeros((len(rows), len(cols)))
    for r in base.select(
        "src", "dst", resolve_weight_column(base, weight).alias("w")
    ).collect():
        if r["src"] in ri and r["dst"] in ci:
            M[ri[r["src"]], ci[r["dst"]]] += float(r["w"])
    return M


def from_biadjacency_matrix(spark, M, *, directed: bool = False) -> SparkGraph:
    """``bipartite/matrix.py`` ``from_biadjacency_matrix`` — rows become
    nodes 0..n-1 (bipartite=0), columns n..n+m-1 (bipartite=1)."""
    import numpy as np

    M = np.asarray(M)
    n, m = M.shape
    rows = []
    for i in range(n):
        for j in range(m):
            if M[i, j] != 0:
                rows.append((i, n + j, float(M[i, j])))
    e = spark.createDataFrame(rows or [], "src long, dst long, weight double")
    v = spark.createDataFrame(
        [(i, 0) for i in range(n)] + [(n + j, 1) for j in range(m)],
        "id long, bipartite int",
    )
    return SparkGraph(e, v, directed=directed, coalesce_edges=False)


def collaboration_weighted_projected_graph(
    g: SparkGraph, nodes: DataFrame
) -> SparkGraph:
    """``bipartite/projection.py`` ``collaboration_weighted_projected_
    graph`` (Newman 2001) — projected edge weight ``Σ 1/(deg(n) − 1)``
    over shared neighbors n with degree > 1. One wedge join + one degree
    join + one groupBy."""
    side = nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
    arcs = g.symmetric_edges().select("src", "dst")
    deg = arcs.groupBy(F.col("src").alias("mid")).agg(
        F.count(F.lit(1)).alias("d")
    )
    a = arcs.select(F.col("dst").alias("mid"), F.col("src").alias("u")).join(
        side.withColumnRenamed("id", "u"), "u", "left_semi"
    )
    b = arcs.select(F.col("dst").alias("mid"), F.col("src").alias("v")).join(
        side.withColumnRenamed("id", "v"), "v", "left_semi"
    )
    e = (
        a.join(b, "mid")
        .filter(F.col("u") < F.col("v"))
        .join(deg, "mid")
        .groupBy(F.col("u").alias("src"), F.col("v").alias("dst"))
        .agg(
            F.sum(
                F.when(F.col("d") > 1, 1.0 / (F.col("d") - 1)).otherwise(0.0)
            ).alias("weight")
        )
    )
    return SparkGraph(e, side, directed=False, coalesce_edges=False)


def generic_weighted_projected_graph(
    g: SparkGraph, nodes: DataFrame, weight_function=None
) -> SparkGraph:
    """``bipartite/projection.py`` ``generic_weighted_projected_graph`` —
    default weight (shared-neighbor count) runs as one distributed wedge
    join; a Python ``weight_function(adj, u, v)`` (receiving the
    collected adjacency dict) runs driver-side under the size guard, the
    honest analog of the reference's arbitrary-callable contract."""
    side = nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
    arcs = g.symmetric_edges().select("src", "dst")
    if weight_function is None:
        a = arcs.select(F.col("dst").alias("mid"), F.col("src").alias("u")).join(
            side.withColumnRenamed("id", "u"), "u", "left_semi"
        )
        b = arcs.select(F.col("dst").alias("mid"), F.col("src").alias("v")).join(
            side.withColumnRenamed("id", "v"), "v", "left_semi"
        )
        e = (
            a.join(b, "mid")
            .filter(F.col("u") < F.col("v"))
            .groupBy(F.col("u").alias("src"), F.col("v").alias("dst"))
            .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        )
        return SparkGraph(e, side, directed=False, coalesce_edges=False)
    check_driver_limit(
        g.edges.count(), _DRIVER_EDGES, "generic projection with a weight_function"
    )
    adj = {}
    for r in arcs.collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    members = sorted(r["id"] for r in side.collect())
    mset = set(members)
    rows = []
    for u in members:
        second = {x for nbr in adj.get(u, ()) for x in adj.get(nbr, ())} - {u}
        for v in sorted(second & mset):
            if u < v:
                rows.append((u, v, float(weight_function(adj, u, v))))
    e = g.spark.createDataFrame(
        rows or [], "src long, dst long, weight double"
    )
    return SparkGraph(e, side, directed=False, coalesce_edges=False)


def minimum_weight_full_matching(
    g: SparkGraph, top_nodes: DataFrame, weight="weight"
) -> DataFrame:
    """``bipartite/matching.py`` ``minimum_weight_full_matching`` — the
    assignment problem: match EVERY node of the smaller side at minimum
    total weight. The reference defers to SciPy's LSAP; here a driver
    Hungarian (Jonker-Volgenant style shortest augmenting paths, O(n³))
    over the collected biadjacency, raising when no full matching exists.
    Returns (u, v) rows with u on the top side."""
    from linkgraph.graph import resolve_weight_column

    check_driver_limit(
        g.edges.count(), _DRIVER_EDGES, "minimum_weight_full_matching"
    )
    top = sorted(
        r["id"]
        for r in top_nodes.select(
            F.col(top_nodes.columns[0]).cast("long").alias("id")
        ).collect()
    )
    tset = set(top)
    bottom = sorted(
        r["id"] for r in g.vertices.select("id").collect()
        if r["id"] not in tset
    )
    base = g.symmetric_edges() if not g.directed else g.edges
    wmap = {}
    for r in base.select(
        "src", "dst", resolve_weight_column(base, weight).alias("w")
    ).collect():
        if r["src"] in tset and r["dst"] not in tset:
            wmap[(r["src"], r["dst"])] = float(r["w"])
    if len(top) > len(bottom):
        # transpose so rows are the smaller side
        rows_, cols_ = bottom, top
        cost = {(b, t): w for (t, b), w in wmap.items()}
        flip = True
    else:
        rows_, cols_ = top, bottom
        cost = dict(wmap)
        flip = False
    INF = float("inf")
    n, m = len(rows_), len(cols_)
    # Jonker-Volgenant: potentials + shortest augmenting path per row
    u_pot = [0.0] * (n + 1)
    v_pot = [0.0] * (m + 1)
    way = [0] * (m + 1)
    match_col = [0] * (m + 1)  # 1-indexed; 0 = free

    def c(i, j):
        return cost.get((rows_[i - 1], cols_[j - 1]), INF)

    for i in range(1, n + 1):
        match_col[0] = i
        j0 = 0
        minv = [INF] * (m + 1)
        used = [False] * (m + 1)
        while True:
            used[j0] = True
            i0 = match_col[j0]
            delta = INF
            j1 = -1
            for j in range(1, m + 1):
                if used[j]:
                    continue
                cur = c(i0, j) - u_pot[i0] - v_pot[j]
                if cur < minv[j]:
                    minv[j] = cur
                    way[j] = j0
                if minv[j] < delta:
                    delta = minv[j]
                    j1 = j
            if delta == INF:
                raise NetworkXError("no full matching exists")
            for j in range(m + 1):
                if used[j]:
                    u_pot[match_col[j]] += delta
                    v_pot[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if match_col[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            match_col[j0] = match_col[j1]
            j0 = j1
    pairs = []
    for j in range(1, m + 1):
        if match_col[j] != 0:
            i = match_col[j]
            r_, c_ = rows_[i - 1], cols_[j - 1]
            pairs.append((c_, r_) if flip else (r_, c_))
    return g.spark.createDataFrame(
        sorted(pairs), "u long, v long"
    )


def maximal_extendability(g: SparkGraph) -> int:
    """``bipartite/extendability.py`` ``maximal_extendability`` — for a
    connected bipartite graph with a perfect matching: the largest k such
    that every matching of size k extends to a perfect one = the minimum
    over (u ∈ U, v ∈ V) of vertex-disjoint u→v paths in the
    matching-oriented residual digraph (Zhang & Zhang). |U|·|V| unit-
    capacity flows — a driver kernel under a tight guard, like the
    reference's per-pair ``node_disjoint_paths`` loop."""
    from collections import deque

    check_driver_limit(
        g.edges.count(), _EXTENDABILITY_EDGES, "maximal_extendability"
    )
    from linkgraph.algos.components import is_connected

    if not is_connected(g):
        raise NetworkXError("Graph G is not connected")
    if not is_bipartite(g):
        raise NetworkXError("Graph G is not bipartite")
    top_df, bottom_df = sets(g)
    U = sorted(r["id"] for r in top_df.collect())
    V = sorted(r["id"] for r in bottom_df.collect())
    match_rows = maximum_matching(g, g.spark.createDataFrame(
        [(x,) for x in U], "id long"
    )).collect()
    pm = {}
    for r in match_rows:
        pm[r["u"]] = r["v"]
        pm[r["v"]] = r["u"]
    if len(pm) != len(U) + len(V):
        raise NetworkXError("Graph G does not contain a perfect matching")
    # orient: matched edges V->U, unmatched U->V
    succ = {x: set() for x in U + V}
    for r in g.edges.select("src", "dst").collect():
        a, b = r["src"], r["dst"]
        u, v = (a, b) if a in set(U) else (b, a)
        if pm.get(v) == u:
            succ[v].add(u)
        else:
            succ[u].add(v)
    # strong connectivity of the residual
    def reach(adjm, s):
        seen = {s}
        q = [s]
        while q:
            x = q.pop()
            for y in adjm[x]:
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        return seen

    allnodes = set(U) | set(V)
    pred = {x: set() for x in allnodes}
    for x, ys in succ.items():
        for y in ys:
            pred[y].add(x)
    s0 = U[0]
    if reach(succ, s0) != allnodes or reach(pred, s0) != allnodes:
        raise NetworkXError("The residual graph of G is not strongly connected")

    def node_disjoint_count(s, t):
        # unit node capacities via node splitting; BFS augmenting paths
        cap = {}
        for x in allnodes:
            cap[((x, "in"), (x, "out"))] = 1 if x not in (s, t) else len(allnodes)
        for x, ys in succ.items():
            for y in ys:
                cap[((x, "out"), (y, "in"))] = 1
        adjf = {}
        for (a, b) in cap:
            adjf.setdefault(a, set()).add(b)
            adjf.setdefault(b, set()).add(a)
        flow = 0
        source, sink = (s, "out"), (t, "in")
        while True:
            prev = {source: None}
            q = deque([source])
            while q and sink not in prev:
                x = q.popleft()
                for y in adjf.get(x, ()):
                    if y not in prev and cap.get((x, y), 0) > 0:
                        prev[y] = x
                        q.append(y)
            if sink not in prev:
                return flow
            y = sink
            while prev[y] is not None:
                x = prev[y]
                cap[(x, y)] = cap.get((x, y), 0) - 1
                cap[(y, x)] = cap.get((y, x), 0) + 1
                y = x
            flow += 1

    k = None
    for u in U:
        for v in V:
            c_ = node_disjoint_count(u, v)
            if k is None or c_ < k:
                k = c_
                if k == 1:
                    return 1
    return int(k)


# ---------------------------------------------------------------------- #
# bipartite generators (``bipartite/generators.py``)
# ---------------------------------------------------------------------- #


def _bipartite_vertices(spark, n, m):
    return spark.createDataFrame(
        [(i, 0) for i in range(n)] + [(n + j, 1) for j in range(m)],
        "id long, bipartite int",
    )


def bipartite_random_graph(
    spark, n: int, m: int, p: float, seed: int = 0, directed: bool = False
) -> SparkGraph:
    """``bipartite/generators.py`` ``random_graph`` — bipartite G(n, m, p)
    with top nodes 0..n-1 and bottom n..n+m-1. One hash coin per cell of
    the n×m grid (each direction independently when directed), fully
    distributed — the reference's skip-sampling is a sequential-stream
    optimization of the same distribution."""
    from linkgraph.random_graphs import _coin

    n, m = int(n), int(m)
    v = _bipartite_vertices(spark, n, m)
    if p <= 0:
        e = spark.createDataFrame([], "src long, dst long, weight double")
        return SparkGraph(e, v, directed=directed, coalesce_edges=False)
    grid = spark.range(n).select(F.col("id").alias("src")).crossJoin(
        spark.range(m).select((F.col("id") + n).alias("dst"))
    )
    fwd = grid.filter(
        (F.lit(float(p)) >= 1.0)
        | (_coin(F.lit(int(seed)), "src", "dst", F.lit(0)) < float(p))
    )
    e = fwd.select("src", "dst")
    if directed:
        back = grid.filter(
            (F.lit(float(p)) >= 1.0)
            | (_coin(F.lit(int(seed)), "src", "dst", F.lit(1)) < float(p))
        ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        e = e.unionByName(back)
    e = e.withColumn("weight", F.lit(1.0))
    return SparkGraph(e, v, directed=directed, coalesce_edges=False)


def gnmk_random_graph(
    spark, n: int, m: int, k: int, seed: int = 0, directed: bool = False
) -> SparkGraph:
    """``bipartite/generators.py`` ``gnmk_random_graph`` — exactly k
    uniform edges of the n×m grid: hash-rank every cell, keep the k
    smallest (one distributed top-k, no rejection loop)."""
    n, m, k = int(n), int(m), int(k)
    v = _bipartite_vertices(spark, n, m)
    if n == 1 or m == 1 or k <= 0:
        e = spark.createDataFrame([], "src long, dst long, weight double")
        return SparkGraph(e, v, directed=directed, coalesce_edges=False)
    grid = spark.range(n).select(F.col("id").alias("src")).crossJoin(
        spark.range(m).select((F.col("id") + n).alias("dst"))
    )
    if k >= n * m:
        e = grid.withColumn("weight", F.lit(1.0))
        return SparkGraph(e, v, directed=directed, coalesce_edges=False)
    e = (
        grid.withColumn("_h", F.xxhash64(F.lit(int(seed)), "src", "dst"))
        .orderBy("_h", "src", "dst")
        .limit(k)
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )
    return SparkGraph(e, v, directed=directed, coalesce_edges=False)


def preferential_attachment_graph(
    spark, aseq, p: float, seed: int = 0
) -> SparkGraph:
    """``bipartite/generators.py`` ``preferential_attachment_graph``
    (Guillaume-Latapy) — top stubs either create a fresh bottom node
    (prob p) or attach to a bottom node ∝ its degree. Sequential urn,
    driver-side; multi-edges kept in ``weight`` multiplicity."""
    import random as _random

    if p > 1:
        raise NetworkXError(f"probability {p} > 1")
    rng = _random.Random(int(seed))
    aseq = [int(d) for d in aseq]
    n = len(aseq)
    bottom_deg = {}
    edges = []
    nxt = n
    for src, d in enumerate(aseq):
        for _ in range(d):
            if rng.random() < p or not bottom_deg:
                target = nxt
                nxt += 1
                bottom_deg[target] = 1
            else:
                stubs = [b for b, bd in sorted(bottom_deg.items())
                         for _ in range(bd)]
                target = rng.choice(stubs)
                bottom_deg[target] += 1
            edges.append((src, target))
    v = spark.createDataFrame(
        [(i, 0) for i in range(n)]
        + [(b, 1) for b in sorted(bottom_deg)],
        "id long, bipartite int",
    )
    e = spark.createDataFrame(
        [(u, w, 1.0) for u, w in edges], "src long, dst long, weight double"
    )
    return SparkGraph(e, v, directed=False, coalesce_edges=True)


def _bipartite_hh(spark, aseq, bseq, schedule: str) -> SparkGraph:
    aseq = [int(d) for d in aseq]
    bseq = [int(d) for d in bseq]
    if sum(aseq) != sum(bseq):
        raise NetworkXError(
            f"invalid degree sequences, sum(aseq)!=sum(bseq),"
            f"{sum(aseq)},{sum(bseq)}"
        )
    na, nb = len(aseq), len(bseq)
    astubs = [[aseq[v], v] for v in range(na)]
    bstubs = [[bseq[v - na], v] for v in range(na, na + nb)]
    edges = []
    if schedule == "reverse":
        astubs.sort()
        bstubs.sort()
        while astubs:
            degree, u = astubs.pop()
            if degree == 0:
                break
            for target in bstubs[0:degree]:  # smallest-degree targets
                edges.append((u, target[1]))
                target[0] -= 1
                if target[0] == 0:
                    bstubs.remove(target)
    else:  # alternating
        while astubs:
            astubs.sort()
            degree, u = astubs.pop()
            if degree == 0:
                break
            bstubs.sort()
            small = bstubs[0: degree // 2]
            large = bstubs[(-degree + degree // 2):] if degree - degree // 2 else []
            stubs = [x for z in zip(large, small) for x in z]
            if len(stubs) < len(small) + len(large):
                stubs.append(large.pop())
            for target in stubs:
                edges.append((u, target[1]))
                target[0] -= 1
                if target[0] == 0:
                    bstubs.remove(target)
    v = _bipartite_vertices(spark, na, nb)
    e = spark.createDataFrame(
        [(u, w, 1.0) for u, w in edges] or [],
        "src long, dst long, weight double",
    )
    return SparkGraph(e, v, directed=False, coalesce_edges=True)


def reverse_havel_hakimi_graph(spark, aseq, bseq) -> SparkGraph:
    """``bipartite/generators.py`` ``reverse_havel_hakimi_graph`` —
    largest top degree connects to the SMALLEST remaining bottom degrees
    (driver greedy; multi-edges coalesce into ``weight``)."""
    return _bipartite_hh(spark, aseq, bseq, "reverse")


def alternating_havel_hakimi_graph(spark, aseq, bseq) -> SparkGraph:
    """``bipartite/generators.py`` ``alternating_havel_hakimi_graph`` —
    alternate between the largest and smallest remaining bottom degrees."""
    return _bipartite_hh(spark, aseq, bseq, "alternating")


# namespace-parity alias: the reference exposes this as
# ``networkx.bipartite.random_graph``; top-level linkgraph keeps the
# unambiguous name, the module keeps the reference's.
random_graph = bipartite_random_graph
