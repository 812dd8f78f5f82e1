"""Current-flow closeness (information centrality) and the Kemeny
constant via BATCHED distributed conjugate gradient.

References:
- ``networkx/algorithms/centrality/current_flow_closeness.py:16``
  ``current_flow_closeness_centrality`` (= ``information_centrality``),
  Brandes–Fleischer STACS'05. The reference accumulates, for every node,
  ``b[v] = Σ_w (C_vv − 2·C_wv) + Σ_u C_uu`` over the inverse-Laplacian
  columns and returns ``1 / b[v]``. Because L⁺'s rows sum to zero
  (L⁺·1 = 0), that accumulation collapses to the closed form
  ``b[v] = n·L⁺_vv + tr(L⁺)`` — i.e. Σ_w resistance(v, w) — so the whole
  centrality needs nothing but the DIAGONAL of L⁺.
- ``networkx/algorithms/distance_measures.py:1008`` ``kemeny_constant``:
  K = Σ_{j<n} 1/(1 − λ_j) over the eigenvalues of H = D^{-1/2}AD^{-1/2}.
  The 1 − λ_j are exactly the nonzero eigenvalues of the normalized
  Laplacian 𝓛 = I − H, so K = tr(𝓛⁺) — again a pseudo-inverse diagonal.

Both references run dense solves (O(n³), n×n memory). Here each diagonal
entry L⁺_vv comes from one CG solve ``L x = e_v − (1/n)·1`` (the RHS is
projected onto range(L), so CG started at 0 converges to the
pseudo-inverse solution), and ALL solves run SIMULTANEOUSLY as one
(source, id)-keyed state table — the same batched-frontier trick as the
multi-source Brandes pass (betweenness.py). Per iteration: one arc⋈state
matvec join, two (source)-grouped scalar aggregations joined back
broadcast-style, one fused column update; state is lineage-truncated.
Nothing is ever n×n; the batch width (number of simultaneous sources) is
the memory lever at scale, exactly like batched BFS.

Convergence: O(√κ) iterations like every CG; each iteration stays
edge-linear × batch width.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError, NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, local_checkpoint

__all__ = [
    "current_flow_closeness_centrality",
    "information_centrality",
    "current_flow_betweenness_centrality",
    "edge_current_flow_betweenness_centrality",
    "kemeny_constant",
    "current_flow_betweenness_centrality_subset",
    "edge_current_flow_betweenness_centrality_subset",
    "approximate_current_flow_betweenness_centrality",
]


def _batched_cg_diag(
    spark,
    vertices: DataFrame,
    arcs: DataFrame,
    diag: DataFrame,
    rhs: DataFrame,
    *,
    scale: Optional[DataFrame] = None,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> DataFrame:
    """Solve ``M x = b`` for every source system at once and return the
    final state ``(s, id, x)``.

    ``M p = diag_d · p − scale_u · Σ_v c(u,v) · scale_v · p(v)`` — the
    combinatorial Laplacian with ``diag=(id,d)``, ``scale=None``; the
    normalized Laplacian with ``diag`` ≡ 1 and ``scale=(id, g)`` holding
    d^{-1/2}. ``rhs`` is ``(s, id, b)`` with every b ⊥ null(M).
    """
    with SuperstepCache(spark) as cache:
        sc = scale if scale is not None else None
        state = cache.truncate(
            rhs.select("s", "id", F.lit(0.0).alias("x"), F.col("b").alias("r"), F.col("b").alias("p"))
        )
        rr = cache.truncate(
            state.groupBy("s").agg(F.sum(F.col("r") * F.col("r")).alias("rr"))
        )
        for _ in range(max_iter):
            p_in = state.select("s", F.col("id").alias("dst"), F.col("p").alias("pn"))
            if sc is not None:
                p_in = p_in.join(
                    sc.select(F.col("id").alias("dst"), F.col("g").alias("gn")), "dst"
                ).select("s", "dst", (F.col("pn") * F.col("gn")).alias("pn"))
            nbr = (
                arcs.withColumnRenamed("src", "id").withColumnRenamed("dst", "dst")
                .join(p_in, "dst")
                .groupBy("s", "id")
                .agg(F.sum(F.col("c") * F.col("pn")).alias("sm"))
            )
            if sc is not None:
                nbr = nbr.join(sc, "id").select(
                    "s", "id", (F.col("sm") * F.col("g")).alias("sm")
                )
            st = (
                state.join(diag, "id", "left")
                .join(nbr, ["s", "id"], "left")
                .select(
                    "s",
                    "id",
                    "x",
                    "r",
                    "p",
                    (
                        F.coalesce("d", F.lit(0.0)) * F.col("p")
                        - F.coalesce("sm", F.lit(0.0))
                    ).alias("lp"),
                )
            )
            st = cache.truncate(st, retire=state)
            pap = st.groupBy("s").agg(F.sum(F.col("p") * F.col("lp")).alias("pap"))
            coef = rr.join(pap, "s", "left").select(
                "s",
                "rr",
                F.when(F.col("pap") > 0, F.col("rr") / F.col("pap"))
                .otherwise(0.0)
                .alias("alpha"),
            )
            nxt = st.join(F.broadcast(coef), "s").select(
                "s",
                "id",
                (F.col("x") + F.col("alpha") * F.col("p")).alias("x"),
                (F.col("r") - F.col("alpha") * F.col("lp")).alias("r"),
                "p",
            )
            nxt = cache.truncate(nxt, retire=st)
            rr_new, seen = cache.truncate(
                nxt.groupBy("s").agg(F.sum(F.col("r") * F.col("r")).alias("rr")),
                figures={"worst": F.max("rr")},
            )
            if (seen["worst"] or 0.0) < tol * tol:
                state = nxt
                break
            betas = rr.select("s", F.col("rr").alias("rr_old")).join(rr_new, "s").select(
                "s",
                F.when(F.col("rr_old") > 0, F.col("rr") / F.col("rr_old"))
                .otherwise(0.0)
                .alias("beta"),
            )
            state = cache.truncate(
                nxt.join(F.broadcast(betas), "s").select(
                    "s",
                    "id",
                    "x",
                    "r",
                    (F.col("r") + F.col("beta") * F.col("p")).alias("p"),
                ),
                retire=nxt,
            )
            cache.release(rr)
            rr = rr_new
        else:
            raise NetworkXError(f"batched CG did not converge in {max_iter} iterations")
        return cache.result(cache.truncate(state.select("s", "id", "x")))


def _weighted_arcs(g: SparkGraph, weight: Optional[str]):
    w = (
        F.coalesce(F.col(weight).cast("double"), F.lit(1.0))
        if weight is not None and weight in g.edges.columns
        else F.lit(1.0)
    )
    return (
        g.symmetric_edges()
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", w.alias("c"))
    )


def current_flow_closeness_centrality(
    g: SparkGraph,
    *,
    weight: Optional[str] = None,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> DataFrame:
    """(id, centrality): current-flow closeness = information centrality,
    ``1 / Σ_w resistance(v, w)`` (``current_flow_closeness.py:16``; the
    reference applies no (n−1) normalization). Undirected connected
    graphs only, like the reference."""
    if g.directed:
        raise NotImplementedForDirected(
            "current_flow_closeness_centrality: not implemented for directed type"
        )
    from linkgraph.algos.components import is_connected

    if not is_connected(g):
        raise NetworkXError("Graph not connected.")
    spark = g.spark
    n = g.number_of_nodes()
    if n == 1:
        # a single node: empty sum — the reference returns 1/0 = inf
        return g.vertices.select(
            "id", F.lit(float("inf")).alias("centrality")
        )
    arcs = _weighted_arcs(g, weight).persist()
    deg = arcs.groupBy(F.col("src").alias("id")).agg(F.sum("c").alias("d")).persist()
    # one system per node: b = e_s − (1/n)·1 (⊥ 1 = null(L))
    ids = g.vertices.select("id")
    rhs = (
        ids.select(F.col("id").alias("s"))
        .crossJoin(ids)
        .select(
            "s",
            "id",
            (
                F.when(F.col("s") == F.col("id"), 1.0).otherwise(0.0)
                - F.lit(1.0 / n)
            ).alias("b"),
        )
    )
    sol = _batched_cg_diag(
        spark, ids, arcs, deg, rhs, tol=tol, max_iter=max_iter
    )
    diag_lplus = sol.filter(F.col("s") == F.col("id")).select(
        "id", F.col("x").alias("lvv")
    )
    trace = diag_lplus.agg(F.sum("lvv")).first()[0] or 0.0
    out = local_checkpoint(diag_lplus.select(
        "id",
        (1.0 / (F.lit(float(n)) * F.col("lvv") + F.lit(float(trace)))).alias(
            "centrality"
        ),
    ))
    arcs.unpersist()
    deg.unpersist()
    return out


information_centrality = current_flow_closeness_centrality


def kemeny_constant(
    g: SparkGraph,
    *,
    weight: Optional[str] = None,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> float:
    """Kemeny constant of the random walk on ``g``
    (``distance_measures.py:1008``): K = Σ_{j<n} 1/(1 − λ_j(H)) =
    tr(𝓛⁺), computed as n batched CG solves on the normalized Laplacian
    (RHS projected onto range(𝓛) via the D^{1/2}·1 null vector)."""
    if g.directed:
        raise NotImplementedForDirected(
            "kemeny_constant: not implemented for directed type"
        )
    n = g.number_of_nodes()
    if n == 0:
        raise NetworkXError("Graph G must contain at least one node.")
    from linkgraph.algos.components import is_connected

    if not is_connected(g):
        raise NetworkXError("Graph G must be connected.")
    if n == 1:
        return 0.0
    spark = g.spark
    arcs = _weighted_arcs(g, weight).persist()
    neg = arcs.filter(F.col("c") < 0).limit(1).count()
    if neg:
        arcs.unpersist()
        raise NetworkXError("The weights of graph G must be nonnegative.")
    degs = arcs.groupBy(F.col("src").alias("id")).agg(F.sum("c").alias("dv"))
    ids = g.vertices.select("id")
    degs = ids.join(degs, "id", "left").select(
        "id", F.coalesce("dv", F.lit(0.0)).alias("dv")
    ).persist()
    vol = degs.agg(F.sum("dv")).first()[0] or 0.0
    if vol == 0.0:
        arcs.unpersist()
        degs.unpersist()
        raise NetworkXError("Graph G must be connected.")
    scale = degs.select(
        "id", (1.0 / F.sqrt(F.col("dv"))).alias("g")
    ).persist()
    ones = degs.select("id", F.lit(1.0).alias("d"))  # 𝓛 diagonal is I
    # null(𝓛) is spanned by φ = D^{1/2}1/√vol; project e_s off φ:
    # b = e_s − φ_s·φ  ⇒  b(id) = 1[id=s] − √(d_s d_id)/vol
    rhs = (
        degs.select(F.col("id").alias("s"), F.col("dv").alias("ds"))
        .crossJoin(degs)
        .select(
            "s",
            "id",
            (
                F.when(F.col("s") == F.col("id"), 1.0).otherwise(0.0)
                - F.sqrt(F.col("ds") * F.col("dv")) / F.lit(float(vol))
            ).alias("b"),
        )
    )
    sol = _batched_cg_diag(
        spark, ids, arcs, ones, rhs, scale=scale, tol=tol, max_iter=max_iter
    )
    k = (
        sol.filter(F.col("s") == F.col("id"))
        .agg(F.sum("x"))
        .first()[0]
    )
    arcs.unpersist()
    degs.unpersist()
    scale.unpersist()
    return float(k)


def _lplus_columns(g: SparkGraph, weight, tol, max_iter):
    """All L⁺ columns as (s, id, x) via the batched CG (x(s,·) = L⁺ e_s),
    plus the conductance arc table. Shared by the closeness and
    betweenness forms."""
    spark = g.spark
    n = g.number_of_nodes()
    arcs = _weighted_arcs(g, weight).persist()
    deg = arcs.groupBy(F.col("src").alias("id")).agg(F.sum("c").alias("d")).persist()
    ids = g.vertices.select("id")
    rhs = (
        ids.select(F.col("id").alias("s"))
        .crossJoin(ids)
        .select(
            "s",
            "id",
            (
                F.when(F.col("s") == F.col("id"), 1.0).otherwise(0.0)
                - F.lit(1.0 / n)
            ).alias("b"),
        )
    )
    sol = _batched_cg_diag(spark, ids, arcs, deg, rhs, tol=tol, max_iter=max_iter)
    return sol, arcs, deg


def current_flow_betweenness_centrality(
    g: SparkGraph,
    *,
    normalized: bool = True,
    weight: Optional[str] = None,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> DataFrame:
    """(id, betweenness): current-flow (= random-walk) betweenness
    (``current_flow_betweenness.py:171``; Brandes–Fleischer / Newman).
    Per canonical edge e=(u<w), the flow row F_e(i) = c_e(L⁺_{u,i} −
    L⁺_{w,i}) accumulates (i − pos_i)F_e(i) onto u and
    (N − i − 1 − pos_i)F_e(i) onto w, pos the descending rank; final
    value (b_v − i_v)·2/nb. The formula is ordering-invariant (verified
    in tests); node indices here are ascending-id dense ranks.

    Distributed shape: n batched CG solves (shared with
    :func:`current_flow_closeness_centrality`), then one m×n flow table,
    one per-edge window rank, two aggregations — no dense matrix ever
    materializes; the CG batch width is the scale lever."""
    from pyspark.sql import Window

    if g.directed:
        raise NotImplementedForDirected(
            "current_flow_betweenness_centrality: not implemented for directed type"
        )
    from linkgraph.algos.components import is_connected

    if not is_connected(g):
        raise NetworkXError("Graph not connected.")
    n = g.number_of_nodes()
    if n < 3:
        return g.vertices.select("id", F.lit(0.0).alias("betweenness"))
    sol, arcs, deg = _lplus_columns(g, weight, tol, max_iter)
    idx = g.vertices.select(
        "id", (F.dense_rank().over(Window.orderBy("id")) - 1).alias("ix")
    ).persist()
    edges = (
        arcs.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("w"), "c")
    )
    fe = (
        edges.join(
            sol.select(F.col("s"), F.col("id").alias("u"), F.col("x").alias("xu")),
            "u",
        )
        .join(
            sol.select(F.col("s"), F.col("id").alias("w"), F.col("x").alias("xw")),
            ["s", "w"],
        )
        .select(
            "u",
            "w",
            F.col("s").alias("i"),
            (F.col("c") * (F.col("xu") - F.col("xw"))).alias("f"),
        )
        .join(idx.select(F.col("id").alias("i"), "ix"), "i")
    )
    pos = F.row_number().over(
        Window.partitionBy("u", "w").orderBy(F.desc("f"), F.asc("i"))
    ) - 1
    fe = fe.withColumn("pos", pos)
    per_edge = fe.groupBy("u", "w").agg(
        F.sum((F.col("ix") - F.col("pos")) * F.col("f")).alias("bs"),
        F.sum(
            (F.lit(n) - F.col("ix") - 1 - F.col("pos")) * F.col("f")
        ).alias("bt"),
    )
    acc = (
        per_edge.select(F.col("u").alias("id"), F.col("bs").alias("b"))
        .unionByName(per_edge.select(F.col("w").alias("id"), F.col("bt").alias("b")))
        .groupBy("id")
        .agg(F.sum("b").alias("b"))
    )
    nb = (n - 1.0) * (n - 2.0) if normalized else 2.0
    out = local_checkpoint(
        idx.join(acc, "id", "left")
        .select(
            "id",
            (
                (F.coalesce("b", F.lit(0.0)) - F.col("ix")) * 2.0 / F.lit(nb)
            ).alias("betweenness"),
        )
    )
    arcs.unpersist()
    deg.unpersist()
    idx.unpersist()
    return out


def edge_current_flow_betweenness_centrality(
    g: SparkGraph,
    *,
    normalized: bool = True,
    weight: Optional[str] = None,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> DataFrame:
    """(src, dst, betweenness) for canonical ``src < dst`` edges —
    ``current_flow_betweenness.py`` ``edge_current_flow_betweenness_
    centrality``: b(e) = Σ_i (N + 1 − 2·pos1_i)·F_e(i) / nb with pos1 the
    1-based descending rank (the reference's two per-i terms collapse to
    this — the i-dependence cancels)."""
    from pyspark.sql import Window

    if g.directed:
        raise NotImplementedForDirected(
            "edge_current_flow_betweenness_centrality: not implemented for directed type"
        )
    from linkgraph.algos.components import is_connected

    if not is_connected(g):
        raise NetworkXError("Graph not connected.")
    n = g.number_of_nodes()
    sol, arcs, deg = _lplus_columns(g, weight, tol, max_iter)
    edges = (
        arcs.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("w"), "c")
    )
    fe = (
        edges.join(
            sol.select(F.col("s"), F.col("id").alias("u"), F.col("x").alias("xu")),
            "u",
        )
        .join(
            sol.select(F.col("s"), F.col("id").alias("w"), F.col("x").alias("xw")),
            ["s", "w"],
        )
        .select(
            "u",
            "w",
            F.col("s").alias("i"),
            (F.col("c") * (F.col("xu") - F.col("xw"))).alias("f"),
        )
    )
    pos1 = F.row_number().over(
        Window.partitionBy("u", "w").orderBy(F.desc("f"), F.asc("i"))
    )
    nb = (n - 1.0) * (n - 2.0) if normalized else 2.0
    out = local_checkpoint(
        fe.withColumn("pos1", pos1)
        .groupBy("u", "w")
        .agg(
            (
                F.sum((F.lit(n + 1) - 2 * F.col("pos1")) * F.col("f"))
                / F.lit(nb)
            ).alias("betweenness")
        )
        .select(
            F.col("u").alias("src"), F.col("w").alias("dst"), "betweenness"
        )
    )
    arcs.unpersist()
    deg.unpersist()
    return out


def _subset_edge_flows(g, sources, targets, weight, tol, max_iter):
    """Per-edge subset current flow Σ_{s∈S, t∈T} 0.5·|F_e(s) − F_e(t)|
    from the shared L⁺ columns, restricted to the needed columns."""
    sources = [int(s) for s in sources]
    targets = [int(t) for t in targets]
    needed = sorted(set(sources) | set(targets))
    sol, arcs, deg = _lplus_columns(g, weight, tol, max_iter)
    sol = sol.join(
        g.spark.createDataFrame([(s,) for s in needed], "s long"), "s", "left_semi"
    )
    edges = (
        arcs.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("w"), "c")
    )
    fe = (
        edges.join(
            sol.select(F.col("s"), F.col("id").alias("u"), F.col("x").alias("xu")),
            "u",
        )
        .join(
            sol.select(F.col("s"), F.col("id").alias("w"), F.col("x").alias("xw")),
            ["s", "w"],
        )
        .select(
            "u", "w",
            F.col("s").alias("i"),
            (F.col("c") * (F.col("xu") - F.col("xw"))).alias("f"),
        )
        .persist()
    )
    sdf = g.spark.createDataFrame([(s,) for s in sources], "i long")
    tdf = g.spark.createDataFrame([(t,) for t in targets], "j long")
    fs = fe.join(sdf, "i").select("u", "w", F.col("i").alias("si"), F.col("f").alias("fs"))
    ft = fe.join(
        tdf.withColumnRenamed("j", "i"), "i"
    ).select("u", "w", F.col("i").alias("tj"), F.col("f").alias("ft"))
    per_edge = (
        fs.join(ft, ["u", "w"])
        .groupBy("u", "w")
        .agg(F.sum(0.5 * F.abs(F.col("fs") - F.col("ft"))).alias("flow"))
    )
    fe.unpersist()
    arcs.unpersist()
    deg.unpersist()
    return per_edge


def current_flow_betweenness_centrality_subset(
    g: SparkGraph,
    sources,
    targets,
    *,
    normalized: bool = True,
    weight: Optional[str] = None,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> DataFrame:
    """``current_flow_betweenness_subset.py`` ``current_flow_betweenness
    _centrality_subset`` — current-flow betweenness counting only
    source→target supply pairs from S×T: each edge adds half its subset
    flow to both endpoints; every node gets the reference's ``1/(2−N)``
    endpoint correction. One S×T pair join over the per-edge flow table —
    never a dense matrix."""
    from linkgraph.algos.components import is_connected

    if g.directed:
        raise NotImplementedForDirected(
            "current_flow_betweenness_centrality_subset: undirected only"
        )
    if not is_connected(g):
        raise NetworkXError("Graph not connected.")
    n = g.number_of_nodes()
    per_edge = _subset_edge_flows(g, sources, targets, weight, tol, max_iter)
    acc = (
        per_edge.select(F.col("u").alias("id"), F.col("flow").alias("b"))
        .unionByName(per_edge.select(F.col("w").alias("id"), F.col("flow").alias("b")))
        .groupBy("id")
        .agg(F.sum("b").alias("b"))
    )
    nb = (n - 1.0) * (n - 2.0) if normalized else 2.0
    return (
        g.vertices.select("id")
        .join(acc, "id", "left")
        .select(
            "id",
            (
                F.coalesce("b", F.lit(0.0)) / F.lit(nb) + F.lit(1.0 / (2 - n))
            ).alias("betweenness"),
        )
    )


def edge_current_flow_betweenness_centrality_subset(
    g: SparkGraph,
    sources,
    targets,
    *,
    normalized: bool = True,
    weight: Optional[str] = None,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> DataFrame:
    """``current_flow_betweenness_subset.py`` edge form — (src, dst,
    betweenness) for canonical edges."""
    from linkgraph.algos.components import is_connected

    if g.directed:
        raise NotImplementedForDirected(
            "edge_current_flow_betweenness_centrality_subset: undirected only"
        )
    if not is_connected(g):
        raise NetworkXError("Graph not connected.")
    n = g.number_of_nodes()
    nb = (n - 1.0) * (n - 2.0) if normalized else 2.0
    per_edge = _subset_edge_flows(g, sources, targets, weight, tol, max_iter)
    return per_edge.select(
        F.col("u").alias("src"),
        F.col("w").alias("dst"),
        (F.col("flow") / F.lit(nb)).alias("betweenness"),
    )


def approximate_current_flow_betweenness_centrality(
    g: SparkGraph,
    *,
    normalized: bool = True,
    weight: Optional[str] = None,
    epsilon: float = 0.5,
    kmax: int = 10000,
    seed: int = 0,
    sample_weight: float = 1,
    tol: float = 1e-10,
    max_iter: int = 2000,
) -> DataFrame:
    """``current_flow_betweenness.py`` ``approximate_current_flow_
    betweenness_centrality`` (Brandes-Fleischer sampling): k random
    (s, t) supply pairs, one batched-CG solve of ``L p = e_s − e_t`` for
    ALL pairs at once (pair index = batch key), then one arc⋈potential
    join accumulates ``c·|p_v − p_nbr|·c*/(2k)`` per incident node —
    identical estimator, same ±epsilon·n·(n−1)/nb guarantee."""
    import math as _m
    import random as _rnd

    from linkgraph.algos.components import is_connected

    if g.directed:
        raise NotImplementedForDirected(
            "approximate_current_flow_betweenness_centrality: undirected only"
        )
    if not is_connected(g):
        raise NetworkXError("Graph not connected.")
    n = g.number_of_nodes()
    if n < 3:
        return g.vertices.select("id", F.lit(0.0).alias("betweenness"))
    if epsilon <= 0:
        raise NetworkXError(f"Epsilon must be positive. Got epsilon={epsilon}.")
    if sample_weight <= 0:
        raise NetworkXError(
            f"Sample weight must be positive. Got sample_weight={sample_weight}."
        )
    nb = (n - 1.0) * (n - 2.0)
    cstar = n * (n - 1) / nb
    k = int(sample_weight * _m.ceil((cstar / epsilon) ** 2 * _m.log(n)))
    if k > kmax:
        raise NetworkXError(
            f"Number random pairs k>kmax ({k}>{kmax}); increase kmax or epsilon"
        )
    rng = _rnd.Random(int(seed))
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    pairs = [tuple(rng.sample(ids, 2)) for _ in range(k)]
    spark = g.spark
    arcs = _weighted_arcs(g, weight).persist()
    deg = arcs.groupBy(F.col("src").alias("id")).agg(F.sum("c").alias("d")).persist()
    pair_df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(pairs)], "s long, sp long, tp long"
    )
    rhs = (
        pair_df.crossJoin(g.vertices.select("id"))
        .select(
            "s", "id", "sp", "tp",
            (
                F.when(F.col("id") == F.col("sp"), 1.0)
                .when(F.col("id") == F.col("tp"), -1.0)
                .otherwise(0.0)
            ).alias("b"),
        )
    )
    sol = _batched_cg_diag(
        spark, g.vertices.select("id"), arcs, deg,
        rhs.select("s", "id", "b"), tol=tol, max_iter=max_iter,
    )
    cstar2k = cstar / (2.0 * k)
    pv = sol.select("s", F.col("id").alias("src"), F.col("x").alias("pv"))
    pn = sol.select("s", F.col("id").alias("dst"), F.col("x").alias("pw"))
    contrib = (
        arcs.join(pv, "src")
        .join(pn, ["s", "dst"])
        .join(pair_df, "s")
        .filter((F.col("src") != F.col("sp")) & (F.col("src") != F.col("tp")))
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum(
                F.col("c") * F.abs(F.col("pv") - F.col("pw")) * F.lit(cstar2k)
            ).alias("b")
        )
    )
    factor = 1.0 if normalized else nb / 2.0
    out = local_checkpoint(
        g.vertices.select("id")
        .join(contrib, "id", "left")
        .select(
            "id",
            (F.coalesce("b", F.lit(0.0)) * F.lit(factor)).alias("betweenness"),
        )
    )
    arcs.unpersist()
    deg.unpersist()
    return out
