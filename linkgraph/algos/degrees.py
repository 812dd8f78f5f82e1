"""Degree views and degree-derived statistics.

The reference's ``DegreeView`` family (``networkx/classes/reportviews.py:383-737``)
becomes one-shot groupBy aggregations; Spark's partial+final HashAggregate
gives the map-side combine for free, so hub skew is bounded at ≤ one partial
row per task per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from typing import Optional

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import local_checkpoint


def _weight_col(weighted: bool, weight: Optional[str]) -> Optional[str]:
    """Resolve the (weighted, weight=) pair to a column name or None.
    ``weight="qty"`` sums an arbitrary edge attribute column — the
    reference's ``G.degree(weight="qty")`` over per-edge attr dicts
    (``networkx/classes/reportviews.py:383-445``)."""
    if weight is not None:
        return weight
    return "weight" if weighted else None


def out_degrees(
    g: SparkGraph, weighted: bool = False, *, weight: Optional[str] = None
) -> DataFrame:
    """(id, degree): out-degree for directed graphs
    (``reportviews.py:569`` OutDegreeView). For undirected graphs this equals
    :func:`degrees`."""
    w = _weight_col(weighted, weight)
    e = g.symmetric_edges()
    agg = F.sum(w) if w else F.count(F.lit(1))
    d = e.groupBy(F.col("src").alias("id")).agg(agg.alias("degree"))
    return _with_zeros(g, d, w is not None)


def in_degrees(
    g: SparkGraph, weighted: bool = False, *, weight: Optional[str] = None
) -> DataFrame:
    """(id, degree): in-degree (``reportviews.py:546`` InDegreeView)."""
    w = _weight_col(weighted, weight)
    e = g.symmetric_edges()
    agg = F.sum(w) if w else F.count(F.lit(1))
    d = e.groupBy(F.col("dst").alias("id")).agg(agg.alias("degree"))
    return _with_zeros(g, d, w is not None)


def degrees(
    g: SparkGraph, weighted: bool = False, *, weight: Optional[str] = None
) -> DataFrame:
    """(id, degree): total degree (``reportviews.py:478`` DegreeView).
    Undirected self-loops count twice, matching ``G.degree``; directed degree
    is in+out. ``weight=<attr column>`` sums that column instead of 1."""
    w = _weight_col(weighted, weight)
    e = g.edges  # canonical rows: explode both endpoints counts loops twice
    cols = [w] if w else []
    ends = e.select(F.col("src").alias("id"), *cols).unionAll(
        e.select(F.col("dst").alias("id"), *cols)
    )
    agg = F.sum(w) if w else F.count(F.lit(1))
    d = ends.groupBy("id").agg(agg.alias("degree"))
    return _with_zeros(g, d, w is not None)


def _with_zeros(g: SparkGraph, d: DataFrame, weighted: bool) -> DataFrame:
    zero = F.lit(0.0) if weighted else F.lit(0)
    out = g.vertices.select("id").join(d, "id", "left")
    col = F.coalesce("degree", zero)
    if not weighted:
        col = col.cast("long")
    return out.select("id", col.alias("degree"))


def degree_histogram(g: SparkGraph) -> DataFrame:
    """(degree, frequency) — ``networkx/classes/function.py:141`` as a
    two-level aggregation (degree counts, then counts of counts)."""
    return (
        degrees(g)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .orderBy("degree")
    )


def degree_centrality(g: SparkGraph) -> DataFrame:
    """(id, centrality) = degree/(n-1)
    (``networkx/algorithms/centrality/degree_alg.py:10``)."""
    n = g.number_of_nodes()
    s = 1.0 / (n - 1) if n > 1 else 1.0
    return degrees(g).select(
        "id", (F.col("degree") * F.lit(s)).alias("centrality")
    )


def s_metric(g: SparkGraph) -> float:
    """Sum of deg(u)·deg(v) over edges (``networkx/algorithms/
    smetric.py:5``, Li et al. 2005 scale-free metric) — one degree join
    over the edge table."""
    deg = degrees(g)
    row = (
        g.edges.join(deg.select(F.col("id").alias("src"), F.col("degree").alias("du")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("dv")), "dst")
        .agg(F.sum(F.col("du").cast("double") * F.col("dv")).alias("s"))
        .first()
    )
    return float(row["s"] or 0.0)


def laplacian_centrality(
    g: SparkGraph, normalized: bool = True, weight=None
) -> DataFrame:
    """(id, laplacian_centrality): drop in Laplacian energy when the node
    is removed (``networkx/algorithms/centrality/laplacian.py:12``).

    Closed form — no per-node graph surgery and no spectrum: with
    strengths s_i = Σ_u w_iu, E(G) = tr(L²) = Σ s² + 2·Σ w², and

        ΔE(v) = s_v² + Σ_{u∈N(v)} (2·s_u·w_uv + w_uv²)

    (reduces to d² + d + 2·Σ d_u when every w = 1), so the whole measure
    is one strength table joined to one neighbor sum, for any weights.
    ``weight=None`` is the reference default (edges count 1). Directed
    graphs (the reference's walk_type machinery) stay unsupported.
    """
    from linkgraph.graph import resolve_weight_column

    base = g.symmetric_edges().filter(F.col("src") != F.col("dst"))
    wcol = F.lit(1.0) if weight is None else resolve_weight_column(base, weight)
    sym = base.select("src", "dst", wcol.alias("w"))
    strength = sym.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").alias("s")
    ).persist()
    nbr_sum = (
        sym.join(
            strength.select(F.col("id").alias("dst"), F.col("s").alias("su")),
            "dst",
        )
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum(2.0 * F.col("su") * F.col("w") + F.col("w") * F.col("w")).alias(
                "t"
            )
        )
    )
    row = strength.agg(F.sum(F.col("s") * F.col("s")).alias("sq")).first()
    wsq = sym.agg(F.sum(F.col("w") * F.col("w"))).first()[0] or 0.0
    energy = float((row["sq"] or 0.0) + wsq)
    scale = 1.0 / energy if (normalized and energy > 0) else 1.0
    out = (
        g.vertices.select("id")
        .join(strength, "id", "left")
        .join(nbr_sum, "id", "left")
        .select(
            "id",
            (
                (
                    F.coalesce("s", F.lit(0.0)) * F.coalesce("s", F.lit(0.0))
                    + F.coalesce("t", F.lit(0.0))
                )
                * F.lit(scale)
            ).alias("laplacian_centrality"),
        )
    )
    out = local_checkpoint(out)
    strength.unpersist()
    return out


def is_regular(g: SparkGraph) -> bool:
    """True when every node has the same degree (directed: same in-degree
    AND same out-degree) — ``networkx/algorithms/regular.py:13``.
    One distinct-count over the degree table(s)."""
    if g.number_of_nodes() == 0:
        raise ValueError("Graph has no nodes.")
    if not g.directed:
        return degrees(g).select("degree").distinct().limit(2).count() == 1
    return (
        in_degrees(g).select("degree").distinct().limit(2).count() == 1
        and out_degrees(g).select("degree").distinct().limit(2).count() == 1
    )


def is_k_regular(g: SparkGraph, k: int) -> bool:
    """True when every node of the undirected graph has degree ``k``
    (``regular.py:45``; raises on directed like the decorator)."""
    if g.directed:
        from linkgraph.exceptions import NotImplementedForDirected

        raise NotImplementedForDirected(
            "is_k_regular: not implemented for directed type"
        )
    return (
        degrees(g).filter(F.col("degree") != int(k)).limit(1).count() == 0
    )


def in_degree_centrality(g: SparkGraph) -> DataFrame:
    """(id, centrality) = in_degree/(n-1) (``degree_alg.py:69``)."""
    n = g.number_of_nodes()
    s = 1.0 / (n - 1) if n > 1 else 1.0
    return in_degrees(g).select(
        "id", (F.col("degree") * F.lit(s)).alias("centrality")
    )


def out_degree_centrality(g: SparkGraph) -> DataFrame:
    """(id, centrality) = out_degree/(n-1) (``degree_alg.py:114``)."""
    n = g.number_of_nodes()
    s = 1.0 / (n - 1) if n > 1 else 1.0
    return out_degrees(g).select(
        "id", (F.col("degree") * F.lit(s)).alias("centrality")
    )
