"""Rich-club coefficient and generalized degree.

- ``rich_club_coefficient`` (``networkx/algorithms/richclub.py:14``,
  kernel ``_compute_rc`` at ``:103``): for each degree k while more than
  one node has degree > k, ``phi(k) = 2 E_k / (N_k (N_k - 1))`` with
  ``N_k`` = #nodes of degree > k and ``E_k`` = #edges whose lower endpoint
  degree > k. The reference's sorted-pop loop becomes two tiny histograms
  (node-degree and edge-min-degree) with suffix sums — the windows run
  over max-degree-sized aggregates, not the data. ``normalized=True``
  needs Q·m random double-edge swaps (a sequential null model) — out of
  scope; raises like the unsupported-flag convention.
- ``generalized_degree`` (``networkx/algorithms/cluster.py:533``): per
  node, how many incident edges sit in exactly t triangles. Returned
  relationally as ``(id, t, n_edges)`` rows instead of a Counter per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import local_checkpoint
from linkgraph.exceptions import NotImplementedForDirected


def rich_club_coefficient(
    g: SparkGraph, normalized: bool = False, Q: int = 100, seed: int = 42
) -> DataFrame:
    """DataFrame ``(degree BIGINT, coefficient DOUBLE)`` for k = 0.. while
    N_k > 1 — the reference's result dict as rows.

    ``normalized=True`` divides by the coefficient of a degree-preserving
    null model with Q·m double-edge swaps (``richclub.py:96``), generated
    by the distributed parallel Maslov–Sneppen rounds of
    :func:`linkgraph.algos.swap.double_edge_swap` (same null-model family
    as the reference, different random trajectory — documented deviation;
    degrees preserved exactly)."""
    if g.directed:
        raise NotImplementedForDirected(
            "rich_club_coefficient: not implemented for directed type"
        )
    if normalized:
        from linkgraph.algos.swap import double_edge_swap

        m = g.edges.filter(F.col("src") != F.col("dst")).count()
        null = double_edge_swap(
            g, nswap=Q * m, seed=seed, max_rounds=max(50, 8 * Q)
        )
        rc = rich_club_coefficient(g, normalized=False)
        rc_null = rich_club_coefficient(null, normalized=False).select(
            "degree", F.col("coefficient").alias("c0")
        )
        return rc.join(rc_null, "degree", "left").select(
            "degree",
            F.when(F.col("c0") > 0, F.col("coefficient") / F.col("c0"))
            .otherwise(F.lit(None).cast("double"))
            .alias("coefficient"),
        )
    e = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    deg = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    # node-degree histogram and edge min-endpoint-degree histogram: both
    # max_degree-sized — the windows below run over these aggregates only.
    nhist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n"))
    emin = (
        e.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")), "dst")
        .select(F.least("ds", "dd").alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    max_deg = deg.agg(F.max("deg")).first()[0]
    if max_deg is None:
        return g.spark.createDataFrame([], "degree long, coefficient double")
    ks = g.spark.range(0, int(max_deg)).select(F.col("id").alias("degree"))
    w = Window.orderBy(F.desc("deg")).rowsBetween(Window.unboundedPreceding, 0)
    n_gt = nhist.withColumn("nk", F.sum("n").over(w)).select(
        (F.col("deg") - 1).alias("degree"), "nk"
    )
    e_gt = emin.withColumn("ek", F.sum("m").over(w)).select(
        (F.col("deg") - 1).alias("degree"), "ek"
    )
    # N_k / E_k for every k: the suffix sums above are defined at degrees
    # present in the histograms; fill the gaps with the next value up.
    wf = Window.orderBy("degree").rowsBetween(0, Window.unboundedFollowing)
    out = (
        ks.join(n_gt, "degree", "left")
        .join(e_gt, "degree", "left")
        .withColumn("nk", F.first("nk", ignorenulls=True).over(wf))
        .withColumn("ek", F.coalesce(F.first("ek", ignorenulls=True).over(wf), F.lit(0)))
        .filter(F.col("nk") > 1)
        .select(
            "degree",
            (2.0 * F.col("ek") / (F.col("nk") * (F.col("nk") - 1))).alias(
                "coefficient"
            ),
        )
    )
    return out


def generalized_degree(g: SparkGraph) -> DataFrame:
    """DataFrame ``(id BIGINT, t BIGINT, n_edges BIGINT)`` — for each node,
    the number of incident edges participating in exactly t triangles
    (``cluster.py:533``; the reference returns a Counter per node)."""
    from linkgraph.algos.triangles import _simple_edges, _triangle_corners

    e = _simple_edges(g)
    with _triangle_corners(g) as corners:
        tri_edges = corners.select(
            F.explode(
                F.array(
                    F.struct(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")),
                    F.struct(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v")),
                    F.struct(F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        support = tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("t"))
        with_support = e.join(support, ["u", "v"], "left").select(
            "u", "v", F.coalesce("t", F.lit(0)).alias("t")
        )
        ends = with_support.select(F.col("u").alias("id"), "t").unionAll(
            with_support.select(F.col("v").alias("id"), "t")
        )
        return local_checkpoint(ends.groupBy("id", "t").agg(
            F.count(F.lit(1)).cast("long").alias("n_edges")
        ).select("id", F.col("t").cast("long"), "n_edges"))
