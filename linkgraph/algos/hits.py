"""HITS hubs/authorities — dual power iteration as join + agg.

Semantics match the reference's pure-Python kernel
(``networkx/algorithms/link_analysis/hits_alg.py:9-140``):

- init ``h = 1/N`` (or normalized ``nstart``) (``hits_alg.py:111-118``)
- per iteration: ``a = A^T h`` then ``h = A a`` (``hits_alg.py:124-131``),
  both vectors rescaled by their **max** (``hits_alg.py:132-134``)
- convergence: L1 of the h-delta ``err < tol`` — note: *not* ``N*tol``
  (``hits_alg.py:135-136``)
- raises ``PowerIterationFailedConvergence`` after ``max_iter``
- ``normalized=True`` divides both vectors by their sums at the end
- nodes without in/out links keep value 0 for that role (the dict is
  re-initialized to 0 every iteration, ``hits_alg.py:122-123``)

Plan shape per iteration: two shuffle join+agg passes over the pinned edge
table (one per direction) with the max-rescale as an in-plan one-row
broadcast; state ``(id, h, a)`` localCheckpoints per superstep like
PageRank, carrying the previous h so the L1 error is observed on that
checkpoint's own job (no side error job).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, loop_partitions
from linkgraph.algos.pagerank import PowerIterationFailedConvergence


def hits(
    g: SparkGraph,
    max_iter: int = 100,
    tol: float = 1.0e-8,
    normalized: bool = True,
    *,
    fixed_iter: Optional[int] = None,
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, hub DOUBLE, authority DOUBLE)``.

    ``fixed_iter=k`` runs exactly k iterations with no convergence test —
    the deterministic workload the SQL-unrolled DuckDB oracle replicates
    step-for-step (same role as ``pagerank(fixed_iter=...)``).
    """
    if fixed_iter is not None:
        if fixed_iter < 1:
            raise ValueError("fixed_iter must be >= 1")
        max_iter = fixed_iter
    spark = g.spark
    # Volume-sized loop layout (cap = graph/session setting), the same
    # partition count as the pinned edge layout so the score joins reuse it
    # instead of re-shuffling the edges every iteration (see pagerank).
    cap_parts = g.num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    m_raw = g.edges.count()
    num_parts = loop_partitions(
        m_raw if g.directed else 2 * m_raw, cap_parts, rows_per_partition=40_000
    )
    with SuperstepCache(spark, partitions=num_parts) as loop:
        vertices = loop.pin(g.vertices.select("id"))
        n = vertices.count()
        if n == 0:
            return spark.createDataFrame([], "id long, hub double, authority double")
        edges = loop.pin(g.symmetric_edges().select("src", "dst", "weight"), "src")
        edges.count()

        h = vertices.select("id", F.lit(1.0 / n).alias("h"))
        state = None
        for _ in range(max_iter):
            hlast = h
            # a = A^T hlast  (hits_alg.py:124-127)
            a = (
                edges.join(hlast.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("h") * F.col("weight")).alias("a"))
            )
            a = vertices.join(a, "id", "left").select(
                "id", F.coalesce("a", F.lit(0.0)).alias("a")
            )
            # h = A a  (hits_alg.py:128-131)
            hh = (
                edges.join(a.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum(F.col("a") * F.col("weight")).alias("h"))
            )
            hh = vertices.join(hh, "id", "left").select(
                "id", F.coalesce("h", F.lit(0.0)).alias("h")
            )
            # rescale both by their max (hits_alg.py:132-134); hlast rides
            # along so the L1 error is observed on the superstep's own job
            state, seen = loop.truncate(
                hh.join(a, "id")
                .join(hlast.select("id", F.col("h").alias("h_prev")), "id")
                .crossJoin(F.broadcast(hh.agg(F.max("h").alias("_mh"))))
                .crossJoin(F.broadcast(a.agg(F.max("a").alias("_ma"))))
                .select(
                    "id",
                    (F.col("h") / F.col("_mh")).alias("h"),
                    (F.col("a") / F.col("_ma")).alias("a"),
                    "h_prev",
                ),
                retire=state,
                figures={"err": F.sum(F.abs(F.col("h") - F.col("h_prev")))},
            )
            h = state.select("id", "h")
            if fixed_iter is None and seen["err"] < tol:
                break
        else:
            if fixed_iter is None:
                raise PowerIterationFailedConvergence(max_iter)
        out = state
        if normalized:
            out = (
                out.crossJoin(F.broadcast(out.agg(F.sum("h").alias("_sh"))))
                .crossJoin(F.broadcast(out.agg(F.sum("a").alias("_sa"))))
                .select(
                    "id",
                    (F.col("h") / F.col("_sh")).alias("h"),
                    (F.col("a") / F.col("_sa")).alias("a"),
                )
            )
        res = out.select(
            "id", F.col("h").alias("hub"), F.col("a").alias("authority")
        )
        return loop.result(res)
