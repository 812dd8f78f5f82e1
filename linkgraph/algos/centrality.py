"""Eigenvector and Katz centrality — power-iteration variants of the
PageRank skeleton.

Semantics match the reference exactly:

- ``eigenvector_centrality``
  (``networkx/algorithms/centrality/eigenvector.py:13``): init 1/n (or
  normalized nstart, ``eigenvector.py:166-174``); per iteration
  ``x = (A + I)^T xlast`` — note the implicit +I from starting the sum at
  xlast (``eigenvector.py:179``) — then L2-normalize
  (``eigenvector.py:189-190``); stop when L1 delta < n*tol
  (``eigenvector.py:192``); raises after max_iter; raises on the null
  graph (``eigenvector.py:163``).
- ``katz_centrality`` (``networkx/algorithms/centrality/katz.py:12``):
  init 0; per iteration ``x = alpha * A^T xlast + beta``
  (``katz.py:171-177``); stop when L1 delta < n*tol; on convergence
  optionally L2-normalize by 1/hypot (``katz.py:183-192``); raises after
  max_iter.

Both use the centrality-of-predecessors direction: contributions flow
along arcs src→dst (left eigenvector), i.e. the same
``join on src → groupBy(dst)`` shuffle as PageRank; the L2 norms are
in-plan one-row broadcasts. Both run under the shared superstep runtime
(:class:`linkgraph.iterutils.SuperstepCache`), like pagerank.py.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache
from linkgraph.algos.pagerank import PowerIterationFailedConvergence


def _prep(g: SparkGraph, loop: SuperstepCache):
    vertices = loop.pin(g.vertices.select("id"))
    n = vertices.count()
    num_parts = g.num_partitions or int(
        loop.spark.conf.get("spark.sql.shuffle.partitions")
    )
    # Laid out by src but pinned without a key: these loops keep automatic
    # broadcasts (pin(df, key) would turn them off).
    edges = loop.pin(
        g.symmetric_edges()
        .select("src", "dst", "weight")
        .repartition(num_parts, "src")
    )
    edges.count()
    return vertices, n, edges


def _l2_scale(x: DataFrame) -> DataFrame:
    """Divide x by its L2 norm (the reference's 1/hypot rescale,
    ``katz.py:183-192``) — an in-plan one-row broadcast, no collect."""
    norm = x.select(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("_n"))
    return x.crossJoin(F.broadcast(norm)).select(
        "id",
        (
            F.col("x")
            / F.when(F.col("_n") == 0, F.lit(1.0)).otherwise(F.col("_n"))
        ).alias("x"),
    )


def _push(edges: DataFrame, x: DataFrame, weighted: bool) -> DataFrame:
    """y[dst] = sum over arcs src->dst of x[src] * w — the shared shuffle."""
    w = F.col("weight") if weighted else F.lit(1.0)
    return (
        edges.join(x.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.col("x") * w).alias("y"))
    )


def eigenvector_centrality(
    g: SparkGraph,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    nstart: Optional[dict] = None,
    weight: bool = False,
    *,
    fixed_iter: Optional[int] = None,
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, centrality DOUBLE)``.

    ``fixed_iter=k`` runs exactly k iterations with no convergence test —
    the deterministic workload the SQL-unrolled DuckDB oracle replicates
    step-for-step (same role as ``pagerank(fixed_iter=...)``). Either way
    each iteration's L1 change is observed on the job that materializes it.
    """
    if fixed_iter is not None:
        if fixed_iter < 1:
            raise ValueError("fixed_iter must be >= 1")
        max_iter = fixed_iter
    spark = g.spark
    with SuperstepCache(spark) as loop:
        vertices, n, edges = _prep(g, loop)
        if n == 0:
            raise ValueError("cannot compute centrality for the null graph")
        if nstart is None:
            x = vertices.select("id", F.lit(1.0 / n).alias("x"))
        else:
            if all(v == 0 for v in nstart.values()):
                raise ValueError("initial vector cannot have all zero values")
            s = float(sum(nstart.values()))
            rows = [(int(k), float(v) / s) for k, v in nstart.items()]
            x = spark.createDataFrame(rows, "id long, x double")

        x_new = None
        for _ in range(max_iter):
            pushed = _push(edges, x, weight)
            # x = xlast + A^T xlast  (the (A+I) start, eigenvector.py:179);
            # the previous x rides along as xp for the L1 error
            y = x.join(pushed, "id", "left").select(
                "id",
                (F.col("x") + F.coalesce("y", F.lit(0.0))).alias("y"),
                F.col("x").alias("xp"),
            )
            norm = y.select(
                F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("_n")
            )
            x_new, seen = loop.truncate(
                y.crossJoin(F.broadcast(norm))
                .select(
                    "id",
                    (
                        F.col("y")
                        / F.when(F.col("_n") == 0, F.lit(1.0)).otherwise(F.col("_n"))
                    ).alias("x"),
                    "xp",
                ),
                retire=x_new,
                figures={"err": F.sum(F.abs(F.col("x") - F.col("xp")))},
            )
            x = x_new.select("id", "x")
            if fixed_iter is None and seen["err"] < n * tol:
                return loop.result(x.select("id", F.col("x").alias("centrality")))
        if fixed_iter is not None:
            return loop.result(x.select("id", F.col("x").alias("centrality")))
        raise PowerIterationFailedConvergence(max_iter)


def katz_centrality(
    g: SparkGraph,
    alpha: float = 0.1,
    beta: Union[float, dict] = 1.0,
    max_iter: int = 1000,
    tol: float = 1.0e-6,
    normalized: bool = True,
    weight: bool = False,
    *,
    fixed_iter: Optional[int] = None,
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, centrality DOUBLE)``.

    ``fixed_iter=k``: exactly k iterations, no convergence test — matches
    the SQL-unrolled oracle.
    """
    if fixed_iter is not None:
        if fixed_iter < 1:
            raise ValueError("fixed_iter must be >= 1")
        max_iter = fixed_iter
    spark = g.spark
    with SuperstepCache(spark) as loop:
        vertices, n, edges = _prep(g, loop)
        if n == 0:
            return spark.createDataFrame([], "id long, centrality double")
        if isinstance(beta, dict):
            b = loop.pin(
                spark.createDataFrame(
                    [(int(k), float(v)) for k, v in beta.items()], "id long, b double"
                )
            )
            # coverage check without collecting the vertex set
            # (katz.py:168-169 raises on missing nodes): two anti-join
            # existence probes.
            missing = vertices.join(b.select("id"), "id", "left_anti")
            extra = b.select("id").join(vertices, "id", "left_anti")
            if missing.limit(1).count() or extra.limit(1).count():
                raise ValueError("beta dictionary must have a value for every node")
        else:
            b = loop.pin(vertices.select("id", F.lit(float(beta)).alias("b")))

        x = vertices.select("id", F.lit(0.0).alias("x"))
        x_new = None
        for _ in range(max_iter):
            pushed = _push(edges, x, weight)
            # the previous x rides along as xp for the L1 error
            x_new, seen = loop.truncate(
                b.join(pushed, "id", "left")
                .join(x.select("id", F.col("x").alias("xp")), "id")
                .select(
                    "id",
                    (F.lit(alpha) * F.coalesce("y", F.lit(0.0)) + F.col("b")).alias(
                        "x"
                    ),
                    "xp",
                ),
                retire=x_new,
                figures={"err": F.sum(F.abs(F.col("x") - F.col("xp")))},
            )
            x = x_new.select("id", "x")
            if fixed_iter is None and seen["err"] < n * tol:
                if normalized:
                    x = _l2_scale(x)
                return loop.result(x.select("id", F.col("x").alias("centrality")))
        if fixed_iter is not None:
            if normalized:
                x = _l2_scale(x)
            return loop.result(x.select("id", F.col("x").alias("centrality")))
        raise PowerIterationFailedConvergence(max_iter)


def eigenvector_centrality_numpy(g, weight=None, **kwargs):
    """``eigenvector.py`` ``eigenvector_centrality_numpy`` — the reference
    offers a dense-solver twin of the iterative form; the engine has one
    (distributed power-iteration) kernel, same values at convergence."""
    return eigenvector_centrality(g, weight=weight, **kwargs)


def katz_centrality_numpy(
    g, alpha: float = 0.1, beta: float = 1.0, normalized: bool = True,
    weight=None, **kwargs,
):
    """``katz.py`` ``katz_centrality_numpy`` — dense twin; same values.
    ``weight`` follows the reference contract (None = unweighted, a
    truthy name = the weight column)."""
    return katz_centrality(
        g, alpha=alpha, beta=beta, normalized=normalized,
        weight=bool(weight), **kwargs,
    )
