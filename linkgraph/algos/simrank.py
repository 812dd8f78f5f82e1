"""SimRank similarity — the pair-graph fixpoint
(``networkx/algorithms/similarity.py:1190`` ``simrank_similarity``;
kernel ``_simrank_similarity_python:1340``).

Semantics replicated exactly:

- ``s(u, u) = 1``; for ``u != v``
  ``s(u, v) = C · mean over (w, x) ∈ I(u) × I(v) of s_prev(w, x)``
  where ``I`` is predecessors for directed graphs, neighbors for
  undirected (``similarity.py:1372``), and the mean of an empty product
  is 0.
- Convergence when every pair moves by ≤ ``tolerance · (1 + |old|)``
  (``similarity.py:1380-1386``); raises ``ExceededMaxIterations``
  otherwise.

Distributed plan — the PageRank skeleton lifted to (u, v) keys: the state
is the SPARSE pair table ``(u, v, s)`` holding only nonzero similarities
(zero pairs vastly dominate on sparse graphs and contribute nothing to the
update). One iteration is two arc joins + one (u, v) aggregation:

    s_next(u, v) = C / (|I(u)|·|I(v)|) · Σ s(w, x)
                   over arcs w→u, x→v          [join s ⋈ arcs ⋈ arcs]

The join explodes by in-degree² — SimRank's intrinsic cost (the reference
pays n² memory and n²·d² time). For scale, ``min_sim`` prunes pairs whose
similarity falls below a floor after each step (the standard truncated-
SimRank approximation), bounding state at the pairs anyone would read.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache


from linkgraph.exceptions import ExceededMaxIterations  # noqa: E402 (shared hierarchy)


def simrank_similarity(
    g: SparkGraph,
    importance_factor: float = 0.9,
    max_iterations: int = 1000,
    tolerance: float = 1.0e-4,
    *,
    min_sim: Optional[float] = None,
    fixed_iter: Optional[int] = None,
) -> DataFrame:
    """Return DataFrame ``(u BIGINT, v BIGINT, simrank DOUBLE)`` holding
    every pair with nonzero similarity (both orientations, diagonal
    included) — absent pairs are exactly 0, matching the reference's dense
    dict filled with zeros.

    ``fixed_iter=k``: exactly k iterations, no convergence job (the
    SQL-unrolled oracle workload). ``min_sim``: truncated-SimRank pruning
    floor for scale.
    """
    if fixed_iter is not None:
        if fixed_iter < 1:
            raise ValueError("fixed_iter must be >= 1")
        max_iterations = fixed_iter
    c = float(importance_factor)

    with SuperstepCache(g.spark) as loop:
        # in-neighbor arcs (w -> u): predecessors when directed, adj otherwise
        arcs = loop.pin(
            (g.edges if g.directed else g.symmetric_edges()).select(
                F.col("dst").alias("node"), F.col("src").alias("inn")
            )
        )
        indeg = loop.pin(arcs.groupBy("node").agg(F.count(F.lit(1)).alias("d")))
        s = loop.truncate(
            g.vertices.select(
                F.col("id").alias("u"), F.col("id").alias("v"), F.lit(1.0).alias("s")
            )
        )
        for _ in range(max_iterations):
            summed = (
                s.join(arcs.select(F.col("inn").alias("u"), F.col("node").alias("nu")), "u")
                .join(arcs.select(F.col("inn").alias("v"), F.col("node").alias("nv")), "v")
                .groupBy(F.col("nu").alias("u"), F.col("nv").alias("v"))
                .agg(F.sum("s").alias("tot"))
            )
            offdiag = (
                summed.filter(F.col("u") != F.col("v"))
                .join(indeg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
                .join(indeg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
                .select(
                    "u",
                    "v",
                    (F.lit(c) * F.col("tot") / (F.col("du") * F.col("dv"))).alias("s"),
                )
            )
            if min_sim is not None:
                offdiag = offdiag.filter(F.col("s") >= float(min_sim))
            diag = g.vertices.select(
                F.col("id").alias("u"), F.col("id").alias("v"), F.lit(1.0).alias("s")
            )
            s_new = loop.truncate(offdiag.unionByName(diag))
            if fixed_iter is None:
                # relative convergence over the UNION of supports (absent = 0)
                moved = (
                    s_new.select("u", "v", F.col("s").alias("ns"))
                    .join(s.select("u", "v", F.col("s").alias("os")), ["u", "v"], "outer")
                    .select(
                        (
                            F.abs(F.coalesce("ns", F.lit(0.0)) - F.coalesce("os", F.lit(0.0)))
                            - F.lit(float(tolerance))
                            * (F.lit(1.0) + F.abs(F.coalesce("os", F.lit(0.0))))
                        ).alias("over")
                    )
                    .agg(F.max("over").alias("m"))
                    .first()["m"]
                )
                loop.release(s)
                s = s_new
                if moved is not None and moved <= 0:
                    return loop.result(s.select("u", "v", F.col("s").alias("simrank")))
            else:
                loop.release(s)
                s = s_new
        if fixed_iter is not None:
            return loop.result(s.select("u", "v", F.col("s").alias("simrank")))
        raise ExceededMaxIterations(
            f"simrank did not converge within {max_iterations} iterations"
        )
