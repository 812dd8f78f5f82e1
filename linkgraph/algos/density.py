"""Densest subgraph (approximation).

Reference: ``networkx/algorithms/approximation/density.py:217``
``densest_subgraph`` — the reference offers Charikar's sequential greedy
peel with Greedy++ loads and a FISTA solver; both remove ONE min-degree
node per step via a heap, which cannot shard. The distributed twin is the
published parallel peel of Bahmani, Kumar & Vassilvitskii (VLDB 2012,
"Densest Subgraph in Streaming and MapReduce"): every round removes ALL
nodes of degree ≤ 2(1+ε)·(m/n) at once, giving a 2(1+ε) approximation in
O(log_{1+ε} n) rounds — each round one degree aggregation + two semi-joins,
the exact shape of the k-core peel in :mod:`linkgraph.algos.cores`.

Determinism: the threshold test is evaluated in INTEGER arithmetic
(``den·deg·n ≤ num·m`` with ``num/den = 2(1+ε)`` as an exact fraction), so
the peel sequence is bit-identical across engines — which is what lets the
DuckDB oracle replay the rounds. Best-round selection compares densities
as exact fractions too.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count

__all__ = ["densest_subgraph", "densest_subgraph_rounds"]


def _peel_rounds(g: SparkGraph, eps, max_rounds):
    """Run the parallel peel; returns (rounds, removed) where ``rounds`` is
    a list of (round, n, m) at each round start and ``removed`` a DataFrame
    (id, peel_round)."""
    if g.directed:
        raise NotImplementedForDirected(
            "densest_subgraph: not implemented for directed type"
        )
    frac = 2 * (1 + Fraction(str(eps)))
    num, den = frac.numerator, frac.denominator
    spark = g.spark
    with SuperstepCache(spark) as cache:
        alive, seen = cache.truncate(g.vertices.select("id"), figures=row_count())
        n = seen["rows"]
        edges, seen = cache.truncate(
            g.edges.filter(F.col("src") != F.col("dst"))
            .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
            .distinct(),
            figures=row_count(),
        )
        m = seen["rows"]
        removed_acc = None
        rounds = []
        r = 0
        while r < max_rounds:
            if n == 0:
                break
            rounds.append((r, n, m))
            if m == 0:
                # everything left is isolated: removed in one final wave
                final = alive.select("id", F.lit(r).alias("peel_round"))
                removed_acc = (
                    final if removed_acc is None else removed_acc.unionByName(final)
                )
                break
            deg = (
                edges.select(F.col("u").alias("id"))
                .unionAll(edges.select(F.col("v").alias("id")))
                .groupBy("id")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            deg = alive.join(deg, "id", "left").select(
                "id", F.coalesce("deg", F.lit(0)).alias("deg")
            )
            # integer-exact threshold: deg <= 2(1+eps) * m / n
            drop = deg.filter(
                F.col("deg") * F.lit(int(den)) * F.lit(int(n))
                <= F.lit(int(num)) * F.lit(int(m))
            ).select("id", F.lit(r).alias("peel_round"))
            drop = cache.truncate(drop)
            removed_acc = (
                drop if removed_acc is None else removed_acc.unionByName(drop)
            )
            alive, seen = cache.truncate(
                alive.join(drop.select("id"), "id", "left_anti"),
                retire=alive,
                figures=row_count(),
            )
            n = seen["rows"]
            edges, seen = cache.truncate(
                edges.join(drop.select(F.col("id").alias("u")), "u", "left_anti")
                .join(drop.select(F.col("id").alias("v")), "v", "left_anti"),
                retire=edges,
                figures=row_count(),
            )
            m = seen["rows"]
            r += 1
        removed = (
            removed_acc
            if removed_acc is not None
            else spark.createDataFrame([], "id long, peel_round int")
        )
        return rounds, cache.result(cache.truncate(removed))


def densest_subgraph_rounds(
    g: SparkGraph, *, eps: float = 0.1, max_rounds: int = 100
) -> DataFrame:
    """(round, n_nodes, m_edges): the peel trajectory — density candidates
    m/n at every round start. Deterministic integers (the oracle surface);
    :func:`densest_subgraph` picks the best round from this table."""
    with SuperstepCache(g.spark) as loop:
        rounds, removed = _peel_rounds(g, eps, max_rounds)
        loop.release(removed)
    return g.spark.createDataFrame(
        [(int(r), int(n), int(m)) for r, n, m in rounds],
        "round int, n_nodes bigint, m_edges bigint",
    )


def densest_subgraph(
    g: SparkGraph, *, eps: float = 0.1, max_rounds: int = 100
) -> "tuple[float, DataFrame]":
    """(density, nodes): a subgraph whose density m(S)/|S| is within
    2(1+eps) of the maximum (Bahmani et al. 2012; reference surface
    ``approximation/density.py:217``). ``nodes`` is the surviving node set
    at the best peel round (exact-fraction argmax, ties → earliest round).
    """
    with SuperstepCache(g.spark) as loop:
        rounds, removed = _peel_rounds(g, eps, max_rounds)
        if not rounds:
            loop.release(removed)
            return 0.0, g.vertices.select("id").limit(0)
        best_r, best_n, best_m = max(
            rounds, key=lambda t: (Fraction(t[2], t[1]), -t[0])
        )
        nodes = loop.truncate(
            g.vertices.select("id").join(
                removed.filter(F.col("peel_round") < best_r).select("id"),
                "id",
                "left_anti",
            )
        )
        loop.release(removed)
        return (best_m / best_n if best_n else 0.0), loop.result(nodes)
