"""Girth — the length of the shortest cycle.

Reference: ``networkx/algorithms/cycles.py`` ``girth`` — per-source BFS
where every non-tree edge (u, v) seen from source s certifies a cycle of
length ``d(s,u) + d(s,v) + 1``; the minimum over all sources and non-tree
edges is exactly the girth (for a source ON a shortest cycle the bound is
tight, and every candidate closes a real cycle of at most its value).

Distributed twin: ONE batched all-source BFS carrying ``(source, node,
dist, parent)`` — parent is the minimum predecessor, fixing one BFS tree
per source — then a single edges⋈state⋈state join that drops each
source's tree arcs and takes the global minimum. O(n·reach) state, the
reference's own cost, sharded instead of looped.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count

__all__ = ["girth"]


def girth(g: SparkGraph, *, max_rounds: int = 10_000) -> float:
    """Length of the shortest cycle, ``inf`` for a forest
    (``cycles.py`` ``girth``; undirected only, parallel edges in a
    multigraph count as 2-cycles, self-loops as 1-cycles)."""
    if g.directed:
        raise NotImplementedForDirected("girth: not implemented for directed type")
    if g.edges.filter(F.col("src") == F.col("dst")).limit(1).count():
        return 1.0
    if callable(getattr(g, "is_multigraph", None)) and g.is_multigraph():
        dup = (
            g.edges.groupBy(
                F.least("src", "dst"), F.greatest("src", "dst")
            )
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            return 2.0
    spark = g.spark
    with SuperstepCache(spark) as cache:
        arcs = cache.pin(
            g.symmetric_edges()
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        frontier = cache.truncate(
            g.vertices.select(
                F.col("id").alias("s"),
                F.col("id").alias("v"),
                F.lit(0).alias("dist"),
                F.lit(None).cast("long").alias("parent"),
            )
        )
        state = frontier
        seen = frontier.select("s", "v")
        d = 0
        while True:
            d += 1
            if d > max_rounds:
                raise RuntimeError("girth BFS exceeded max_rounds")
            # min predecessor fixes the BFS tree deterministically
            cand = (
                frontier.select("s", F.col("v").alias("p"))
                .join(arcs.withColumnRenamed("src", "p"), "p")
                .groupBy("s", F.col("dst").alias("v"))
                .agg(F.min("p").alias("parent"))
            )
            new, rows = cache.truncate(
                cand.join(seen, ["s", "v"], "left_anti").select(
                    "s", "v", F.lit(d).alias("dist"), "parent"
                ),
                figures=row_count(),
            )
            if rows["rows"] == 0:
                break
            state = state.unionByName(new)
            # until the second level is in, ``seen`` is the first level itself
            seen = cache.truncate(
                seen.unionByName(new.select("s", "v")), retire=seen if d > 1 else None
            )
            frontier = new
        full = cache.truncate(state)
        # non-tree arcs per source: both endpoints reached from s, neither
        # endpoint the other's BFS-tree parent (a child→parent arc closes no
        # cycle — the reference's bfs_labeled_edges never feeds those in)
        su = full.select(
            F.col("s"),
            F.col("v").alias("src"),
            F.col("dist").alias("du"),
            F.col("parent").alias("pu"),
        )
        sv = full.select(
            F.col("s"),
            F.col("v").alias("dst"),
            F.col("dist").alias("dv"),
            F.col("parent").alias("pv"),
        )
        best = (
            arcs.join(su, "src")
            .join(sv, ["s", "dst"])
            .filter(
                (F.col("pv").isNull() | (F.col("pv") != F.col("src")))
                & (F.col("pu").isNull() | (F.col("pu") != F.col("dst")))
            )
            .agg(F.min(F.col("du") + F.col("dv") + 1))
            .first()[0]
        )
    return float("inf") if best is None else float(best)
