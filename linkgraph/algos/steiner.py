"""Steiner tree approximation (Mehlhorn 1988).

Reference surface: ``networkx/algorithms/approximation/steinertree.py:188``
``steiner_tree(..., method="mehlhorn")`` — a 2(1−1/ℓ) approximation. The
reference's helper recomputes a fresh Dijkstra path between every selected
terminal pair (``_mehlhorn_steiner_tree``); the distributed twin follows
Mehlhorn's original construction instead and expands the already-computed
shortest-path FOREST (the voronoi run's parent pointers), which avoids a
per-pair path search entirely — every stage is a whole-graph DataFrame op:

1. voronoi partition around the terminals (multi-source weighted
   relaxation — :func:`linkgraph.algos.sssp.voronoi_cells`);
2. parent recovery: one arc⋈state join (v's parent is any neighbor u in
   the same cell with d(u) + w(u, v) = d(v); min id breaks ties — the FP
   equality is exact because d(v) was produced by that very addition);
3. terminal-metric candidate edges: arcs crossing cells, min-reduced per
   terminal pair with weight d(u) + w + d(v);
4. Borůvka MST over the terminal metric; selected crossing edges expand to
   real paths by walking ALL forest chains simultaneously (one parent-join
   per level, depth = the voronoi BFS depth);
5. Borůvka MST of the expanded subgraph, then iterative pruning of
   non-terminal leaves (degree-1 anti-join peel) — the reference's
   ``_remove_nonterminal_leaves``.

Both constructions carry the same 2(1−1/ℓ) guarantee; edge sets can differ
on equal-weight alternatives (the reference's too, via heap order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count

__all__ = ["steiner_tree"]


def steiner_tree(
    g: SparkGraph, terminal_nodes, *, max_rounds: int = 10_000
) -> DataFrame:
    """(src, dst, weight): edges of an approximately-minimum tree spanning
    ``terminal_nodes`` (one-column DataFrame or iterable of ids). Weighted
    by the ``weight`` edge column, like the reference's default."""
    if g.directed:
        raise NotImplementedForDirected(
            "steiner_tree: not implemented for directed type"
        )
    from linkgraph.algos.sssp import voronoi_cells, _source_df
    from linkgraph.algos.mst import minimum_spanning_edges

    spark = g.spark
    with SuperstepCache(spark) as cache:
        terms = cache.pin(_source_df(g, terminal_nodes).select("id").distinct())
        arcs = cache.pin(
            g.symmetric_edges().select(
                "src", "dst", F.col("weight").cast("double").alias("w")
            )
        )

        # 1. voronoi partition: (id, center, distance)
        cells = voronoi_cells(g, terms, weight=True, max_rounds=max_rounds)
        vor = cache.truncate(cells)
        cache.release(cells)

        # 2. parent pointers inside each cell: v -> argmin_u {u : same cell,
        #    d(u) + w(u,v) = d(v)}. Exact FP equality: d(v) was computed as
        #    that exact sum during relaxation.
        st_u = vor.select(
            F.col("id").alias("src"),
            F.col("center").alias("c_u"),
            F.col("distance").alias("d_u"),
        )
        st_v = vor.select(
            F.col("id").alias("dst"),
            F.col("center").alias("c_v"),
            F.col("distance").alias("d_v"),
        )
        tagged = cache.pin(arcs.join(st_u, "src").join(st_v, "dst"))
        parents = cache.pin(
            tagged.filter(
                (F.col("c_u") == F.col("c_v"))
                & (F.col("d_u") + F.col("w") == F.col("d_v"))
                & (F.col("d_v") > 0)
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.min(F.struct(F.col("src").alias("p"), F.col("w").alias("pw"))).alias(
                    "b"
                )
            )
            .select("id", F.col("b.p").alias("parent"), F.col("b.pw").alias("pw"))
        )

        # 3. terminal-metric candidates: min d(u)+w+d(v) per crossing pair,
        #    carrying the witness arc for the expansion step.
        cross = tagged.filter(F.col("c_u") != F.col("c_v")).select(
            F.least("c_u", "c_v").alias("ta"),
            F.greatest("c_u", "c_v").alias("tb"),
            (F.col("d_u") + F.col("w") + F.col("d_v")).alias("dw"),
            F.struct(
                (F.col("d_u") + F.col("w") + F.col("d_v")).alias("dw"),
                F.col("src").alias("eu"),
                F.col("dst").alias("ev"),
                F.col("w").alias("ew"),
            ).alias("wit"),
        )
        cand = cache.pin(
            cross.groupBy("ta", "tb")
            .agg(F.min("dw").alias("weight"), F.min("wit").alias("wit"))
        )

        # 4. MST over the terminal metric, then recover the witness arcs.
        tmetric = SparkGraph(
            cand.select(F.col("ta").alias("src"), F.col("tb").alias("dst"), "weight"),
            terms,
            directed=False,
            coalesce_edges=False,
        )
        tmst = minimum_spanning_edges(tmetric)
        chosen = tmst.join(
            cand.select(
                F.col("ta").alias("src"), F.col("tb").alias("dst"), "wit"
            ),
            ["src", "dst"],
        )
        chosen_arcs = cache.truncate(
            chosen.select(
                F.col("wit.eu").alias("u"), F.col("wit.ev").alias("v"), F.col("wit.ew").alias("w")
            )
        )
        cache.release(tmst)

        # 5. expand every chosen crossing arc to its two forest chains — all
        #    chains walk in lockstep, one parent join per level.
        tree_edges = chosen_arcs.select(
            F.least("u", "v").alias("src"),
            F.greatest("u", "v").alias("dst"),
            F.col("w").alias("weight"),
        )
        frontier = cache.truncate(
            chosen_arcs.select(F.col("u").alias("id"))
            .unionAll(chosen_arcs.select("v"))
            .distinct()
        )
        rounds = 0
        while True:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError("steiner expansion exceeded max_rounds")
            step = frontier.join(parents, "id")
            new_edges = step.select(
                F.least("id", "parent").alias("src"),
                F.greatest("id", "parent").alias("dst"),
                F.col("pw").alias("weight"),
            )
            nxt, seen = cache.truncate(
                step.select(F.col("parent").alias("id")).distinct(), figures=row_count()
            )
            if seen["rows"] == 0:
                break
            tree_edges = tree_edges.unionAll(new_edges)
            frontier = nxt
        tree_edges = cache.truncate(tree_edges.distinct())

        # 6. MST of the expanded subgraph, then peel non-terminal leaves.
        sub = SparkGraph(tree_edges, directed=False, coalesce_edges=False)
        smst = minimum_spanning_edges(sub)
        kept = cache.truncate(smst.select("src", "dst", "weight"))
        cache.release(smst)
        while True:
            ends = kept.select(F.col("src").alias("id")).unionAll(
                kept.select(F.col("dst").alias("id"))
            )
            leaves = (
                ends.groupBy("id")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") == 1)
                .join(terms, "id", "left_anti")
                .select("id")
            )
            if leaves.limit(1).count() == 0:
                break
            kept = cache.truncate(
                kept.join(leaves.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(leaves.withColumnRenamed("id", "dst"), "dst", "left_anti")
                .select("src", "dst", "weight"),
                retire=kept,
            )
        return cache.result(kept)
