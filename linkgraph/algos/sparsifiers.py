"""Graph spanners (sparsification).

Reference: ``networkx/algorithms/sparsifiers.py:12`` ``spanner`` —
Baswana–Sen randomized (2k−1)-spanners with O(k·n^{1+1/k}) expected edges.
Sparsification is exactly what a 100 TB link graph wants before running
distance-flavored algorithms, and Baswana–Sen is the distributable
clustering algorithm by construction: k−1 rounds of (sample cluster
centers → per-node lightest-edge-per-neighboring-cluster aggregation →
join/prune), then one vertex–cluster joining pass. Every step here is a
join + groupBy over the residual edge table keyed by (node, neighboring
cluster); the reference's per-node Python dict walk becomes two hash
aggregations per round.

Determinism: centers sample by seeded hash (``xxhash64(seed, round,
center) < n^{-1/k}``) and edge weights are tie-broken by the canonical
``struct(w, u, v)`` — the reference uses ``(w, id(u), id(v))`` for the
same uniqueness. Deviation (documented): the reference repeats a round
whose edge additions exceed ``2·n^{1+1/k}`` (an expectation-to-worst-case
conversion retry); the hash-driven variant has no resample stream, so it
accepts the expectation bound — the stretch guarantee is unaffected (it
never depends on the size check).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache

__all__ = ["spanner"]


def _tie(wcol):
    return F.struct(
        wcol.cast("double").alias("w"),
        F.col("u").alias("tu"),
        F.col("v").alias("tv"),
    )


def spanner(
    g: SparkGraph, stretch: int, *, weight: str | None = None, seed: int = 42
) -> DataFrame:
    """(src, dst, weight): edges of a (2k−1)-spanner with k = (stretch+1)//2
    — every original distance is preserved within factor ``stretch``
    (``sparsifiers.py:12``). ``weight=None`` treats the graph as unweighted
    (tie-broken by endpoint ids, like the reference)."""
    if g.directed:
        raise NotImplementedForDirected("spanner: not implemented for directed type")
    if stretch < 1:
        raise ValueError("stretch must be at least 1")
    k = (stretch + 1) // 2
    spark = g.spark
    n = g.number_of_nodes()
    if n == 0:
        return spark.createDataFrame([], "src long, dst long, weight double")
    sample_prob = math.pow(n, -1.0 / k)

    wcol = (
        F.coalesce(F.col(weight).cast("double"), F.lit(1.0))
        if weight is not None and weight in g.edges.columns
        else F.lit(1.0)
    )
    with SuperstepCache(spark) as cache:
        # canonical residual edges with unique tie-broken weights
        residual = cache.truncate(
            g.edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                wcol.alias("w"),
            )
            .groupBy("u", "v")
            .agg(F.min("w").alias("w"))
            .select("u", "v", _tie(F.col("w")).alias("tw"))
        )
        clustering = cache.truncate(
            g.vertices.select("id", F.col("id").alias("center"))
        )
        spanner_acc = None  # (u, v, tw)

        def _arcs(res):
            return res.select(
                F.col("u").alias("x"), F.col("v").alias("y"), "tw"
            ).unionAll(res.select(F.col("v").alias("x"), F.col("u").alias("y"), "tw"))

        def _lightest_per_cluster(res, clus):
            """(x, c, best) — per node x, the lightest residual edge into each
            neighboring cluster c (best = struct(tw, y))."""
            return (
                _arcs(res)
                .join(
                    clus.select(F.col("id").alias("y"), F.col("center").alias("c")), "y"
                )
                .groupBy("x", "c")
                .agg(F.min(F.struct("tw", F.col("y").alias("y"))).alias("best"))
            )

        def _acc(base, new_edges):
            new_edges = new_edges.select("u", "v", "tw").distinct()
            return new_edges if base is None else base.unionAll(new_edges)

        for i in range(k - 1):
            sampled = (
                clustering.select("center")
                .distinct()
                .filter(
                    F.pmod(F.xxhash64(F.lit(int(seed)), F.lit(i), "center"), F.lit(2**32))
                    / F.lit(float(2**32))
                    < F.lit(sample_prob)
                )
                .withColumnRenamed("center", "sc")
            )

            light = cache.truncate(_lightest_per_cluster(residual, clustering))
            # nodes whose own cluster is sampled stay put, untouched this round
            in_sampled = clustering.join(
                sampled.withColumnRenamed("sc", "center"), "center", "left_semi"
            ).select("id")
            movers = clustering.join(in_sampled, "id", "left_anti").select(
                "id", F.col("center").alias("old_c")
            )
            ml = light.withColumnRenamed("x", "id").join(movers, "id")
            # closest neighboring SAMPLED cluster per mover (may be absent)
            closest = cache.truncate(
                ml.join(sampled, ml["c"] == sampled["sc"], "left_semi")
                .groupBy("id")
                .agg(F.min(F.struct("best", F.col("c").alias("cc"))).alias("cb"))
                .select(
                    "id",
                    F.col("cb.cc").alias("new_c"),
                    F.col("cb.best").alias("cbest"),
                )
            )

            no_sampled = ml.join(closest.select("id"), "id", "left_anti")
            # case A: no neighboring sampled cluster — add every per-cluster
            # lightest edge, node leaves the residual graph entirely
            add_a = no_sampled.select(
                F.least(F.col("id"), F.col("best.y")).alias("u"),
                F.greatest(F.col("id"), F.col("best.y")).alias("v"),
                F.col("best.tw").alias("tw"),
            )
            drop_nodes = no_sampled.select("id").distinct()
            # case B: join closest sampled cluster; add its witness edge plus
            # every strictly-lighter per-cluster edge
            with_c = ml.join(closest, "id")
            add_b = with_c.filter(
                (F.col("c") == F.col("new_c")) | (F.col("best") < F.col("cbest"))
            ).select(
                F.least(F.col("id"), F.col("best.y")).alias("u"),
                F.greatest(F.col("id"), F.col("best.y")).alias("v"),
                F.col("best.tw").alias("tw"),
            )
            spanner_acc = cache.truncate(
                _acc(spanner_acc, add_a.unionAll(add_b)),
                retire=spanner_acc,
            )

            # new clustering: sampled-cluster nodes keep; movers with a closest
            # sampled cluster re-home; others drop out of V'
            new_clustering = cache.truncate(
                clustering.join(in_sampled, "id", "left_semi")
                .unionAll(
                    closest.select("id", F.col("new_c").alias("center"))
                )
            )

            # residual pruning. Edges to drop, per mover v:
            #  case A: all incident edges;
            #  case B: edges into the joined cluster, or into any cluster whose
            #  lightest weight is strictly below the joined one.
            arcs = _arcs(residual).join(
                clustering.select(F.col("id").alias("y"), F.col("center").alias("yc")),
                "y",
            )
            drop_a = arcs.join(drop_nodes.withColumnRenamed("id", "x"), "x", "left_semi")
            b_light = with_c.select(
                F.col("id").alias("x"), F.col("c").alias("yc"), "best", "cbest", "new_c"
            )
            drop_b = arcs.join(b_light, ["x", "yc"]).filter(
                (F.col("yc") == F.col("new_c")) | (F.col("best") < F.col("cbest"))
            )
            drops = (
                drop_a.select(
                    F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
                )
                .unionAll(
                    drop_b.select(
                        F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
                    )
                )
                .distinct()
            )
            res2 = residual.join(drops, ["u", "v"], "left_anti")
            # remove intra-cluster edges under the NEW clustering, and edges
            # touching nodes that left V'
            cl_u = new_clustering.select(F.col("id").alias("u"), F.col("center").alias("cu"))
            cl_v = new_clustering.select(F.col("id").alias("v"), F.col("center").alias("cv"))
            res2 = (
                res2.join(cl_u, "u", "left_semi")
                .join(cl_v, "v", "left_semi")
                .join(cl_u, "u")
                .join(cl_v, "v")
                .filter(F.col("cu") != F.col("cv"))
                .select("u", "v", "tw")
            )
            residual = cache.truncate(res2, retire=residual)
            cache.release([light, closest, clustering])
            clustering = new_clustering

        # phase 2: every remaining node adds its lightest edge per neighboring
        # cluster
        final_light = _lightest_per_cluster(residual, clustering)
        add_f = final_light.select(
            F.least(F.col("x"), F.col("best.y")).alias("u"),
            F.greatest(F.col("x"), F.col("best.y")).alias("v"),
            F.col("best.tw").alias("tw"),
        )
        spanner_acc = _acc(spanner_acc, add_f)
        out = (
            spanner_acc.groupBy("u", "v")
            .agg(F.min("tw").alias("tw"))
            .select(
                F.col("u").alias("src"),
                F.col("v").alias("dst"),
                F.col("tw.w").alias("weight"),
            )
        )
        return cache.result(cache.truncate(out))
