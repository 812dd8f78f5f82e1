"""Betweenness centrality — distributed Brandes
(``networkx/algorithms/centrality/betweenness.py:18`` `betweenness_centrality`,
accumulation ``_single_source_shortest_path_basic:250`` +
``_accumulate_basic`` + ``_rescale:268``).

The reference runs Brandes' two phases per source sequentially. The
distributed twin runs ALL sources simultaneously by carrying the source id
in the state key:

- forward (BFS levels): state ``(s, v, dist, sigma)`` — one frontier ⋈ arcs
  join + ``groupBy(s, dst).sum(sigma)`` per level. Path counts sum over
  predecessors exactly like ``sigma[w] += sigma[v]``.
- backward (dependency accumulation): for levels d = maxd..1, the level-d
  dependencies flow to level-(d-1) predecessors:
  ``delta[p] += sigma[p]/sigma[w] * (1 + delta[w])`` — one 3-way join per
  level, all keyed (s, node).
- rescale: the reference's ``_rescale`` — normalized 1/((n-1)(n-2))
  directed, 2/((n-1)(n-2)) undirected; unnormalized undirected halves;
  k-sample rescales by n/k.

Work is O(k·m) state rows per level — the Brandes bound, sharded over
(source, node) keys instead of a per-source Python loop. ``k`` (landmark
sampling, seeded hash — deterministic) is the 100 TB path: exact
betweenness over all sources is quadratic by definition and stays a
small-graph / sampled operation, same as the reference's ``k`` parameter.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, loop_partitions, row_count


def _forward_levels(sources, arcs, cache, max_rounds):
    """Brandes forward pass for all sources at once: returns the list of
    per-level state tables ``(s, v, dist, sigma)``
    (``_single_source_shortest_path_basic``, ``betweenness.py:396``)."""
    frontier = cache.truncate(
        sources.select(
            F.col("id").alias("s"),
            F.col("id").alias("v"),
            F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
    )
    levels = [frontier]  # level d rows: (s, v, dist, sigma)
    seen = frontier.select("s", "v")
    d = 0
    while True:
        d += 1
        if d > max_rounds:
            raise RuntimeError("betweenness forward pass exceeded max_rounds")
        cand = (
            frontier.join(arcs.withColumnRenamed("src", "v"), "v")
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new, rows = cache.truncate(
            cand.join(seen, ["s", "v"], "left_anti").select(
                "s", "v", F.lit(d).alias("dist"), "sigma"
            ),
            figures=row_count(),
        )
        if rows["rows"] == 0:
            break
        levels.append(new)
        # until the second level is in, ``seen`` is the first level itself
        seen = cache.truncate(
            seen.unionByName(new.select("s", "v")), retire=seen if d > 1 else None
        )
        frontier = new
    return levels


def _weighted_levels_and_dag(sources, warcs, cache, max_rounds):
    """Weighted Brandes forward machinery, all sources at once.

    The reference's weighted forward pass is a per-source Dijkstra with
    path counting (``betweenness.py:430`` ``_single_source_dijkstra_path
    _basic``). A priority queue is inherently serial, so the distributed
    twin splits it into three relational phases:

    1. **Distances** — frontier Bellman-Ford keyed ``(s, v)``: per round
       one join + groupBy-min + improvements-merge (the ``sssp.py``
       superstep, sharded by source).
    2. **Shortest-path DAG** — arc ``(u, v)`` belongs to source ``s``'s
       DAG iff ``dist(s,u) + w(u,v) == dist(s,v)``. Exact float equality
       is the reference's own semantics: Dijkstra compares the
       independently computed candidate sum against ``seen[u]`` the same
       way (``weighted.py:869``), so borderline ties agree bit-for-bit.
    3. **Topological layering + path counts** — weighted DAG predecessors
       are not level-adjacent like BFS levels, so sigma propagates by
       distributed topological rounds: a node is emitted (its sigma
       final) once every in-DAG predecessor is emitted; per round one
       frontier ⋈ dag join decrements in-degrees and accumulates partial
       sigmas. Rounds = DAG depth ≤ hop diameter; total joined rows =
       O(k·m) like the unweighted pass.

    Returns ``(levels, dag)``: ``levels[d]`` holds ``(s, v, dist,
    sigma)`` for topological round ``d``; ``dag`` is ``(s, src, dst)``, a
    snapshot of ``cache``.
    """
    # -- phase 1: distances ------------------------------------------- #
    dist = cache.truncate(
        sources.select(
            F.col("id").alias("s"), F.col("id").alias("v"), F.lit(0.0).alias("dist")
        )
    )
    frontier = dist
    rounds = 0
    while True:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError("weighted betweenness distance pass exceeded max_rounds")
        cand = (
            frontier.join(warcs.withColumnRenamed("src", "v"), "v")
            .select("s", F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("s", "v")
            .agg(F.min("dist").alias("dist"))
        )
        improved, seen = cache.truncate(
            cand.join(
                dist.select("s", "v", F.col("dist").alias("old")), ["s", "v"], "left"
            )
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("s", "v", "dist"),
            figures=row_count(),
        )
        if seen["rows"] == 0:
            cache.release(improved)
            break
        new_dist = cache.truncate(
            dist.join(improved.select("s", "v"), ["s", "v"], "left_anti").unionByName(
                improved
            )
        )
        cache.release(dist)
        dist = new_dist
        frontier = improved

    # -- phase 2: shortest-path DAG ------------------------------------ #
    dag = (
        dist.select("s", F.col("v").alias("src"), F.col("dist").alias("_dp"))
        .join(warcs, "src")
        .join(
            dist.select("s", F.col("v").alias("dst"), F.col("dist").alias("_dw")),
            ["s", "dst"],
        )
        .filter(F.col("_dp") + F.col("w") == F.col("_dw"))
        .select("s", "src", "dst")
    )
    dag = cache.truncate(dag)

    # -- phase 3: topological sigma propagation ------------------------ #
    lvl0 = cache.truncate(
        sources.select(
            F.col("id").alias("s"),
            F.col("id").alias("v"),
            F.lit(0.0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
    )
    indeg = dag.groupBy("s", F.col("dst").alias("v")).agg(F.count("*").alias("indeg"))
    state = cache.truncate(
        dist.filter(F.col("s") != F.col("v"))
        .join(indeg, ["s", "v"])
        .select("s", "v", "dist", "indeg", F.lit(0.0).alias("sig"))
    )
    levels = [lvl0]
    frontier = lvl0
    rounds = 0
    while True:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError("weighted betweenness sigma pass exceeded max_rounds")
        out = (
            frontier.select("s", F.col("v").alias("src"), "sigma")
            .join(dag, ["s", "src"])
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("_dsig"), F.count("*").alias("_darcs"))
        )
        st = cache.truncate(
            state.join(out, ["s", "v"], "left").select(
                "s",
                "v",
                "dist",
                (F.col("indeg") - F.coalesce("_darcs", F.lit(0))).alias("indeg"),
                (F.col("sig") + F.coalesce("_dsig", F.lit(0.0))).alias("sig"),
            )
        )
        cache.release(state)
        newly, seen = cache.truncate(
            st.filter(F.col("indeg") == 0).select(
                "s", "v", "dist", F.col("sig").alias("sigma")
            ),
            figures=row_count(),
        )
        if seen["rows"] == 0:
            cache.release(newly)
            state = st
            break
        levels.append(newly)
        state = cache.truncate(st.filter(F.col("indeg") > 0))
        cache.release(st)
        frontier = newly
    return levels, dag


def _weighted_arcs(g, weight, cache):
    """(src, dst, w) arc table for the weighted kernels (min over
    parallel rows like the reference's multigraph ``_weight_function``),
    pinned on ``cache``; raises on non-positive weights, which would make
    the SP-DAG cyclic."""
    from linkgraph.graph import resolve_weight_column

    base = g.edges if g.directed else g.symmetric_edges()
    warcs = cache.pin(
        base.filter(F.col("src") != F.col("dst"))
        .select("src", "dst", resolve_weight_column(base, weight).alias("w"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    if warcs.filter(F.col("w") <= 0).limit(1).count():
        raise ValueError(
            "weighted betweenness requires strictly positive weights "
            "(the shortest-path DAG is only acyclic for w > 0; the "
            "reference's Dijkstra kernel likewise breaks on non-positive "
            "weights)"
        )
    return warcs


def _weighted_betweenness(
    g,
    sources,
    n_sources,
    weight,
    cache,
    max_rounds,
    targets=None,
    edges_out=False,
    endpoints=False,
    percolation=None,
    split="sigma",
):
    """Deltas for the weighted kernel.

    ``split="equal"`` switches the backward rule to Newman load
    semantics: a unit reaching w divides EQUALLY among w's DAG
    predecessors — ``(1 + delta(w)) / indeg(w)`` — instead of
    sigma-proportionally.

    Returns ``(id, b)`` = Σ_s δ_s(v) (nodes) or ``(u, v, b)`` per DAG arc
    (``edges_out=True``). ``targets`` switches to the subset accumulation
    (``_accumulate_subset``): the per-node load seeds with 1 only at
    target nodes instead of unconditionally.

    Backward accumulation mirrors ``_accumulate_basic`` over the weighted
    DAG: processing topological layers deepest-first, a layer's completed
    delta flows to ALL its DAG predecessors (which may sit any number of
    layers earlier — hence a pending-delta table merged per layer instead
    of the unweighted adjacent-level join).
    """
    warcs = _weighted_arcs(g, weight, cache)
    levels, dag = _weighted_levels_and_dag(sources, warcs, cache, max_rounds)

    from functools import reduce

    sig_all = cache.truncate(
        reduce(
            lambda a, b: a.unionByName(b),
            (lvl.select("s", "v", "sigma") for lvl in levels),
        )
    )
    tgt_df = None
    if targets is not None:
        tgt_df = targets.select(F.col(targets.columns[0]).alias("v")).distinct()
    dag_indeg = None
    if split == "equal":
        dag_indeg = cache.pin(
            dag.groupBy("s", "dst").agg(F.count(F.lit(1)).alias("_np"))
        )

    pending = None  # (s, v, delta) partial deltas for not-yet-processed layers
    acc = None  # nodes: (id, b); edges: (u, v, b)
    for d in range(len(levels) - 1, 0, -1):
        lvl = levels[d]
        if pending is not None:
            lvl_d = lvl.join(pending, ["s", "v"], "left").select(
                "s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
            remaining = pending.join(lvl.select("s", "v"), ["s", "v"], "left_anti")
        else:
            lvl_d = lvl.select("s", "v", "sigma", F.lit(0.0).alias("delta"))
            remaining = None
        if tgt_df is not None:
            lvl_d = lvl_d.join(
                tgt_df.withColumn("_t", F.lit(1.0)), "v", "left"
            ).select(
                "s", "v", "sigma", "delta",
                (F.col("delta") + F.coalesce("_t", F.lit(0.0))).alias("load"),
            )
        else:
            lvl_d = lvl_d.select(
                "s", "v", "sigma", "delta",
                (F.lit(1.0) + F.col("delta")).alias("load"),
            )
        if split == "equal":
            flows = (
                lvl_d.select("s", F.col("v").alias("dst"), "load")
                .join(dag, ["s", "dst"])
                .join(dag_indeg, ["s", "dst"])
                .select(
                    "s",
                    F.col("src").alias("v"),
                    F.col("dst").alias("w"),
                    (F.col("load") / F.col("_np")).alias("c"),
                )
            )
        else:
            flows = (
                lvl_d.select("s", F.col("v").alias("dst"), "sigma", "load")
                .join(dag, ["s", "dst"])
                .join(
                    sig_all.select(
                        "s", F.col("v").alias("src"), F.col("sigma").alias("_sp")
                    ),
                    ["s", "src"],
                )
                .select(
                    "s",
                    F.col("src").alias("v"),
                    F.col("dst").alias("w"),
                    (F.col("_sp") / F.col("sigma") * F.col("load")).alias("c"),
                )
            )
        contrib = flows.groupBy("s", "v").agg(F.sum("c").alias("delta"))
        # fold this layer's completed quantity into the accumulator BEFORE
        # releasing the old pending table — lvl_d's plan reads it
        if edges_out:
            lvl_acc = (
                flows.groupBy(F.col("v").alias("u"), F.col("w").alias("vv"))
                .agg(F.sum("c").alias("b"))
                .select("u", F.col("vv").alias("v"), "b")
            )
            keys = ["u", "v"]
        elif percolation is not None:
            # percolation fold: delta(s, w) * x(s) / (x_total - x(w))
            st_df, x_total = percolation
            lvl_acc = (
                lvl_d.filter(F.col("s") != F.col("v"))
                .join(
                    F.broadcast(
                        st_df.select(F.col("id").alias("s"), F.col("x").alias("x_s"))
                    ),
                    "s",
                )
                .join(
                    F.broadcast(
                        st_df.select(F.col("id").alias("v"), F.col("x").alias("x_v"))
                    ),
                    "v",
                )
                .select(
                    F.col("v").alias("id"),
                    (
                        F.col("delta")
                        * F.col("x_s")
                        / (F.lit(x_total) - F.col("x_v"))
                    ).alias("b"),
                )
                .groupBy("id")
                .agg(F.sum("b").alias("b"))
            )
            keys = ["id"]
        else:
            lvl_acc = (
                lvl_d.filter(F.col("s") != F.col("v"))
                .groupBy(F.col("v").alias("id"))
                .agg(F.sum("delta").alias("b"))
            )
            if endpoints:
                ep = (
                    lvl_d.select(F.col("v").alias("id"))
                    .unionByName(lvl_d.select(F.col("s").alias("id")))
                    .groupBy("id")
                    .agg(F.count(F.lit(1)).cast("double").alias("b"))
                )
                lvl_acc = (
                    lvl_acc.unionByName(ep)
                    .groupBy("id")
                    .agg(F.sum("b").alias("b"))
                )
            keys = ["id"]
        if acc is None:
            acc = cache.truncate(lvl_acc)
        else:
            folded = cache.truncate(
                acc.unionByName(lvl_acc).groupBy(*keys).agg(F.sum("b").alias("b"))
            )
            cache.release(acc)
            acc = folded
        new_pending = cache.truncate(
            remaining.unionByName(contrib).groupBy("s", "v").agg(
                F.sum("delta").alias("delta")
            )
            if remaining is not None
            else contrib
        )
        if pending is not None:
            cache.release(pending)
        pending = new_pending
        cache.release(levels[d])
        levels[d] = None
    cache.release(dag)
    return acc


def _pair_partitions(spark, n: int, k: Optional[int] = None) -> int:
    """Shuffle partitions for a Brandes loop over ``n`` nodes from ``k``
    sampled sources (all of them when None): its (source, node) state
    holds up to n·k rows."""
    sources = n if k is None else min(int(k), n)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return loop_partitions(n * sources, cap)


def _sampled_sources(vertices, n, k, seed):
    if k is not None and k < n:
        return (
            vertices.orderBy(F.xxhash64(F.lit(int(seed)), "id"), "id")
            .limit(int(k))
            .select("id")
        ), int(k)
    return vertices, n


def betweenness_centrality(
    g: SparkGraph,
    k: Optional[int] = None,
    normalized: bool = True,
    weight=None,
    endpoints: bool = False,
    *,
    seed: int = 0,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, betweenness DOUBLE)`` for every node
    (shortest-path betweenness). ``k`` samples that many sources by
    seeded hash order — deterministic, and rescaled by n/k like
    ``betweenness.py:75``.

    ``weight=None`` counts hops (BFS kernel). Any other value resolves
    per :func:`linkgraph.graph.resolve_weight_column` (column name / SQL
    expression / Column) and switches to the weighted kernel — the
    distributed twin of ``_single_source_dijkstra_path_basic``
    (``betweenness.py:430``): Bellman-Ford distances, shortest-path DAG
    by exact sum equality, topological sigma layers, pending-delta
    backward sweep. Strictly positive weights required.

    ``endpoints=True`` adds the reference's ``_accumulate_endpoints``
    terms — +1 at every node reached from a source, +#reached at the
    source — which the engine folds from the forward levels' (s, v)
    reach rows (one extra count per level, no new pass); the rescale
    switches to 1/(n(n−1)) like ``_rescale`` with endpoints.
    """
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n, k)) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        if n == 0:
            return spark.createDataFrame([], "id long, betweenness double")

        sources, n_sources = _sampled_sources(vertices, n, k, seed)

        if weight is not None:
            bet_acc = _weighted_betweenness(
                g, sources, n_sources, weight, cache, max_rounds, endpoints=endpoints
            )
            if normalized:
                if endpoints:
                    scale = 1.0 / (n * (n - 1)) if n > 1 else None
                else:
                    scale = 1.0 / ((n - 1) * (n - 2)) if n > 2 else None
            else:
                scale = None if g.directed else 0.5
            if scale is not None and n_sources < n:
                scale *= n / n_sources
            if bet_acc is None:
                out = vertices.select("id", F.lit(0.0).alias("betweenness"))
            else:
                out = vertices.join(bet_acc, "id", "left").select(
                    "id",
                    (
                        F.coalesce("b", F.lit(0.0))
                        * F.lit(scale if scale is not None else 1.0)
                    ).alias("betweenness"),
                )
            return cache.result(cache.truncate(out))

        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )

        levels = _forward_levels(sources, arcs, cache, max_rounds)

        # ---- backward: dependency accumulation level by level ------------- #
        # Pinned-state discipline: a BFS level's delta is FINAL once computed
        # (in the shortest-path DAG, level d-1 only receives from level d), so
        # each level's per-node contribution folds into a running O(n)
        # accumulator immediately and both the consumed level and the consumed
        # delta table are released — peak pinned state is two levels + one
        # delta + the accumulator, not the whole forward table times levels.
        bet_acc = None  # (id, b) running CB[w] += delta[w], w != s
        delta_next = None  # level d+1 dependencies
        for d in range(len(levels) - 1, 0, -1):
            lvl = levels[d]  # (s, v=w, sigma_w)
            if delta_next is not None:
                lvl = lvl.join(delta_next, ["s", "v"], "left").select(
                    "s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            else:
                lvl = lvl.select("s", "v", "sigma", F.lit(0.0).alias("delta"))
            # predecessors: p at level d-1 with arc p -> w
            pred = (
                lvl.withColumnRenamed("v", "w")
                .join(arcs.withColumnRenamed("dst", "w"), "w")
                .select("s", F.col("src").alias("v"), "sigma", "delta")
            )
            prev = levels[d - 1].select(
                "s", "v", F.col("sigma").alias("sigma_p")
            )
            contrib = (
                pred.join(prev, ["s", "v"])
                .select(
                    "s",
                    "v",
                    (
                        F.col("sigma_p") / F.col("sigma") * (F.lit(1.0) + F.col("delta"))
                    ).alias("c"),
                )
                .groupBy("s", "v")
                .agg(F.sum("c").alias("delta"))
            )
            new_delta = cache.truncate(contrib)
            # fold this level's final deltas into the accumulator
            lvl_bet = (
                new_delta.filter(F.col("s") != F.col("v"))
                .groupBy(F.col("v").alias("id"))
                .agg(F.sum("delta").alias("b"))
            )
            if endpoints:
                # _accumulate_endpoints terms, folded from this level's reach
                # rows: +1 at each reached node v, +1 at its source s (reads
                # lvl, so this fold precedes the level release below)
                ep = (
                    lvl.select(F.col("v").alias("id"))
                    .unionByName(lvl.select(F.col("s").alias("id")))
                    .groupBy("id")
                    .agg(F.count(F.lit(1)).cast("double").alias("b"))
                )
                lvl_bet = (
                    lvl_bet.unionByName(ep).groupBy("id").agg(F.sum("b").alias("b"))
                )
            if bet_acc is None:
                bet_acc = cache.truncate(lvl_bet)
            else:
                folded = cache.truncate(
                    bet_acc.unionByName(lvl_bet).groupBy("id").agg(F.sum("b").alias("b"))
                )
                cache.release(bet_acc)
                bet_acc = folded
            if delta_next is not None:
                cache.release(delta_next)
            cache.release(levels[d])  # consumed; never read again
            levels[d] = None
            delta_next = new_delta

        if bet_acc is None:
            return vertices.select("id", F.lit(0.0).alias("betweenness"))

        bet = bet_acc

        # ---- rescale (betweenness.py:268 _rescale, replicated exactly) ---- #
        if normalized:
            if endpoints:
                scale = 1.0 / (n * (n - 1)) if n > 1 else None
            else:
                scale = 1.0 / ((n - 1) * (n - 2)) if n > 2 else None
        else:
            scale = None if g.directed else 0.5
        if scale is not None and n_sources < n:
            scale *= n / n_sources

        out = vertices.join(bet, "id", "left").select(
            "id",
            (F.coalesce("b", F.lit(0.0)) * F.lit(scale if scale is not None else 1.0)).alias(
                "betweenness"
            ),
        )
        return cache.result(cache.truncate(out))


def edge_betweenness_centrality(
    g: SparkGraph,
    k: Optional[int] = None,
    normalized: bool = True,
    weight=None,
    *,
    seed: int = 0,
    max_rounds: int = 10_000,
) -> DataFrame:
    """(src, dst, betweenness): shortest-path betweenness per edge
    (``networkx/algorithms/centrality/betweenness.py:246``
    `edge_betweenness_centrality`, accumulation ``_accumulate_edges:430``).

    Same forward pass as :func:`betweenness_centrality`; in the backward
    sweep the per-predecessor-arc contribution
    ``c = σ(p)/σ(w)·(1 + δ(w))`` — the exact quantity the reference adds to
    ``betweenness[(v, w)]`` — is aggregated per arc before it is folded
    into the node deltas, so edges cost one extra groupBy per level, no
    extra joins. Undirected arcs canonicalize to (min, max) like the
    reference's single edge key. Rescale replicates ``_rescale`` with
    ``endpoints=True``: normalized ``1/(K·(n−1))``; unnormalized ``n/(K·2)``
    undirected, ``n/K`` directed (``K`` = sampled source count).
    """
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n, k)) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        edge_keys = cache.pin(
            g.edges.filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        if n == 0 or edge_keys.limit(1).count() == 0:
            return edge_keys.select("src", "dst", F.lit(0.0).alias("betweenness"))

        sources, n_sources = _sampled_sources(vertices, n, k, seed)

        if weight is not None:
            acc_w = _weighted_betweenness(
                g, sources, n_sources, weight, cache, max_rounds, edges_out=True
            )
            if acc_w is not None:
                if g.directed:
                    acc_w = acc_w.select("u", F.col("v").alias("vv"), "b")
                else:
                    acc_w = (
                        acc_w.select(
                            F.least("u", "v").alias("u"),
                            F.greatest("u", "v").alias("vv"),
                            "b",
                        )
                        .groupBy("u", "vv")
                        .agg(F.sum("b").alias("b"))
                    )
            if normalized:
                scale = 1.0 / (n_sources * (n - 1)) if n > 1 else None
            else:
                corr = 1.0 if g.directed else 2.0
                scale = float(n) / (n_sources * corr)
                if scale == 1.0:
                    scale = None
            acc_w = (
                acc_w
                if acc_w is not None
                else spark.createDataFrame([], "u long, vv long, b double")
            )
            out = edge_keys.join(
                acc_w,
                (F.col("src") == F.col("u")) & (F.col("dst") == F.col("vv")),
                "left",
            ).select(
                "src",
                "dst",
                (
                    F.coalesce("b", F.lit(0.0))
                    * F.lit(scale if scale is not None else 1.0)
                ).alias("betweenness"),
            )
            return cache.result(cache.truncate(out))

        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        levels = _forward_levels(sources, arcs, cache, max_rounds)

        # ---- backward: per-arc contributions, folded level by level ------- #
        ebet_acc = None  # (u, v, b) running per-edge accumulator
        delta_next = None
        for d in range(len(levels) - 1, 0, -1):
            lvl = levels[d]  # (s, w, sigma)
            if delta_next is not None:
                lvl = lvl.join(delta_next, ["s", "v"], "left").select(
                    "s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            else:
                lvl = lvl.select("s", "v", "sigma", F.lit(0.0).alias("delta"))
            prev = levels[d - 1].select("s", "v", F.col("sigma").alias("sigma_p"))
            # arcs p -> w with w at level d and p at level d-1; keep BOTH ids
            joined = (
                lvl.withColumnRenamed("v", "w")
                .join(arcs.withColumnRenamed("dst", "w"), "w")
                .withColumnRenamed("src", "v")
                .join(prev, ["s", "v"])
                .select(
                    "s",
                    "v",
                    "w",
                    (
                        F.col("sigma_p") / F.col("sigma") * (F.lit(1.0) + F.col("delta"))
                    ).alias("c"),
                )
            )
            joined = cache.truncate(joined)
            # per-edge fold (canonical key for undirected, the reference's
            # single (v, w) edge entry)
            if g.directed:
                ukey, vkey = F.col("v"), F.col("w")
            else:
                ukey = F.least("v", "w")
                vkey = F.greatest("v", "w")
            lvl_ebet = joined.groupBy(
                ukey.alias("u"), vkey.alias("vv")
            ).agg(F.sum("c").alias("b"))
            if ebet_acc is None:
                ebet_acc = cache.truncate(lvl_ebet)
            else:
                folded = cache.truncate(
                    ebet_acc.unionByName(lvl_ebet)
                    .groupBy("u", "vv")
                    .agg(F.sum("b").alias("b"))
                )
                cache.release(ebet_acc)
                ebet_acc = folded
            # node deltas for the next level down
            new_delta = cache.truncate(
                joined.groupBy("s", "v").agg(F.sum("c").alias("delta"))
            )
            cache.release(joined)
            if delta_next is not None:
                cache.release(delta_next)
            cache.release(levels[d])
            levels[d] = None
            delta_next = new_delta

        # ---- rescale (_rescale endpoints=True, betweenness.py:455) -------- #
        if normalized:
            scale = 1.0 / (n_sources * (n - 1)) if n > 1 else None
        else:
            corr = 1.0 if g.directed else 2.0
            scale = float(n) / (n_sources * corr)
            if scale == 1.0:
                scale = None
        acc = (
            ebet_acc
            if ebet_acc is not None
            else spark.createDataFrame([], "u long, vv long, b double")
        )
        out = (
            edge_keys.join(
                acc,
                (F.col("src") == F.col("u")) & (F.col("dst") == F.col("vv")),
                "left",
            )
            .select(
                "src",
                "dst",
                (
                    F.coalesce("b", F.lit(0.0))
                    * F.lit(scale if scale is not None else 1.0)
                ).alias("betweenness"),
            )
        )
        return cache.result(cache.truncate(out))


def percolation_centrality(
    g: SparkGraph,
    *,
    attribute: str = "percolation",
    states: Optional[DataFrame] = None,
    weight=None,
    max_rounds: int = 10_000,
) -> DataFrame:
    """(id, percolation): percolation centrality —
    ``networkx/algorithms/centrality/percolation.py:16``. Brandes deltas
    with each (source s, node w) dependency weighted by
    ``x(s) / (Σx − x(w))`` before the per-node fold
    (``_accumulate_percolation``), then scaled ``1/(n−2)``.

    ``states`` is an (id, state) DataFrame; when omitted the node
    attribute column ``attribute`` supplies it (missing → 1, the
    reference default, which reduces to betweenness). Same forward pass
    and pinned-state discipline as :func:`betweenness_centrality`;
    ``weight=`` swaps in the weighted (Dijkstra-DAG) kernel with the
    same percolation fold.
    """
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n)) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        if n == 0:
            return spark.createDataFrame([], "id long, percolation double")

        if states is not None:
            st = states.select(
                F.col(states.columns[0]).cast("long").alias("id"),
                F.col(states.columns[1]).cast("double").alias("x"),
            )
        elif attribute in g.vertices.columns:
            st = g.vertices.select(
                "id", F.coalesce(F.col(attribute).cast("double"), F.lit(1.0)).alias("x")
            )
        else:
            st = vertices.select("id", F.lit(1.0).alias("x"))
        st = cache.pin(
            vertices.join(st, "id", "left").select(
                "id", F.coalesce("x", F.lit(1.0)).alias("x")
            )
        )
        x_total = float(st.agg(F.sum("x")).first()[0] or 0.0)

        if weight is not None:
            acc = _weighted_betweenness(
                g, vertices, None, weight, cache, max_rounds,
                percolation=(st, x_total),
            )
            scale = 1.0 / (n - 2) if n > 2 else 1.0
            base = (
                acc
                if acc is not None
                else spark.createDataFrame([], "id long, b double")
            )
            out = vertices.join(base, "id", "left").select(
                "id",
                (F.coalesce("b", F.lit(0.0)) * F.lit(scale)).alias("percolation"),
            )
            return cache.result(cache.truncate(out))

        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        levels = _forward_levels(vertices, arcs, cache, max_rounds)

        st_s = F.broadcast(st.select(F.col("id").alias("s"), F.col("x").alias("x_s")))
        st_v = F.broadcast(st.select(F.col("id").alias("v"), F.col("x").alias("x_v")))

        perc_acc = None
        delta_next = None
        for d in range(len(levels) - 1, 0, -1):
            lvl = levels[d]
            if delta_next is not None:
                lvl = lvl.join(delta_next, ["s", "v"], "left").select(
                    "s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            else:
                lvl = lvl.select("s", "v", "sigma", F.lit(0.0).alias("delta"))
            pred = (
                lvl.withColumnRenamed("v", "w")
                .join(arcs.withColumnRenamed("dst", "w"), "w")
                .select("s", F.col("src").alias("v"), "sigma", "delta")
            )
            prev = levels[d - 1].select("s", "v", F.col("sigma").alias("sigma_p"))
            contrib = (
                pred.join(prev, ["s", "v"])
                .select(
                    "s",
                    "v",
                    (
                        F.col("sigma_p") / F.col("sigma") * (F.lit(1.0) + F.col("delta"))
                    ).alias("c"),
                )
                .groupBy("s", "v")
                .agg(F.sum("c").alias("delta"))
            )
            new_delta = cache.truncate(contrib)
            if delta_next is not None:
                cache.release(delta_next)
            cache.release(levels[d])
            levels[d] = None
            delta_next = new_delta
            # weighted fold: delta(s, w) * x(s) / (x_total - x(w))
            lvl_perc = (
                new_delta.filter(F.col("s") != F.col("v"))
                .join(st_s, "s")
                .join(st_v, "v")
                .select(
                    F.col("v").alias("id"),
                    (
                        F.col("delta")
                        * F.col("x_s")
                        / (F.lit(x_total) - F.col("x_v"))
                    ).alias("b"),
                )
                .groupBy("id")
                .agg(F.sum("b").alias("b"))
            )
            if perc_acc is None:
                perc_acc = cache.truncate(lvl_perc)
            else:
                folded = cache.truncate(
                    perc_acc.unionByName(lvl_perc).groupBy("id").agg(F.sum("b").alias("b"))
                )
                cache.release(perc_acc)
                perc_acc = folded

        scale = 1.0 / (n - 2) if n > 2 else 1.0
        base = (
            perc_acc
            if perc_acc is not None
            else spark.createDataFrame([], "id long, b double")
        )
        out = vertices.join(base, "id", "left").select(
            "id", (F.coalesce("b", F.lit(0.0)) * F.lit(scale)).alias("percolation")
        )
        return cache.result(cache.truncate(out))


def load_centrality(
    g: SparkGraph,
    normalized: bool = True,
    weight=None,
    *,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Newman load centrality (``centrality/load.py:12``): like
    betweenness but a unit reaching w splits EQUALLY among w's
    shortest-path predecessors (not proportionally to path counts), i.e.
    delta(p) = Σ_w (1 + delta(w)) / |preds(w)|. Same batched multi-source
    BFS + level-by-level backward fold as the Brandes kernel; only the
    split rule differs. Raw (unnormalized) values count both directions
    on undirected graphs, exactly like the reference; normalization is
    1/((n-1)(n-2)). ``weight=`` swaps in the weighted Dijkstra-DAG
    kernel with the same equal-split backward rule."""
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n)) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        if n == 0:
            return spark.createDataFrame([], "id long, load double")
        if weight is not None:
            acc = _weighted_betweenness(
                g, vertices, None, weight, cache, max_rounds, split="equal"
            )
            scale = 1.0 / ((n - 1) * (n - 2)) if (normalized and n > 2) else 1.0
            if acc is None:
                out = vertices.select("id", F.lit(0.0).alias("load"))
            else:
                out = vertices.join(acc, "id", "left").select(
                    "id", (F.coalesce("b", F.lit(0.0)) * F.lit(scale)).alias("load")
                )
            return cache.result(cache.truncate(out))
        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        levels = _forward_levels(vertices, arcs, cache, max_rounds)

        acc = None
        delta_next = None
        for d in range(len(levels) - 1, 0, -1):
            lvl = levels[d]
            if delta_next is not None:
                lvl = lvl.join(delta_next, ["s", "v"], "left").select(
                    "s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            else:
                lvl = lvl.select("s", "v", F.lit(0.0).alias("delta"))
            prev = levels[d - 1].select("s", F.col("v").alias("p"))
            # DAG predecessor pairs (s, w, p): arc p -> w with p one level up
            pairs = (
                lvl.withColumnRenamed("v", "w")
                .join(
                    arcs.select(F.col("src").alias("p"), F.col("dst").alias("w")),
                    "w",
                )
                .join(prev, ["s", "p"], "left_semi")
            )
            npred = pairs.groupBy("s", "w").agg(F.count(F.lit(1)).alias("np"))
            contrib = (
                pairs.join(npred, ["s", "w"])
                .select(
                    "s",
                    F.col("p").alias("v"),
                    ((F.lit(1.0) + F.col("delta")) / F.col("np")).alias("c"),
                )
                .groupBy("s", "v")
                .agg(F.sum("c").alias("delta"))
            )
            new_delta = cache.truncate(contrib)
            if delta_next is not None:
                cache.release(delta_next)
            cache.release(levels[d])
            levels[d] = None
            delta_next = new_delta
            lvl_load = (
                new_delta.filter(F.col("s") != F.col("v"))
                .groupBy(F.col("v").alias("id"))
                .agg(F.sum("delta").alias("b"))
            )
            if acc is None:
                acc = cache.truncate(lvl_load)
            else:
                folded = cache.truncate(
                    acc.unionByName(lvl_load).groupBy("id").agg(F.sum("b").alias("b"))
                )
                cache.release(acc)
                acc = folded

        scale = 1.0 / ((n - 1) * (n - 2)) if (normalized and n > 2) else 1.0
        if acc is None:
            out = vertices.select("id", F.lit(0.0).alias("load"))
        else:
            out = vertices.join(acc, "id", "left").select(
                "id", (F.coalesce("b", F.lit(0.0)) * F.lit(scale)).alias("load")
            )
        return cache.result(cache.truncate(out))


def edge_load_centrality(g: SparkGraph, *, max_rounds: int = 10_000) -> DataFrame:
    """``centrality/load.py`` ``edge_load_centrality`` — the per-edge form
    of the equal-split flow: edge (p, w) carries (1 + delta(w))/|preds(w)|
    per source. Unnormalized (the reference exposes no normalization)."""
    spark = g.spark
    with SuperstepCache(spark) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        levels = _forward_levels(vertices, arcs, cache, max_rounds)
        acc = None
        delta_next = None
        for d in range(len(levels) - 1, 0, -1):
            lvl = levels[d]
            if delta_next is not None:
                lvl = lvl.join(delta_next, ["s", "v"], "left").select(
                    "s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            else:
                lvl = lvl.select("s", "v", F.lit(0.0).alias("delta"))
            prev = levels[d - 1].select("s", F.col("v").alias("p"))
            pairs = (
                lvl.withColumnRenamed("v", "w")
                .join(
                    arcs.select(F.col("src").alias("p"), F.col("dst").alias("w")),
                    "w",
                )
                .join(prev, ["s", "p"], "left_semi")
            )
            npred = pairs.groupBy("s", "w").agg(F.count(F.lit(1)).alias("np"))
            flows = pairs.join(npred, ["s", "w"]).select(
                "s", "p", "w",
                ((F.lit(1.0) + F.col("delta")) / F.col("np")).alias("f"),
            )
            # materialize BOTH consumers of `flows` before releasing the level
            # tables they read from (release after would truncate live lineage)
            edge_lvl = cache.truncate(
                flows.groupBy(F.col("p").alias("u"), F.col("w").alias("v")).agg(
                    F.sum("f").alias("b")
                )
            )
            contrib = flows.groupBy("s", F.col("p").alias("v")).agg(
                F.sum("f").alias("delta")
            )
            new_delta = cache.truncate(contrib)
            if delta_next is not None:
                cache.release(delta_next)
            cache.release(levels[d])
            levels[d] = None
            delta_next = new_delta
            if acc is None:
                acc = cache.truncate(edge_lvl)
            else:
                folded = cache.truncate(
                    acc.unionByName(edge_lvl)
                    .groupBy("u", "v")
                    .agg(F.sum("b").alias("b"))
                )
                cache.release(acc)
                acc = folded
        if acc is None:
            out = spark.createDataFrame([], "u long, v long, load double")
        else:
            if not g.directed:
                # the reference reports each undirected edge's TOTAL two-way
                # flow (same value on both orientations); one canonical row
                # here, u < v
                acc = (
                    acc.select(
                        F.least("u", "v").alias("u"),
                        F.greatest("u", "v").alias("v"),
                        "b",
                    )
                    .groupBy("u", "v")
                    .agg(F.sum("b").alias("b"))
                )
            out = cache.result(
                cache.truncate(acc.select("u", "v", F.col("b").alias("load")))
            )
        return out


def _subset_betweenness(
    g: SparkGraph,
    sources,
    targets,
    normalized: bool,
    *,
    edges_out: bool,
    max_rounds: int = 10_000,
):
    """Shared Brandes-subset kernel: dependencies seeded only at target
    nodes (δ picks up +1 at w iff w ∈ targets), summed over the given
    sources (``betweenness_subset.py:96`` ``_single_source_shortest_
    path_basic`` + ``_accumulate_subset``)."""
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n)) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        src_df = spark.createDataFrame(
            [(int(x),) for x in sources], "id long"
        ).join(vertices, "id", "left_semi")
        tgt_df = spark.createDataFrame(
            [(int(x),) for x in targets], "id long"
        ).select(F.col("id").alias("v")).distinct()
        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        levels = _forward_levels(src_df, arcs, cache, max_rounds)

        acc = None  # nodes: (id, b); edges: (u, v, b)
        delta_next = None
        for d in range(len(levels) - 1, 0, -1):
            lvl = levels[d]
            if delta_next is not None:
                lvl = lvl.join(delta_next, ["s", "v"], "left").select(
                    "s", "v", "sigma",
                    F.coalesce("delta", F.lit(0.0)).alias("delta"),
                )
            else:
                lvl = lvl.select("s", "v", "sigma", F.lit(0.0).alias("delta"))
            # target seed: w contributes (t_hit + delta)
            lvl = lvl.join(
                tgt_df.withColumn("_t", F.lit(1.0)), "v", "left"
            ).select(
                "s", "v", "sigma",
                (F.col("delta") + F.coalesce("_t", F.lit(0.0))).alias("load"),
            )
            pred = (
                lvl.withColumnRenamed("v", "w")
                .join(arcs.withColumnRenamed("dst", "w"), "w")
                .select("s", F.col("src").alias("v"), "sigma", "load", "w")
            )
            prev = levels[d - 1].select("s", "v", F.col("sigma").alias("sigma_p"))
            flows = pred.join(prev, ["s", "v"]).select(
                "s", "v", "w",
                (F.col("sigma_p") / F.col("sigma") * F.col("load")).alias("c"),
            )
            if edges_out:
                edge_lvl = cache.truncate(
                    flows.groupBy(F.col("v").alias("u"), F.col("w").alias("vv"))
                    .agg(F.sum("c").alias("b"))
                    .select(F.col("u"), F.col("vv").alias("v"), "b")
                )
            contrib = flows.groupBy("s", "v").agg(F.sum("c").alias("delta"))
            new_delta = cache.truncate(contrib)
            if delta_next is not None:
                cache.release(delta_next)
            cache.release(levels[d])
            levels[d] = None
            delta_next = new_delta
            if edges_out:
                lvl_acc = edge_lvl
                keys = ["u", "v"]
            else:
                lvl_acc = (
                    new_delta.filter(F.col("s") != F.col("v"))
                    .groupBy(F.col("v").alias("id"))
                    .agg(F.sum("delta").alias("b"))
                )
                keys = ["id"]
            if acc is None:
                acc = cache.truncate(lvl_acc)
            else:
                folded = cache.truncate(
                    acc.unionByName(lvl_acc).groupBy(*keys).agg(F.sum("b").alias("b"))
                )
                cache.release(acc)
                acc = folded

        # rescale: the subset forms reuse the standard _rescale/_rescale_e —
        # nodes: 1/((n-1)(n-2)) normalized; edges: 1/(n(n-1)); undirected
        # unnormalized halves in both
        if normalized:
            if edges_out:
                scale = 1.0 / (n * (n - 1)) if n > 1 else None
            else:
                scale = 1.0 / ((n - 1) * (n - 2)) if n > 2 else None
        else:
            scale = None if g.directed else 0.5
        if edges_out:
            if acc is None:
                out = spark.createDataFrame([], "u long, v long, betweenness double")
            else:
                res = acc
                if not g.directed:
                    res = (
                        res.select(
                            F.least("u", "v").alias("u"),
                            F.greatest("u", "v").alias("v"),
                            "b",
                        )
                        .groupBy("u", "v")
                        .agg(F.sum("b").alias("b"))
                    )
                    # both orientations were accumulated; the reference reports
                    # the per-edge total once (no halving in its edge-subset
                    # rescale beyond the explicit scale)
                out = res.select(
                    "u", "v",
                    (F.col("b") * F.lit(scale if scale is not None else 1.0)).alias(
                        "betweenness"
                    ),
                )
        else:
            if acc is None:
                out = vertices.select("id", F.lit(0.0).alias("betweenness"))
            else:
                out = vertices.join(acc, "id", "left").select(
                    "id",
                    (
                        F.coalesce("b", F.lit(0.0))
                        * F.lit(scale if scale is not None else 1.0)
                    ).alias("betweenness"),
                )
        return cache.result(cache.truncate(out))


def betweenness_centrality_subset(
    g: SparkGraph, sources, targets, normalized: bool = False, weight=None
) -> DataFrame:
    """``betweenness_subset.py:11`` — betweenness counting only shortest
    paths from ``sources`` to ``targets``. ``weight`` switches to the
    weighted (Dijkstra-DAG) kernel with the same target-seeded
    accumulation."""
    if weight is None:
        return _subset_betweenness(
            g, sources, targets, normalized, edges_out=False
        )
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n)) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        src_df = spark.createDataFrame(
            [(int(x),) for x in sources], "id long"
        ).join(vertices, "id", "left_semi")
        tgt_df = spark.createDataFrame([(int(x),) for x in targets], "id long")
        acc = _weighted_betweenness(
            g, src_df, None, weight, cache, 10_000, targets=tgt_df, edges_out=False
        )
        if normalized:
            scale = 1.0 / ((n - 1) * (n - 2)) if n > 2 else None
        else:
            scale = None if g.directed else 0.5
        if acc is None:
            out = vertices.select("id", F.lit(0.0).alias("betweenness"))
        else:
            out = vertices.join(acc, "id", "left").select(
                "id",
                (
                    F.coalesce("b", F.lit(0.0))
                    * F.lit(scale if scale is not None else 1.0)
                ).alias("betweenness"),
            )
        return cache.result(cache.truncate(out))


def edge_betweenness_centrality_subset(
    g: SparkGraph, sources, targets, normalized: bool = False, weight=None
) -> DataFrame:
    """``betweenness_subset.py:134`` — the per-edge form (``weight``
    switches to the weighted kernel, per-arc accumulation)."""
    if weight is None:
        return _subset_betweenness(
            g, sources, targets, normalized, edges_out=True
        )
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n)) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        src_df = spark.createDataFrame(
            [(int(x),) for x in sources], "id long"
        ).join(vertices, "id", "left_semi")
        tgt_df = spark.createDataFrame([(int(x),) for x in targets], "id long")
        acc = _weighted_betweenness(
            g, src_df, None, weight, cache, 10_000, targets=tgt_df, edges_out=True
        )
        if normalized:
            scale = 1.0 / (n * (n - 1)) if n > 1 else None
        else:
            scale = None if g.directed else 0.5
        if acc is None:
            out = spark.createDataFrame([], "u long, v long, betweenness double")
        else:
            if not g.directed:
                acc = (
                    acc.select(
                        F.least("u", "v").alias("u"),
                        F.greatest("u", "v").alias("v"),
                        "b",
                    )
                    .groupBy("u", "v")
                    .agg(F.sum("b").alias("b"))
                )
            out = cache.result(
                cache.truncate(
                    acc.select(
                        "u",
                        "v",
                        (F.col("b") * F.lit(scale if scale is not None else 1.0)).alias(
                            "betweenness"
                        ),
                    )
                )
            )
        return out


def _ids_df(g: SparkGraph, C) -> DataFrame:
    if isinstance(C, DataFrame):
        c = C.columns[0]
        return C.select(F.col(c).cast("long").alias("id")).distinct()
    return g.spark.createDataFrame(
        [(int(x),) for x in C], "id long"
    ).distinct()


def group_betweenness_centrality(
    g: SparkGraph,
    C,
    normalized: bool = True,
    weight=None,
    endpoints: bool = False,
) -> float:
    """``centrality/group.py`` ``group_betweenness_centrality`` —
    GBC(C) = Σ_{s,t ∉ C} σ(s,t|C)/σ(s,t), the fraction of shortest paths
    passing through AT LEAST one group member (Everett & Borgatti 1999).

    The reference runs Puzis et al.'s successive-elimination DP over dense
    per-pair dicts. The distributed identity used here instead:
    σ(s,t|C) = σ(s,t) − σ_avoid(s,t), where σ_avoid counts shortest paths
    of the SAME length in G∖C — so the whole computation is two batched
    multi-source BFS-with-path-counts (the existing Brandes forward pass,
    once on G and once on G minus the group) plus one join. Unweighted
    only (the kernel is BFS; the reference's weighted form needs Dijkstra
    path counting).

    ``endpoints=True`` adds the reference's endpoint count: 2 per
    reachable (group, non-group) pair + 1 per reachable in-group pair.
    ``normalized`` divides by (n−|C|)(n−|C|−1) like the reference.
    ``weight`` swaps both forward passes for the weighted kernel
    (distances + sigma over the Dijkstra DAG); the avoid-count join then
    compares weighted distances with the same exact-sum semantics.
    """
    spark = g.spark
    n = g.number_of_nodes()
    with SuperstepCache(spark, partitions=_pair_partitions(spark, n)) as cache:
        c_ids = cache.pin(_ids_df(g, C))
        missing = c_ids.join(g.vertices.select("id"), "id", "left_anti")
        if missing.limit(1).count():
            from linkgraph.exceptions import NodeNotFound

            raise NodeNotFound("The node(s) in C are not in G.")
        c = c_ids.count()
        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        outside = cache.pin(g.vertices.select("id").join(c_ids, "id", "left_anti"))

        if weight is not None:
            warcs = _weighted_arcs(g, weight, cache)

            def _wfwd(srcs, arc_tbl):
                levels, dag = _weighted_levels_and_dag(srcs, arc_tbl, cache, 10_000)
                cache.release(dag)
                from functools import reduce

                return reduce(
                    lambda a, b: a.unionByName(b),
                    (lvl.select("s", "v", "dist", "sigma") for lvl in levels),
                )

            levels_full = None
            full = _wfwd(outside, warcs).filter(F.col("dist") > 0)
            warcs_avoid = cache.pin(
                warcs.join(c_ids.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(c_ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
            )
            avoid = (
                _wfwd(outside, warcs_avoid)
                .filter(F.col("dist") > 0)
                .select(
                    "s", "v",
                    F.col("dist").alias("dist_a"),
                    F.col("sigma").alias("sigma_a"),
                )
            )
        else:
            levels_full = _forward_levels(outside, arcs, cache, 10_000)
            full = None
            for lvl in levels_full:
                part = lvl.filter(F.col("dist") > 0).select("s", "v", "dist", "sigma")
                full = part if full is None else full.unionByName(part)

            arcs_avoid = cache.pin(
                arcs.join(c_ids.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(c_ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
            )
            levels_avoid = _forward_levels(outside, arcs_avoid, cache, 10_000)
            avoid = None
            for lvl in levels_avoid:
                part = lvl.filter(F.col("dist") > 0).select(
                    "s", "v", F.col("dist").alias("dist_a"), F.col("sigma").alias("sigma_a")
                )
                avoid = part if avoid is None else avoid.unionByName(part)
        # restrict targets to outside-the-group nodes
        full = full.join(outside.withColumnRenamed("id", "v"), "v", "left_semi")

        joined = full.join(avoid, ["s", "v"], "left").select(
            (
                (
                    F.col("sigma")
                    - F.when(
                        F.col("dist_a") == F.col("dist"), F.col("sigma_a")
                    ).otherwise(F.lit(0.0))
                )
                / F.col("sigma")
            ).alias("frac")
        )
        total = joined.agg(F.sum("frac")).first()[0] or 0.0

        if endpoints:
            # reachability FROM each group node over the full graph
            reach = _forward_levels(c_ids, arcs, cache, 10_000)
            scale = 0.0
            for lvl in reach:
                part = lvl.filter(F.col("dist") > 0)
                in_g = part.join(
                    c_ids.withColumnRenamed("id", "v"), "v", "left_semi"
                ).count()
                tot = part.count()
                scale += in_g * 1.0 + (tot - in_g) * 2.0
            total += scale
        if normalized:
            denom = (n - c) * (n - c - 1)
            return float(total) / denom if denom > 0 else 0.0
        if not g.directed:
            return float(total) / 2.0
        return float(total)


def prominent_group(
    g: SparkGraph,
    k: int,
    *,
    normalized: bool = True,
    endpoints: bool = False,
    weight=None,
    max_combinations: int = 200_000,
):
    """``centrality/group.py`` ``prominent_group`` — the size-``k`` node
    group with maximum group betweenness, returned as
    ``(max_GBC, [nodes])``.

    The reference's branch-and-bound explores the same exponential
    candidate space; the engine evaluates candidates exactly with the
    driver-collected adjacency under a combination guard (the established
    pattern for inherently sequential search), reusing the identity
    σ(s,t|C) = σ − σ_same-length-avoiding-C per candidate. ``weight``
    switches the per-source counts to driver Dijkstra path counting
    (``_single_source_dijkstra_path_basic`` semantics)."""
    import itertools
    from collections import deque

    if weight is not None:
        with SuperstepCache(g.spark) as cache:
            warcs = _weighted_arcs(g, weight, cache).collect()
        wadj: dict = {}
        for r in warcs:
            wadj.setdefault(r["src"], {})[r["dst"]] = float(r["w"])
        adj = {u: set(vs) for u, vs in wadj.items()}
    else:
        arcs = (
            (g.edges if g.directed else g.symmetric_edges())
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        adj = {}
        for r in arcs.collect():
            adj.setdefault(r["src"], set()).add(r["dst"])
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    for v in nodes:
        adj.setdefault(v, set())
        if weight is not None:
            wadj.setdefault(v, {})
    n = len(nodes)
    import math

    n_comb = math.comb(n, k)
    if n_comb > max_combinations:
        raise ValueError(
            f"prominent_group explores C({n},{k})={n_comb} candidates > "
            f"max_combinations={max_combinations}"
        )

    def counts_bfs(source, banned):
        dist = {source: 0}
        sig = {source: 1.0}
        q = deque([source])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w in banned:
                    continue
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sig[w] = sig[u]
                    q.append(w)
                elif dist[w] == dist[u] + 1:
                    sig[w] += sig[u]
        return dist, sig

    def counts_dijkstra(source, banned):
        import heapq
        from itertools import count as _count

        dist: dict = {}
        sig = {source: 1.0}
        seen = {source: 0.0}
        tick = _count()
        q = [(0.0, next(tick), source, source)]
        while q:
            d, _, pred, v = heapq.heappop(q)
            if v in dist:
                continue
            dist[v] = d
            for w, wt in wadj[v].items():
                if w in banned:
                    continue
                vw = d + wt
                if w not in dist and (w not in seen or vw < seen[w]):
                    seen[w] = vw
                    heapq.heappush(q, (vw, next(tick), v, w))
                    sig[w] = sig[v]
                elif vw == seen.get(w) and w not in dist:
                    sig[w] += sig[v]
        return dist, sig

    counts = counts_bfs if weight is None else counts_dijkstra

    base = {s: counts(s, frozenset()) for s in nodes}
    best = (-1.0, None)
    for comb in itertools.combinations(nodes, k):
        cset = frozenset(comb)
        total = 0.0
        for s in nodes:
            if s in cset:
                continue
            d0, s0 = base[s]
            d1, s1 = counts(s, cset)
            for t, sig_st in s0.items():
                if t == s or t in cset:
                    continue
                avoid = s1.get(t, 0.0) if d1.get(t) == d0[t] else 0.0
                total += (sig_st - avoid) / sig_st
        if endpoints:
            for gn in cset:
                d0, _ = base[gn]
                for t in d0:
                    if t == gn:
                        continue
                    total += 1.0 if t in cset else 2.0
        if normalized:
            denom = (n - k) * (n - k - 1)
            val = total / denom if denom > 0 else 0.0
        elif not g.directed:
            val = total / 2.0
        else:
            val = total
        if val > best[0]:
            best = (val, sorted(cset))
    # the reference truncates the winning value to 2 decimals
    # (centrality/group.py:412 `float(f"{max_GBC:.2f}")`)
    return float(f"{best[0]:.2f}"), best[1]
