"""Randomized label-propagation variants — ``asyn_lpa_communities``
(``networkx/algorithms/community/label_propagation.py:142``) and
``fast_label_propagation_communities`` (``label_propagation.py:19``).

Both reference algorithms are RANDOM by contract: a seeded shuffle decides
the node visit order and ties break by ``seed.choice`` — their own test
suite only checks the resulting partition, not a specific labeling, and
SURVEY §2.F marks them "parity only set-statistically". A sequential
visit order cannot be replayed across partitions, so the distributed twins
keep the defining traits and replace the schedule:

- update rule (both, = ``label_propagation.py:218-232``): a node KEEPS its
  label when it already has maximal neighborhood weight; otherwise it
  adopts an argmax label, ties broken by a seeded hash of
  (seed+round, id, label) — the distributed ``seed.choice(best_labels)``.
- asynchrony: a seeded coin activates ~3/4 of the eligible nodes per
  round (the rest wait), which breaks the two-coloring oscillation a
  fully synchronous sweep admits — the same role the reference's random
  visit order plays. Termination = a round changes nothing
  (``_labeling_complete``-equivalent under keep-if-in-best).
- ``fast_label_propagation_communities`` additionally keeps the
  reference's QUEUE discipline (``label_propagation.py:55-60``): only
  nodes whose neighborhood changed re-enter the eligible set, so late
  rounds touch the active boundary, not the whole graph.

Weighted graphs sum edge weights per neighbor label like the reference
(``label_propagation.py:216``, ``:57``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache


def _sym(g: SparkGraph) -> DataFrame:
    e = g.symmetric_edges() if not g.directed else g.edges
    return e.filter(F.col("src") != F.col("dst")).select("src", "dst", "weight")


def _relabel(sym: DataFrame, labels: DataFrame, active: DataFrame, salt) -> DataFrame:
    """Rows ``(id, label)`` for active nodes whose label CHANGES this round:
    keep-if-in-best, else hash-tie-broken argmax — one join + one agg."""
    freq = (
        sym.join(active.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(F.col("src").alias("id"), F.col("label").alias("nlab"))
        .agg(F.sum("weight").alias("w"))
    )
    cur = labels.select("id", F.col("label").alias("cur"))
    ranked = freq.join(cur, "id").withColumn(
        "tie", F.xxhash64(salt, F.col("id"), F.col("nlab"))
    )
    agg = ranked.groupBy("id").agg(
        F.max(F.struct("w", "tie", "nlab")).alias("b"),
        F.max(F.when(F.col("nlab") == F.col("cur"), F.col("w"))).alias("cw"),
        F.first("cur").alias("cur"),
    )
    return agg.filter(
        F.col("cw").isNull() | (F.col("cw") < F.col("b.w"))
    ).select("id", F.col("b.nlab").alias("label"))


def _coin_subset(nodes: DataFrame, salt) -> DataFrame:
    """~3/4 of the nodes by seeded hash; all of them if the coin empties
    the set (progress guarantee on tiny frontiers)."""
    sub = nodes.filter(F.pmod(F.xxhash64(salt, F.col("id")), F.lit(4)) != 0)
    if sub.limit(1).count() == 0:
        return nodes
    return sub


def asyn_lpa_communities(
    g: SparkGraph, *, seed: int = 0, max_sweeps: int = 500
) -> DataFrame:
    """DataFrame ``(id BIGINT, label BIGINT)`` — a fixpoint of the LPA
    keep-if-in-best update with seeded random tie-breaks
    (``label_propagation.py:142`` semantics, distributed schedule)."""
    spark = g.spark
    cache = SuperstepCache(spark)
    sym = _sym(g).persist()
    all_nodes = g.vertices.select("id")
    labels = cache.truncate(all_nodes.select("id", F.col("id").alias("label")))
    stable_probe_due = True
    for sweep in range(max_sweeps):
        salt = F.lit(int(seed) * 1_000_003 + sweep)
        active = _coin_subset(all_nodes, salt)
        changed = _relabel(sym, labels, active, salt).persist()
        n_changed = changed.count()
        if n_changed == 0:
            # the coin subset saw nothing to do; certify with a FULL pass
            if stable_probe_due:
                full_changed = _relabel(sym, labels, all_nodes, salt)
                if full_changed.limit(1).count() == 0:
                    changed.unpersist()
                    break
                stable_probe_due = False
                changed.unpersist()
                continue
            changed.unpersist()
            continue
        stable_probe_due = True
        new_labels = cache.truncate(
            labels.join(changed.select("id"), "id", "left_anti").unionByName(changed)
        )
        changed.unpersist()
        cache.release(labels)
        labels = new_labels
    else:
        sym.unpersist()
        raise RuntimeError(f"asyn_lpa did not stabilize in {max_sweeps} sweeps")
    sym.unpersist()
    return labels


def fast_label_propagation_communities(
    g: SparkGraph, *, seed: int = 0, max_rounds: int = 2000
) -> DataFrame:
    """Queue-driven variant (``label_propagation.py:19``): the frontier is
    the reference's deque — after a round, exactly the neighbors of
    relabeled nodes re-enter it (``label_propagation.py:55-60``)."""
    spark = g.spark
    cache = SuperstepCache(spark)
    sym = _sym(g).persist()
    labels = cache.truncate(g.vertices.select("id", F.col("id").alias("label")))
    frontier = labels.select("id")
    for rnd in range(max_rounds):
        if frontier.limit(1).count() == 0:
            break
        salt = F.lit(int(seed) * 1_000_003 + rnd)
        active = _coin_subset(frontier, salt)
        changed = _relabel(sym, labels, active, salt).persist()
        prev_frontier = frontier
        if changed.limit(1).count() == 0:
            # processed-and-unchanged nodes leave the queue
            frontier = cache.truncate(
                frontier.join(active, "id", "left_anti"), retire=prev_frontier
            )
            changed.unpersist()
            continue
        new_labels = cache.truncate(
            labels.join(changed.select("id"), "id", "left_anti").unionByName(changed)
        )
        # queue update: drop processed nodes, re-queue neighbors of changes
        requeued = (
            sym.join(
                changed.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
            .select(F.col("src").alias("id"))
            .distinct()
        )
        # materialize the new queue BEFORE the old labels snapshot (which
        # `changed` reads) can be released
        frontier = cache.truncate(
            frontier.join(active, "id", "left_anti")
            .unionByName(requeued)
            .distinct(),
            retire=prev_frontier,
        )
        changed.unpersist()
        cache.release(labels)
        labels = new_labels
    else:
        sym.unpersist()
        raise RuntimeError(
            f"fast_label_propagation did not drain in {max_rounds} rounds"
        )
    sym.unpersist()
    return labels


def asyn_fluidc(
    g: SparkGraph,
    k: int,
    *,
    max_iter: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Fluid-communities partition ``(id, community)`` — the distributed
    twin of ``asyn_fluidc`` (``community/asyn_fluid.py:22``; Parés et al.
    2018). The reference is RNG-scheduled by contract (random seeds,
    random vertex order, ``random.choice`` ties) — like the LPA variants
    above, the twin keeps the defining traits and replaces the schedule:

    - k seed nodes by seeded-hash top-k (the reference's ``sample``);
    - community density = 1/|members|, recomputed per round;
    - a node adopts the density-weighted argmax among its neighbors'
      communities plus its own (``asyn_fluid.py:91-116``), ties broken by
      a seeded hash; a community's LAST member never leaves (the
      invariant that keeps exactly k communities, mirroring the
      reference's retention rule);
    - a seeded coin holds back ~1/4 of the movable nodes per round (the
      oscillation guard), and unassigned nodes only join once a neighbor
      carries a community (fluid expansion from the seeds).

    Deterministic for a fixed seed; exact labeling is engine-specific
    (rows-only contract), validity (true partition into exactly k
    nonempty communities) and quality are pinned in tests. Raises on
    directed input, disconnected graphs, and k > n like the reference.
    """
    from linkgraph.exceptions import NetworkXError, NotImplementedForDirected

    if g.directed:
        raise NotImplementedForDirected(
            "asyn_fluidc: not implemented for directed type"
        )
    from linkgraph.algos.components import is_connected

    n = g.number_of_nodes()
    if k < 1 or k > n:
        raise NetworkXError(f"k must be in [1, {n}]. Got {k}.")
    if not is_connected(g):
        raise NetworkXError("Fluid Communities requires connected Graphs.")

    spark = g.spark
    sym = _sym(g).select("src", "dst").persist()
    cache = SuperstepCache(spark)
    seeds = (
        g.vertices.select("id")
        .orderBy(F.xxhash64(F.lit(seed), F.col("id")), F.col("id"))
        .limit(k)
        .select("id", F.col("id").alias("community"))
    )
    state = cache.truncate(
        g.vertices.select("id").join(seeds, "id", "left")
    )
    prev = None
    for it in range(max_iter):
        assigned = state.filter(F.col("community").isNotNull())
        dens = assigned.groupBy("community").agg(
            (F.lit(1.0) / F.count(F.lit(1))).alias("density"),
            F.count(F.lit(1)).alias("sz"),
        )
        # per-node candidate scores: sum of neighbor densities per
        # community, plus the node's own community density
        nbr = (
            sym.join(
                assigned.select(
                    F.col("id").alias("dst"), F.col("community").alias("c")
                ),
                "dst",
            )
            .join(dens.withColumnRenamed("community", "c"), "c")
            .groupBy(F.col("src").alias("id"), "c")
            .agg(F.sum("density").alias("score"))
        )
        own = assigned.join(dens, "community").select(
            "id", F.col("community").alias("c"), F.col("density").alias("score")
        )
        scores = (
            nbr.unionByName(own)
            .groupBy("id", "c")
            .agg(F.sum("score").alias("score"))
        )
        best = (
            scores.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("id")
                    .orderBy(
                        F.desc("score"),
                        F.xxhash64(F.lit(seed + it), F.col("id"), F.col("c")),
                        F.col("c"),
                    )
                ),
            )
            .filter(F.col("rk") == 1)
            .select("id", F.col("c").alias("new_c"))
        )
        # a community may lose at most sz-1 members per synchronous round
        # (so it can never vanish — the reference's retention invariant);
        # a hash-coin additionally holds ~1/4 of the movers
        movers = (
            best.join(state, "id")
            .filter(
                F.col("community").isNull()
                | (F.col("new_c") != F.col("community"))
            )
            .filter(
                F.col("community").isNull()
                | (
                    F.pmod(
                        F.xxhash64(F.lit(seed * 7 + it), F.col("id")), F.lit(4)
                    )
                    != 0
                )
            )
        )
        retained = (
            movers.filter(F.col("community").isNotNull())
            .join(dens, "community")
            .withColumn(
                "mrk",
                F.row_number().over(
                    Window.partitionBy("community").orderBy(
                        F.xxhash64(F.lit(seed * 13 + it), F.col("id")), F.col("id")
                    )
                ),
            )
            .withColumn(
                "mv_cnt",
                F.count(F.lit(1)).over(Window.partitionBy("community")),
            )
            # when EVERY member of the community wants out, hold one back
            .filter((F.col("mv_cnt") == F.col("sz")) & (F.col("mrk") == 1))
            .select("id")
        )
        movable = movers.join(retained, "id", "left_anti").select("id", "new_c")
        nxt = cache.truncate(
            state.join(movable, "id", "left").select(
                "id", F.coalesce("new_c", "community").alias("community")
            ),
            retire=prev,
        )
        changed = (
            nxt.join(
                state.withColumnRenamed("community", "old_c"), "id"
            )
            .filter(
                ~(
                    F.col("community").eqNullSafe(F.col("old_c"))
                )
            )
            .limit(1)
            .count()
        )
        prev = state
        state = nxt
        if changed == 0:
            break
    out = state.filter(F.col("community").isNotNull()).persist()
    out.count()
    sym.unpersist()
    return out
