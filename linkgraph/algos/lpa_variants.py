"""Randomized label-propagation variants — ``asyn_lpa_communities``
(``networkx/algorithms/community/label_propagation.py:142``),
``fast_label_propagation_communities`` (``label_propagation.py:19``) and
``asyn_fluidc`` (``community/asyn_fluid.py:22``).

The reference algorithms are RANDOM by contract: a seeded shuffle decides
the node visit order and ties break by ``seed.choice`` — their own test
suite only checks the resulting partition, not a specific labeling, and
SURVEY §2.F marks them "parity only set-statistically". A sequential
visit order cannot be replayed across partitions, so the distributed twins
keep the defining traits and replace the schedule:

- update rule (both LPAs, = ``label_propagation.py:218-232``): a node
  KEEPS its label when it already has maximal neighborhood weight;
  otherwise it adopts an argmax label, ties broken by a seeded hash of
  (seed+round, id, label) — the distributed ``seed.choice(best_labels)``.
- asynchrony: a seeded coin activates ~3/4 of the eligible nodes per
  round (the rest wait), which breaks the two-coloring oscillation a
  fully synchronous sweep admits — the same role the reference's random
  visit order plays. When the coin would activate none of the eligible
  nodes, all of them are active (progress on tiny frontiers).
- ``fast_label_propagation_communities`` additionally keeps the
  reference's QUEUE discipline (``label_propagation.py:55-60``): only
  nodes whose neighborhood changed re-enter the eligible set, so late
  rounds touch the active boundary, not the whole graph.

Weighted graphs sum edge weights per neighbor label like the reference
(``label_propagation.py:216``, ``:57``).

Every loop runs on the superstep runtime
(:class:`linkgraph.iterutils.SuperstepCache`): each round is one state
table, materialized by one ``truncate`` that retires the previous round's
and observes, on that same job, the figures that decide what comes next:

- ``asyn_lpa_communities``: ``unstable``, the nodes whose label is not of
  maximal neighborhood weight, counted over ALL nodes while the round
  applies the coin-active ones' changes; it stops at 0
  (``_labeling_complete`` under keep-if-in-best). Whether a node changes
  (``cw`` null or ``cw < b.w``) compares weights only: the salt breaks
  ties among the best-weight labels, so it picks WHICH label a moving
  node takes, never WHETHER it moves. The count is thus the full-pass
  certificate for every salt, and a round with ``unstable == 0`` is a
  no-op.
- ``fast_label_propagation_communities`` keeps ``(id, label, queued)``:
  ``queue``, the size of the next queue (unprocessed nodes plus the
  neighbors of changed ones); it stops at 0.
- both LPAs: ``coin``, how many of the next round's eligible nodes pass
  its coin, so the all-active fallback costs no job.
- ``asyn_fluidc`` carries each node's previous community: ``changed``,
  the nodes whose community moved; it stops at 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache


def _sym(g: SparkGraph) -> DataFrame:
    e = g.symmetric_edges() if not g.directed else g.edges
    return e.filter(F.col("src") != F.col("dst")).select("src", "dst", "weight")


def _salt(seed: int, rnd: int) -> Column:
    return F.lit(int(seed) * 1_000_003 + rnd)


def _coin(seed: int, rnd: int) -> Column:
    """Round ``rnd``'s seeded coin: true for ~3/4 of the nodes."""
    return F.pmod(F.xxhash64(_salt(seed, rnd), F.col("id")), F.lit(4)) != 0


def _active(eligible: Column, seed: int, rnd: int, coin: int) -> Column:
    """The ``eligible`` nodes that pass round ``rnd``'s coin, or all of
    them when none does (``coin``, observed on the previous round)."""
    return eligible & _coin(seed, rnd) if coin else eligible


def _relabel(sym: DataFrame, state: DataFrame, seed: int, rnd: int) -> DataFrame:
    """``state`` (with its ``active`` flags) plus ``moves``: the node has
    arcs in ``sym`` and its label is not of maximal weight among them; and
    ``nlab``: the hash-tie-broken argmax for active nodes that move, else
    the label. One join + two aggs."""
    salt = _salt(seed, rnd)
    freq = (
        sym.join(
            state.select(F.col("id").alias("dst"), F.col("label").alias("nlab")),
            "dst",
        )
        .groupBy(F.col("src").alias("id"), "nlab")
        .agg(F.sum("weight").alias("w"))
    )
    ranked = freq.join(
        state.select("id", F.col("label").alias("cur")), "id"
    ).withColumn("tie", F.xxhash64(salt, F.col("id"), F.col("nlab")))
    best = ranked.groupBy("id").agg(
        F.max(F.struct("w", "tie", "nlab")).alias("b"),
        F.max(F.when(F.col("nlab") == F.col("cur"), F.col("w"))).alias("cw"),
    )
    # nodes without neighbors have no best label and never move
    moves = F.col("b").isNotNull() & (
        F.col("cw").isNull() | (F.col("cw") < F.col("b.w"))
    )
    return (
        state.join(best, "id", "left")
        .withColumn("moves", moves)
        .withColumn(
            "nlab",
            F.when(F.col("active") & F.col("moves"), F.col("b.nlab")).otherwise(
                F.col("label")
            ),
        )
        .drop("b", "cw")
    )


def asyn_lpa_communities(
    g: SparkGraph, *, seed: int = 0, max_sweeps: int = 500
) -> DataFrame:
    """DataFrame ``(id BIGINT, label BIGINT)`` — a fixpoint of the LPA
    keep-if-in-best update with seeded random tie-breaks
    (``label_propagation.py:142`` semantics, distributed schedule)."""
    with SuperstepCache(g.spark) as loop:
        sym = loop.pin(_sym(g))
        labels, seen = loop.truncate(
            g.vertices.select("id", F.col("id").alias("label")),
            figures={"coin": F.count_if(_coin(seed, 0))},
        )
        for sweep in range(max_sweeps):
            active = _active(F.lit(True), seed, sweep, seen["coin"])
            step = _relabel(sym, labels.withColumn("active", active), seed, sweep)
            labels, seen = loop.truncate(
                step.select("id", F.col("nlab").alias("label"), "moves"),
                retire=labels,
                figures={
                    "unstable": F.count_if("moves"),
                    "coin": F.count_if(_coin(seed, sweep + 1)),
                },
            )
            if seen["unstable"] == 0:
                return loop.result(labels.select("id", "label"))
        raise RuntimeError(f"asyn_lpa did not stabilize in {max_sweeps} sweeps")


def fast_label_propagation_communities(
    g: SparkGraph, *, seed: int = 0, max_rounds: int = 2000
) -> DataFrame:
    """Queue-driven variant (``label_propagation.py:19``): the queue is
    the reference's deque — a round processes its active nodes, and
    exactly the neighbors of relabeled nodes re-enter it
    (``label_propagation.py:55-60``)."""
    queued = F.col("queued")

    def figures(rnd):  # the queue, and how many of it pass round rnd's coin
        return {"queue": F.count_if(queued), "coin": F.count_if(queued & _coin(seed, rnd))}

    with SuperstepCache(g.spark) as loop:
        sym = loop.pin(_sym(g))
        state, seen = loop.truncate(
            g.vertices.select("id", F.col("id").alias("label"), F.lit(True).alias("queued")),
            figures=figures(0),
        )
        for rnd in range(max_rounds):
            if seen["queue"] == 0:
                return loop.result(state.select("id", "label"))
            cur = state.withColumn("active", _active(queued, seed, rnd, seen["coin"]))
            # only the active nodes' neighborhoods are aggregated
            nbrs = sym.join(
                cur.filter("active").select(F.col("id").alias("src")), "src", "left_semi"
            )
            step = _relabel(nbrs, cur, seed, rnd)
            changed = step.filter(F.col("active") & F.col("moves"))
            requeued = (
                sym.join(changed.select(F.col("id").alias("dst")), "dst", "left_semi")
                .select(F.col("src").alias("id"), F.lit(True).alias("requeued"))
                .distinct()
            )
            state, seen = loop.truncate(
                step.join(requeued, "id", "left").select(
                    "id",
                    F.col("nlab").alias("label"),
                    ((queued & ~F.col("active")) | F.col("requeued").isNotNull()).alias(
                        "queued"
                    ),
                ),
                retire=state,
                figures=figures(rnd + 1),
            )
        raise RuntimeError(
            f"fast_label_propagation did not drain in {max_rounds} rounds"
        )


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

    with SuperstepCache(g.spark) as loop:
        sym = loop.pin(_sym(g).select("src", "dst"))
        seeds = (
            g.vertices.select("id")
            .orderBy(F.xxhash64(F.lit(seed), F.col("id")), F.col("id"))
            .limit(k)
            .select("id", F.col("id").alias("community"))
        )
        state = loop.truncate(g.vertices.select("id").join(seeds, "id", "left"))
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
            state, seen = loop.truncate(
                state.join(movable, "id", "left").select(
                    "id",
                    F.coalesce("new_c", "community").alias("community"),
                    F.col("community").alias("prev"),
                ),
                retire=state,
                figures={
                    "changed": F.count_if(
                        ~F.col("community").eqNullSafe(F.col("prev"))
                    )
                },
            )
            if seen["changed"] == 0:
                break
        return loop.result(
            state.filter(F.col("community").isNotNull()).select("id", "community")
        )
