"""Semi-synchronous label propagation communities.

Replicates ``networkx.community.label_propagation_communities``
(``networkx/algorithms/community/label_propagation.py:238``) exactly:

1. Proper-color the graph with ``greedy_color`` (default strategy
   ``largest_first``, ``networkx/algorithms/coloring/greedy_coloring.py:266``).
2. Initial label of each node = its enumeration index
   (``label_propagation.py:269``). We use the node id itself: when nodes are
   enumerated in ascending-id order the index is a strictly monotone
   transform of the id, and the algorithm only ever compares labels by
   equality and ``max`` — so the resulting *partition* is identical.
3. Until every node's label is in the argmax of its neighbors' label
   frequencies (``_labeling_complete``, ``:297-307``): for each color class
   in ascending color order, set every node's label to the most frequent
   neighbor label with the **Prec-Max** tie-break — keep the current label if
   it is in the argmax set, else take the maximum label of that set
   (``_update_label``, ``:326-338``).

Nodes within one color class are pairwise non-adjacent, so their updates are
order-independent — that is precisely what makes each color class one
distributed superstep of joins + groupBy aggregations (Cordasco & Gargano
2010). Directed input raises, matching ``@not_implemented_for("directed")``
(``label_propagation.py:236``).

Scale notes: the greedy coloring itself is sequential in the reference; it
runs driver-side here over the collected simple edge list (at most
``_DRIVER_EDGES`` edges). For partition-exact parity this is unavoidable — any
other proper coloring changes the update schedule and may change the
partition. At true web scale one would swap in a distributed Jones-Plassmann
coloring (same proper-coloring contract, different schedule) and accept
set-statistical rather than exact parity; the superstep machinery below is
schedule-agnostic and unchanged.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, check_driver_limit
from linkgraph.iterutils import SuperstepCache, loop_partitions
from linkgraph.state import CheckpointStore
from linkgraph.exceptions import NotImplementedForDirected

# Simple edges the reference coloring collects onto the driver; "auto"
# colors larger graphs in Spark instead.
_DRIVER_EDGES = 5_000_000

__all__ = [
    "label_propagation_communities",
    "communities_as_sets",
    "NotImplementedForDirected",
]


def _jones_plassmann_coloring(
    sym: DataFrame, vertices: DataFrame, loop: SuperstepCache, seed: int = 17
) -> DataFrame:
    """Distributed proper coloring (Jones & Plassmann 1993): random
    priorities from a hash; each round, every uncolored node with no
    higher-priority uncolored neighbor takes the smallest color unused by
    its colored neighbors, until all are colored. Returns ``(id, color)``.

    Any proper coloring yields a valid semi-synchronous LPA schedule
    (color classes are independent sets); it just differs from the
    reference's sequential ``largest_first`` order, so the resulting
    partition is LPA-valid but not bit-identical to NetworkX's. This is the
    scale path — no driver-side edge collection.

    Runs on ``loop``: the priorities and the arcs with both ends'
    priorities are pinned; each round is one ``(id, color)`` state (color
    null while uncolored) that retires the previous round's and observes
    ``uncolored`` on its own job; the rounds stop when it is 0.
    """
    pri = loop.pin(vertices.select("id", F.xxhash64(F.col("id"), F.lit(seed)).alias("pri")))
    nbr_pri = loop.pin(
        sym.join(pri.withColumnRenamed("id", "src").withColumnRenamed("pri", "src_pri"), "src")
        .join(pri.withColumnRenamed("id", "dst").withColumnRenamed("pri", "dst_pri"), "dst")
        .select("src", "dst", "src_pri", "dst_pri")
    )
    figures = {"uncolored": F.count_if(F.col("color").isNull())}
    state, seen = loop.truncate(
        vertices.select("id", F.lit(None).cast("int").alias("color")), figures=figures
    )
    while seen["uncolored"]:
        uncolored = state.filter(F.col("color").isNull()).select("id")
        # higher-priority uncolored neighbors block a node this round
        blocked = (
            nbr_pri.join(uncolored.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(uncolored.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .filter(
                (F.col("dst_pri") > F.col("src_pri"))
                | ((F.col("dst_pri") == F.col("src_pri")) & (F.col("dst") > F.col("src")))
            )
            .select(F.col("src").alias("id"))
            .distinct()
        )
        ready = uncolored.join(blocked, "id", "left_anti")
        # the smallest color in 0..|used| not used by a colored neighbor
        # (collect_set skips the uncolored ones' null)
        used = (
            nbr_pri.select("src", "dst")
            .join(ready.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(state.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "color")
            .groupBy("id")
            .agg(F.collect_set("color").alias("used"))
        )
        used_arr = F.coalesce("used", F.expr("array()").cast("array<int>"))
        assigned = ready.join(used, "id", "left").select(
            "id",
            F.array_min(
                F.array_except(F.sequence(F.lit(0), F.size(used_arr)), used_arr)
            ).alias("new"),
        )
        state, seen = loop.truncate(
            state.join(assigned, "id", "left").select(
                "id", F.coalesce("color", "new").alias("color")
            ),
            retire=state,
            figures=figures,
        )
    return state


def label_propagation_communities(
    g: SparkGraph,
    *,
    max_sweeps: int = 100,
    checkpoint_store: Optional[CheckpointStore] = None,
    coloring: str = "auto",
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, label BIGINT)``; nodes sharing a label
    form one community. The partition matches the reference exactly when the
    reference enumerates nodes in ascending-id order.

    ``coloring="reference"`` replicates ``greedy_color`` on the driver for
    exact partition parity (up to 5M simple edges, raises above it);
    ``coloring="distributed"`` uses Jones-Plassmann coloring entirely
    in Spark — the scale path: same LPA update rule and termination, a
    valid (but schedule-different) partition. ``coloring="auto"`` (default)
    uses the reference schedule up to that limit and falls back
    to the distributed one (with a warning) beyond it, so big graphs run
    instead of raising.
    """
    if g.directed:
        raise NotImplementedForDirected(
            "label_propagation_communities: not implemented for directed type"
        )
    spark = g.spark
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with SuperstepCache(spark, store=checkpoint_store) as loop:
        vertices = loop.pin(g.vertices.select("id"))
        simple = loop.pin(
            g.edges.filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        m = simple.count()
        # One color class is a few cheap aggregations over the 2m arcs:
        # size its shuffles by that volume, not by the session.
        with SuperstepCache(spark, partitions=loop_partitions(2 * m, cap)):
            sym = loop.pin(
                simple.unionAll(
                    simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
            )

            if coloring == "auto":
                if m > _DRIVER_EDGES:
                    import warnings

                    warnings.warn(
                        f"label_propagation_communities: {m} edges > the driver "
                        f"limit of {_DRIVER_EDGES}; using distributed "
                        "Jones-Plassmann coloring (schedule differs from the "
                        "reference's greedy_color; the partition is LPA-valid but "
                        "not bit-identical)",
                        stacklevel=2,
                    )
                    coloring = "distributed"
                else:
                    coloring = "reference"

            if coloring == "distributed":
                color_df = loop.pin(_jones_plassmann_coloring(sym, vertices, loop))
                n_colors = (color_df.agg(F.max("color")).first()[0] or 0) + 1
            else:
                check_driver_limit(
                    m, _DRIVER_EDGES,
                    "exact-parity LPA collects the edge list for greedy coloring",
                    "Use coloring='distributed' for the scale path.",
                )
                from linkgraph.algos.coloring import (
                    _greedy_color_largest_first, _undirected_adjacency,
                )

                node_list = sorted(r["id"] for r in vertices.collect())
                cmap = _greedy_color_largest_first(
                    _undirected_adjacency(node_list, simple.collect()), node_list
                )
                n_colors = (max(cmap.values()) + 1) if cmap else 0
                color_df = loop.pin(
                    spark.createDataFrame(list(cmap.items()), ["id", "color"])
                    if cmap
                    else spark.createDataFrame([], "id long, color int")
                )

            labels = vertices.select("id", F.col("id").alias("label"))

            def neighbor_freq(lbls: DataFrame) -> DataFrame:
                """(id, nlab, cnt): frequency of each label among id's neighbors."""
                return (
                    sym.join(
                        lbls.select(
                            F.col("id").alias("dst"), F.col("label").alias("nlab")
                        ),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("id"), "nlab")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                )

            # Termination: the reference checks ``_labeling_complete``
            # (``label_propagation.py:297-307``: every node-with-neighbors' label is
            # in its neighborhood argmax) BEFORE each sweep — a full neighbor_freq
            # pass over all m edges. A sweep's Prec-Max update changes a node iff
            # its label is NOT in that argmax, and color classes partition the
            # nodes, so "a full sweep changed nothing" is exactly the same predicate
            # — observed as the sum over the classes of each class's changed
            # labels (a node changes only in its own class), on the jobs that
            # checkpoint them. (When the initial labeling is already complete
            # this runs one provably-no-op sweep; the result is identical.)
            labels = loop.truncate(labels)
            sweeps = 0
            while True:
                if sweeps >= max_sweeps:
                    raise RuntimeError(f"LPA did not stabilize in {max_sweeps} sweeps")
                changed = 0
                for c in range(n_colors):
                    cls = color_df.filter(F.col("color") == c).select("id")
                    freq = neighbor_freq(labels).join(cls, "id", "left_semi")
                    # Prec-Max (label_propagation.py:326-338) as one
                    # aggregation: the highest count, then the current
                    # label, then the largest label.
                    keep = (F.col("nlab") == F.col("cur")).alias("keep")
                    best = (
                        freq.join(labels.select("id", F.col("label").alias("cur")), "id")
                        .groupBy("id", "cur")
                        .agg(F.max(F.struct("cnt", keep, "nlab")).alias("b"))
                        .select("id", F.col("b.nlab").alias("new"))
                    )
                    # Truncate lineage per color class: each class references the
                    # previous labels plan several times, so chaining a whole sweep
                    # lazily grows the Catalyst tree exponentially in the color
                    # count. The last class of a sweep is its durable commit.
                    nxt = labels.join(best, "id", "left").select(
                        "id",
                        F.coalesce("new", "label").alias("label"),
                        F.col("label").alias("prev"),
                    )
                    figures = {
                        "changed": F.count_if(F.col("label") != F.col("prev"))
                        + F.lit(changed),
                        "edges_processed": F.lit(m * n_colors),
                    }
                    nxt, seen = (
                        loop.commit(nxt, sweeps, figures)
                        if c == n_colors - 1
                        else loop.truncate(nxt, figures=figures)
                    )
                    loop.release(labels)
                    labels, changed = nxt, seen["changed"]
                sweeps += 1
                if changed == 0:
                    return loop.result(labels.select("id", "label"))


def communities_as_sets(labels: DataFrame) -> list[frozenset]:
    """Parity helper: collect the partition as a list of frozensets (the
    shape ``nx.community.label_propagation_communities`` yields). Only for
    test-scale graphs — never at scale (SURVEY.md §3 EP3)."""
    rows = labels.groupBy("label").agg(F.collect_set("id").alias("members")).collect()
    return [frozenset(r["members"]) for r in rows]
