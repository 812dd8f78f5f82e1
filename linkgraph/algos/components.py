"""Connected components — alternating large-star / small-star min-label.

Semantics match ``networkx/algorithms/components/connected.py:17``
(``connected_components``: partition of an undirected graph into maximal
components, BFS-based O(n+m)) and ``weakly_connected.py:15``. The BFS is
inherently sequential, so the distributed algorithm is the **two-phase
large-star/small-star** method of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC 2014), which converges in O(log² n) rounds
(O(log n) in practice) to star graphs rooted at each component's minimum
node id — yielding the exact same partition as BFS.

- large-star(u): connect every strictly-larger neighbor of u to
  ``m = min(Γ(u) ∪ {u})``
- small-star(u): connect every neighbor ≤ u (and u itself) to the minimum
  of that set
- converged when the edge set stops changing; then every surviving edge is
  ``(v, component_min)``.

Everything is windowed mins + one dedup: per round, one shuffle for each
star's neighborhood min and one for the dedup. Lineage is truncated each
round (localCheckpoint / CheckpointStore).

Convergence detection at scale: comparing edge sets with ``except`` is a
full shuffle, so we compare (count, sum(xxhash64(src, dst))) fingerprints —
deterministic and collision-safe for any practical input. Each round
observes its fingerprint, and whether it moved from the previous round's,
on the one job that materializes the round's edges: no side job.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, loop_partitions
from linkgraph.state import CheckpointStore


def _edge_figures(prev: Optional[dict] = None) -> dict:
    """A round's observed figures: the edge count, the sum of
    ``xxhash64(src, dst)`` and, given the previous round's figures, whether
    either changed (0/1)."""
    count = F.count(F.lit(1))
    # decimal(38,0) accumulator: exact and overflow-free under ANSI mode
    hashes = F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))
    figures = {"edges_processed": count, "fingerprint": hashes}
    if prev is not None:
        same = (count == F.lit(prev["edges_processed"])) & hashes.eqNullSafe(
            F.lit(prev["fingerprint"])
        )
        figures["changed"] = (~same).cast("int")
    return figures


def _large_star(e: DataFrame) -> DataFrame:
    """Emit (v, m) for every neighbor v > u, m = min(Γ(u) ∪ {u}).

    The neighborhood min is a window over the arcs partitioned by ``u``:
    one shuffle, where an aggregate joined back to the arcs would scan and
    shuffle them twice. No dedup here: duplicates are harmless to the
    following small-star's min and its single per-round ``distinct``."""
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        sym.select("src", "dst", m.alias("m"))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (max, min); connect all smaller neighbors and u to the
    minimum of the closed smaller-neighborhood. Like :func:`_large_star`,
    the min is a window, and each oriented edge emits both its neighbor
    edge and its endpoint's self edge (the ``distinct`` folds repeats)."""
    t = e.filter(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    t = t.select("src", "dst", F.min("dst").over(Window.partitionBy("src")).alias("m"))
    pair = F.explode(
        F.array(
            F.struct(F.col("dst").alias("src"), F.col("m").alias("dst")),
            F.struct(F.col("src").alias("src"), F.col("m").alias("dst")),
        )
    )
    return (
        t.select(pair.alias("p"))
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    g: SparkGraph,
    *,
    max_rounds: int = 50,
    checkpoint_store: Optional[CheckpointStore] = None,
    resume: bool = False,
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, component BIGINT)`` where ``component``
    is the minimum node id of the node's component — an exact encoding of
    the ``nx.connected_components`` partition (``connected.py:17``).

    Directed input is treated as its underlying undirected graph, i.e. this
    doubles as ``weakly_connected_components`` (``weakly_connected.py:15``).
    """
    with SuperstepCache(g.spark, store=checkpoint_store) as loop:
        return loop.result(_components(g, loop, max_rounds, resume))


def _components(
    g: SparkGraph, loop: SuperstepCache, max_rounds: int = 50, resume: bool = False
) -> DataFrame:
    """The component labeling of ``g``, computed on ``loop``: the snapshots
    it reads are the loop's."""
    vertices = g.vertices.select("id")
    e = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    spark = g.spark
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    start_round, stored = loop.resume() if resume else (0, None)
    if stored is not None:
        e = stored
    e, seen = loop.truncate(e, figures=_edge_figures())
    # Size the rounds' shuffle partitions by DATA VOLUME (~250k pair
    # rows per reduce task), capped at the session default: with AQE
    # off, a small graph would otherwise pay the session's full
    # partition count in per-task fixed cost EVERY round — pure
    # overhead locally, and the same rows-per-task rule is how a
    # 1000-executor run would be sized (it hits the session cap and
    # keeps the configured parallelism).
    parts = max(4, loop_partitions(seen["edges_processed"], cap))
    with SuperstepCache(spark, partitions=parts):
        for k in range(start_round, max_rounds):
            e2, seen = loop.commit(
                _small_star(_large_star(e)), k, _edge_figures(seen)
            )
            loop.release(e)  # prev round's blocks are dead past this point
            e = e2
            if seen["changed"] == 0:
                break
        else:
            if start_round < max_rounds:
                raise RuntimeError(
                    f"connected_components did not converge in {max_rounds} rounds"
                )

    # Converged star edges map node -> component min; roots and
    # isolated nodes map to themselves.
    return vertices.join(
        e.select(F.col("src").alias("id"), F.col("dst").alias("component")),
        "id",
        "left",
    ).select("id", F.coalesce("component", "id").alias("component"))


def weakly_connected_components(g: SparkGraph, **kwargs) -> DataFrame:
    """``networkx/algorithms/components/weakly_connected.py:15`` — components
    of the underlying undirected graph."""
    return connected_components(g, **kwargs)


def _component_scalar(g: SparkGraph, scalar, checkpoint_store=None, **kwargs):
    """``scalar`` of ``g``'s component labeling. It runs inside the
    labeling's runtime, whose exit releases every snapshot the run made
    and none that ``g`` reads."""
    with SuperstepCache(g.spark, store=checkpoint_store) as loop:
        return scalar(_components(g, loop, **kwargs))


def number_connected_components(g: SparkGraph, **kwargs) -> int:
    """``connected.py:94``."""
    return _component_scalar(
        g, lambda cc: cc.agg(F.countDistinct("component")).first()[0], **kwargs
    )


def component_sizes(g: SparkGraph, **kwargs) -> DataFrame:
    """DataFrame (component, size) — the distributed stand-in for
    ``[len(c) for c in connected_components(G)]``."""
    return (
        connected_components(g, **kwargs)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
    )


def is_connected(g: SparkGraph) -> bool:
    """True iff the undirected graph has exactly one component
    (``components/connected.py``; raises on directed like the decorator,
    and on the null graph like the reference)."""
    if g.directed:
        from linkgraph.exceptions import NotImplementedForDirected

        raise NotImplementedForDirected(
            "is_connected: not implemented for directed type"
        )
    return _one_component(g)


def is_weakly_connected(g: SparkGraph) -> bool:
    """True iff the digraph's underlying undirected graph is connected
    (``components/weakly_connected.py``; raises on undirected input and
    the null graph like the reference)."""
    if not g.directed:
        raise ValueError(
            "is_weakly_connected: not implemented for undirected type"
        )
    return _one_component(g)


def _one_component(g: SparkGraph) -> bool:
    """Whether ``g``'s labeling has one component: a second distinct label
    ends the scan, so no full count of the labels runs. No label at all is
    the null graph, on which connectivity is undefined."""
    labels = _component_scalar(
        g, lambda cc: cc.select("component").distinct().limit(2).count()
    )
    if labels == 0:
        raise ValueError("Connectivity is undefined for the null graph.")
    return labels == 1


def node_connected_component(g: SparkGraph, n: int) -> DataFrame:
    """(id): the nodes of n's connected component
    (``components/connected.py:380`` ``node_connected_component``) — one
    filter over the distributed component labeling."""
    cc = connected_components(g)
    lab = cc.filter(F.col("id") == int(n)).select(
        F.col("component").alias("c")
    )
    return cc.join(F.broadcast(lab), cc["component"] == F.col("c")).select("id")


def number_weakly_connected_components(g: SparkGraph) -> int:
    """``weakly_connected.py:109`` — distinct WCC labels."""
    return _component_scalar(
        g, lambda cc: cc.select("component").distinct().count()
    )
