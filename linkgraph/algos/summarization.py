"""Graph summarization: dedensification and SNAP aggregation.

Reference: ``networkx/algorithms/summarization.py`` —
``dedensify`` (:70, Maccioni & Abadi, KDD 2016) compresses neighborhoods
around high-degree nodes by introducing compressor nodes, and
``snap_aggregation`` (:411, Tian/Hankins/Patel SNAP) groups nodes by
attributes and iteratively splits groups until every group is homogeneous
in its (neighbor-group, edge-type) participation.

Both are relational by nature and map onto Spark directly:

- ``dedensify`` is one degree aggregation + one neighbor-set groupBy: every
  node's set of high-degree neighbors is its compression signature, and a
  signature is materialized as a compressor node exactly when doing so
  removes more edges than it adds. No iteration at all — two shuffles.
- ``snap_aggregation`` is WL-style partition refinement: each round
  re-keys every node by (current group, set of (neighbor-group, edge-type)
  pairs) — one join + one collect_set aggregation per round, converging in
  O(log n)-ish rounds on real attribute graphs. The reference splits one
  group per round (``_snap_eligible_group``/``_snap_split``); splitting
  every group per round converges to the same unique coarsest homogeneous
  refinement (the operator is the standard relational-coarsest-partition
  refinement, whose fixpoint is order-independent), which parity tests
  assert against the reference's output partition.

Scale notes: signatures are ``sort_array(collect_set(...))`` per node —
bounded by distinct (group, type) pairs per node, not by degree, so hub
rows stay small. The groupBy keys are hash-partitioned; no driver state
beyond the convergence counter.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache

__all__ = ["dedensify", "snap_aggregation"]


def dedensify(
    g: SparkGraph, threshold: int
) -> "tuple[SparkGraph, DataFrame]":
    """Compress neighborhoods around high-degree nodes
    (``summarization.py:70``).

    Returns ``(compressed_graph, compressors)`` where ``compressors`` is a
    DataFrame ``(id, members array<long>, covered bigint)`` — one row per
    compressor node, ``members`` the sorted high-degree neighbor set it
    stands for, ``covered`` the number of low-side nodes rewired through
    it. Compressor ids are allocated past ``max(node id)`` deterministically
    (rank over the member arrays), the relational analog of the reference's
    concatenated-name compressor labels.

    A signature group with ``L`` members over ``H`` high-degree targets is
    compressed only when ``H*L > H + L`` (reference: skip when
    ``old_edges <= new_edges``).
    """
    if threshold < 2:
        raise ValueError("The degree threshold must be >= 2")
    from linkgraph.algos.degrees import degrees, in_degrees

    deg = in_degrees(g) if g.directed else degrees(g)
    high = deg.filter(F.col("degree") > threshold).select("id").persist()

    arcs = (g.edges if g.directed else g.symmetric_edges()).select("src", "dst")
    # signature(u) = sorted distinct set of u's high-degree out-neighbors
    sig = (
        arcs.join(high.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("members"))
    )
    groups = (
        sig.groupBy("members")
        .agg(F.collect_set("src").alias("lows"), F.count(F.lit(1)).alias("covered"))
        .withColumn("h", F.size("members"))
        # compress only when it strictly removes edges (old > new)
        .filter(F.col("h") * F.col("covered") > F.col("h") + F.col("covered"))
    )
    base = g.vertices.agg(F.max("id")).collect()[0][0] or 0
    # deterministic compressor ids past the vertex id space
    comp = (
        groups.withColumn(
            "id",
            F.lit(int(base) + 1)
            + F.row_number()
            .over(Window.orderBy(F.col("members").cast("string")))
            .cast("long")
            - F.lit(1),
        )
    ).persist()
    comp.count()

    # rewire: low member u of an applied group loses u->h for every h in the
    # signature and gains u->c; the compressor gains c->h for every h.
    low_map = comp.select("id", F.explode("lows").alias("src")).withColumnRenamed(
        "id", "cid"
    )
    removed = comp.select(
        F.explode("lows").alias("src"), F.explode("members").alias("dst")
    ).select("src", "dst")
    to_comp = low_map.select("src", F.col("cid").alias("dst"))
    from_comp = comp.select(
        F.col("id").alias("src"), F.explode("members").alias("dst")
    )
    if g.directed:
        kept = arcs.join(removed, ["src", "dst"], "left_anti")
    else:
        # anti-join on the canonical single-row storage so both orientations
        # of a removed undirected edge go together
        removed = removed.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        kept = g.edges.select("src", "dst").join(
            removed, ["src", "dst"], "left_anti"
        )
    new_edges = kept.unionByName(to_comp).unionByName(from_comp)
    verts = g.vertices.select("id").unionByName(comp.select("id"))
    out = SparkGraph(
        new_edges, verts, directed=g.directed, coalesce_edges=False
    )
    high.unpersist()
    return out, comp.select("id", "members", "covered")


def snap_aggregation(
    g: SparkGraph,
    node_attributes: Sequence[str],
    edge_attributes: Sequence[str] = (),
    *,
    max_iter: int = 1000,
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """SNAP summary graph (``summarization.py:411``).

    Returns ``(supernodes, superedges, assignment)``:

    - ``assignment(id, group)`` — final node→supernode partition,
      ``group`` a dense 0-based id;
    - ``supernodes(group, <node_attributes...>, size)``;
    - ``superedges(group_u, group_v, types)`` — ``types`` the sorted set of
      edge-type tuples (JSON-encoded structs of ``edge_attributes``, or
      ``"*"`` when no edge attributes are given) present between the two
      groups; undirected superedges are canonical ``group_u <= group_v``.

    Groups are split by (neighbor-group, edge-type) participation until
    homogeneous, exactly the reference's stability criterion; all groups
    split each round (see module docstring for why the fixpoint matches).
    """
    for a in node_attributes:
        if a not in g.vertices.columns:
            raise ValueError(f"node attribute column missing: {a}")
    for a in edge_attributes:
        if a not in g.edges.columns:
            raise ValueError(f"edge attribute column missing: {a}")

    arcs = g.edges if g.directed else g.symmetric_edges()
    if edge_attributes:
        arcs = arcs.select(
            "src", "dst", F.to_json(F.struct(*edge_attributes)).alias("etype")
        )
    else:
        arcs = arcs.select("src", "dst", F.lit("*").alias("etype"))
    attrs_json = F.to_json(F.struct(*node_attributes))
    assign = g.vertices.select(
        "id", F.xxhash64(attrs_json).alias("group")
    )

    with SuperstepCache(g.spark) as cache:
        arcs = cache.pin(arcs)
        prev = None
        n_groups = -1
        for _ in range(max_iter):
            nbr_groups = assign.withColumnRenamed("id", "dst").withColumnRenamed(
                "group", "nbr_group"
            )
            sig = (
                arcs.join(nbr_groups, "dst")
                .select("src", F.struct("nbr_group", "etype").alias("p"))
                .groupBy("src")
                .agg(F.sort_array(F.collect_set("p")).alias("sig"))
            )
            nxt = (
                assign.join(sig.withColumnRenamed("src", "id"), "id", "left")
                .select(
                    "id",
                    F.xxhash64(
                        F.col("group"), F.coalesce(F.to_json("sig"), F.lit("[]"))
                    ).alias("group"),
                )
            )
            nxt = cache.truncate(nxt, retire=prev)
            prev = nxt
            k = nxt.select("group").distinct().count()
            if k == n_groups:
                assign = nxt
                break
            n_groups = k
            assign = nxt

        # densify group ids (small table: one row per group)
        dense = (
            assign.groupBy("group")
            .agg(F.min("id").alias("rep"), F.count(F.lit(1)).alias("size"))
            .select(
                "group",
                "size",
                (F.dense_rank().over(Window.orderBy("rep")) - 1).alias("g"),
            )
        )
        assignment = cache.result(
            cache.truncate(
                assign.join(dense.select("group", "g"), "group")
                .select("id", F.col("g").alias("group"))
            )
        )

        supernodes = (
            g.vertices.select("id", *node_attributes)
            .join(assignment, "id")
            .groupBy("group")
            .agg(
                *[F.first(a).alias(a) for a in node_attributes],
                F.count(F.lit(1)).alias("size"),
            )
        )
        eg = (
            arcs.join(assignment.withColumnRenamed("id", "src"), "src")
            .withColumnRenamed("group", "group_u")
            .join(
                assignment.withColumnRenamed("id", "dst").withColumnRenamed(
                    "group", "group_v"
                ),
                "dst",
            )
        )
        if not g.directed:
            eg = eg.select(
                F.least("group_u", "group_v").alias("group_u"),
                F.greatest("group_u", "group_v").alias("group_v"),
                "etype",
            )
        superedges = (
            eg.groupBy("group_u", "group_v")
            .agg(F.sort_array(F.collect_set("etype")).alias("types"))
        )
        return supernodes, superedges, assignment
