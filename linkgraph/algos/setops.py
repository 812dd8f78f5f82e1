"""Binary set operations on graphs and BFS traversal.

Set-op semantics match ``networkx/algorithms/operators/binary.py``:

- ``intersection`` (``binary.py:138``): nodes common to both plus edges
  present in both.
- ``difference`` (``binary.py:183``): the edges of G absent from H; the
  node sets must be equal (raises otherwise, ``binary.py:214-216``).
- ``symmetric_difference`` (``binary.py:238``): same node-set contract;
  edges in exactly one of the two.
- ``compose`` (``binary.py:301``): union of nodes and edges (H's edge
  attributes win on conflict — here: H's weight wins).
- ``union`` (``binary.py:20``): requires disjoint node sets (raises on
  overlap, matching the reference).
- ``complement`` / ``reverse`` (``operators/unary.py:9,45``).

BFS semantics match ``networkx/algorithms/shortest_paths/unweighted.py:22``
(``single_source_shortest_path_length``) generalized to multiple sources:
frontier-expansion supersteps, each one join + dedup, lineage truncated per
level.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count


def _check_directedness(g: SparkGraph, h: SparkGraph):
    if g.directed != h.directed:
        raise ValueError("G and H must both be directed or undirected")


def intersection(g: SparkGraph, h: SparkGraph) -> SparkGraph:
    _check_directedness(g, h)
    v = g.vertices.select("id").join(h.vertices.select("id"), "id", "left_semi")
    e = g.edges.join(h.edges.select("src", "dst"), ["src", "dst"], "left_semi")
    return SparkGraph(e, v, directed=g.directed, coalesce_edges=False)


def _require_same_nodes(g: SparkGraph, h: SparkGraph, fn: str):
    only_g = g.vertices.select("id").join(h.vertices.select("id"), "id", "left_anti")
    only_h = h.vertices.select("id").join(g.vertices.select("id"), "id", "left_anti")
    if only_g.limit(1).count() or only_h.limit(1).count():
        raise ValueError(f"{fn}: node sets of G and H are not equal")


def difference(g: SparkGraph, h: SparkGraph) -> SparkGraph:
    _check_directedness(g, h)
    _require_same_nodes(g, h, "difference")
    e = g.edges.join(h.edges.select("src", "dst"), ["src", "dst"], "left_anti")
    return SparkGraph(e, g.vertices, directed=g.directed, coalesce_edges=False)


def symmetric_difference(g: SparkGraph, h: SparkGraph) -> SparkGraph:
    _check_directedness(g, h)
    _require_same_nodes(g, h, "symmetric_difference")
    e1 = g.edges.join(h.edges.select("src", "dst"), ["src", "dst"], "left_anti")
    e2 = h.edges.join(g.edges.select("src", "dst"), ["src", "dst"], "left_anti")
    return SparkGraph(
        e1.unionByName(e2), g.vertices, directed=g.directed, coalesce_edges=False
    )


def compose(g: SparkGraph, h: SparkGraph) -> SparkGraph:
    """Union keeping common nodes; H's edge weight wins on shared (src, dst)
    (``binary.py:301``: attributes from H take precedence)."""
    _check_directedness(g, h)
    v = g.vertices.select("id").unionByName(h.vertices.select("id")).distinct()
    g_only = g.edges.join(h.edges.select("src", "dst"), ["src", "dst"], "left_anti")
    e = g_only.unionByName(h.edges)
    return SparkGraph(e, v, directed=g.directed, coalesce_edges=False)


def union(g: SparkGraph, h: SparkGraph) -> SparkGraph:
    """Disjoint-node-set union; raises when the node sets intersect
    (``binary.py:20`` — the reference raises on non-disjoint sets)."""
    _check_directedness(g, h)
    overlap = g.vertices.select("id").join(
        h.vertices.select("id"), "id", "left_semi"
    )
    if overlap.limit(1).count():
        raise ValueError("union: node sets of G and H are not disjoint")
    return SparkGraph(
        g.edges.unionByName(h.edges),
        g.vertices.select("id").unionByName(h.vertices.select("id")),
        directed=g.directed,
        coalesce_edges=False,
    )


def disjoint_union(g: SparkGraph, h: SparkGraph) -> SparkGraph:
    """``binary.py:84`` / ``all.py:73`` ``disjoint_union_all``: relabel G to
    0..n-1 and H to n..n+m-1, then union — collisions are impossible by
    construction. The reference numbers nodes in iteration order; the
    distributed twin uses ascending-id order (the deterministic choice) —
    the same graph up to the documented relabeling convention."""
    _check_directedness(g, h)
    from linkgraph.graph import SparkGraph as SG, convert_node_labels_to_integers

    g2, _ = convert_node_labels_to_integers(g)
    h2, _ = convert_node_labels_to_integers(h)
    n = g2.number_of_nodes()
    h_edges = h2.edges.select(
        (F.col("src") + n).alias("src"), (F.col("dst") + n).alias("dst"), "weight"
    )
    h_verts = h2.vertices.select((F.col("id") + n).alias("id"))
    return SG(
        g2.edges.unionByName(h_edges),
        g2.vertices.select("id").unionByName(h_verts),
        directed=g.directed,
        coalesce_edges=False,
    )


def full_join(g: SparkGraph, h: SparkGraph) -> SparkGraph:
    """``binary.py:383``: the union of G and H plus ALL edges between them
    (both directions when directed). Node sets must be disjoint (raises
    like ``union``). O(|G|·|H|) new edges by definition — the caller owns
    that size."""
    u = union(g, h)
    cross = g.vertices.select(F.col("id").alias("src")).crossJoin(
        h.vertices.select(F.col("id").alias("dst"))
    )
    if g.directed:
        cross = cross.unionByName(
            h.vertices.select(F.col("id").alias("src")).crossJoin(
                g.vertices.select(F.col("id").alias("dst"))
            )
        )
    from linkgraph.graph import SparkGraph as SG

    return SG(
        u.edges.unionByName(cross.withColumn("weight", F.lit(1.0))),
        u.vertices,
        directed=g.directed,
        coalesce_edges=False,
    )


def union_all(graphs: list) -> SparkGraph:
    """``operators/all.py:11`` — fold of pairwise disjoint-set unions."""
    if not graphs:
        raise ValueError("cannot apply union_all to an empty list")
    out = graphs[0]
    for h in graphs[1:]:
        out = union(out, h)
    return out


def compose_all(graphs: list) -> SparkGraph:
    """``operators/all.py:135`` — fold of ``compose`` (rightmost wins)."""
    if not graphs:
        raise ValueError("cannot apply compose_all to an empty list")
    out = graphs[0]
    for h in graphs[1:]:
        out = compose(out, h)
    return out


def intersection_all(graphs: list) -> SparkGraph:
    """``operators/all.py:186`` — fold of ``intersection``."""
    if not graphs:
        raise ValueError("cannot apply intersection_all to an empty list")
    out = graphs[0]
    for h in graphs[1:]:
        out = intersection(out, h)
    return out


def disjoint_union_all(graphs: list) -> SparkGraph:
    """``operators/all.py:73`` — fold of ``disjoint_union``."""
    if not graphs:
        raise ValueError("cannot apply disjoint_union_all to an empty list")
    out = graphs[0]
    for h in graphs[1:]:
        out = disjoint_union(out, h)
    return out


def complement(g: SparkGraph) -> SparkGraph:
    """All node pairs without an edge, self-loops excluded
    (``operators/unary.py:9``). O(n²) by definition — small graphs only."""
    v = g.vertices.select("id")
    pairs = v.crossJoin(v.select(F.col("id").alias("id2"))).filter(
        F.col("id") != F.col("id2")
    )
    if not g.directed:
        pairs = pairs.filter(F.col("id") < F.col("id2"))
    pairs = pairs.select(F.col("id").alias("src"), F.col("id2").alias("dst"))
    e = pairs.join(
        g.symmetric_edges().select("src", "dst")
        if g.directed
        else g.edges.select("src", "dst"),
        ["src", "dst"],
        "left_anti",
    )
    return SparkGraph(e, v, directed=g.directed, coalesce_edges=False)


def reverse(g: SparkGraph) -> SparkGraph:
    return g.reverse()


# --------------------------------------------------------------------- #
# BFS
# --------------------------------------------------------------------- #


def shortest_path_lengths(
    g: SparkGraph,
    sources,
    *,
    max_depth: Optional[int] = None,
) -> DataFrame:
    """Unweighted shortest-path length from the nearest source:
    ``(id BIGINT, distance BIGINT)``; unreachable nodes are absent, like the
    reference's result dict (``unweighted.py:22``).

    ``sources`` is an iterable of node ids or a one-column DataFrame.
    Frontier superstep: join the frontier with the arc table, drop already
    visited, dedup — one shuffle per BFS level.
    """
    spark = g.spark
    if isinstance(sources, DataFrame):
        src_df = sources.select(
            F.col(sources.columns[0]).cast("long").alias("id")
        )
    else:
        src_df = spark.createDataFrame([(int(s),) for s in sources], "id long")
    src_df = src_df.join(g.vertices.select("id"), "id", "left_semi")

    adj = g.symmetric_edges().select("src", "dst") if not g.directed else g.edges.select("src", "dst")
    with SuperstepCache(spark) as cache:
        adj = cache.pin(adj)
        visited = cache.truncate(
            src_df.select("id", F.lit(0).cast("long").alias("distance"))
        )
        frontier = visited
        depth = 0
        while max_depth is None or depth < max_depth:
            depth += 1
            nxt = (
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(visited, "id", "left_anti")
                .select("id", F.lit(depth).cast("long").alias("distance"))
            )
            nxt, seen = cache.truncate(nxt, figures=row_count())
            if seen["rows"] == 0:
                break
            visited = cache.truncate(visited.unionByName(nxt), retire=visited)
            frontier = nxt
        return cache.result(visited)


def bfs_layers(g: SparkGraph, sources) -> DataFrame:
    """``networkx/algorithms/traversal/breadth_first_search.py:406``
    (``bfs_layers`` yields each BFS layer): DataFrame ``(id, layer)`` —
    layer k = nodes at unweighted distance k from the nearest source."""
    return shortest_path_lengths(g, sources).select(
        "id", F.col("distance").alias("layer")
    )


def bfs_tree_edges(g: SparkGraph, source, *, depth_limit=None) -> DataFrame:
    """BFS tree arcs (``breadth_first_search.py:109,198`` ``bfs_edges`` /
    ``bfs_tree``): DataFrame ``(src, dst, depth)`` where src is dst's tree
    parent and depth = dst's BFS distance.

    The reference's parent choice follows adjacency (insertion) order —
    meaningless under distribution — so the deterministic rule here is
    **minimum-id parent** among the neighbors one level closer. Any such
    choice yields a valid BFS tree of the same layer structure; tests
    verify layer parity plus tree validity.
    """
    dist = shortest_path_lengths(g, [source], max_depth=depth_limit).persist()
    adj = (
        g.symmetric_edges().select("src", "dst")
        if not g.directed
        else g.edges.select("src", "dst")
    )
    parents = (
        adj.join(dist.select(F.col("id").alias("src"), F.col("distance").alias("ds")), "src")
        .join(dist.select(F.col("id").alias("dst"), F.col("distance").alias("dd")), "dst")
        .filter(F.col("ds") + 1 == F.col("dd"))
        .groupBy("dst")
        .agg(F.min("src").alias("src"), F.first("dd").alias("depth"))
        .select("src", "dst", F.col("depth").cast("long").alias("depth"))
    )
    return parents


def bfs_tree(g: SparkGraph, source, *, depth_limit=None) -> SparkGraph:
    """The BFS tree as a directed SparkGraph rooted at ``source``
    (``breadth_first_search.py:198``)."""
    e = bfs_tree_edges(g, source, depth_limit=depth_limit).select(
        "src", "dst", F.lit(1.0).alias("weight")
    )
    v = e.select(F.col("dst").alias("id")).unionByName(
        g.spark.createDataFrame([(int(source),)], "id long")
    ).distinct()
    return SparkGraph(e, v, directed=True, coalesce_edges=False)


def ego_graph(
    g: SparkGraph,
    n,
    radius=1,
    *,
    center: bool = True,
    undirected: bool = False,
    distance=None,
) -> SparkGraph:
    """Induced subgraph of nodes within ``radius`` of ``n``
    (``networkx/generators/ego.py:10``).

    ``distance=<edge attr / Column / SQL expression>`` measures the radius
    by weighted shortest-path length (the reference's
    ``single_source_dijkstra`` arm; here the Bellman-Ford relaxation loop
    whose distances are identical). ``undirected=True`` expands over both
    arc directions of a directed graph; the induced subgraph keeps the
    original orientation, exactly like the reference's
    ``G.subgraph(sp)``.
    """
    base = g.undirected_view() if (undirected and g.directed) else g
    if distance is not None:
        from linkgraph.algos.sssp import weighted_shortest_path_lengths

        d = weighted_shortest_path_lengths(base, [n], weight=distance)
        reach = d.filter(F.col("distance") <= radius).select("id")
    else:
        reach = shortest_path_lengths(base, [n], max_depth=int(radius)).select("id")
    if not center:
        reach = reach.filter(F.col("id") != int(n))
    return g.subgraph(reach)


def descendants_at_distance(g: SparkGraph, source, distance: int) -> DataFrame:
    """Nodes at exactly `distance` from source
    (``breadth_first_search.py:540``)."""
    d = shortest_path_lengths(g, [source], max_depth=distance)
    return d.filter(F.col("distance") == distance).select("id")


def descendants(g: SparkGraph, source) -> DataFrame:
    """All nodes reachable from source, excluding it
    (``networkx/algorithms/dag.py:39``)."""
    d = shortest_path_lengths(g, [source])
    return d.filter(F.col("distance") > 0).select("id")


def ancestors(g: SparkGraph, source) -> DataFrame:
    """All nodes with a path TO source, excluding it
    (``networkx/algorithms/dag.py:76``) — BFS on the reversed graph."""
    d = shortest_path_lengths(g.reverse(), [source])
    return d.filter(F.col("distance") > 0).select("id")


def quotient_graph(
    g: SparkGraph, partition: DataFrame, weight: "str | None" = "weight"
) -> SparkGraph:
    """Block quotient of a node partition —
    ``networkx/algorithms/minors/contraction.py:60`` ``quotient_graph``
    with the default relation (blocks adjacent iff some edge joins them)
    and default edge data (weight = sum of the joining edges' ``weight``
    attribute per the reference kwarg; missing column or ``weight=None``
    counts edges). ``partition`` is an (id, block) DataFrame covering
    every node exactly once (raises otherwise, like the reference's
    NetworkXException).

    One edges⋈labels⋈labels tagging pass + a hash aggregation — the same
    coarsening join the Louvain level loop uses internally, exposed as the
    public operator.
    """
    from linkgraph.algos.community import _require_partition

    _require_partition(g, partition)
    part = partition.select(
        F.col(partition.columns[0]).cast("long").alias("id"),
        F.col(partition.columns[1]).cast("long").alias("block"),
    )
    lab_s = part.select(F.col("id").alias("src"), F.col("block").alias("bu"))
    lab_d = part.select(F.col("id").alias("dst"), F.col("block").alias("bv"))
    if weight is None or weight not in g.edges.columns:
        wsel = F.lit(1.0).alias("weight")
    else:
        wsel = F.col(weight).cast("double").alias("weight")
    tagged = (
        g.edges.select("src", "dst", wsel)
        .join(lab_s, "src")
        .join(lab_d, "dst")
        .filter(F.col("bu") != F.col("bv"))
    )
    if g.directed:
        # the reference's default edge_data sums BOTH directions between
        # two blocks into every directed block edge (contraction.py:
        # ``(u in b and v in c) or (u in c and v in b)``)
        per_dir = tagged.groupBy(
            F.col("bu").alias("src"), F.col("bv").alias("dst")
        ).agg(F.sum("weight").alias("w_fwd"))
        rev = per_dir.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.col("w_fwd").alias("w_rev"),
        )
        e = per_dir.join(rev, ["src", "dst"], "left").select(
            "src",
            "dst",
            (F.col("w_fwd") + F.coalesce("w_rev", F.lit(0.0))).alias("weight"),
        )
    else:
        e = tagged.groupBy(
            F.least("bu", "bv").alias("src"), F.greatest("bu", "bv").alias("dst")
        ).agg(F.sum("weight").alias("weight"))
    v = part.select(F.col("block").alias("id")).distinct()
    return SparkGraph(e, vertices=v, directed=g.directed, coalesce_edges=False)


def contracted_nodes(
    g: SparkGraph, u: int, v: int, *, self_loops: bool = True
) -> SparkGraph:
    """Identify node v into node u
    (``networkx/algorithms/minors/contraction.py:431`` ``contracted_nodes``):
    every edge endpoint v is rewritten to u; edges between u and v become
    self-loops on u when ``self_loops`` (dropped otherwise). Pure column
    rewriting — one select, no join."""
    u, v = int(u), int(v)
    e = g.edges.select(
        F.when(F.col("src") == v, F.lit(u)).otherwise(F.col("src")).alias("src"),
        F.when(F.col("dst") == v, F.lit(u)).otherwise(F.col("dst")).alias("dst"),
        "weight",
    )
    if not self_loops:
        e = e.filter(~((F.col("src") == u) & (F.col("dst") == u)))
    verts = g.vertices.select("id").filter(F.col("id") != v)
    return SparkGraph(e, verts, directed=g.directed, coalesce_edges=False)


# the reference's alias (contraction.py:560)
identified_nodes = contracted_nodes


def contracted_edge(
    g: SparkGraph, u: int, v: int, *, self_loops: bool = True
) -> SparkGraph:
    """Contract the edge (u, v) (``contraction.py:575``); raises when the
    edge does not exist, like the reference."""
    u, v = int(u), int(v)
    probe = g.symmetric_edges().filter(
        (F.col("src") == u) & (F.col("dst") == v)
    )
    if probe.limit(1).count() == 0:
        raise ValueError(f"Edge ({u}, {v}) does not exist in the graph")
    return contracted_nodes(g, u, v, self_loops=self_loops)
