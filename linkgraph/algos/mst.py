"""Minimum spanning tree / forest — distributed Borůvka.

Reference: ``networkx/algorithms/tree/mst.py:47`` (``boruvka_mst_edges``) —
the one MST algorithm whose structure distributes (SURVEY §2.M note):
Kruskal needs a global edge sort + a sequential union-find; Prim grows one
frontier. Borůvka instead repeats two data-parallel steps O(log n) times:

1. every component picks its minimum-weight outgoing edge (a per-key
   ``min_by`` aggregation — map-side combinable, no sort),
2. the picked edges merge their endpoint components (a connected-components
   pass over the ≤#components picked rows — the hash-to-min loop from
   :mod:`linkgraph.algos.components`, itself O(log) on an input that
   shrinks geometrically).

Tie-breaking: the reference follows Python ``min`` over ``(weight, u, v)``
iteration order, which is arbitrary for equal weights; this twin breaks
ties deterministically on ``(weight, src, dst)`` of the canonical
(src < dst) edge, so results are reproducible across runs and partition
layouts. On distinct edge weights the MST is unique and matches the
reference exactly (pinned in tests); with ties both produce *a* valid MST
of identical total weight.

Scale notes: the per-round state is one (node → component) table and the
edge table tagged with current component labels; both shuffles key on the
component id. Edges internal to a component are dropped as soon as both
endpoints agree, so the live edge set shrinks every round alongside the
component count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.algos.components import _components
from linkgraph.iterutils import SuperstepCache, loop_partitions, row_count

__all__ = [
    "minimum_spanning_edges",
    "minimum_spanning_tree",
    "maximum_spanning_tree",
]


def minimum_spanning_edges(
    g: SparkGraph, *, weight=None, max_rounds: int = 50, maximum: bool = False
) -> DataFrame:
    """Edges of the minimum (or maximum) spanning forest:
    ``(src BIGINT, dst BIGINT, weight DOUBLE)``, canonical ``src < dst``
    orientation. A forest: one tree per connected component
    (``nx.minimum_spanning_edges`` semantics for disconnected graphs).

    ``weight`` accepts ``None`` (the ``weight`` column), a column name, a
    SQL expression string, or a ``Column`` — the Spark twin of the
    reference's per-edge weight callable; see
    :func:`linkgraph.graph.resolve_weight_column`.
    """
    if g.directed:
        raise ValueError("minimum_spanning_edges: undirected graphs only")
    spark = g.spark
    # canonical simple edge view; parallel edges keep the best weight so the
    # per-component argmin is over the same candidate set as the reference
    from linkgraph.graph import resolve_weight_column

    best = F.min if not maximum else F.max
    wexpr = resolve_weight_column(g.edges, weight).alias("weight")
    edges = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst", wexpr)
        .groupBy("src", "dst")
        .agg(best("weight").alias("weight"))
    )
    sign = F.lit(-1.0) if maximum else F.lit(1.0)

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = loop_partitions(edges.count(), cap)
    with SuperstepCache(spark, partitions=parts) as loop:
        live = loop.truncate(edges)
        # node -> component label (init: own id)
        comp = loop.truncate(g.vertices.select("id", F.col("id").alias("c")))
        chosen = None  # accumulated forest edges
        for _ in range(max_rounds):
            lab_s = comp.select(F.col("id").alias("src"), F.col("c").alias("c_src"))
            lab_d = comp.select(F.col("id").alias("dst"), F.col("c").alias("c_dst"))
            tagged = live.join(lab_s, "src").join(lab_d, "dst")
            # drop intra-component edges permanently (they can never be picked)
            ext = tagged.filter(F.col("c_src") != F.col("c_dst"))
            # each component's best outgoing edge, deterministic tie-break on
            # (weight, src, dst); both endpoint components score the edge
            cand = ext.select(
                "src", "dst", "weight", F.col("c_src").alias("c")
            ).unionByName(
                ext.select("src", "dst", "weight", F.col("c_dst").alias("c"))
            )
            key = F.struct(
                (sign * F.col("weight")).alias("w"), F.col("src"), F.col("dst")
            )
            picked, seen = loop.truncate(
                cand.groupBy("c")
                .agg(F.min_by(F.struct("src", "dst", "weight"), key).alias("e"))
                .select("e.src", "e.dst", "e.weight")
                .distinct(),  # the two endpoint components may pick the same edge
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            chosen = loop.truncate(
                picked if chosen is None else chosen.unionByName(picked),
                retire=chosen,
            )
            # contract: CC over the picked component-graph merges labels
            merge_pairs = (
                picked.join(lab_s, "src")
                .join(lab_d, "dst")
                .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
            )
            merged = _components(
                SparkGraph(
                    merge_pairs,
                    comp.select(F.col("c").alias("id")).distinct(),
                    directed=False,
                    coalesce_edges=False,
                ),
                loop,
            ).select(F.col("id").alias("c"), F.col("component").alias("c_new"))
            # materialize both successors before releasing: new_live reads
            # comp (via ext), and merged reads comp, picked and the round's
            # component labeling
            new_live = loop.truncate(ext.select("src", "dst", "weight"))
            new_comp = loop.truncate(
                comp.join(merged, "c").select("id", F.col("c_new").alias("c"))
            )
            loop.release([live, merged])
            live, comp = new_live, new_comp
        if chosen is None:
            return spark.createDataFrame([], "src long, dst long, weight double")
        return loop.result(chosen)


def minimum_spanning_tree(
    g: SparkGraph, *, weight=None, max_rounds: int = 50
) -> SparkGraph:
    """Spanning forest as a graph over the same vertex set
    (``nx.minimum_spanning_tree``, ``tree/mst.py:579``)."""
    return SparkGraph(
        minimum_spanning_edges(g, weight=weight, max_rounds=max_rounds),
        g.vertices.select("id"),
        directed=False,
        coalesce_edges=False,
    )


def maximum_spanning_tree(
    g: SparkGraph, *, weight=None, max_rounds: int = 50
) -> SparkGraph:
    """``nx.maximum_spanning_tree`` (``tree/mst.py:661``)."""
    return SparkGraph(
        minimum_spanning_edges(g, weight=weight, max_rounds=max_rounds, maximum=True),
        g.vertices.select("id"),
        directed=False,
        coalesce_edges=False,
    )


def maximum_spanning_edges(g: SparkGraph, *, weight=None, max_rounds: int = 50) -> DataFrame:
    """``mst.py`` ``maximum_spanning_edges`` — the max-weight forest."""
    return minimum_spanning_edges(
        g, weight=weight, max_rounds=max_rounds, maximum=True
    )


class EdgePartition:
    """``tree/mst.py`` ``EdgePartition`` — edge states for the partition
    scheme (plain ints so the values round-trip through edge columns)."""

    OPEN = 0
    INCLUDED = 1
    EXCLUDED = 2


# Edges the driver-gated spanning-tree searches collect.
_DRIVER_EDGES = 1_000_000


def _collect_weighted(g, weight):
    from linkgraph.graph import driver_rows, resolve_weight_column

    base = g.edges.filter(F.col("src") != F.col("dst"))
    cols = [
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        resolve_weight_column(base, weight).alias("w"),
    ]
    arcs = base.select(*cols).groupBy("u", "v").agg(F.min("w").alias("w"))
    edges = [
        (r["u"], r["v"], float(r["w"]))
        for r in driver_rows(arcs, _DRIVER_EDGES, "driver-gated spanning-tree search")
    ]
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    return edges, nodes


def _kruskal_partition(edges, nodes, partition, minimum):
    """Minimum (or maximum) spanning tree respecting a partition dict
    {(u, v): EdgePartition state}; returns (weight, tree edge list) or
    None when the constraints admit no spanning tree."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    included = [
        e for e in edges if partition.get((e[0], e[1])) == EdgePartition.INCLUDED
    ]
    open_edges = [
        e for e in edges if partition.get((e[0], e[1]), EdgePartition.OPEN)
        == EdgePartition.OPEN
    ]
    tree = []
    total = 0.0
    for u, v, w in included:
        ru, rv = find(u), find(v)
        if ru == rv:
            return None  # forced cycle
        parent[rv] = ru
        tree.append((u, v, w))
        total += w
    for u, v, w in sorted(
        open_edges, key=lambda e: (e[2] if minimum else -e[2], e[0], e[1])
    ):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
            tree.append((u, v, w))
            total += w
    if len(tree) != len(nodes) - 1:
        return None
    return total, tree


def partition_spanning_tree(
    g,
    minimum: bool = True,
    weight="weight",
    partition: str = "partition",
):
    """``tree/mst.py`` ``partition_spanning_tree`` — the min/max spanning
    tree honoring per-edge INCLUDED/EXCLUDED constraints carried in the
    ``partition`` edge column (:class:`EdgePartition` values; missing =
    OPEN). Returns a SparkGraph; raises like the reference when the
    constraints are unsatisfiable."""
    from linkgraph.exceptions import NetworkXException
    from linkgraph.graph import SparkGraph

    edges, nodes = _collect_weighted(g, weight)
    part: dict = {}
    if partition in g.edges.columns:
        rows = g.edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col(partition).alias("p"),
        ).collect()
        for r in rows:
            if r["p"] is not None:
                part[(r["u"], r["v"])] = int(r["p"])
    got = _kruskal_partition(edges, nodes, part, minimum)
    if got is None:
        raise NetworkXException(
            "Partition does not admit a spanning tree"
        )
    _, tree = got
    e = g.spark.createDataFrame(
        [(u, v, w) for u, v, w in sorted(tree)] or [],
        "src long, dst long, weight double",
    )
    return SparkGraph(e, g.vertices.select("id"), directed=False,
                      coalesce_edges=False)


class SpanningTreeIterator:
    """``tree/mst.py`` ``SpanningTreeIterator`` — every spanning tree in
    nondecreasing (or nonincreasing) weight order via the Janssens–
    Sörensen partition scheme over a driver-gated Kruskal (each popped
    partition splits along its tree's open edges). Yields SparkGraphs."""

    def __init__(self, g, weight="weight", minimum: bool = True):
        self.g = g
        self.minimum = minimum
        self.edges, self.nodes = _collect_weighted(g, weight)

    def __iter__(self):
        import heapq

        counter = 0
        heap = []
        sign = 1.0 if self.minimum else -1.0
        first = _kruskal_partition(self.edges, self.nodes, {}, self.minimum)
        if first is not None:
            heapq.heappush(heap, (sign * first[0], counter, {}))
            counter += 1
        while heap:
            _, _, part = heapq.heappop(heap)
            got = _kruskal_partition(self.edges, self.nodes, part, self.minimum)
            total, tree = got
            yield self._to_graph(tree)
            # split: for each open tree edge, a partition excluding it and
            # including the previous ones
            new_part = part.copy()
            for u, v, w in tree:
                if part.get((u, v), EdgePartition.OPEN) != EdgePartition.OPEN:
                    continue
                p_exc = new_part.copy()
                p_exc[(u, v)] = EdgePartition.EXCLUDED
                got2 = _kruskal_partition(
                    self.edges, self.nodes, p_exc, self.minimum
                )
                if got2 is not None:
                    heapq.heappush(heap, (sign * got2[0], counter, p_exc))
                    counter += 1
                new_part[(u, v)] = EdgePartition.INCLUDED

    def _to_graph(self, tree):
        from linkgraph.graph import SparkGraph

        e = self.g.spark.createDataFrame(
            [(u, v, w) for u, v, w in sorted(tree)] or [],
            "src long, dst long, weight double",
        )
        return SparkGraph(e, self.g.vertices.select("id"), directed=False,
                          coalesce_edges=False)


def number_of_weighted_spanning_trees(edges, nodes, multiplicative=True):
    """Weighted spanning-tree count (Kirchhoff determinant on the reduced
    weighted Laplacian) — the sampling kernel for
    :func:`random_spanning_tree`."""
    import numpy as np

    n = len(nodes)
    if n <= 1:
        return 1.0
    pos = {v: i for i, v in enumerate(nodes)}
    L = np.zeros((n, n))
    for u, v, w in edges:
        i, j = pos[u], pos[v]
        L[i, j] -= w
        L[j, i] -= w
        L[i, i] += w
        L[j, j] += w
    return float(np.linalg.det(L[1:, 1:]))


def random_spanning_tree(
    g, weight=None, *, multiplicative: bool = True, seed: int = 42,
):
    """``tree/mst.py`` ``random_spanning_tree`` — sample a spanning tree
    with probability proportional to the product (``multiplicative``) or
    sum (additive) of its edge weights.

    Multiplicative sampling walks the reference's contraction/deletion
    chain with exact inclusion probabilities w_e·T(G/e)/T(G) from the
    weighted Kirchhoff determinant; the additive form enumerates trees
    through :class:`SpanningTreeIterator` and draws by total weight
    (exact, guarded). Deterministic for a fixed ``seed``."""
    import random as _random

    from linkgraph.graph import SparkGraph

    rng = _random.Random(seed)
    edges, nodes = _collect_weighted(g, "1.0" if weight is None else weight)
    if multiplicative:
        chosen = []
        cur_edges = list(edges)
        # union-find over contractions
        rep = {v: v for v in nodes}

        def find(x):
            while rep[x] != x:
                rep[x] = rep[rep[x]]
                x = rep[x]
            return x

        def contracted(edge_list):
            agg: dict = {}
            for u, v, w in edge_list:
                ru, rv = find(u), find(v)
                if ru == rv:
                    continue
                key = (min(ru, rv), max(ru, rv))
                agg[key] = agg.get(key, 0.0) + w
            return [(u, v, w) for (u, v), w in agg.items()]

        for u, v, w in sorted(edges, key=lambda e: (e[0], e[1])):
            ru, rv = find(u), find(v)
            if ru == rv:
                continue
            cur = contracted(edges)
            cur_nodes = sorted({find(x) for x in nodes})
            total = number_of_weighted_spanning_trees(cur, cur_nodes)
            # contract (u, v)
            rep[rv] = ru
            cur_c = contracted(edges)
            cur_nodes_c = sorted({find(x) for x in nodes})
            t_contract = number_of_weighted_spanning_trees(cur_c, cur_nodes_c)
            p = w * t_contract / total if total > 0 else 0.0
            if rng.random() < p:
                chosen.append((u, v, w))
            else:
                # undo contraction, delete the edge instead
                rep[rv] = rv
                edges = [e for e in edges if not (e[0] == u and e[1] == v)]
            if len(chosen) == len(nodes) - 1:
                break
    else:
        trees = []
        weights = []
        for i, t in enumerate(SpanningTreeIterator(g)):
            rows = t.edges.collect()
            tr = [(r["src"], r["dst"], float(r["weight"])) for r in rows]
            trees.append(tr)
            weights.append(sum(w for _, _, w in tr))
            if i > 100_000:
                raise ValueError(
                    "additive random_spanning_tree: too many spanning trees"
                )
        total = sum(weights)
        pick = rng.random() * total
        acc = 0.0
        chosen = trees[-1]
        for tr, w in zip(trees, weights):
            acc += w
            if pick <= acc:
                chosen = tr
                break
    e = g.spark.createDataFrame(
        [(u, v, w) for u, v, w in sorted(chosen)] or [],
        "src long, dst long, weight double",
    )
    return SparkGraph(e, g.vertices.select("id"), directed=False,
                      coalesce_edges=False)
