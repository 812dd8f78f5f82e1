"""DAG algorithms — topological generations/sort, transitive closure,
longest path.

Semantics match ``networkx/algorithms/dag.py``:

- ``topological_generations`` (``dag.py:244``): generation 0 = zero
  in-degree nodes; each following generation = nodes whose predecessors all
  lie in earlier generations. Kahn peeling — the same loop shape as k_core:
  per round one in-degree aggregation + anti-join, lineage truncated.
  Raises on cycles (``NetworkXUnfeasible: Graph contains a cycle``) and on
  undirected input (``NetworkXNotImplemented``).
- ``topological_sort`` (``dag.py:164``): any linear extension is valid; the
  distributed one orders by (generation, id) — deterministic under
  distribution, unlike the reference's insertion-order tiebreak.
- ``transitive_closure`` (``dag.py:718``): edge (u, v) for every
  non-trivially reachable pair — with ``reflexive=False`` (default) a
  self-pair (v, v) appears exactly when v lies on a cycle (``dag.py:795``
  walks ``edge_bfs``); ``reflexive=True`` adds every self-loop;
  ``reflexive=None`` adds none (only G's own self-loop edges survive).
  Computed by **iterative squaring** — R_{2k} = R_k ∪ (R_k ⋈ R_k) — so a
  diameter-D graph closes in O(log D) join+distinct rounds instead of D.
  Output is O(n²) worst case by definition; the caller owns that choice.
- ``dag_longest_path_length`` (``dag.py:918``): longest weighted path via
  max-relaxation over the generations (the dual of Bellman-Ford min).
  ``default_weight`` fills missing weights like the reference (=1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, check_driver_limit
from linkgraph.exceptions import NetworkXError, NetworkXUnfeasible
from linkgraph.iterutils import SuperstepCache, row_count

# Arcs lexicographical_topological_sort's heap schedule collects, and the
# parent-map rows dag_longest_path collects to walk its path.
_DRIVER_ARCS = 5_000_000
_DRIVER_NODES = 5_000_000
# Arcs the exponential enumerations (all_topological_sorts, antichains)
# collect.
_ENUMERATION_ARCS = 1_000_000


class GraphContainsCycle(NetworkXUnfeasible):
    """Mirror of ``networkx.NetworkXUnfeasible`` raised by topological
    ordering on cyclic input (``dag.py:284-287``)."""

    def __init__(self):
        super().__init__("Graph contains a cycle or graph changed during iteration")


def _require_directed(g: SparkGraph, fn: str):
    if not g.directed:
        raise ValueError(f"{fn}: not defined for undirected graphs")


def topological_generations(
    g: SparkGraph, *, max_rounds: int = 100_000
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, generation BIGINT)`` — the Kahn layer
    of each node (``dag.py:244``). Raises :class:`GraphContainsCycle` when
    nodes remain after peeling (``dag.py:284``)."""
    _require_directed(g, "topological_generations")
    spark = g.spark
    with SuperstepCache(spark) as loop:
        # a self-loop is a 1-cycle
        edges, seen = loop.truncate(
            g.edges.select("src", "dst").distinct(),
            figures={"loops": F.sum((F.col("src") == F.col("dst")).cast("long"))},
        )
        if seen["loops"]:
            raise GraphContainsCycle()
        remaining, seen = loop.truncate(g.vertices.select("id"), figures=row_count())
        left = seen["rows"]
        out = None
        gen = 0
        while left > 0:
            if gen > max_rounds:
                raise RuntimeError("topological_generations exceeded max_rounds")
            with_preds = edges.select(F.col("dst").alias("id")).distinct()
            zero_in, seen = loop.truncate(
                remaining.join(with_preds, "id", "left_anti").select(
                    "id", F.lit(gen).cast("long").alias("generation")
                ),
                figures=row_count(),
            )
            if seen["rows"] == 0:
                raise GraphContainsCycle()
            out = zero_in if out is None else out.unionByName(zero_in)
            gen += 1
            left -= seen["rows"]
            if left == 0:
                break
            remaining = loop.truncate(
                remaining.join(zero_in, "id", "left_anti"), retire=remaining
            )
            edges = loop.truncate(
                edges.join(zero_in.select(F.col("id").alias("src")), "src", "left_anti"),
                retire=edges,
            )
        if out is None:
            return spark.createDataFrame([], "id long, generation long")
        return loop.result(loop.truncate(out))


def topological_sort(g: SparkGraph) -> DataFrame:
    """A deterministic linear extension: DataFrame ``(id, position)`` with
    position 0..n-1 ordered by (generation, id). Any output of
    ``nx.topological_sort`` is one of many valid orders (``dag.py:164``);
    this one is reproducible under distribution. Indexing is
    sort + zipWithIndex — no single-partition window."""
    with SuperstepCache(g.spark) as loop:
        gens = topological_generations(g)
        ordered = gens.sort("generation", "id").select("id")
        out = loop.truncate(
            ordered.rdd.map(lambda r: r[0]).zipWithIndex().toDF(
                ["id", "position"]
            ).select(F.col("id").cast("long"), F.col("position").cast("long"))
        )
        loop.release(gens)
        return loop.result(out)


def is_directed_acyclic_graph(g: SparkGraph) -> bool:
    """``dag.py:91`` — True iff directed and Kahn peeling completes."""
    if not g.directed:
        return False
    with SuperstepCache(g.spark) as loop:
        try:
            loop.release(topological_generations(g))
            return True
        except GraphContainsCycle:
            return False


def transitive_closure(
    g: SparkGraph, *, reflexive=False, max_rounds: int = 64
) -> SparkGraph:
    """``dag.py:718``: G+ with an arc u→v for every non-trivial reachable
    pair (see module docstring for the three ``reflexive`` modes).
    Iterative squaring: O(log diameter) rounds of one self-join + dedup
    each."""
    _require_directed(g, "transitive_closure")
    spark = g.spark
    with SuperstepCache(spark) as loop:
        r, seen = loop.truncate(
            g.edges.select("src", "dst").distinct(), figures=row_count()
        )
        n = seen["rows"]
        for _ in range(max_rounds):
            two_hop = (
                r.select(F.col("src"), F.col("dst").alias("mid"))
                .join(r.select(F.col("src").alias("mid"), "dst"), "mid")
                .select("src", "dst")
            )
            r, seen = loop.truncate(
                r.unionByName(two_hop).distinct(), retire=r, figures=row_count()
            )
            if seen["rows"] == n:
                break
            n = seen["rows"]
        else:
            raise RuntimeError("transitive_closure did not converge")
        loop.result(r)
    if reflexive is True:
        r = r.unionByName(
            g.vertices.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        ).distinct()
    elif reflexive is None:
        # no CREATED self-loops; G's own self-loop edges survive the copy
        r = r.filter(F.col("src") != F.col("dst")).unionByName(
            g.edges.filter(F.col("src") == F.col("dst")).select("src", "dst")
        ).distinct()
    # reflexive=False: keep (v, v) pairs the squaring generated — they
    # exist exactly for nodes on cycles, matching edge_bfs reachability
    out = SparkGraph(
        r.withColumn("weight", F.lit(1.0)),
        g.vertices,
        directed=True,
        coalesce_edges=False,
    )
    return out


def _dag_weight_col(g, weight, default_weight, weighted):
    """The reference's per-edge ``d.get(weight, default_weight)``:
    ``weight`` names an edge column (missing column or NULLs fall back to
    ``default_weight``); ``weight=None`` counts every edge as the
    default. ``weighted`` is the engine's legacy boolean spelling."""
    if weighted is not None:
        weight = "weight" if weighted else None
    if weight is None or weight not in g.edges.columns:
        return F.lit(float(default_weight))
    return F.coalesce(
        F.col(weight).cast("double"), F.lit(float(default_weight))
    )


def dag_longest_path_length(
    g: SparkGraph,
    weight: "str | None" = "weight",
    default_weight: float = 1.0,
    *,
    weighted: "bool | None" = None,
) -> float:
    """``dag.py:918`` — the weight of the longest path in a DAG, with the
    reference's ``weight`` attribute-name contract (missing attribute →
    ``default_weight``). Max-relaxation over topological generations: D
    supersteps of join + groupBy-max where D = the DAG depth."""
    _require_directed(g, "dag_longest_path_length")
    with SuperstepCache(g.spark) as loop:
        # raises on cycles up front (the reference's topological_sort does)
        depth = _dag_depth(g, loop)
        if depth is None:
            return 0.0
        w = _dag_weight_col(g, weight, default_weight, weighted)
        arcs = loop.pin(g.edges.select("src", "dst", w.alias("w")))
        best = {"best": F.max("dist")}
        dist, seen = loop.truncate(
            g.vertices.select("id", F.lit(0.0).alias("dist")), figures=best
        )
        for _ in range(int(depth)):
            cand = (
                arcs.join(dist.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max(F.col("dist") + F.col("w")).alias("cand"))
            )
            dist, seen = loop.truncate(
                dist.join(cand, "id", "left").select(
                    "id",
                    F.greatest("dist", F.coalesce("cand", F.col("dist"))).alias("dist"),
                ),
                retire=dist,
                figures=best,
            )
        return float(seen["best"] or 0.0)


def _dag_depth(g: SparkGraph, loop: SuperstepCache):
    """The last topological generation of ``g`` (None when ``g`` has no
    node); raises :class:`GraphContainsCycle` on a cycle."""
    gens = topological_generations(g)
    depth = gens.agg(F.max("generation")).first()[0]
    loop.release(gens)
    return depth


def moral_graph(g: SparkGraph):
    """Moralization of a directed graph (``networkx/algorithms/
    moral.py:9``): drop directions and marry co-parents — one self-join of
    the arc table on the common child. Returns an undirected
    :class:`SparkGraph`."""
    from linkgraph.graph import SparkGraph

    if not g.directed:
        raise ValueError("moral_graph: graph must be directed")
    e = g.edges.select("src", "dst")
    marry = (
        e.alias("a")
        .join(e.alias("b"), (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .select(F.col("a.src").alias("src"), F.col("b.src").alias("dst"))
    )
    return SparkGraph(
        e.unionByName(marry),
        g.vertices.select("id"),
        directed=False,
        coalesce_edges=True,
    )


def transitive_reduction(g: SparkGraph) -> SparkGraph:
    """``networkx/algorithms/dag.py`` ``transitive_reduction``: the unique
    minimal DAG with the same reachability — edge (u, v) survives iff no
    other path u ⇝ v exists. Raises on non-DAGs like the reference.

    The reference walks descendants per node sequentially; the distributed
    plan marks an edge redundant iff some OTHER first hop reaches v:
    ``E(u, w) ⋈ TC(w, v)`` (the closure is non-reflexive on a DAG, so
    w ≠ v is automatic), then one anti-join. Attributes are not carried
    over, matching the reference's bare-structure output.
    """
    _require_directed(g, "transitive_reduction")
    if not is_directed_acyclic_graph(g):
        raise GraphContainsCycle()
    e = g.edges.select("src", "dst").distinct()
    tc = transitive_closure(g).edges.select(
        F.col("src").alias("mid"), F.col("dst").alias("dst")
    )
    redundant = (
        e.select("src", F.col("dst").alias("mid"))
        .join(tc, "mid")
        .select("src", "dst")
        .distinct()
    )
    return SparkGraph(
        e.join(redundant, ["src", "dst"], "left_anti"),
        g.vertices,
        directed=True,
        coalesce_edges=False,
    )


def lowest_common_ancestors(g: SparkGraph, pairs: DataFrame) -> DataFrame:
    """Per-pair lowest common ancestor on a DAG —
    ``networkx/algorithms/lowest_common_ancestors.py``
    (``all_pairs_lowest_common_ancestor`` semantics: a node is its own
    ancestor; pairs with no common ancestor are absent from the result).

    ``pairs``: DataFrame with two columns (u, v). Returns
    ``(u, v, lca BIGINT)``.

    The reference walks ancestor sets per pair in Python. The distributed
    plan: reflexive transitive closure → per-pair common-ancestor equi-join
    → keep the candidate with the MAXIMUM Kahn generation (a deepest common
    ancestor can have no common-ancestor descendant, so it is always a
    valid LCA; the reference returns an arbitrary one, so parity tests
    check validity, and exactness only where the LCA is unique). Ties break
    to the largest node id, deterministically. Candidate-driven: the
    closure is semi-joined to the queried nodes before expanding, so cost
    scales with the queried ancestor sets, not the full n² closure.
    """
    _require_directed(g, "lowest_common_ancestors")
    spark = g.spark
    uc, vc = pairs.columns[0], pairs.columns[1]
    p = pairs.select(
        F.col(uc).cast("long").alias("u"), F.col(vc).cast("long").alias("v")
    ).distinct()

    wanted = (
        p.select(F.col("u").alias("id"))
        .unionAll(p.select(F.col("v").alias("id")))
        .distinct()
    )
    anc = (
        transitive_closure(g, reflexive=True)
        .edges.select(F.col("src").alias("a"), F.col("dst").alias("id"))
        .join(wanted, "id", "left_semi")
    )
    gen = topological_generations(g)
    au = anc.select(F.col("id").alias("u"), F.col("a").alias("anc_u"))
    av = anc.select(F.col("id").alias("v"), F.col("a").alias("anc_v"))
    common = (
        p.join(au, "u")
        .join(av, "v")
        .filter(F.col("anc_u") == F.col("anc_v"))
        .select("u", "v", F.col("anc_u").alias("lca"))
    )
    return (
        common.join(gen.select(F.col("id").alias("lca"), "generation"), "lca")
        .groupBy("u", "v")
        .agg(F.max(F.struct("generation", "lca")).alias("m"))
        .select("u", "v", F.col("m.lca").alias("lca"))
    )


def lowest_common_ancestor(g: SparkGraph, node1: int, node2: int):
    """Single-pair LCA (``lowest_common_ancestors.py:117``); None when the
    pair has no common ancestor (the reference returns the ``default``)."""
    p = g.spark.createDataFrame([(int(node1), int(node2))], "u long, v long")
    rows = lowest_common_ancestors(g, p).collect()
    return int(rows[0]["lca"]) if rows else None


def all_pairs_lowest_common_ancestor(
    g: SparkGraph, pairs: "Optional[DataFrame]" = None
) -> DataFrame:
    """(u, v, lca) for the given pairs, or EVERY ordered pair when
    ``pairs=None`` (``lowest_common_ancestors.py:29``). The all-pairs
    default is O(n²) rows by definition; pass ``pairs`` at scale."""
    if pairs is None:
        v = g.vertices.select("id")
        pairs = v.select(F.col("id").alias("u")).crossJoin(
            v.select(F.col("id").alias("v"))
        )
    return lowest_common_ancestors(g, pairs)


def tree_all_pairs_lowest_common_ancestor(
    g: SparkGraph, root=None, pairs: "Optional[DataFrame]" = None
) -> DataFrame:
    """Tree-specialized alias (``lowest_common_ancestors.py:167`` —
    Tarjan's offline LCA): on a tree the generic candidate-join plan gives
    identical answers, so this validates the tree-rootedness contract and
    routes to the same kernel."""
    from linkgraph.algos.degrees import in_degrees

    if root is not None:
        zero_in = in_degrees(g).filter(
            (F.col("degree") == 0) & (F.col("id") != int(root))
        )
        if zero_in.limit(1).count() > 0:
            raise ValueError("tree_all_pairs_lca: graph is not rooted at root")
    return all_pairs_lowest_common_ancestor(g, pairs)


def lexicographical_topological_sort(g: SparkGraph, *, key=None) -> "list[int]":
    """Topological order, smallest available node first
    (``networkx/algorithms/dag.py:219`` ``lexicographical_topological_sort``):
    the heap schedule is sequential by definition (each pop depends on all
    previous pops), so it runs driver-gated like the DFS family; the
    DISTRIBUTED ordering remains :func:`topological_generations` (Kahn
    layers). Raises on cycles, like the reference."""
    import heapq

    from linkgraph.algos.dfs import _driver_adjacency

    _require_directed(g, "lexicographical_topological_sort")
    adj, nodes = _driver_adjacency(g, _DRIVER_ARCS)
    key = key or (lambda x: x)
    indeg = {n: 0 for n in nodes}
    for u, vs in adj.items():
        for v in vs:
            indeg[v] += 1
    heap = [(key(n), n) for n in nodes if indeg[n] == 0]
    heapq.heapify(heap)
    out = []
    while heap:
        _, u = heapq.heappop(heap)
        out.append(u)
        for v in adj.get(u, ()):
            indeg[v] -= 1
            if indeg[v] == 0:
                heapq.heappush(heap, (key(v), v))
    if len(out) != len(nodes):
        raise ValueError(
            "Graph contains a cycle or graph changed during iteration"
        )
    return out


def transitive_closure_dag(g: SparkGraph, topo_order=None) -> SparkGraph:
    """``dag.py:829`` — same closure; the reference's DAG-ordered variant
    is a schedule optimization, the squaring kernel's result is identical.
    Raises on cycles like the reference (via topological_generations)."""
    with SuperstepCache(g.spark) as loop:
        loop.release(topological_generations(g))  # cycle check
    return transitive_closure(g, reflexive=False)


def dag_longest_path(
    g: SparkGraph,
    weight: "str | None" = "weight",
    default_weight: float = 1.0,
    *,
    weighted: "bool | None" = None,
) -> "list[int]":
    """``dag.py:842`` — one longest path as a node list, with the
    reference's ``weight`` attribute-name contract. The DP is the
    distributed max-relaxation of :func:`dag_longest_path_length` with a
    parent column; extraction is a size-guarded driver walk."""
    _require_directed(g, "dag_longest_path")
    with SuperstepCache(g.spark) as loop:
        depth = _dag_depth(g, loop)
        if depth is None:
            row = g.vertices.orderBy("id").first()
            return [row["id"]] if row else []
        w = _dag_weight_col(g, weight, default_weight, weighted)
        arcs = loop.pin(g.edges.select("src", "dst", w.alias("w")))
        dist, seen = loop.truncate(
            g.vertices.select(
                "id", F.lit(0.0).alias("dist"), F.lit(None).cast("long").alias("parent")
            ),
            figures=row_count(),
        )
        for _ in range(int(depth)):
            cand = (
                arcs.join(
                    dist.select(F.col("id").alias("src"), F.col("dist").alias("pd")),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                # max by (dist, -src) => deterministic min-id parent on ties
                .agg(
                    F.max(
                        F.struct(
                            (F.col("pd") + F.col("w")).alias("d"),
                            (-F.col("src")).alias("negsrc"),
                        )
                    ).alias("best")
                )
                .select(
                    "id",
                    F.col("best.d").alias("cand"),
                    (-F.col("best.negsrc")).alias("cand_parent"),
                )
            )
            dist = loop.truncate(
                dist.join(cand, "id", "left").select(
                    "id",
                    F.greatest("dist", F.coalesce("cand", F.col("dist"))).alias("dist"),
                    F.when(
                        F.col("cand").isNotNull() & (F.col("cand") >= F.col("dist")),
                        F.col("cand_parent"),
                    )
                    .otherwise(F.col("parent"))
                    .alias("parent"),
                ),
                retire=dist,
            )
        n = seen["rows"]
        check_driver_limit(
            n, _DRIVER_NODES, "dag_longest_path extraction collects the parent map",
            "Use dag_longest_path_length (fully distributed) instead.",
        )
        rows = dist.collect()
    best = max(rows, key=lambda r: (r["dist"], -r["id"]))
    parent = {r["id"]: r["parent"] for r in rows}
    path = [best["id"]]
    while parent.get(path[-1]) is not None:
        path.append(parent[path[-1]])
    return list(reversed(path))


def _collect_arcs(g: SparkGraph):
    """Successor and predecessor sets of every node, from the DFS family's
    arc collection (at most ``_ENUMERATION_ARCS`` distinct arcs)."""
    from linkgraph.algos.dfs import _driver_adjacency

    adj, nodes = _driver_adjacency(
        g, _ENUMERATION_ARCS, what="driver-gated enumeration", hint=""
    )
    succ = {v: set(adj.get(v, ())) for v in nodes}
    pred: dict = {v: set() for v in nodes}
    for u, vs in succ.items():
        for v in vs:
            pred[v].add(u)
    return succ, pred


def all_topological_sorts(g: SparkGraph):
    """Generator over EVERY linear extension of the DAG
    (``dag.py`` ``all_topological_sorts``; Knuth & Szwarcfiter 1974).
    Output is factorial in the worst case — enumeration itself is the
    cost, so the backtracking walk runs driver-side under the size guard
    (ties iterate in ascending id for determinism). Raises
    ``NetworkXUnfeasible`` on cyclic input like the reference."""
    if not g.directed:
        raise NetworkXError(
            "Topological sort not defined on undirected graphs."
        )
    succ, pred = _collect_arcs(g)

    def gen():
        count = {v: len(pred[v]) for v in succ}
        order: list = []
        chosen: list = []

        def backtrack():
            if len(order) == len(succ):
                yield list(order)
                return
            ready = sorted(
                v for v in succ if count[v] == 0 and v not in chosen_set
            )
            if not ready:
                raise NetworkXUnfeasible("Graph contains a cycle.")
            for q in ready:
                order.append(q)
                chosen_set.add(q)
                for j in succ[q]:
                    count[j] -= 1
                yield from backtrack()
                for j in succ[q]:
                    count[j] += 1
                chosen_set.discard(q)
                order.pop()

        chosen_set: set = set()
        if succ and any(count[v] > 0 for v in succ) and not any(
            count[v] == 0 for v in succ
        ):
            raise NetworkXUnfeasible("Graph contains a cycle.")
        yield from backtrack()

    return gen()


def antichains(g: SparkGraph):
    """Generator over every antichain of the DAG (``dag.py``
    ``antichains``): node sets with no two comparable elements, starting
    with the empty antichain. The enumeration is exponential by
    definition — driver-gated; comparability comes from a local DFS
    transitive closure. Order matches the reference's stack schedule over
    the reverse topological order (ties ascending id)."""
    if not g.directed:
        raise NetworkXError("antichains: directed acyclic input required")
    succ, pred = _collect_arcs(g)

    # local topological order (Kahn, min-id ties) + reach closure
    count = {v: len(pred[v]) for v in succ}
    import heapq

    heap = [v for v in succ if count[v] == 0]
    heapq.heapify(heap)
    topo = []
    while heap:
        v = heapq.heappop(heap)
        topo.append(v)
        for w in succ[v]:
            count[w] -= 1
            if count[w] == 0:
                heapq.heappush(heap, w)
    if len(topo) < len(succ):
        raise NetworkXUnfeasible("antichains: graph contains a cycle")
    reach: dict = {}
    for v in reversed(topo):
        r = set()
        for w in succ[v]:
            r.add(w)
            r |= reach[w]
        reach[v] = r

    def gen():
        stacks = [([], list(reversed(topo)))]
        while stacks:
            antichain, stack = stacks.pop()
            yield list(antichain)
            while stack:
                x = stack.pop()
                new_antichain = antichain + [x]
                new_stack = [
                    t for t in stack
                    if t not in reach[x] and x not in reach[t]
                ]
                stacks.append((new_antichain, new_stack))

    return gen()


def root_to_leaf_paths(
    g: SparkGraph, *, max_rounds: int = 100_000
) -> DataFrame:
    """(path ARRAY<BIGINT>): every path from an in-degree-0 node to an
    out-degree-0 node of the DAG (``dag.py`` ``root_to_leaf_paths``).
    Distributed frontier expansion carrying the path array — row volume
    is the output size, the same cost the reference's generator defers."""
    _require_directed(g, "root_to_leaf_paths")
    with SuperstepCache(g.spark) as loop:
        arcs = loop.truncate(g.edges.select("src", "dst").distinct())
        roots = (
            g.vertices.select("id")
            .join(arcs.select(F.col("dst").alias("id")).distinct(), "id", "left_anti")
        )
        leaves_set = (
            g.vertices.select("id")
            .join(arcs.select(F.col("src").alias("id")).distinct(), "id", "left_anti")
        )
        frontier = loop.truncate(
            roots.select(F.col("id").alias("head"), F.array("id").alias("path"))
        )
        out = frontier.join(
            leaves_set.withColumnRenamed("id", "head"), "head", "left_semi"
        ).select("path")
        rounds = 0
        while True:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError("root_to_leaf_paths exceeded max_rounds")
            step, seen = loop.truncate(
                frontier.join(arcs.withColumnRenamed("src", "head"), "head")
                .select(
                    F.col("dst").alias("head"),
                    F.concat("path", F.array("dst")).alias("path"),
                ),
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            out = out.unionByName(
                step.join(
                    leaves_set.withColumnRenamed("id", "head"), "head", "left_semi"
                ).select("path")
            )
            frontier = step
        return loop.result(loop.truncate(out))


def dag_to_branching(g: SparkGraph):
    """``dag.py`` ``dag_to_branching`` — the branching whose root-to-leaf
    paths biject with the DAG's, built as the PREFIX TREE of
    :func:`root_to_leaf_paths` minus the reference's root/NIL sentinels —
    the same composition the reference uses, with both stages
    distributed (path expansion + the relational trie). Returns
    ``(branching SparkGraph, nodes DataFrame (id, source))`` where
    ``source`` is the original node id each branching node mirrors."""
    from linkgraph.algos.chains import prefix_tree

    _require_directed(g, "dag_to_branching")
    paths = root_to_leaf_paths(g).select(
        F.transform(F.col("path"), lambda x: x.cast("string")).alias("path")
    )
    tree, nodes = prefix_tree(g.spark, paths)
    # strip the synthetic root (id 0, source null) and NIL (-1) sentinels
    keep = nodes.filter(
        F.col("source").isNotNull() & (F.col("id") >= 0)
    ).select("id", F.col("source").cast("long").alias("source"))
    arcs = tree.edges.join(
        keep.select(F.col("id").alias("src")), "src", "left_semi"
    ).join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
    branching = SparkGraph(
        arcs.select("src", "dst", "weight"),
        keep.select("id"),
        directed=True,
        coalesce_edges=False,
    )
    return branching, keep
