"""Bounded simple-cycle enumeration —
``networkx/algorithms/cycles.py:106`` ``simple_cycles`` with the 3.x
``length_bound`` parameter.

The reference's unbounded enumeration is Johnson's algorithm — a stack
of blocked sets walked depth-first, inherently sequential. The bounded
variant is join-expressible and is what scales: grow rooted simple paths
breadth-first, one arc join per length step, emitting a cycle whenever an
arc closes back to the root.

Canonical form kills duplicates without comparing cycles pairwise:

- every cycle is discovered exactly once rooted at its MINIMUM node
  (extension candidates must exceed the root);
- directed cycles read in arc direction from the root — unique;
- undirected cycles would appear once per direction, so the second
  element must be smaller than the last (picks one rotation sense);
  length-2 "cycles" (back-and-forth over one edge) are not simple and
  are excluded, matching the reference on simple graphs.

State after step L is every simple path of length L from a root through
larger-id nodes — the intrinsic cost of bounded cycle enumeration (the
reference's bounded search walks the same tree sequentially). Self-loops
emit as length-1 cycles like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.iterutils import SuperstepCache, row_count

# Arcs the driver kernels collect: Johnson's search and the cycle basis
# (and the calls built on them), and the Euler and find_cycle walks.
_DRIVER_ARCS = 1_000_000
_WALK_ARCS = 5_000_000


def simple_cycles(
    g: SparkGraph,
    length_bound: "int | None" = None,
) -> DataFrame:
    """DataFrame ``(cycle array<BIGINT>)`` — each simple cycle exactly
    once, in canonical rotation (min node first; undirected additionally
    second < last element).

    With ``length_bound`` the enumeration is the distributed rooted-path
    join (one arc join per length step). ``length_bound=None`` matches the
    reference's unbounded ``simple_cycles`` (``cycles.py:106``): Johnson's
    blocked-set search for directed graphs / rooted canonical DFS for
    undirected — inherently sequential walks, run on the driver under the
    size guard like the DFS family. Output can be exponential in the
    graph; the bound is the scale valve."""
    if length_bound is None:
        return _simple_cycles_unbounded(g)
    if length_bound < 1:
        raise ValueError("length_bound must be a positive integer")
    spark = g.spark
    arcs = (g.edges if g.directed else g.symmetric_edges()).select(
        "src", "dst"
    ).distinct()

    # length-1 cycles: self-loops (cycles.py yields [v] for them)
    out = arcs.filter(F.col("src") == F.col("dst")).select(
        F.array("src").alias("cycle")
    )
    with SuperstepCache(spark) as cache:
        if length_bound >= 2:
            arcs_ns = cache.truncate(arcs.filter(F.col("src") != F.col("dst")))
            # paths (root, path, last): start with root -> x, x > root
            paths = arcs_ns.filter(F.col("dst") > F.col("src")).select(
                F.col("src").alias("root"),
                F.array("src", "dst").alias("path"),
                F.col("dst").alias("last"),
            )
            length = 2  # closing now yields a cycle of this length
            while True:
                paths, seen = cache.truncate(paths, figures=row_count())
                if seen["rows"] == 0:
                    break
                closing = paths.join(
                    arcs_ns.select(
                        F.col("src").alias("last"), F.col("dst").alias("root")
                    ),
                    ["last", "root"],
                    "left_semi",
                )
                if g.directed:
                    # directed 2-cycles (u,v),(v,u) are simple cycles
                    out = out.unionByName(closing.select(F.col("path").alias("cycle")))
                elif length >= 3:
                    # undirected: one rotation sense, length >= 3
                    cyc = closing.filter(
                        F.col("path")[1] < F.col("path")[length - 1]
                    ).select(F.col("path").alias("cycle"))
                    out = out.unionByName(cyc)
                if length >= length_bound:
                    break
                paths = (
                    paths.join(
                        arcs_ns.select(
                            F.col("src").alias("last"), F.col("dst").alias("nxt")
                        ),
                        "last",
                    )
                    .filter(
                        (F.col("nxt") > F.col("root"))
                        & ~F.array_contains("path", F.col("nxt"))
                    )
                    .select(
                        "root",
                        F.concat("path", F.array("nxt")).alias("path"),
                        F.col("nxt").alias("last"),
                    )
                )
                length += 1
        return cache.result(cache.truncate(out))


def is_eulerian(g) -> bool:
    """``networkx/algorithms/euler.py:18``: every degree even + connected
    (undirected), or in==out everywhere + strongly connected (directed)."""
    from pyspark.sql import functions as F
    from linkgraph.algos.degrees import in_degrees, out_degrees, degrees
    from linkgraph.algos.components import connected_components
    from linkgraph.algos.strongly_connected import strongly_connected_components

    if g.directed:
        bal = (
            in_degrees(g).withColumnRenamed("degree", "din")
            .join(out_degrees(g).withColumnRenamed("degree", "dout"), "id")
            .filter(F.col("din") != F.col("dout"))
        )
        if not bal.isEmpty():
            return False
        scc = strongly_connected_components(g)
        return scc.select("component").distinct().count() == 1
    odd = degrees(g).filter(F.col("degree") % 2 == 1)
    if not odd.isEmpty():
        return False
    return connected_components(g).select("component").distinct().count() == 1


def has_eulerian_path(g) -> bool:
    """``euler.py:57``: Eulerian, or exactly one unbalanced pair (directed)
    / exactly two odd-degree vertices (undirected), and (weakly)
    connected."""
    from pyspark.sql import functions as F
    from linkgraph.algos.degrees import in_degrees, out_degrees, degrees
    from linkgraph.algos.components import connected_components

    if is_eulerian(g):
        return True
    if g.directed:
        bal = (
            in_degrees(g).withColumnRenamed("degree", "din")
            .join(out_degrees(g).withColumnRenamed("degree", "dout"), "id")
            .select((F.col("din") - F.col("dout")).alias("d"))
        )
        counts = bal.groupBy("d").count().collect()
        ins = sum(r["count"] for r in counts if r["d"] == 1)
        outs = sum(r["count"] for r in counts if r["d"] == -1)
        bad = sum(r["count"] for r in counts if abs(r["d"]) > 1)
        if bad or ins > 1 or outs > 1:
            return False
        return connected_components(g).select("component").distinct().count() == 1
    n_odd = degrees(g).filter(F.col("degree") % 2 == 1).count()
    if n_odd != 2:
        return False
    return connected_components(g).select("component").distinct().count() == 1


def cycle_basis(g: SparkGraph, *, max_iter: int = 100_000) -> DataFrame:
    """Fundamental cycle basis — ``networkx/algorithms/cycles.py:28``
    (``cycle_basis``, Paton's spanning-tree method). DataFrame
    ``(cycle array<BIGINT>)``, one row per basis cycle; row count is the
    cycle-space dimension ``m − n + c``.

    The reference walks one spanning tree sequentially and XORs ancestor
    paths. The distributed twin: a multi-root BFS forest (deterministic
    min-id roots / min-id parents), then EVERY non-tree edge climbs its two
    endpoints toward their lowest common ancestor in parallel — one parent
    join per tree level, all cycles growing simultaneously. The basis
    differs from the reference's (Paton's DFS order is meaningless under
    distribution) but spans the identical cycle space: each cycle contains
    exactly one non-tree edge, so independence and dimension are structural.
    Self-loops are single-node cycles, matching the reference.

    State is one row per non-tree edge carrying its partial paths — the
    intrinsic Σ|cycle| output size; rounds = forest height.
    """
    from linkgraph.algos.components import _components
    from linkgraph.algos.setops import shortest_path_lengths
    from linkgraph.exceptions import NetworkXError, NotImplementedForDirected

    if g.directed:
        raise NotImplementedForDirected(
            "cycle_basis: not implemented for directed type"
        )
    spark = g.spark
    with SuperstepCache(spark) as cache:

        simple = (
            g.edges.filter(F.col("src") != F.col("dst"))
            .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
            .distinct()
        )
        selfloops = (
            g.edges.filter(F.col("src") == F.col("dst"))
            .select(F.col("src").alias("id"))
            .distinct()
            .select(F.array(F.col("id").cast("long")).alias("cycle"))
        )

        roots = _components(g, cache).select("component").distinct()
        reach = shortest_path_lengths(g, roots)
        dist = cache.truncate(reach)
        cache.release(reach)

        # min-id BFS parent per non-root node; parent table also carries depth
        sym = simple.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            simple.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        parent = cache.truncate(
            sym.join(dist.select(F.col("id").alias("src"), F.col("distance").alias("ds")), "src")
            .join(dist.select(F.col("id").alias("dst"), F.col("distance").alias("dd")), "dst")
            .filter(F.col("ds") + 1 == F.col("dd"))
            .groupBy("dst")
            .agg(F.min("src").alias("parent"))
            .select(F.col("dst").alias("id"), "parent")
        )

        tree = parent.select(
            F.least("id", "parent").alias("u"), F.greatest("id", "parent").alias("v")
        )
        nontree = simple.join(tree, ["u", "v"], "left_anti")

        state, seen = cache.truncate(
            nontree.join(dist.select(F.col("id").alias("u"), F.col("distance").alias("du")), "u")
            .join(dist.select(F.col("id").alias("v"), F.col("distance").alias("dv")), "v")
            .select(
                F.col("u").cast("long").alias("au"),
                F.col("v").cast("long").alias("av"),
                F.col("du").cast("long"),
                F.col("dv").cast("long"),
                F.array(F.col("u").cast("long")).alias("pu"),
                F.array(F.col("v").cast("long")).alias("pv"),
            ),
            figures=row_count(),
        )
        done = spark.createDataFrame(
            [], "au long, av long, du long, dv long, pu array<long>, pv array<long>"
        )
        done = cache.truncate(done)
        left = seen["rows"]
        pu_tbl = parent.select(
            F.col("id").alias("au"), F.col("parent").alias("pau")
        )
        pv_tbl = parent.select(
            F.col("id").alias("av"), F.col("parent").alias("pav")
        )
        for _ in range(max_iter):
            if left == 0:
                break
            move_u = F.col("du") >= F.col("dv")
            move_v = F.col("dv") >= F.col("du")
            stepped = (
                state.join(pu_tbl, "au", "left")
                .join(pv_tbl, "av", "left")
                .select(
                    F.when(move_u, F.col("pau")).otherwise(F.col("au")).alias("nau"),
                    F.when(move_v, F.col("pav")).otherwise(F.col("av")).alias("nav"),
                    F.when(move_u, F.col("du") - 1).otherwise(F.col("du")).alias("ndu"),
                    F.when(move_v, F.col("dv") - 1).otherwise(F.col("dv")).alias("ndv"),
                    F.when(move_u, F.concat("pu", F.array("pau")))
                    .otherwise(F.col("pu"))
                    .alias("npu"),
                    F.when(move_v, F.concat("pv", F.array("pav")))
                    .otherwise(F.col("pv"))
                    .alias("npv"),
                )
                .select(
                    F.col("nau").alias("au"),
                    F.col("nav").alias("av"),
                    F.col("ndu").alias("du"),
                    F.col("ndv").alias("dv"),
                    F.col("npu").alias("pu"),
                    F.col("npv").alias("pv"),
                )
            )
            stepped = cache.truncate(stepped, retire=state)
            finished = stepped.filter(F.col("au") == F.col("av"))
            done = cache.truncate(done.unionByName(finished), retire=done)
            state, seen = cache.truncate(
                stepped.filter(F.col("au") != F.col("av")),
                retire=stepped,
                figures=row_count(),
            )
            left = seen["rows"]
        else:
            raise NetworkXError(f"cycle_basis did not converge in {max_iter} rounds")

        # pu = [u..lca], pv = [v..lca]  →  cycle = u..lca..v (lca kept once)
        cycles = done.select(
            F.concat(
                "pu", F.reverse(F.slice("pv", 1, F.size("pv") - 1))
            ).alias("cycle")
        )
        return cache.result(cache.truncate(selfloops.unionByName(cycles)))


def _euler_walk(g, start, *, circuit: bool):
    """Driver-side Hierholzer walk (``euler.py`` ``eulerian_circuit`` /
    ``eulerian_path`` semantics). The walk order is inherently sequential
    (each step consumes the edge it crossed), so — like the DFS family —
    the engine collects the edge multiset under a size guard and runs the
    stack walk on the driver with ascending-neighbor determinism. Returns
    the ordered vertex sequence."""
    from collections import Counter

    from pyspark.sql import functions as F

    arcs = (g.edges if g.directed else g.symmetric_edges()).select("src", "dst")
    adj: dict = {}
    for r in driver_rows(
        arcs, _WALK_ARCS,
        "Euler walks are sequential; the driver walk collects the edge list",
    ):
        adj.setdefault(r["src"], Counter())[r["dst"]] += 1
    stack = [start]
    trail: list = []
    while stack:
        v = stack[-1]
        nbrs = adj.get(v)
        if nbrs:
            u = min(nbrs)
            nbrs[u] -= 1
            if nbrs[u] == 0:
                del nbrs[u]
            if not g.directed and u != v:  # self-loops appear once
                back = adj[u]
                back[v] -= 1
                if back[v] == 0:
                    del back[v]
            stack.append(u)
        else:
            trail.append(stack.pop())
    if any(adj.values()):
        raise ValueError("G is not Eulerian.")
    return list(reversed(trail))


def eulerian_circuit(g, source=None):
    """(src, dst, order): edges of an Euler circuit in traversal order
    (``euler.py:90`` ``eulerian_circuit``; Hierholzer). Raises when the
    graph is not Eulerian, like the reference. ``source=None`` starts at
    the minimum node id (the engine's determinism rule)."""
    from pyspark.sql import functions as F

    if not is_eulerian(g):
        raise ValueError("G is not Eulerian.")
    if source is None:
        source = g.vertices.agg(F.min("id")).first()[0]
    seq = _euler_walk(
        g, int(source), circuit=True
    )
    rows = [(seq[i], seq[i + 1], i + 1) for i in range(len(seq) - 1)]
    return g.spark.createDataFrame(rows or [], "src long, dst long, order long")


def eulerian_path(g, source=None):
    """(src, dst, order): edges of an Euler path (``euler.py:294``
    ``eulerian_path``). Starts at the unique deficit node when one exists
    (odd-degree / out−in = 1), else at ``source`` or the minimum id."""
    from pyspark.sql import functions as F

    from linkgraph.algos.degrees import in_degrees, out_degrees, degrees

    if not has_eulerian_path(g):
        raise ValueError("Graph has no Eulerian paths.")
    if source is None:
        if g.directed:
            unb = (
                in_degrees(g).withColumnRenamed("degree", "din")
                .join(out_degrees(g).withColumnRenamed("degree", "dout"), "id")
                .filter(F.col("dout") - F.col("din") == 1)
                .agg(F.min("id"))
                .first()[0]
            )
        else:
            unb = (
                degrees(g)
                .filter(F.col("degree") % 2 == 1)
                .agg(F.min("id"))
                .first()[0]
            )
        source = unb if unb is not None else g.vertices.agg(F.min("id")).first()[0]
    seq = _euler_walk(
        g, int(source), circuit=False
    )
    rows = [(seq[i], seq[i + 1], i + 1) for i in range(len(seq) - 1)]
    return g.spark.createDataFrame(rows or [], "src long, dst long, order long")


def _simple_cycles_unbounded(g: SparkGraph) -> DataFrame:
    """Driver-gated unbounded enumeration (see :func:`simple_cycles`)."""
    from pyspark.sql import functions as F

    arcs = (g.edges if g.directed else g.symmetric_edges()).select(
        "src", "dst"
    ).distinct()
    adj: dict = {}
    loops = []
    for r in driver_rows(
        arcs, _DRIVER_ARCS,
        "unbounded simple_cycles is Johnson's sequential search; the driver "
        "walk collects the edge list",
        "Pass length_bound for the distributed bounded enumeration.",
    ):
        u, v = r["src"], r["dst"]
        if u == v:
            loops.append([u])
            continue
        adj.setdefault(u, []).append(v)
    for nbrs in adj.values():
        nbrs.sort()
    if g.directed:
        cycles = _johnson_cycles(adj)
    else:
        cycles = _undirected_cycles(adj)
    rows = [(c,) for c in loops + cycles]
    return g.spark.createDataFrame(rows or [], "cycle array<bigint>")


def _johnson_cycles(adj: dict) -> list:
    """Johnson 1975 elementary-circuit search (the reference's directed
    path, ``cycles.py:106``), iterative. Roots ascend, the explored
    subgraph is {v >= root}, so every cycle emerges rooted at its minimum
    node — already canonical."""
    cycles: list = []
    nodes = sorted(set(adj) | {w for ns in adj.values() for w in ns})
    for root in nodes:
        # subgraph on ids >= root
        sub = {
            u: [w for w in ns if w >= root]
            for u, ns in adj.items()
            if u >= root
        }
        blocked: set = {root}
        blist: dict = {}
        path = [root]
        # frame: (vertex, neighbor iterator, found_cycle_below flag)
        stack = [(root, iter(sub.get(root, ())), False)]
        while stack:
            v, it, found = stack[-1]
            advanced = False
            for w in it:
                if w == root:
                    cycles.append(path.copy())
                    stack[-1] = (v, it, True)
                elif w not in blocked:
                    blocked.add(w)
                    path.append(w)
                    stack.append((w, iter(sub.get(w, ())), False))
                    advanced = True
                    break
            if advanced:
                continue
            found = stack[-1][2]  # re-read: may have been set mid-iteration
            stack.pop()
            path.pop()
            if found:
                # unblock v and everything transitively waiting on it
                pending = [v]
                while pending:
                    x = pending.pop()
                    if x in blocked:
                        blocked.discard(x)
                        pending.extend(blist.pop(x, ()))
                if stack:
                    pv, pit, _ = stack[-1]
                    stack[-1] = (pv, pit, True)
            else:
                for w in sub.get(v, ()):
                    blist.setdefault(w, set()).add(v)
    return cycles


def _undirected_cycles(adj: dict) -> list:
    """Rooted canonical DFS enumeration for undirected graphs: every
    cycle discovered once, rooted at its minimum node, walking only
    larger-id interior nodes, one rotation sense (second < last)."""
    cycles: list = []
    for root in sorted(adj):
        stack = [(root, iter(adj.get(root, ())))]
        path = [root]
        on_path = {root}
        while stack:
            v, it = stack[-1]
            advanced = False
            for w in it:
                if w == root and len(path) >= 3 and path[1] < path[-1]:
                    cycles.append(path.copy())
                elif w > root and w not in on_path:
                    path.append(w)
                    on_path.add(w)
                    stack.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
            if advanced:
                continue
            stack.pop()
            on_path.discard(path.pop())
    return cycles


def eulerize(g: SparkGraph, *, max_odd_nodes: int = 500) -> "SparkMultiGraph":
    """Duplicate shortest paths between odd-degree nodes until every degree
    is even (``networkx/algorithms/euler.py:396`` ``eulerize``, the Chinese
    Postman construction).

    Distributed shape: the odd-degree scan is one aggregation; the
    pairwise distances come from ONE batched multi-source BFS (every odd
    node relaxing simultaneously); only the min-weight matching over the
    odd nodes (|odd| ≤ ``max_odd_nodes``, inherently sequential blossom)
    and the path walks (|odd|/2 paths) run on the driver. Returns a
    multigraph, like the reference.
    """
    from linkgraph.multigraph import SparkMultiGraph
    from linkgraph.algos.degrees import degrees
    from linkgraph.algos.components import is_connected
    from linkgraph.algos.matching_weight import _blossom_kernel
    from linkgraph.algos.paths import shortest_path

    if g.directed:
        raise ValueError("eulerize is defined on undirected graphs")
    n = g.number_of_nodes()
    if n == 0:
        raise ValueError("Cannot Eulerize null graph")
    if not is_connected(g):
        raise ValueError("G is not connected")
    odd = sorted(
        r["id"]
        for r in degrees(g).filter(F.col("degree") % 2 == 1).collect()
    )
    base_edges = g.edges.select("src", "dst")
    if not odd:
        return SparkMultiGraph(base_edges, g.vertices.select("id"), directed=False)
    if len(odd) > max_odd_nodes:
        raise ValueError(
            f"eulerize matches odd nodes sequentially; {len(odd)} odd nodes "
            f"> max_odd_nodes={max_odd_nodes}"
        )
    # batched multi-source BFS: distances from every odd node at once
    from linkgraph.algos.sssp import all_pairs_bellman_ford_path_lengths

    odf = g.spark.createDataFrame([(int(x),) for x in odd], "id long")
    dist = (
        all_pairs_bellman_ford_path_lengths(g, odf, weight=F.lit(1.0))
        .join(odf.withColumnRenamed("id", "source"), "source", "left_semi")
        .join(odf, "id", "left_semi")
        .collect()
    )
    d = {(r["source"], r["id"]): r["distance"] for r in dist}
    # the reference's weight: (n+1) - path length, then MAX-weight matching
    idx = {v: i for i, v in enumerate(odd)}
    edges = []
    for i, u in enumerate(odd):
        for v in odd[i + 1 :]:
            if (u, v) in d:
                edges.append((idx[u], idx[v], (n + 1) - (d[(u, v)] + 1)))
    mate = _blossom_kernel(len(odd), edges, False)
    dup_rows = []
    for i, p in enumerate(mate):
        if p >= 0 and i < p:
            path = shortest_path(g, odd[i], odd[p])
            dup_rows.extend((int(a), int(b)) for a, b in zip(path, path[1:]))
    dup = g.spark.createDataFrame(dup_rows, "src long, dst long")
    return SparkMultiGraph(
        base_edges.unionByName(dup), g.vertices.select("id"), directed=False
    )


def is_semieulerian(g) -> bool:
    """True iff g has an Eulerian path but no Eulerian circuit
    (``networkx/algorithms/euler.py`` ``is_semieulerian``)."""
    return has_eulerian_path(g) and not is_eulerian(g)


from linkgraph.exceptions import NetworkXNoCycle  # noqa: E402 (shared hierarchy)


def find_cycle(
    g: SparkGraph,
    source=None,
    orientation=None,
) -> list:
    """One cycle reachable from ``source`` (or anywhere when None) —
    ``networkx/algorithms/cycles.py`` ``find_cycle``.

    ``orientation``: None follows arc direction (undirected graphs walk
    both ways); ``'original'``/``'reverse'``/``'ignore'`` traverse
    forward-only / backward-only / both, returning (u, v, direction)
    triples like the reference. The DFS walk is driver-side over a
    size-guarded arc list (visit order is sequential by definition — see
    ``dfs.py``); neighbors ascend by id, the only order a column store can
    promise. Raises :class:`NetworkXNoCycle` when acyclic from the given
    roots.
    """
    if orientation not in (None, "original", "reverse", "ignore"):
        raise ValueError(f"invalid orientation: {orientation!r}")

    # build the (possibly direction-tagged) adjacency
    arcs = (
        (g.edges if g.directed else g.symmetric_edges())
        .select("src", "dst")
        .distinct()
    )
    rows = driver_rows(
        arcs, _WALK_ARCS, "find_cycle walks sequentially on the driver",
        "For cycle EXISTENCE at scale use is_directed_acyclic_graph / girth "
        "(distributed).",
    )
    adj: "dict[int, list[tuple[int, str]]]" = {}
    directed = g.directed
    tagged = orientation is not None and directed
    for r in rows:
        u, v = r["src"], r["dst"]
        if not directed:
            adj.setdefault(u, []).append((v, "forward"))
        else:
            if orientation in (None, "original", "ignore"):
                adj.setdefault(u, []).append((v, "forward"))
            if orientation in ("reverse", "ignore"):
                adj.setdefault(v, []).append((u, "reverse"))
    for lst in adj.values():
        lst.sort()
    nodes = sorted(rr["id"] for rr in g.vertices.select("id").collect())
    roots = [int(source)] if source is not None else nodes

    def _emit(u, v, d):
        if not directed:
            return (u, v)
        return (u, v, d) if tagged else (u, v)

    explored: set = set()
    for start in roots:
        if start in explored:
            continue
        # edge-DFS from start: path of (u, v, dir) with an on-path node set
        stack = [(None, start, None)]
        path_edges: list = []
        on_path: dict = {start: None}
        seen_here: set = {start}
        it_stack = [iter(adj.get(start, ()))]
        node_stack = [start]
        found = None
        prev_edge: list = [None]
        while it_stack and found is None:
            u = node_stack[-1]
            advanced = False
            for v, d in it_stack[-1]:
                # don't walk straight back over the same underlying edge
                # (undirected graphs, and 'ignore' orientation where each
                # arc is traversable both ways)
                if path_edges:
                    pu, pv, pd = path_edges[-1]
                    if not directed and {u, v} == {pu, pv}:
                        continue
                    if orientation == "ignore":
                        prev_und = (pu, pv) if pd == "forward" else (pv, pu)
                        cand_und = (u, v) if d == "forward" else (v, u)
                        if prev_und == cand_und:
                            continue
                if v in on_path:
                    # cycle: suffix of path_edges from v, plus closing edge
                    cyc = []
                    for e in path_edges:
                        if cyc or e[0] == v:
                            cyc.append(e)
                    cyc.append((u, v, d))
                    found = [_emit(*e) for e in cyc]
                    break
                if v in seen_here or v in explored:
                    continue
                seen_here.add(v)
                on_path[v] = u
                path_edges.append((u, v, d))
                node_stack.append(v)
                it_stack.append(iter(adj.get(v, ())))
                advanced = True
                break
            if found is not None:
                break
            if not advanced:
                it_stack.pop()
                done = node_stack.pop()
                on_path.pop(done, None)
                if path_edges:
                    path_edges.pop()
        if found is not None:
            return found
        explored |= seen_here
    raise NetworkXNoCycle("No cycle found.")


def recursive_simple_cycles(g: SparkGraph) -> DataFrame:
    """``cycles.py`` ``recursive_simple_cycles`` — same output contract as
    unbounded :func:`simple_cycles` (the reference keeps both only because
    one recurses); alias here."""
    return simple_cycles(g, None)


def chordless_cycles(
    g: SparkGraph,
    length_bound: "int | None" = None,
) -> DataFrame:
    """DataFrame ``(cycle array<BIGINT>)`` — the simple cycles C whose
    induced (di)graph has exactly ``len(C)`` edges, i.e. no chords
    (``cycles.py`` ``chordless_cycles``, Dias et al. semantics for simple
    graphs): self-loops count as 1-cycles; directed 2-cycles are
    chordless; a longer cycle may not contain a self-looped node.

    The enumeration reuses :func:`simple_cycles` (distributed when
    ``length_bound`` is given); the chord filter is fully distributed —
    explode membership, equi-join the arc table on both endpoints, and
    keep cycles whose induced-arc count equals their length. Never a
    per-cycle Python loop."""
    cycles = simple_cycles(g, length_bound).withColumn(
        "cid", F.monotonically_increasing_id()
    )
    loops_out = cycles.filter(F.size("cycle") == 1).select("cycle")
    multi = cycles.filter(F.size("cycle") > 1)
    member = multi.select("cid", F.explode("cycle").alias("node")).persist()

    selfloop_ids = (
        g.edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("node"))
        .distinct()
    )
    bad = member.join(selfloop_ids, "node", "left_semi").select("cid").distinct()

    if g.directed:
        arcs = (
            g.edges.filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
    else:
        arcs = (
            g.edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .distinct()
        )
    induced = (
        member.withColumnRenamed("node", "src")
        .join(arcs, "src")
        .join(
            member.select("cid", F.col("node").alias("dst")),
            ["cid", "dst"],
            "left_semi",
        )
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("m_induced"))
    )
    ok = (
        multi.join(bad, "cid", "left_anti")
        .join(induced, "cid")
        .filter(F.col("m_induced") == F.size("cycle"))
        .select("cycle")
    )
    out = loops_out.unionByName(ok).persist()
    out.count()
    member.unpersist()
    return out


def minimum_cycle_basis(g: SparkGraph, weight=None) -> DataFrame:
    """DataFrame ``(cycle array<BIGINT>)`` — a minimum-weight cycle basis
    (``cycles.py`` ``minimum_cycle_basis``; de Pina 1995 as in
    Horton/Amaldi): per connected component, maintain witness edge-sets
    S_i; round i extracts the minimum-weight cycle having odd intersection
    with S_i (a shortest path between a vertex's two copies in the
    parity-lifted double cover) and folds it into the remaining witnesses.

    The witness schedule is sequential by definition (each extracted cycle
    rewrites the later witnesses), so the kernel runs driver-side under
    the usual size guard; the basis dimension is m − n + c. ``weight``
    resolves Spark-side (column / SQL expression)."""
    import heapq

    from linkgraph.exceptions import NotImplementedForDirected
    from linkgraph.graph import resolve_weight_column

    if g.directed:
        raise NotImplementedForDirected(
            "minimum_cycle_basis: not implemented for directed type"
        )
    base = g.edges.filter(F.col("src") != F.col("dst"))
    if weight is None and "weight" not in base.columns:
        warcs = base.select("src", "dst", F.lit(1.0).alias("w"))
    else:
        warcs = base.select(
            "src", "dst", resolve_weight_column(base, weight).alias("w")
        )
    canon = (
        warcs.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    edges = [
        (r["u"], r["v"], float(r["w"]))
        for r in driver_rows(
            canon, _DRIVER_ARCS,
            "minimum_cycle_basis' witness schedule is sequential",
        )
    ]
    adj: dict = {}
    for i, (u, v, w) in enumerate(edges):
        adj.setdefault(u, []).append((v, w, i))
        adj.setdefault(v, []).append((u, w, i))

    # spanning forest (BFS) -> non-tree edges are the initial witnesses
    seen: set = set()
    tree_edges: set = set()
    for root in sorted(adj):
        if root in seen:
            continue
        seen.add(root)
        frontier = [root]
        while frontier:
            nxt = []
            for x in frontier:
                for y, _, ei in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        tree_edges.add(ei)
                        nxt.append(y)
            frontier = nxt
    nontree = [i for i in range(len(edges)) if i not in tree_edges]

    def min_odd_cycle(S: frozenset):
        # shortest (v,0) -> (v,1) path in the parity-lifted graph
        best = None
        for start in sorted(adj):
            dist = {(start, 0): 0.0}
            prev: dict = {}
            heap = [(0.0, start, 0)]
            goal = (start, 1)
            while heap:
                d, x, p = heapq.heappop(heap)
                if d > dist.get((x, p), float("inf")):
                    continue
                if (x, p) == goal:
                    break
                for y, w, ei in adj[x]:
                    q = p ^ (1 if ei in S else 0)
                    nd = d + w
                    if nd < dist.get((y, q), float("inf")):
                        dist[(y, q)] = nd
                        prev[(y, q)] = (x, p, ei)
                        heapq.heappush(heap, (nd, y, q))
            if goal in dist and (best is None or dist[goal] < best[0]):
                # walk back the edge ids
                eids = []
                cur = goal
                while cur != (start, 0):
                    x, p, ei = prev[cur]
                    eids.append(ei)
                    cur = (x, p)
                best = (dist[goal], frozenset(
                    ei for ei in set(eids) if eids.count(ei) % 2 == 1
                ), start)
        return best

    witnesses = [frozenset([i]) for i in nontree]
    basis_rows = []
    for i in range(len(witnesses)):
        got = min_odd_cycle(witnesses[i])
        if got is None:
            continue
        _, cyc_edges, _ = got
        # node list in cycle order: walk the edge set
        cadj: dict = {}
        for ei in cyc_edges:
            u, v, _w = edges[ei]
            cadj.setdefault(u, []).append(v)
            cadj.setdefault(v, []).append(u)
        start = min(cadj)
        order = [start]
        prev_n = None
        while True:
            cur = order[-1]
            nxts = [x for x in cadj[cur] if x != prev_n]
            nxt = nxts[0] if nxts else prev_n
            if nxt == start:
                break
            order.append(nxt)
            prev_n = cur
        basis_rows.append((order,))
        for j in range(i + 1, len(witnesses)):
            if len(cyc_edges & witnesses[j]) % 2 == 1:
                witnesses[j] = witnesses[j] ^ witnesses[i]
    return g.spark.createDataFrame(basis_rows or [], "cycle array<bigint>")
