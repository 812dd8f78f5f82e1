"""Maximum flow / minimum cut — Dinitz blocking-flow phases with the
level-graph construction distributed.

Reference semantics: ``networkx/algorithms/flow/maxflow.py:134``
``maximum_flow`` / ``:305`` ``maximum_flow_value`` / ``minimum_cut:447``
(the reference defaults to preflow-push; every max-flow algorithm returns
the same VALUE, and value + cut partition are what the parity tests pin).
Phase semantics follow ``flow/dinitz_alg.py``: repeat (BFS level graph →
blocking flow → apply) until t leaves the residual BFS. Edges missing the
capacity attribute are infinite (``edmondskarp.py:87`` treats absent
``capacity`` as inf), and an s→t path of infinite arcs raises like the
reference's ``NetworkXUnbounded``.

Distributed shape (the superstep count is bounded by the PHASE count —
O(V) phases, O(E^1/2) on unit capacities — never by the number of
augmenting paths):

- The residual graph is an arc DataFrame ``(u, v, cap)`` (reverse arcs
  start at 0; undirected edges become two arcs of full capacity, the
  reference's ``G.to_directed()`` view).
- Each phase runs ONE distributed BFS (frontier ⋈ arcs) to level the
  residual, prunes the level DAG to arcs on shortest s→t paths with one
  backward sweep from t, and then computes the phase's ENTIRE blocking
  flow on the driver over that pruned DAG (size-guarded collect — the
  union of shortest s→t paths between two fixed nodes is a vanishing
  fraction of a 100 TB graph; the classic current-arc Dinitz inner loop
  is pure in-memory work). All of the phase's augmentations land on the
  residual in ONE batched broadcast-join update.
- If the pruned level DAG ever exceeds ``_DRIVER_EDGES`` arcs, the phase
  falls back to per-path augmentation (one parent-BFS walk per path) —
  correct at any scale, slower, and warned about.

Min-cut falls out of the final residual reachability (one more BFS).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, check_driver_limit, driver_rows
from linkgraph.iterutils import SuperstepCache, row_count

_INF = float("inf")


from linkgraph.exceptions import NetworkXUnbounded  # noqa: E402 (shared hierarchy)

# the most edges a driver-gated kernel (the Stoer–Wagner phases, a Dinitz
# phase's level DAG) collects
_DRIVER_EDGES = 5_000_000
# the most edges gomory_hu_tree runs its local Dinic over
_GOMORY_HU_LOCAL_EDGES = 500_000


def _residual(g: SparkGraph, capacity) -> DataFrame:
    """(u, v, cap) arcs: forward caps + 0-cap reverse arcs, undirected
    edges expanded both ways at full capacity. ``capacity`` may be a
    column name (absent column = infinite, ``edmondskarp.py:87``), a
    pyspark ``Column``, or a SQL expression string containing non-word
    characters — the Spark twin of a per-edge capacity callable."""
    from pyspark.sql import Column

    if isinstance(capacity, Column):
        cap = capacity.cast("double")
    elif capacity in g.edges.columns:
        cap = F.col(capacity).cast("double")
    elif not capacity.isidentifier():
        cap = F.expr(capacity).cast("double")
    else:
        cap = F.lit(_INF)
    arcs = (g.edges if g.directed else g.symmetric_edges()).select(
        F.col("src").alias("u"), F.col("dst").alias("v"), cap.alias("cap")
    )
    rev = arcs.select(
        F.col("v").alias("u"), F.col("u").alias("v"), F.lit(0.0).alias("cap")
    )
    # parallel arcs and existing anti-parallel pairs merge by summing caps
    return (
        arcs.unionByName(rev)
        .groupBy("u", "v")
        .agg(F.sum("cap").alias("cap"))
    )


def _reach_figures(t: int) -> dict:
    """A BFS level's figures: its row count and whether it holds ``t``."""
    return {
        "rows": F.count(F.lit(1)),
        "hit": F.sum((F.col("node") == int(t)).cast("long")),
    }


def _bfs_parents(res: DataFrame, s: int, t: int, cache: SuperstepCache):
    """BFS over cap>0 arcs from s; returns list of per-level parent tables
    ``(node, parent)`` (deterministic min-parent), stopping early when t
    is reached. None if t unreachable."""
    live = res.filter(F.col("cap") > 0).select("u", "v")
    spark = res.sparkSession
    frontier = cache.truncate(
        spark.createDataFrame([(int(s),)], "node long")
    )
    seen = frontier
    levels = []
    while True:
        nxt, seen_t = cache.truncate(
            live.join(frontier.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("u").alias("parent"))
            .join(seen, "node", "left_anti"),
            figures=_reach_figures(t),
        )
        if seen_t["rows"] == 0:
            return None
        levels.append(nxt)
        if seen_t["hit"] > 0:
            return levels
        seen = cache.truncate(
            seen.unionByName(nxt.select("node")), retire=seen
        )
        frontier = nxt.select("node")


def _walk_path(levels, s: int, t: int):
    """Parent-pointer walk t→s: one single-row lookup per level."""
    path = []
    cur = int(t)
    for lvl in reversed(levels):
        row = lvl.filter(F.col("node") == cur).select("parent").first()
        if row is None:
            raise RuntimeError("broken parent chain in BFS levels")
        path.append((int(row["parent"]), cur))
        cur = int(row["parent"])
    assert cur == int(s)
    return list(reversed(path))


def _level_arcs(res: DataFrame, s: int, t: int, cache: SuperstepCache):
    """Arcs of the pruned Dinitz level DAG: cap>0, lvl(v) == lvl(u)+1,
    and backward-reachable from t — exactly the union of shortest s→t
    paths in the residual, with its arc count. None when t is
    unreachable. One forward BFS + one backward sweep, both O(dist(t))
    supersteps."""
    spark = res.sparkSession
    live = res.filter(F.col("cap") > 0).select("u", "v", "cap")
    levels = cache.truncate(spark.createDataFrame([(int(s), 0)], "node long, lvl int"))
    frontier = levels
    lvl = 0
    reached = False
    while not reached:
        lvl += 1
        nxt, seen = cache.truncate(
            live.join(
                frontier.select(F.col("node").alias("u")), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(levels.select("node"), "node", "left_anti")
            .withColumn("lvl", F.lit(lvl)),
            retire=None if frontier is levels else frontier,
            figures=_reach_figures(t),
        )
        if seen["rows"] == 0:
            return None
        levels = cache.truncate(levels.unionByName(nxt), retire=levels)
        reached = seen["hit"] > 0
        frontier = nxt
    larcs = cache.truncate(
        live.join(levels.select(F.col("node").alias("u"), F.col("lvl").alias("lu")), "u")
        .join(levels.select(F.col("node").alias("v"), F.col("lvl").alias("lv")), "v")
        .filter((F.col("lv") == F.col("lu") + 1) & (F.col("lv") <= lvl))
        .select("u", "v", "cap")
    )
    cache.release([levels, frontier])
    # backward prune from t: keep only arcs feeding shortest s->t paths
    keep = cache.truncate(spark.createDataFrame([(int(t),)], "node long"))
    back = keep
    while True:
        prev, seen = cache.truncate(
            larcs.join(back.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"))
            .distinct()
            .join(keep, "node", "left_anti"),
            retire=None if back is keep else back,
            figures=row_count(),
        )
        if seen["rows"] == 0:
            break
        keep = cache.truncate(keep.unionByName(prev), retire=keep)
        back = prev
    out, seen = cache.truncate(
        larcs.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(keep.withColumnRenamed("node", "v"), "v", "left_semi"),
        figures=row_count(),
    )
    cache.release([larcs, keep, back, prev])
    return out, seen["rows"]


def _blocking_flow(rows, s: int, t: int):
    """Classic current-arc blocking flow on a collected level DAG.
    Returns (phase_value, {(u, v): flow}, saw_infinite_path). Pure
    in-memory driver work; neighbor order ascending for determinism."""
    adj: dict = {}
    cap: dict = {}
    for r in rows:
        adj.setdefault(r["u"], []).append(r["v"])
        cap[(r["u"], r["v"])] = r["cap"]
    for nbrs in adj.values():
        nbrs.sort()
    ptr = {u: 0 for u in adj}
    flow: dict = {}
    total = 0.0
    while True:
        # DFS with current-arc pointers: each retreat permanently advances
        # a pointer, so the whole phase is O(V·paths + E)
        stack = [s]
        path = []
        found = False
        while stack:
            u = stack[-1]
            if u == t:
                found = True
                break
            nbrs = adj.get(u, ())
            advanced = False
            while ptr.get(u, 0) < len(nbrs):
                v = nbrs[ptr[u]]
                if cap[(u, v)] - flow.get((u, v), 0.0) > 0:
                    stack.append(v)
                    path.append((u, v))
                    advanced = True
                    break
                ptr[u] += 1
            if advanced:
                continue
            stack.pop()
            if path:
                pu, pv = path.pop()
                ptr[pu] += 1  # dead end behind this arc: retire it
        if not found:
            return total, flow, False
        bottleneck = min(cap[a] - flow.get(a, 0.0) for a in path)
        if bottleneck == _INF:
            return total, flow, True
        for a in path:
            flow[a] = flow.get(a, 0.0) + bottleneck
        total += bottleneck


def _max_flow(
    g: SparkGraph,
    s: int,
    t: int,
    capacity: str,
    max_augmentations: int,
):
    """Shared kernel: returns (value, flow DF, final residual DF)."""
    spark = g.spark
    s, t = int(s), int(t)
    if s == t:
        raise ValueError("source and sink are the same node")
    with SuperstepCache(spark) as cache:
        res0 = _residual(g, capacity)
        res = cache.truncate(res0)
        orig = cache.truncate(res0)  # initial caps, for flow extraction
        total = 0.0
        n_aug = 0
        while True:
            found = _level_arcs(res, s, t, cache)
            if found is None:
                break
            larcs, n_arcs = found
            if n_arcs > _DRIVER_EDGES:
                import warnings

                warnings.warn(
                    f"maximum_flow: pruned level DAG has {n_arcs} arcs > the "
                    f"driver limit of {_DRIVER_EDGES}; falling back to "
                    "per-path augmentation for this phase (slower)",
                    stacklevel=2,
                )
                levels = _bfs_parents(res, s, t, cache)
                if levels is None:
                    break
                path = _walk_path(levels, s, t)
                caps = {
                    (r["u"], r["v"]): r["cap"]
                    for r in res.join(
                        F.broadcast(spark.createDataFrame(path, "u long, v long")),
                        ["u", "v"],
                        "left_semi",
                    ).collect()
                }
                bottleneck = min(caps[p] for p in path)
                if bottleneck == _INF:
                    raise NetworkXUnbounded(
                        "Infinite capacity path, flow unbounded above."
                    )
                phase_value = bottleneck
                phase_flow = {p: bottleneck for p in path}
            else:
                phase_value, phase_flow, unbounded = _blocking_flow(
                    larcs.collect(), s, t
                )
                if unbounded:
                    raise NetworkXUnbounded(
                        "Infinite capacity path, flow unbounded above."
                    )
                if phase_value == 0.0:
                    break
            cache.release(larcs)
            n_aug += len(phase_flow)
            if n_aug > max_augmentations:
                raise RuntimeError("maximum_flow exceeded max_augmentations")
            total += phase_value
            updates = [(u, v, -f) for (u, v), f in phase_flow.items()] + [
                (v, u, f) for (u, v), f in phase_flow.items()
            ]
            upd = spark.createDataFrame(updates, "u long, v long, d double")
            upd = upd.groupBy("u", "v").agg(F.sum("d").alias("d"))
            res = cache.truncate(
                res.join(F.broadcast(upd), ["u", "v"], "left").select(
                    "u",
                    "v",
                    (F.col("cap") + F.coalesce("d", F.lit(0.0))).alias("cap"),
                ),
                retire=res,
            )

        flow = (
            orig.withColumnRenamed("cap", "cap0")
            .join(res.select("u", "v", F.col("cap").alias("capr")), ["u", "v"])
            .select("u", "v", (F.col("cap0") - F.col("capr")).alias("flow"))
            .filter(F.col("flow") > 0)
        )
        flow = cache.truncate(flow)
        cache.result([flow, res])
        return float(total), flow, res


def maximum_flow(
    g: SparkGraph,
    s: int,
    t: int,
    capacity: str = "capacity",
    *,
    max_augmentations: int = 100_000,
) -> Tuple[float, DataFrame]:
    """Return ``(flow_value, flow DataFrame (u, v, flow))`` — flow on the
    directed arc view (only arcs carrying positive flow are listed)."""
    with SuperstepCache(g.spark) as loop:
        value, flow, res = _max_flow(g, s, t, capacity, max_augmentations)
        loop.release(res)
    return value, flow


def maximum_flow_value(
    g: SparkGraph, s: int, t: int, capacity: str = "capacity"
) -> float:
    """``maxflow.py:305``."""
    with SuperstepCache(g.spark) as loop:
        value, flow, res = _max_flow(g, s, t, capacity, 100_000)
        loop.release([flow, res])
    return value


def minimum_cut(
    g: SparkGraph, s: int, t: int, capacity: str = "capacity"
) -> Tuple[float, Tuple[DataFrame, DataFrame]]:
    """``maxflow.py:447`` — (cut_value, (reachable, non_reachable)): the
    residual-reachable side of the final residual graph and its complement
    (max-flow = min-cut)."""
    value, flow, res = _max_flow(g, s, t, capacity, 100_000)
    spark = g.spark
    with SuperstepCache(spark) as cache:
        cache.release(flow)
        live = res.filter(F.col("cap") > 0).select("u", "v")
        seen = cache.truncate(spark.createDataFrame([(int(s),)], "node long"))
        frontier = seen
        while True:
            nxt, rows = cache.truncate(
                live.join(frontier.withColumnRenamed("node", "u"), "u")
                .select(F.col("v").alias("node"))
                .distinct()
                .join(seen, "node", "left_anti"),
                retire=None if frontier is seen else frontier,
                figures=row_count(),
            )
            if rows["rows"] == 0:
                break
            seen = cache.truncate(seen.unionByName(nxt), retire=seen)
            frontier = nxt
        cache.release(res)
        reachable = cache.result(seen.select(F.col("node").alias("id")))
        rest = g.vertices.select("id").join(reachable, "id", "left_anti")
        return value, (reachable, rest)


def edge_connectivity(g: SparkGraph, s: int = None, t: int = None) -> int:
    """Edge connectivity (``networkx/algorithms/connectivity/connectivity.py:364``).

    With (s, t): local λ(s, t) — minimum number of edges separating t
    from s, via max-flow with unit capacities (Menger). With neither:
    whole-graph λ(G):

    - undirected: driver-gated Stoer–Wagner on unit weights (see
      :func:`stoer_wagner` — exact, zero flow calls, O(n·m) driver work
      under the size guard; the reference's own whole-graph form also
      runs a driver-sized loop of flow computations);
    - directed: Even's cyclic scheme — λ(G) = min over consecutive pairs
      (vᵢ, vᵢ₊₁ mod n) in any fixed node order of λ(vᵢ, vᵢ₊₁), each a
      distributed Dinitz run (any cut has some consecutive pair
      straddling it). n flow calls, the reference's own cost class
      (``connectivity.py:459``); 0 when not strongly connected.
    """
    if (s is None) != (t is None):
        raise ValueError("Both source and target must be specified.")
    if s is None:
        from linkgraph.algos.components import is_connected
        from linkgraph.algos.strongly_connected import is_strongly_connected

        if g.number_of_nodes() < 2:
            raise ValueError(
                "Expected a graph with at least two nodes"
            )
        if g.directed:
            if not is_strongly_connected(g):
                return 0
            ids = sorted(r["id"] for r in g.vertices.select("id").collect())
            lam = None
            for u, v in zip(ids, ids[1:] + ids[:1]):
                cur = edge_connectivity(g, u, v)
                lam = cur if lam is None else min(lam, cur)
                if lam == 0:
                    break
            return int(lam)
        if not is_connected(g):
            return 0
        value, _ = stoer_wagner(g, weight=None, _unit=True)
        return int(round(value))
    unit = SparkGraph(
        g.edges.select("src", "dst", F.lit(1.0).alias("capacity")),
        g.vertices.select("id"),
        directed=g.directed,
        coalesce_edges=False,
    )
    return int(round(maximum_flow_value(unit, s, t, "capacity")))


def node_connectivity(g: SparkGraph, s: int = None, t: int = None) -> int:
    """Node connectivity (``connectivity.py:53`` local form, ``:206``
    whole-graph form).

    With (s, t): local κ(s, t) — minimum number of nodes (besides s, t)
    separating them; raises when s and t are adjacent, like the
    reference. With neither: whole-graph κ(G) by the reference's own
    schedule — fix a minimum-degree node v, take the min of κ(v, w) over
    non-neighbors w and κ(x, y) over non-adjacent neighbor pairs of v
    (both directions when directed) — each a distributed Dinitz run on
    the split graph; O(deg(v)² + n) flow calls, the identical cost class
    the reference pays. 0 when not (strongly) connected.

    Standard vertex-splitting reduction onto the same distributed
    Edmonds-Karp: node v becomes v_in → v_out with capacity 1 (∞ for s
    and t, encoded as n — κ never exceeds n), each edge (u, v) becomes
    u_out → v_in at capacity n (both directions when undirected); κ(s,t)
    is the max-flow from s_out to t_in.
    """
    if (s is None) != (t is None):
        raise ValueError("Both source and target must be specified.")
    if s is None:
        return _global_node_connectivity(g)
    adjacent = not (
        g.symmetric_edges()
        .filter((F.col("src") == s) & (F.col("dst") == t))
        .isEmpty()
    )
    if adjacent:
        # the reference's local form: κ(s, t) with a direct edge = 1 +
        # κ(s, t) in G minus that edge (the edge is one internally
        # disjoint path all by itself)
        if g.directed:
            keep = ~((F.col("src") == s) & (F.col("dst") == t))
        else:
            a, b = (s, t) if s < t else (t, s)
            keep = ~((F.col("src") == a) & (F.col("dst") == b))
        reduced = SparkGraph(
            g.edges.filter(keep),
            g._vertices if g._vertices is not None else g.vertices,
            directed=g.directed,
            coalesce_edges=False,
        )
        return 1 + node_connectivity(reduced, s, t)
    n = g.number_of_nodes()
    big = float(n)
    arcs = g.symmetric_edges() if not g.directed else g.edges
    cross = arcs.select(
        (F.col("src") * 2 + 1).alias("src"),
        (F.col("dst") * 2).alias("dst"),
        F.lit(big).alias("capacity"),
    )
    internal = g.vertices.select(
        (F.col("id") * 2).alias("src"),
        (F.col("id") * 2 + 1).alias("dst"),
        F.when(F.col("id").isin(int(s), int(t)), big)
        .otherwise(1.0)
        .alias("capacity"),
    )
    split = SparkGraph(
        cross.unionByName(internal), directed=True, coalesce_edges=False
    )
    return int(round(maximum_flow_value(split, int(s) * 2 + 1, int(t) * 2, "capacity")))


def _global_node_connectivity(g: SparkGraph) -> int:
    """Whole-graph κ(G) — the reference's minimum-degree-pivot schedule
    (``connectivity.py:206``)."""
    from linkgraph.algos.components import is_connected
    from linkgraph.algos.strongly_connected import is_strongly_connected

    n = g.number_of_nodes()
    if n < 2:
        raise ValueError("Expected a graph with at least two nodes")
    if g.directed:
        if not is_strongly_connected(g):
            return 0
    elif not is_connected(g):
        return 0

    sym = g.symmetric_edges().select("src", "dst").distinct()
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    v = deg.orderBy("deg", "id").first()
    pivot, kappa = int(v["id"]), int(v["deg"])

    out_nbrs = {
        r["dst"]
        for r in (g.edges if g.directed else sym)
        .filter(F.col("src") == pivot)
        .select("dst")
        .collect()
    }
    in_nbrs = (
        {
            r["src"]
            for r in g.edges.filter(F.col("dst") == pivot).select("src").collect()
        }
        if g.directed
        else out_nbrs
    )
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    adj_pairs = {
        (r["src"], r["dst"]) for r in sym.collect()
    }  # membership probe set for neighbor-pair adjacency

    # κ(pivot, w) for every non-successor w; κ(w, pivot) for every
    # non-predecessor w (directed covers both orientations)
    for w in ids:
        if kappa <= 1:
            break
        if w != pivot and w not in out_nbrs:
            kappa = min(kappa, node_connectivity(g, pivot, w))
    if g.directed:
        for w in ids:
            if kappa <= 1:
                break
            if w != pivot and w not in in_nbrs:
                kappa = min(kappa, node_connectivity(g, w, pivot))
    # non-adjacent pairs among the pivot's neighbors
    nbrs = sorted(out_nbrs | in_nbrs)
    for i, x in enumerate(nbrs):
        if kappa <= 1:
            break
        for y in nbrs[i + 1 :]:
            if (x, y) not in adj_pairs:
                kappa = min(kappa, node_connectivity(g, x, y))
                if kappa <= 1:
                    break
    return int(kappa)


def stoer_wagner(
    g: SparkGraph,
    *,
    weight=None,
    _unit: bool = False,
) -> Tuple[float, Tuple[list, list]]:
    """(cut_value, (partition, rest)): the global minimum weighted edge
    cut of a connected undirected graph — Stoer–Wagner maximum-adjacency
    search (``networkx/algorithms/connectivity/stoerwagner.py:14``).

    Each of the n−1 phases grows an ordering by repeatedly absorbing the
    most-connected remaining node, then contracts the last two — a
    sequential dependence with no join form (like DFS), so the kernel is
    driver-gated under a size guard; values are exact, not approximate.
    ``weight`` accepts a column/SQL expression; ``_unit=True`` forces
    unit weights (the whole-graph :func:`edge_connectivity` path)."""
    from linkgraph.graph import resolve_weight_column

    if g.directed:
        from linkgraph.exceptions import NetworkXError

        raise NetworkXError("stoer_wagner: not implemented for directed type")
    from linkgraph.algos.components import is_connected

    n = g.number_of_nodes()
    if n < 2:
        raise ValueError("graph has less than two nodes.")
    if not is_connected(g):
        raise ValueError("graph is not connected.")

    base = g.edges
    wcol = (
        F.lit(1.0)
        if _unit
        else resolve_weight_column(base, weight)
    )
    arcs = base.select("src", "dst", wcol.alias("w")).filter(
        F.col("src") != F.col("dst")
    )
    adj: dict[int, dict[int, float]] = {}
    for r in driver_rows(
        arcs, _DRIVER_EDGES, "stoer_wagner phases are sequential by definition"
    ):
        u, v, w = int(r["src"]), int(r["dst"]), float(r["w"])
        if w < 0:
            raise ValueError("graph has a negative-weighted edge.")
        adj.setdefault(u, {})[v] = adj.setdefault(u, {}).get(v, 0.0) + w
        adj.setdefault(v, {})[u] = adj.setdefault(v, {}).get(u, 0.0) + w
    for r in g.vertices.select("id").collect():
        adj.setdefault(int(r["id"]), {})
    return _stoer_wagner_phases(adj)


def _stoer_wagner_phases(adj: dict) -> Tuple[float, Tuple[list, list]]:
    """The driver kernel of :func:`stoer_wagner` over a connected graph's
    adjacency ``{u: {v: weight}}`` (both directions, no self-loops; it is
    contracted in place)."""
    import heapq
    from itertools import count

    # contraction tracking: each supernode owns a set of original ids
    groups = {u: [u] for u in adj}
    best_value, best_group = float("inf"), None
    tie = count()
    while len(adj) > 1:
        # maximum-adjacency search from the smallest id (determinism rule)
        start = min(adj)
        seen = {start}
        conn = {}  # candidate -> total weight into seen
        heap = []
        for v, w in adj[start].items():
            conn[v] = w
            heapq.heappush(heap, (-w, next(tie), v))
        order = [start]
        while len(seen) < len(adj):
            while True:
                negw, _, u = heapq.heappop(heap)
                if u not in seen and conn.get(u) == -negw:
                    break
            seen.add(u)
            order.append(u)
            for v, w in adj[u].items():
                if v not in seen:
                    conn[v] = conn.get(v, 0.0) + w
                    heapq.heappush(heap, (-conn[v], next(tie), v))
        s, t = order[-2], order[-1]
        cut_of_phase = sum(adj[t].values())
        if cut_of_phase < best_value:
            best_value = cut_of_phase
            best_group = list(groups[t])
        # contract t into s
        for v, w in adj[t].items():
            if v != s:
                adj[v][s] = adj[v].get(s, 0.0) + w
                adj[s][v] = adj[s].get(v, 0.0) + w
            del adj[v][t]
        del adj[t]
        groups[s].extend(groups[t])
        del groups[t]

    part = sorted(best_group)
    part_set = set(part)
    rest = sorted(u for u in groups[next(iter(groups))] if u not in part_set)
    return float(best_value), (part, rest)


def _unit_graph(g: SparkGraph) -> SparkGraph:
    return SparkGraph(
        g.edges.select("src", "dst", F.lit(1.0).alias("capacity")),
        g.vertices.select("id"),
        directed=g.directed,
        coalesce_edges=False,
    )


def minimum_edge_cut(g: SparkGraph, s: int = None, t: int = None) -> DataFrame:
    """The minimum-cardinality edge cut as a DataFrame ``(src, dst)`` of
    original edge rows (``networkx/algorithms/connectivity/cuts.py:302``
    ``minimum_edge_cut``).

    With (s, t): the crossing edges of the residual-reachability partition
    of a unit-capacity Dinitz run (Menger). With neither: whole-graph —
    undirected via the Stoer–Wagner partition (zero flow calls), directed
    via Even's cyclic scheme keeping the argmin pair (n Dinitz runs, the
    reference's own schedule).
    """
    spark = g.spark
    if (s is None) != (t is None):
        raise ValueError("Both source and target must be specified.")
    if s is not None:
        _, (reach, _) = minimum_cut(_unit_graph(g), int(s), int(t), "capacity")
        return _crossing_edges(g, reach)
    from linkgraph.algos.components import is_connected
    from linkgraph.algos.strongly_connected import is_strongly_connected

    if g.number_of_nodes() < 2:
        raise ValueError("Expected a graph with at least two nodes")
    if g.directed:
        if not is_strongly_connected(g):
            return g.edges.select("src", "dst").limit(0)
        ids = sorted(r["id"] for r in g.vertices.select("id").collect())
        best_pair, best = None, None
        for u, v in zip(ids, ids[1:] + ids[:1]):
            cur = edge_connectivity(g, u, v)
            if best is None or cur < best:
                best, best_pair = cur, (u, v)
            if best == 0:
                break
        _, (reach, _) = minimum_cut(_unit_graph(g), *best_pair, "capacity")
        return _crossing_edges(g, reach)
    if not is_connected(g):
        return g.edges.select("src", "dst").limit(0)
    _, (part, _) = stoer_wagner(g, weight=None, _unit=True)
    reach = spark.createDataFrame([(int(p),) for p in part], "id long")
    return _crossing_edges(g, reach)


def _crossing_edges(g: SparkGraph, side: DataFrame) -> DataFrame:
    """Edges of g with exactly one endpoint in ``side`` (directed: arcs
    leaving ``side``) — the cut set induced by a partition."""
    sdf = side.select(F.col(side.columns[0]).alias("id")).distinct()
    e = g.edges.select("src", "dst")
    in_s = sdf.withColumnRenamed("id", "src")
    in_t = sdf.withColumnRenamed("id", "dst")
    if g.directed:
        return e.join(in_s, "src", "left_semi").join(in_t, "dst", "left_anti")
    a = e.join(in_s, "src", "left_semi").join(in_t, "dst", "left_anti")
    b = e.join(in_t, "dst", "left_semi").join(in_s, "src", "left_anti")
    return a.unionByName(b)


def _st_node_cut_df(g: SparkGraph, s: int, t: int) -> DataFrame:
    """Minimum (s, t) vertex cut via the split-graph residual partition:
    cut nodes are those whose in-copy is residual-reachable but whose
    out-copy is not (the saturated unit internal arcs)."""
    n = g.number_of_nodes()
    big = float(n)
    arcs = g.symmetric_edges() if not g.directed else g.edges
    cross = arcs.select(
        (F.col("src") * 2 + 1).alias("src"),
        (F.col("dst") * 2).alias("dst"),
        F.lit(big).alias("capacity"),
    )
    internal = g.vertices.select(
        (F.col("id") * 2).alias("src"),
        (F.col("id") * 2 + 1).alias("dst"),
        F.when(F.col("id").isin(int(s), int(t)), big)
        .otherwise(1.0)
        .alias("capacity"),
    )
    split = SparkGraph(
        cross.unionByName(internal), directed=True, coalesce_edges=False
    )
    _, (reach, _) = minimum_cut(split, int(s) * 2 + 1, int(t) * 2, "capacity")
    r = reach.select(F.col("id").alias("sid"))
    in_reach = r.filter(F.col("sid") % 2 == 0).select(
        (F.col("sid") / 2).cast("long").alias("id")
    )
    out_reach = r.filter(F.col("sid") % 2 == 1).select(
        ((F.col("sid") - 1) / 2).cast("long").alias("id")
    )
    return (
        in_reach.join(out_reach, "id", "left_anti")
        .filter(~F.col("id").isin(int(s), int(t)))
    )


def minimum_node_cut(g: SparkGraph, s: int = None, t: int = None) -> DataFrame:
    """The minimum vertex cut as a DataFrame ``(id)``
    (``connectivity/cuts.py:174`` ``minimum_node_cut``).

    With (s, t): the saturated split nodes of the vertex-splitting Dinitz
    run (raises for adjacent endpoints, like the reference). With
    neither: the reference's minimum-degree-pivot schedule
    (``cuts.py:231``), keeping the smallest cut seen.
    """
    if (s is None) != (t is None):
        raise ValueError("Both source and target must be specified.")
    if s is not None:
        adjacent = not (
            g.symmetric_edges()
            .filter((F.col("src") == s) & (F.col("dst") == t))
            .isEmpty()
        )
        if adjacent:
            raise ValueError(
                "node cut is undefined for adjacent source and target"
            )
        return _st_node_cut_df(g, s, t)

    from linkgraph.algos.components import is_connected
    from linkgraph.algos.strongly_connected import is_strongly_connected

    n = g.number_of_nodes()
    if n < 2:
        raise ValueError("Expected a graph with at least two nodes")
    if g.directed:
        if not is_strongly_connected(g):
            return g.vertices.select("id").limit(0)
    elif not is_connected(g):
        return g.vertices.select("id").limit(0)

    sym = g.symmetric_edges().select("src", "dst").distinct()
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    v = deg.orderBy("deg", "id").first()
    pivot = int(v["id"])
    out_nbrs = {
        r["dst"]
        for r in (g.edges if g.directed else sym)
        .filter(F.col("src") == pivot)
        .select("dst")
        .collect()
    }
    in_nbrs = (
        {
            r["src"]
            for r in g.edges.filter(F.col("dst") == pivot).select("src").collect()
        }
        if g.directed
        else out_nbrs
    )
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    adj_pairs = {(r["src"], r["dst"]) for r in sym.collect()}

    best_rows, best_size = None, None

    def consider(a, b):
        nonlocal best_rows, best_size
        cut = _st_node_cut_df(g, a, b)
        rows = sorted(r["id"] for r in cut.collect())
        if best_size is None or len(rows) < best_size:
            best_rows, best_size = rows, len(rows)

    for w in ids:
        if best_size is not None and best_size <= 1:
            break
        if w != pivot and w not in out_nbrs:
            consider(pivot, w)
    if g.directed:
        for w in ids:
            if best_size is not None and best_size <= 1:
                break
            if w != pivot and w not in in_nbrs:
                consider(w, pivot)
    nbrs = sorted(out_nbrs | in_nbrs)
    for i, x in enumerate(nbrs):
        if best_size is not None and best_size <= 1:
            break
        for y in nbrs[i + 1 :]:
            if (x, y) not in adj_pairs:
                consider(x, y)
                if best_size is not None and best_size <= 1:
                    break
    rows = best_rows or []
    return g.spark.createDataFrame([(int(x),) for x in rows], "id long")


def _decompose_unit_flow(flow_rows, s: int, t: int):
    """Greedy path decomposition of a unit flow (driver-side over the
    positive-flow arcs — k·O(path) work on a k-path flow)."""
    out: dict = {}
    for u, v in flow_rows:
        out.setdefault(u, []).append(v)
    # cancel opposite unit pairs (residual bookkeeping can leave both)
    for u in list(out):
        for v in list(out.get(u, [])):
            if v in out and u in out.get(v, []) and u != v:
                out[u].remove(v)
                out[v].remove(u)
    paths = []
    while out.get(s):
        path = [s]
        seen_at = {s: 0}
        cur = s
        while cur != t:
            nxt = out[cur].pop()
            if nxt in seen_at:
                # drop the internal cycle, keep walking
                k = seen_at[nxt]
                for dead in path[k + 1 :]:
                    seen_at.pop(dead, None)
                path = path[: k + 1]
            else:
                path.append(nxt)
                seen_at[nxt] = len(path) - 1
            cur = nxt
        paths.append(path)
    return paths


def edge_disjoint_paths(g: SparkGraph, s: int, t: int) -> "list[list[int]]":
    """A maximum set of edge-disjoint s→t paths
    (``connectivity/disjoint_paths.py:141``): unit-capacity Dinitz +
    driver-side flow decomposition (the flow support is k paths — tiny
    next to the graph)."""
    s, t = int(s), int(t)
    _, flow = maximum_flow(_unit_graph(g), s, t, "capacity")
    rows = [(r["u"], r["v"]) for r in flow.filter(F.col("flow") > 0.5).collect()]
    return _decompose_unit_flow(rows, s, t)


def node_disjoint_paths(g: SparkGraph, s: int, t: int) -> "list[list[int]]":
    """A maximum set of internally node-disjoint s→t paths
    (``disjoint_paths.py:26``): the vertex-splitting reduction, then flow
    decomposition mapped back through the split ids."""
    s, t = int(s), int(t)
    adjacent = not (
        g.symmetric_edges()
        .filter((F.col("src") == s) & (F.col("dst") == t))
        .isEmpty()
    )
    n = g.number_of_nodes()
    big = float(n)
    arcs = g.symmetric_edges() if not g.directed else g.edges
    cross = arcs.select(
        (F.col("src") * 2 + 1).alias("src"),
        (F.col("dst") * 2).alias("dst"),
        F.lit(1.0 if adjacent else big).alias("capacity"),
    )
    # adjacent endpoints: cap edge arcs at 1 so each parallel route is a
    # distinct path, matching the reference's behavior of returning the
    # direct edge plus the disjoint detours
    internal = g.vertices.select(
        (F.col("id") * 2).alias("src"),
        (F.col("id") * 2 + 1).alias("dst"),
        F.when(F.col("id").isin(s, t), big).otherwise(1.0).alias("capacity"),
    )
    split = SparkGraph(
        cross.unionByName(internal), directed=True, coalesce_edges=False
    )
    _, flow = maximum_flow(split, s * 2 + 1, t * 2, "capacity")
    rows = [(r["u"], r["v"]) for r in flow.filter(F.col("flow") > 0.5).collect()]
    split_paths = _decompose_unit_flow(rows, s * 2 + 1, t * 2)
    out = []
    for p in split_paths:
        nodes = [x // 2 for x in p]
        dedup = [nodes[0]]
        for x in nodes[1:]:
            if x != dedup[-1]:
                dedup.append(x)
        out.append(dedup)
    return out


def _dinic_py(res, s, t):
    """Driver-side Dinic on a residual dict ``{u: {v: cap}}`` (mutated in
    place). Returns ``(flow_value, reach_set)`` with ``reach_set`` = the
    residual-reachable source side after the max flow — the same
    certificate the distributed kernel returns."""
    from collections import deque

    total = 0.0
    while True:
        level = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for v, c in res[u].items():
                if c > 1e-12 and v not in level:
                    level[v] = level[u] + 1
                    dq.append(v)
        if t not in level:
            return total, set(level)
        iters = {u: iter(list(res[u].items())) for u in level}
        # iterative blocking-flow DFS (no recursion-depth ceiling)
        stack = [s]
        path = []
        while stack:
            u = stack[-1]
            if u == t:
                f = min(res[a][b] for a, b in path)
                for a, b in path:
                    res[a][b] -= f
                    res[b][a] = res[b].get(a, 0.0) + f
                total += f
                # restart from the deepest surviving edge
                for i, (a, b) in enumerate(path):
                    if res[a][b] <= 1e-12:
                        del stack[i + 1 :]
                        del path[i:]
                        break
                continue
            advanced = False
            for v, c in iters[u]:
                if c > 1e-12 and level.get(v) == level[u] + 1 and v in iters:
                    # re-read the live residual (iters snapshots caps)
                    if res[u][v] > 1e-12:
                        stack.append(v)
                        path.append((u, v))
                        advanced = True
                        break
            if not advanced:
                stack.pop()
                if path:
                    path.pop()


def gomory_hu_tree(
    g: SparkGraph,
    capacity: str = "capacity",
    *,
    max_nodes: int = 2000,
) -> DataFrame:
    """Gomory–Hu cut tree as a DataFrame ``(u, v, weight)``
    (``networkx/algorithms/flow/gomoryhu.py:17`` ``gomory_hu_tree``,
    Gusfield's simplification): n−1 min-cut runs on the ORIGINAL graph,
    a driver loop re-parenting nodes on the source side of each cut. The
    tree's min-weight path edge equals every pair's minimum cut value —
    the invariant the parity tests pin.

    The per-node loop is inherently sequential (each cut depends on the
    re-parented tree), so the node count is guarded by ``max_nodes``.
    Graphs of at most 500k edge rows run the whole
    loop driver-side with a local Dinic — n−1 DEPENDENT distributed flow
    runs cost thousands of tiny supersteps (measured ~6 min for the
    25-node contract ring) versus milliseconds locally, the same guard
    rationale as the blossom/DFS family. Above the guard each cut is the
    distributed Dinitz kernel, so the GRAPH can be arbitrarily large —
    the hard guard is on n, not m.
    """
    if g.directed:
        raise ValueError("gomory_hu_tree is defined on undirected graphs")
    from linkgraph.algos.components import is_connected

    n = g.number_of_nodes()
    if n == 0:
        raise ValueError("Empty Graph.")
    if n > max_nodes:
        raise ValueError(
            f"gomory_hu_tree re-parents nodes sequentially; {n} nodes > "
            f"max_nodes={max_nodes}."
        )
    if n > 1 and not is_connected(g):
        raise ValueError("graph is not connected.")
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    root = ids[0]
    parent = {v: root for v in ids if v != root}
    weight = {}

    m = g.edges.limit(_GOMORY_HU_LOCAL_EDGES + 1).count()
    local_adj = None
    if m <= _GOMORY_HU_LOCAL_EDGES:
        cap_rows = (
            g.edges.select(
                "src", "dst", F.col(capacity).cast("double").alias("c")
            )
            .groupBy("src", "dst")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
        local_adj = {v: {} for v in ids}
        for r in cap_rows:
            u, v, c = r["src"], r["dst"], float(r["c"])
            if u == v:
                continue
            local_adj[u][v] = local_adj[u].get(v, 0.0) + c
            local_adj[v][u] = local_adj[v].get(u, 0.0) + c

    for s_node in ids[1:]:
        t_node = parent[s_node]
        if local_adj is not None:
            res = {u: dict(vs) for u, vs in local_adj.items()}
            val, side = _dinic_py(res, s_node, t_node)
        else:
            val, (reach, _) = minimum_cut(g, s_node, t_node, capacity)
            side = {r["id"] for r in reach.collect()}
        weight[s_node] = val
        for v in ids:
            if v != s_node and parent.get(v) == t_node and v in side:
                parent[v] = s_node
        gp = parent.get(t_node)
        if gp is not None and gp in side:
            parent[s_node] = gp
            parent[t_node] = s_node
            weight[s_node] = weight[t_node]
            weight[t_node] = val
    rows = [(int(v), int(p), float(weight[v])) for v, p in parent.items()]
    return g.spark.createDataFrame(rows, "u long, v long, weight double")


def k_edge_components(g: SparkGraph, k: int) -> DataFrame:
    """(id, component): maximal sets with pairwise local edge connectivity
    >= k (``connectivity/edge_kcomponents.py:37`` ``k_edge_components``;
    label = min member id).

    k=1 is connected components (distributed large-star/small-star); k=2
    is the bridge-deletion form (distributed); k>=3 uses the Gomory–Hu
    tree on unit capacities — λ(u, v) >= k is an equivalence relation
    (λ(u,v) >= min(λ(u,w), λ(w,v))), and the GH tree realizes every λ, so
    the classes are the components of the tree minus its light edges.
    """
    if g.directed:
        raise ValueError("k_edge_components: undirected graphs only")
    if k < 1:
        raise ValueError(f"k cannot be less than 1; k={k}")
    from linkgraph.algos.components import connected_components

    if k == 1:
        return connected_components(g)
    if k == 2:
        from linkgraph.algos.bridges import two_edge_connected_components

        return two_edge_connected_components(g)
    spark = g.spark
    # per connected component, GH tree on unit capacities
    cc = connected_components(g).persist()
    comps = [r["component"] for r in cc.select("component").distinct().collect()]
    all_rows = []
    for comp in comps:
        member_df = cc.filter(F.col("component") == comp).select("id")
        members = {r["id"] for r in member_df.collect()}
        if len(members) == 1:
            (only,) = members
            all_rows.append((int(only), int(only)))
            continue
        sub = g.subgraph(member_df)
        tree = gomory_hu_tree(_unit_graph(sub), "capacity")
        heavy = [
            (r["u"], r["v"]) for r in tree.filter(F.col("weight") >= k).collect()
        ]
        # union-find over the heavy tree edges (tree-sized, driver-side)
        lead = {m: m for m in members}

        def find(x):
            while lead[x] != x:
                lead[x] = lead[lead[x]]
                x = lead[x]
            return x

        for u, v in heavy:
            ru, rv = find(u), find(v)
            if ru != rv:
                lo, hi = min(ru, rv), max(ru, rv)
                lead[hi] = lo
        all_rows.extend((int(m), int(find(m))) for m in members)
    cc.unpersist()
    return spark.createDataFrame(all_rows, "id long, component long")


def k_edge_subgraphs(g: SparkGraph, k: int) -> DataFrame:
    """(id, component): maximal node sets whose INDUCED subgraphs are
    k-edge-connected (``edge_kcomponents.py:115`` ``k_edge_subgraphs``;
    label = min member id).

    k=1 coincides with connected components; k>=2 runs the standard
    cut-and-recurse: while some piece's induced subgraph has a global min
    cut below k, split it along that cut. Each global cut is the
    driver-gated Stoer–Wagner kernel on the induced piece (unit weights),
    so the graph is collected in batches of whole components (see
    :func:`_component_batches`) and every piece is split on the driver;
    the recursion depth is at most n. Undirected only.
    """
    if g.directed:
        raise ValueError("k_edge_subgraphs: undirected graphs only")
    if k < 1:
        raise ValueError(f"k cannot be less than 1; k={k}")
    if k == 1:
        from linkgraph.algos.components import connected_components

        return connected_components(g)
    from linkgraph.algos.edge_augmentation import _connected_parts

    out_rows = []
    for adj in _component_batches(g):
        # driver worklist of node-id sets, split until each is
        # k-edge-connected
        work = [frozenset(adj)] if adj else []
        while work:
            piece = work.pop()
            sub = {u: adj[u] & piece for u in piece}
            # a disconnected piece (a batch, or one side of a cut) breaks
            # into its components
            parts = _connected_parts(sub)
            if len(parts) > 1:
                work.extend(frozenset(p) for p in parts)
                continue
            if len(piece) == 1:
                val = float("inf")
            else:
                val, (side_a, side_b) = _stoer_wagner_phases(
                    {u: {v: 1.0 for v in nbrs} for u, nbrs in sub.items()}
                )
            if val >= k:
                lead = min(piece)
                out_rows.extend((int(x), int(lead)) for x in piece)
            else:
                work.append(frozenset(side_a))
                work.append(frozenset(side_b))
    return g.spark.createDataFrame(out_rows, "id long, component long")


def _component_batches(g: SparkGraph):
    """Adjacency sets ``{u: {v}}`` of undirected ``g`` on the driver, in
    batches of whole connected components of at most ``_DRIVER_EDGES``
    arcs each: the whole graph at once when it fits, else a CC on Spark
    cuts the components (ordered by label) into contiguous label ranges.
    A single component over the guard raises NetworkXError, as the
    Stoer–Wagner kernel does on it."""
    arcs = g.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))

    def collect(ids: DataFrame, arcs: DataFrame) -> dict:
        adj = {int(r["id"]): set() for r in ids.collect()}
        for r in arcs.collect():
            u, v = int(r["src"]), int(r["dst"])
            adj[u].add(v)
            adj[v].add(u)
        return adj

    if arcs.count() <= _DRIVER_EDGES:
        yield collect(g.vertices.select("id"), arcs)
        return
    from linkgraph.algos.components import _components

    with SuperstepCache(g.spark) as loop:
        comp = _components(g, loop)  # (id, component)
        arcs = arcs.join(comp.withColumnRenamed("id", "src"), "src")
        sizes = (
            comp.select("component")
            .distinct()
            .join(arcs.groupBy("component").count(), "component", "left")
            .select("component", F.coalesce("count", F.lit(0)).alias("m"))
            .orderBy("component")
            .collect()
        )
        ranges = []  # [lo, hi, edges] of each batch
        for r in sizes:
            c, m = int(r["component"]), int(r["m"])
            check_driver_limit(
                m, _DRIVER_EDGES,
                "k_edge_subgraphs cuts with the sequential Stoer-Wagner kernel; "
                f"component {c}",
            )
            if ranges and ranges[-1][2] + m <= _DRIVER_EDGES:
                ranges[-1][1:] = [c, ranges[-1][2] + m]
            else:
                ranges.append([c, c, m])
        for lo, hi, _ in ranges:
            inside = F.col("component").between(lo, hi)
            yield collect(
                comp.filter(inside).select("id"),
                arcs.filter(inside).select("src", "dst"),
            )


def is_k_edge_connected(g: SparkGraph, k: int) -> bool:
    """``edge_augmentation.py`` ``is_k_edge_connected`` — λ(G) >= k via
    the whole-graph edge connectivity already built (Stoer-Wagner /
    Even's scheme)."""
    k = int(k)
    if k < 1:
        raise ValueError("k must be positive")
    n = g.number_of_nodes()
    if n < 2:
        return False
    if k == 1:
        return _k1_connected(g)
    return edge_connectivity(g) >= k


def _k1_connected(g: SparkGraph) -> bool:
    if g.directed:
        from linkgraph.algos.strongly_connected import is_strongly_connected

        return is_strongly_connected(g)
    from linkgraph.algos.components import is_connected

    return is_connected(g)


def average_node_connectivity(
    g: SparkGraph, flow_func=None, *, max_pairs: int = 2000, seed: int = 0
) -> float:
    """``connectivity.py`` ``average_node_connectivity`` — mean local
    κ(u, v) over distinct node pairs. Each κ is one distributed Dinitz
    flow; the pair loop is driver-orchestrated and guarded at
    ``max_pairs`` (beyond that, pairs are hash-sampled deterministically
    and the mean is the unbiased estimate — the exact full loop is
    O(n²) flow calls by definition, same as the reference)."""
    verts = [r["id"] for r in g.vertices.select("id").orderBy("id").collect()]
    n = len(verts)
    if n < 2:
        return 0.0
    import itertools

    pairs = list(itertools.combinations(verts, 2))
    if g.directed:
        pairs = [p for ab in pairs for p in (ab, ab[::-1])]
    if len(pairs) > max_pairs:
        import hashlib

        pairs.sort(
            key=lambda p: hashlib.blake2b(
                f"{seed}:{p[0]}:{p[1]}".encode(), digest_size=8
            ).digest()
        )
        pairs = pairs[:max_pairs]
    total = 0
    for u, v in pairs:
        total += node_connectivity(g, u, v)
    return total / len(pairs)


def minimum_cut_value(
    g: SparkGraph, s: int, t: int, capacity: str = "capacity"
) -> float:
    """``maxflow.py`` ``minimum_cut_value`` — the st-cut capacity without
    materializing the partition (max-flow = min-cut)."""
    return maximum_flow_value(g, s, t, capacity)


# ---------------------------------------------------------------------- #
# flow_func entry points (``flow/{dinitz_alg,edmondskarp,
# shortestaugmentingpath,boykovkolmogorov,preflowpush,utils}.py``) — the
# reference exposes one callable per schedule; this engine runs ONE
# distributed Dinitz blocking-flow kernel (identical values, phase-bounded
# supersteps), so every schedule name maps to it. ``build_residual_
# network`` / ``build_flow_dict`` are the data-shape utilities.
# ---------------------------------------------------------------------- #


def dinitz(g: SparkGraph, s, t, capacity: str = "capacity", **kwargs):
    """``flow/dinitz_alg.py`` ``dinitz`` — (value, flow) from the
    engine's native Dinitz kernel (this IS the primary schedule)."""
    return maximum_flow(g, s, t, capacity, **kwargs)


def edmonds_karp(g: SparkGraph, s, t, capacity: str = "capacity", **kwargs):
    """``flow/edmondskarp.py`` — same max-flow value/assignment; the
    shortest-augmenting schedule is subsumed by Dinitz phases."""
    return maximum_flow(g, s, t, capacity, **kwargs)


def shortest_augmenting_path(g: SparkGraph, s, t, capacity: str = "capacity", **kwargs):
    """``flow/shortestaugmentingpath.py`` — Dinitz-kernel twin."""
    return maximum_flow(g, s, t, capacity, **kwargs)


def boykov_kolmogorov(g: SparkGraph, s, t, capacity: str = "capacity", **kwargs):
    """``flow/boykovkolmogorov.py`` — Dinitz-kernel twin (the BK
    tree-growing schedule is a sequential-machine optimization)."""
    return maximum_flow(g, s, t, capacity, **kwargs)


def preflow_push(g: SparkGraph, s, t, capacity: str = "capacity", **kwargs):
    """``flow/preflowpush.py`` — Dinitz-kernel twin (value parity; the
    push-relabel schedule itself is out of scope, documented in SURVEY)."""
    return maximum_flow(g, s, t, capacity, **kwargs)


def build_residual_network(g: SparkGraph, capacity: str = "capacity") -> SparkGraph:
    """``flow/utils.py`` ``build_residual_network`` — both arc directions
    with explicit capacities (reverse arcs capacity 0), the input shape
    of every flow schedule; one union, fully distributed."""
    cap = (
        F.col(capacity).cast("double")
        if capacity in g.edges.columns
        else F.lit(float("inf"))
    )
    fwd = g.edges.select("src", "dst", cap.alias("capacity"))
    bwd = g.edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(0.0).alias("capacity"),
    ).join(
        fwd.select("src", "dst"), ["src", "dst"], "left_anti"
    )
    arcs = fwd.unionByName(bwd).withColumn("flow", F.lit(0.0))
    return SparkGraph(
        arcs.withColumnRenamed("capacity", "capacity"),
        g.vertices.select("id"),
        directed=True,
        coalesce_edges=False,
    )


def build_flow_dict(g: SparkGraph, flow: DataFrame) -> dict:
    """``flow/utils.py``-adjacent helper: the reference's nested
    {u: {v: flow}} dict from a flow DataFrame (driver bridge)."""
    out: dict = {}
    for r in flow.collect():
        out.setdefault(r[0], {})[r[1]] = float(r[2])
    return out
