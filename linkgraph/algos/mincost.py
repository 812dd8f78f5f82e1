"""Minimum-cost flow — primal-dual successive-shortest-path phases.

Reference semantics: ``networkx/algorithms/flow/mincost.py``
(``min_cost_flow_cost:19``, ``min_cost_flow:100``, ``cost_of_flow:160``,
``max_flow_min_cost:225``) and ``networkx/algorithms/flow/networksimplex.py``
(``network_simplex:483``). The reference's network simplex walks a spanning
tree one pivot at a time — inherently sequential pointer-chasing. The same
optimum here comes from the textbook primal-dual schedule, which is
join-shaped:

1. **Negative-arc presend** (the classic transformation): every finite-cap
   arc with negative cost is saturated up front, its endpoints' residual
   demands adjusted, leaving a residual network whose costs are all >= 0.
   This also makes zero-demand problems compute the **min-cost
   circulation** (negative cycles are canceled by construction), matching
   ``network_simplex`` on graphs with negative-cost cycles.
2. A super-source S is wired to every excess node and every deficit node to
   a super-sink T; the loop then repeats: one distributed **Bellman-Ford**
   from S over the positive-capacity residual (costs on reverse arcs are
   negative, but shortest-path augmentation keeps the residual free of
   negative cycles — the standard SSP invariant), prune to the
   **admissible subgraph** (arcs with dist(u) + cost == dist(v)), prune
   again to the backward-reachable cone of T, and push a maximum flow
   through that (small) admissible subgraph on the driver in one batch —
   every unit moved in a phase travels at the SAME, provably minimal,
   cost. All of the phase's augmentations land on the residual in ONE
   broadcast-join update, exactly like ``flow._max_flow``.
3. Phases are bounded by the number of distinct shortest-path costs —
   O(V * C_max) worst case, a handful in practice — never by the number of
   augmenting paths.

Residual arcs are keyed ``(u, v, kind)`` with kind 'f' (an original arc /
super arc) or 'r' (its reverse) — deterministic under re-evaluation
(no ``monotonically_increasing_id``), unique because SparkGraph stores at
most one arc per (src, dst).

Unsupported (raises): undirected graphs (the reference's
``network_simplex`` also rejects them), and negative-cost arcs of
**infinite** capacity (a conservative unboundedness guard; the reference
detects genuine unboundedness mid-pivot).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, check_driver_limit, resolve_weight_column
from linkgraph.iterutils import SuperstepCache, row_count

_INF = float("inf")


# Arcs of an admissible phase subgraph the driver max-flow collects.
_DRIVER_EDGES = 5_000_000


from linkgraph.exceptions import NetworkXUnfeasible  # noqa: E402 (shared hierarchy)


def _arc_table(g: SparkGraph, capacity, weight) -> DataFrame:
    """(u, v, cap, cost) forward arcs. ``capacity`` absent => inf
    (``mincost.py`` treats missing capacity as unbounded); ``weight``
    resolves like every other weighted kernel (column / Column / SQL
    expression — the Spark twin of the reference's attr-with-default)."""
    from pyspark.sql import Column

    e = g.edges
    if isinstance(capacity, Column):
        cap = capacity.cast("double")
    elif capacity in e.columns:
        cap = F.col(capacity).cast("double")
    elif isinstance(capacity, str) and not capacity.isidentifier():
        cap = F.expr(capacity).cast("double")
    else:
        cap = F.lit(_INF)
    cost = resolve_weight_column(e, weight).cast("double")
    return e.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        cap.alias("cap"),
        cost.alias("cost"),
    )


def _driver_max_flow(rows, s: int, t: int):
    """Edmonds-Karp on a collected arc list (u, v, kind, cap) — robust to
    zero-cost cycles in the admissible subgraph (which a level-DAG
    blocking flow is not). Pure driver work on a size-guarded phase
    subgraph. Returns (value, {(u, v, kind): flow})."""
    rows = sorted(rows, key=lambda r: (r["u"], r["v"], r["kind"]))
    adj: dict = {}
    cap: list = []
    tail: list = []
    head: list = []
    keys: list = []
    for r in rows:
        i = len(keys)
        keys.append((r["u"], r["v"], r["kind"]))
        cap.append(r["cap"])
        tail.append(r["u"])
        head.append(r["v"])
        adj.setdefault(r["u"], []).append(i)
        adj.setdefault(r["v"], []).append(~i)
    flow: dict = {}
    total = 0.0

    def residual(i):
        if i >= 0:
            return cap[i] - flow.get(i, 0.0)
        return flow.get(~i, 0.0)

    while True:
        parent_arc = {s: None}
        queue = [s]
        qi = 0
        while qi < len(queue) and t not in parent_arc:
            u = queue[qi]
            qi += 1
            for i in adj.get(u, ()):
                v = head[i] if i >= 0 else tail[~i]
                if v not in parent_arc and residual(i) > 1e-12:
                    parent_arc[v] = i
                    queue.append(v)
        if t not in parent_arc:
            break
        path = []
        cur = t
        while parent_arc[cur] is not None:
            i = parent_arc[cur]
            path.append(i)
            cur = tail[i] if i >= 0 else head[~i]
        bottleneck = min(residual(i) for i in path)
        for i in path:
            j = i if i >= 0 else ~i
            flow[j] = flow.get(j, 0.0) + (bottleneck if i >= 0 else -bottleneck)
        total += bottleneck
    return total, {keys[i]: f for i, f in flow.items() if f > 1e-12}


def _min_cost_flow(
    g: SparkGraph,
    demand: str = "demand",
    capacity: str = "capacity",
    weight: str = "weight",
    *,
    max_phases: int = 10_000,
):
    """Shared kernel. Returns (cost, flow DataFrame (u, v, flow),
    all_integral: bool)."""
    if not g.directed:
        raise NetworkXError(
            "min-cost flow is not defined for undirected graphs "
            "(the reference's network_simplex rejects them too)"
        )
    spark = g.spark
    arcs = _arc_table(g, capacity, weight)
    bad = arcs.filter((F.col("cost") < 0) & (F.col("cap") == _INF)).limit(1)
    if bad.count() > 0:
        raise NetworkXError(
            "negative-cost arc with infinite capacity: flow may be "
            "unbounded below (conservative guard)"
        )

    verts = g.vertices
    if demand in verts.columns:
        dem = verts.select(
            "id", F.coalesce(F.col(demand).cast("double"), F.lit(0.0)).alias("b")
        )
    else:
        dem = verts.select("id", F.lit(0.0).alias("b"))
    tot = dem.agg(F.sum("b")).first()[0] or 0.0
    if abs(tot) > 1e-9:
        raise NetworkXUnfeasible(
            f"total node demand is {tot}, not zero — no feasible flow"
        )

    # --- negative-arc presend -------------------------------------------
    # Saturating arc (u, v, cap, cost<0) shifts divergence: u must now
    # absorb cap more, v cap less. Residual keeps a cap-0 forward row so a
    # later pushback can re-open the arc.
    neg = arcs.filter(F.col("cost") < 0)
    presend = neg.select("u", "v", F.col("cap").alias("flow0"))
    shift = (
        neg.select(F.col("u").alias("id"), (-F.col("cap")).alias("d"))
        .unionByName(neg.select(F.col("v").alias("id"), F.col("cap").alias("d")))
        .groupBy("id")
        .agg(F.sum("d").alias("d"))
    )
    # residual demand b'(v) = b(v) - d(v)  (d = divergence already provided)
    dem = (
        dem.join(shift, "id", "left")
        .select("id", (F.col("b") - F.coalesce("d", F.lit(0.0))).alias("b"))
    )

    def _rows(df, kind, cap_col, cost_col, swap=False):
        u, v = ("v", "u") if swap else ("u", "v")
        return df.select(
            F.col(u).alias("u"),
            F.col(v).alias("v"),
            F.lit(kind).alias("kind"),
            cap_col.alias("cap"),
            cost_col.alias("cost"),
        )

    fwd = _rows(arcs.filter(F.col("cost") >= 0), "f", F.col("cap"), F.col("cost"))
    fwd_neg0 = _rows(neg, "f", F.lit(0.0), F.col("cost"))
    rev_neg = _rows(neg, "r", F.col("cap"), -F.col("cost"), swap=True)
    rev0 = _rows(
        arcs.filter(F.col("cost") >= 0), "r", F.lit(0.0), -F.col("cost"), swap=True
    )

    max_id = verts.agg(F.max("id")).first()[0]
    S, T = int(max_id) + 1, int(max_id) + 2
    sup = dem.filter(F.col("b") < -1e-12)  # b<0: node must ship out
    dfc = dem.filter(F.col("b") > 1e-12)
    required = -(sup.agg(F.sum("b")).first()[0] or 0.0)
    s_arcs = sup.select(
        F.lit(S).alias("u"), F.col("id").alias("v"),
        F.lit("f").alias("kind"), (-F.col("b")).alias("cap"),
        F.lit(0.0).alias("cost"),
    )
    t_arcs = dfc.select(
        F.col("id").alias("u"), F.lit(T).alias("v"),
        F.lit("f").alias("kind"), F.col("b").alias("cap"),
        F.lit(0.0).alias("cost"),
    )
    s_rev = s_arcs.select(
        F.col("v").alias("u"), F.col("u").alias("v"),
        F.lit("r").alias("kind"), F.lit(0.0).alias("cap"), "cost",
    )
    t_rev = t_arcs.select(
        F.col("v").alias("u"), F.col("u").alias("v"),
        F.lit("r").alias("kind"), F.lit(0.0).alias("cap"), "cost",
    )

    with SuperstepCache(spark) as cache:
        res = cache.truncate(
            fwd.unionByName(fwd_neg0).unionByName(rev_neg).unionByName(rev0)
            .unionByName(s_arcs).unionByName(t_arcs)
            .unionByName(s_rev).unionByName(t_rev)
        )
        orig_caps = cache.truncate(
            res.select("u", "v", "kind", F.col("cap").alias("cap0"))
        )

        pushed = 0.0
        phases = 0
        while pushed < required - 1e-9:
            phases += 1
            if phases > max_phases:
                raise RuntimeError("min_cost_flow exceeded max_phases")
            live = res.filter(F.col("cap") > 1e-12)
            # ---- distributed Bellman-Ford from S over (u, v, cost) ----------
            dist = state = cache.truncate(
                spark.createDataFrame([(S, 0.0)], "id long, distance double")
            )
            frontier = dist
            while True:
                cand = (
                    live.join(frontier.withColumnRenamed("id", "u"), "u")
                    .groupBy(F.col("v").alias("id"))
                    .agg(F.min(F.col("distance") + F.col("cost")).alias("cand"))
                )
                state, seen = cache.truncate(
                    dist.join(cand, "id", "full").select(
                        "id",
                        F.least(
                            F.coalesce("distance", F.lit(_INF)),
                            F.coalesce("cand", F.lit(_INF)),
                        ).alias("distance"),
                        (
                            F.col("distance").isNull()
                            | (F.col("cand") < F.col("distance") - 1e-12)
                        ).alias("_improved"),
                    ),
                    retire=state,
                    figures={
                        "improved": F.count(F.when(F.col("_improved"), 1)),
                        "sink": F.count(F.when(F.col("id") == T, 1)),
                    },
                )
                frontier = state.filter("_improved").select("id", "distance")
                dist = state.select("id", "distance")
                if seen["improved"] == 0:
                    break
            if seen["sink"] == 0:
                raise NetworkXUnfeasible(
                    "no flow satisfies all node demands (sink unreachable "
                    f"with {required - pushed} units left to route)"
                )
            # ---- admissible subgraph, pruned backward from T ----------------
            adm = (
                live.join(
                    dist.select(F.col("id").alias("u"), F.col("distance").alias("du")),
                    "u",
                )
                .join(
                    dist.select(F.col("id").alias("v"), F.col("distance").alias("dv")),
                    "v",
                )
                .filter(F.abs(F.col("du") + F.col("cost") - F.col("dv")) <= 1e-9)
                .select("u", "v", "kind", "cap")
            )
            adm = cache.truncate(adm)
            keep = cache.truncate(spark.createDataFrame([(T,)], "node long"))
            back = keep
            while True:
                prev, seen = cache.truncate(
                    adm.join(back.withColumnRenamed("node", "v"), "v")
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
            pruned, seen = cache.truncate(
                adm.join(keep.withColumnRenamed("node", "u"), "u", "left_semi"),
                figures=row_count(),
            )
            cache.release([state, adm, keep, back, prev])
            adm = pruned
            n_arcs = seen["rows"]
            check_driver_limit(
                n_arcs, _DRIVER_EDGES, "the admissible phase subgraph"
            )
            value, phase_flow = _driver_max_flow(adm.collect(), S, T)
            cache.release(adm)
            if value <= 1e-12:
                raise NetworkXUnfeasible(
                    "admissible subgraph carries no flow — demands unsatisfiable"
                )
            pushed += value
            # cap -= f on the pushed row; partner row (v, u, opposite kind)
            # gains f of pushback headroom
            updates = [(u, v, k, -f) for (u, v, k), f in phase_flow.items()] + [
                (v, u, ("r" if k == "f" else "f"), f)
                for (u, v, k), f in phase_flow.items()
            ]
            upd = spark.createDataFrame(updates, "u long, v long, kind string, d double")
            upd = upd.groupBy("u", "v", "kind").agg(F.sum("d").alias("d"))
            res = cache.truncate(
                res.join(F.broadcast(upd), ["u", "v", "kind"], "left").select(
                    "u", "v", "kind",
                    (F.col("cap") + F.coalesce("d", F.lit(0.0))).alias("cap"),
                    "cost",
                ),
                retire=res,
            )

        # flow on non-negative original arcs = cap0 - cap of their forward row;
        # flow on presend (negative) arcs = residual cap of their reverse row
        used = (
            res.filter((F.col("kind") == "f") & (F.col("u") != S) & (F.col("v") != T))
            .join(orig_caps, ["u", "v", "kind"])
            .join(presend.select("u", "v"), ["u", "v"], "left_anti")
            .select("u", "v", (F.col("cap0") - F.col("cap")).alias("flow"))
        )
        neg_used = (
            res.filter(F.col("kind") == "r")
            .select(F.col("v").alias("u"), F.col("u").alias("v"), F.col("cap").alias("flow"))
            .join(presend.select("u", "v"), ["u", "v"], "left_semi")
        )
        flow = cache.truncate(
            used.unionByName(neg_used)
            .filter(F.col("flow") > 1e-12)
            .groupBy("u", "v")
            .agg(F.sum("flow").alias("flow"))
        )
        cost_row = (
            flow.join(arcs.select("u", "v", "cost"), ["u", "v"])
            .agg(
                F.sum(F.col("flow") * F.col("cost")).alias("c"),
                F.max(F.abs(F.col("flow") - F.round("flow"))).alias("frac"),
            )
            .first()
        )
        cost = float(cost_row["c"] or 0.0)
        integral = (cost_row["frac"] or 0.0) < 1e-9
        return cost, cache.result(flow), integral


def network_simplex(
    g: SparkGraph,
    demand: str = "demand",
    capacity: str = "capacity",
    weight: str = "weight",
) -> Tuple[float, DataFrame]:
    """``networksimplex.py:483`` — returns ``(flow_cost, flow DataFrame
    (u, v, flow))``; only positive-flow arcs are listed (the reference
    returns a dense dict). The optimum is computed by the primal-dual
    schedule above — identical cost, distributable."""
    cost, flow, integral = _min_cost_flow(g, demand, capacity, weight)
    if integral and abs(cost - round(cost)) < 1e-9:
        cost = int(round(cost))
    return cost, flow


def min_cost_flow(
    g: SparkGraph,
    demand: str = "demand",
    capacity: str = "capacity",
    weight: str = "weight",
) -> DataFrame:
    """``mincost.py:100`` — the flow DataFrame alone."""
    return network_simplex(g, demand, capacity, weight)[1]


def min_cost_flow_cost(
    g: SparkGraph,
    demand: str = "demand",
    capacity: str = "capacity",
    weight: str = "weight",
):
    """``mincost.py:19`` — the optimal cost alone."""
    return network_simplex(g, demand, capacity, weight)[0]


def cost_of_flow(g: SparkGraph, flow: DataFrame, weight: str = "weight"):
    """``mincost.py:160`` — cost of a given flow DataFrame (u, v, flow)
    under the graph's per-arc costs: one broadcast join + sum."""
    costs = _arc_table(g, "capacity", weight).select("u", "v", "cost")
    row = (
        flow.join(costs, ["u", "v"])
        .agg(
            F.sum(F.col("flow") * F.col("cost")).alias("c"),
            F.max(F.abs(F.col("flow") - F.round("flow"))).alias("frac"),
        )
        .first()
    )
    c = float(row["c"] or 0.0)
    if (row["frac"] or 0.0) < 1e-9 and abs(c - round(c)) < 1e-9:
        return int(round(c))
    return c


def max_flow_min_cost(
    g: SparkGraph,
    s: int,
    t: int,
    capacity: str = "capacity",
    weight: str = "weight",
) -> DataFrame:
    """``mincost.py:225`` — among all maximum s→t flows, the cheapest:
    max-flow value first (Dinitz), then a min-cost flow with
    demand(s) = -value, demand(t) = +value, exactly the reference's
    reduction."""
    from linkgraph.algos.flow import maximum_flow_value

    value = maximum_flow_value(g, s, t, capacity)
    verts = g.vertices.select(
        "id",
        F.when(F.col("id") == int(s), -float(value))
        .when(F.col("id") == int(t), float(value))
        .otherwise(0.0)
        .alias("_mfmc_demand"),
    )
    g2 = SparkGraph(g.edges, verts, directed=True, coalesce_edges=False)
    return min_cost_flow(g2, demand="_mfmc_demand", capacity=capacity, weight=weight)


def capacity_scaling(
    g: SparkGraph,
    demand: str = "demand",
    capacity: str = "capacity",
    weight: str = "weight",
) -> Tuple[float, DataFrame]:
    """``capacityscaling.py:83`` — same optimum as ``network_simplex``;
    the reference's Δ-scaling schedule is a driver-side heap loop, so this
    engine routes both names to the primal-dual kernel (the phase batching
    already plays the role of scaling: every phase moves all flow of one
    shortest-path cost class at once)."""
    return network_simplex(g, demand, capacity, weight)
