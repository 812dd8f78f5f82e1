"""Neighborhood statistics, boundaries, structural holes, and efficiency.

Reference semantics (networkx 3.6.1):

- ``average_neighbor_degree`` — ``networkx/algorithms/assortativity/
  neighbor_degree.py:10``: per-node mean degree of its neighbors; nodes
  without neighbors get 0.0.
- ``average_degree_connectivity`` (k-nearest-neighbors) —
  ``networkx/algorithms/assortativity/connectivity.py:13``: for each degree
  value k, the mean neighbor degree over all nodes of degree k.
- ``node_boundary`` / ``edge_boundary`` — ``networkx/algorithms/
  boundary.py:101,12``: nodes (edges) just outside (crossing) a node set.
- ``local_bridges`` — ``networkx/algorithms/bridges.py:160``: edges whose
  endpoints share no common neighbor; the *span* is the alternate
  shortest-path length with the edge removed.
- ``effective_size`` / ``constraint`` — ``networkx/algorithms/
  structuralholes.py:183,281`` (Burt's structural holes).
- ``wiener_index`` — ``networkx/algorithms/wiener.py:14``.
- ``global_efficiency`` / ``local_efficiency`` — ``networkx/algorithms/
  efficiency_measures.py:65,120``.

Every measure is a DataFrame plan: degree tables are one hash-aggregation,
neighbor statistics are one arc⋈degree join, structural holes are the same
wedge join that powers triangle counting, and the distance-based measures
reuse the batched multi-source BFS from :mod:`linkgraph.algos.distance`
(all sources advance together; no per-source driver loop).

Scale notes: ``wiener_index``/``global_efficiency`` aggregate the exact
all-pairs distance table — inherently O(n·reach) like the reference; at web
scale sample sources (the standard estimator) by passing the same
``sources=`` the distance module exposes. ``local_efficiency`` runs BFS
*inside every ego network simultaneously* — state is keyed by
(ego, source, node), bounded by Σ_v deg(v)² — the same cost class as the
reference's per-ego loop, but distributed.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.algos.degrees import degrees
from linkgraph.algos.triangles import triangles, _simple_edges
from linkgraph.algos.distance import all_pairs_shortest_path_lengths
from linkgraph.iterutils import SuperstepCache, local_checkpoint, row_count

__all__ = [
    "average_neighbor_degree",
    "average_degree_connectivity",
    "node_boundary",
    "edge_boundary",
    "local_bridges",
    "effective_size",
    "constraint",
    "wiener_index",
    "global_efficiency",
    "local_efficiency",
    "schultz_index",
    "gutman_index",
    "harmonic_diameter",
    "closeness_vitality",
    "group_degree_centrality",
    "group_closeness_centrality",
]


def _ids(nbunch: DataFrame) -> DataFrame:
    """Normalize a one-column node DataFrame to (id long)."""
    c = nbunch.columns[0]
    return nbunch.select(F.col(c).cast("long").alias("id")).distinct()


def average_neighbor_degree(
    g: SparkGraph,
    source: str = "out",
    target: str = "out",
    nodes=None,
    *,
    weight: Optional[str] = None,
) -> DataFrame:
    """(id, avg_nbr_deg): mean (weighted) degree of each node's neighbors
    (``neighbor_degree.py:10``).

    ``source`` picks the neighborhood ("out" successors / "in"
    predecessors / "in+out" both — directed only) and the normalizer
    (that direction's degree, strength when weighted); ``target`` picks
    which UNWEIGHTED degree of each neighbor is averaged (the reference:
    "the target degree should not be weighted"); ``weight`` scales every
    term by the connecting edge weight; ``nodes`` restricts the output.
    One arc⋈degree join + one aggregation.
    """
    from linkgraph.algos.degrees import in_degrees, out_degrees

    if not g.directed:
        arcs = g.symmetric_edges()
        tdeg = degrees(g)
    else:
        if source not in ("in", "out", "in+out") or target not in (
            "in", "out", "in+out"
        ):
            raise NetworkXError(
                'source and target must be one of "in", "out", "in+out"'
            )
        fwd = g.edges
        rev = g.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            *[c for c in g.edges.columns if c not in ("src", "dst")],
        )
        arcs = {"out": fwd, "in": rev, "in+out": fwd.unionByName(rev)}[source]
        tdeg = {
            "out": out_degrees(g),
            "in": in_degrees(g),
            "in+out": degrees(g),  # directed G.degree = in+out
        }[target]
    nbr_deg = arcs.join(
        tdeg.select(F.col("id").alias("dst"), F.col("degree").alias("ndeg")),
        "dst",
    )
    if weight is not None:
        num = F.sum(F.col(weight) * F.col("ndeg"))
        den = F.sum(F.col(weight))
    else:
        num = F.sum("ndeg")
        den = F.count(F.lit(1))
    agg = nbr_deg.groupBy(F.col("src").alias("id")).agg(
        (num / den).alias("avg_nbr_deg")
    )
    out = (
        g.vertices.select("id")
        .join(agg, "id", "left")
        .select("id", F.coalesce("avg_nbr_deg", F.lit(0.0)).alias("avg_nbr_deg"))
    )
    if nodes is not None:
        keep = g.spark.createDataFrame([(int(x),) for x in nodes], "id long")
        out = out.join(keep, "id", "left_semi")
    return out


def average_degree_connectivity(g: SparkGraph, weight=None) -> DataFrame:
    """(degree, knn): mean neighbor degree of all nodes with a given degree
    (``connectivity.py:13``, source=target="in+out").

    Two joins and two aggregations; the per-k normalizer is
    k · |{v : deg(v) = k}| exactly as the reference computes it. Directed
    graphs use the reference default source=target="in+out": the degree key
    and normalizer are total degree, but the neighbor sum runs over
    successors only (``G.neighbors`` of a DiGraph), matching
    ``connectivity.py``.

    ``weight=`` is the reference's weighted form: the binning key stays
    the UNWEIGHTED degree, each neighbor's (unweighted) degree is scaled
    by the connecting edge weight, and the per-k normalizer becomes the
    summed strength (``connectivity.py:109-119``).
    """
    succ = g.symmetric_edges()  # stored arcs when directed, both dirs else
    deg = degrees(g)
    if weight is None:
        per_node = (
            succ.join(
                deg.select(F.col("id").alias("dst"), F.col("degree").alias("ddeg")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("ddeg").alias("s"))
        )
        node_tbl = (
            deg.filter(F.col("degree") > 0)
            .join(per_node, "id", "left")
            .select("degree", F.coalesce("s", F.lit(0)).alias("s"))
        )
        return (
            node_tbl.groupBy("degree")
            .agg((F.sum("s") / F.sum("degree")).alias("knn"))
            .orderBy("degree")
        )
    from linkgraph.graph import resolve_weight_column

    wsucc = succ.select(
        "src", "dst", resolve_weight_column(succ, weight).alias("w")
    )
    per_node = (
        wsucc.join(
            deg.select(F.col("id").alias("dst"), F.col("degree").alias("ddeg")),
            "dst",
        )
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum(F.col("w") * F.col("ddeg")).alias("s"))
    )
    if g.directed:
        e = g.edges
        wcol = resolve_weight_column(e, weight)
        both = e.select(F.col("src").alias("id"), wcol.alias("w")).unionAll(
            e.select(F.col("dst").alias("id"), wcol.alias("w"))
        )
    else:
        both = wsucc.select(F.col("src").alias("id"), "w")
    strength = both.groupBy("id").agg(F.sum("w").alias("st"))
    node_tbl = (
        deg.filter(F.col("degree") > 0)
        .join(per_node, "id", "left")
        .join(strength, "id", "left")
        .select(
            "degree",
            F.coalesce("s", F.lit(0.0)).alias("s"),
            F.coalesce("st", F.lit(0.0)).alias("st"),
        )
    )
    return (
        node_tbl.groupBy("degree")
        .agg((F.sum("s") / F.sum("st")).alias("knn"))
        .orderBy("degree")
    )


def node_boundary(
    g: SparkGraph, nbunch1: DataFrame, nbunch2: Optional[DataFrame] = None
) -> DataFrame:
    """(id): nodes outside ``nbunch1`` (within ``nbunch2`` if given) with an
    edge from ``nbunch1`` (``boundary.py:101``; successors for directed).

    Semi-join against the set, anti-join to exclude it — both
    broadcast-able when the node set is small.
    """
    s1 = _ids(nbunch1)
    sym = g.symmetric_edges() if not g.directed else g.edges
    out = (
        sym.join(s1.withColumnRenamed("id", "src"), "src", "left_semi")
        .select(F.col("dst").alias("id"))
        .distinct()
        .join(s1, "id", "left_anti")
    )
    if nbunch2 is not None:
        out = out.join(_ids(nbunch2), "id", "left_semi")
    return out


def edge_boundary(
    g: SparkGraph, nbunch1: DataFrame, nbunch2: Optional[DataFrame] = None
) -> DataFrame:
    """(src, dst): edges with src in ``nbunch1`` and dst outside it (or in
    ``nbunch2``) — ``boundary.py:12``. For undirected graphs each crossing
    edge appears once, oriented out of ``nbunch1`` like the reference's
    ``G.edges(nbunch1)`` iteration.
    """
    s1 = _ids(nbunch1)
    arcs = g.symmetric_edges() if not g.directed else g.edges
    out = arcs.join(s1.withColumnRenamed("id", "src"), "src", "left_semi")
    if nbunch2 is not None:
        out = out.join(
            _ids(nbunch2).withColumnRenamed("id", "dst"), "dst", "left_semi"
        )
    else:
        out = out.join(s1.withColumnRenamed("id", "dst"), "dst", "left_anti")
    return out.select("src", "dst").distinct()


def local_bridges(
    g: SparkGraph, *, with_span: bool = False, max_span: int = 10,
    weight=None,
) -> DataFrame:
    """Edges (u, v) whose endpoints have no common neighbor
    (``bridges.py:160``), canonical u < v.

    Plan: the triangle wedge join in reverse — an anti-join of the edge set
    against wedge-closed pairs. With ``with_span=True`` the alternate
    distance d_{G−e}(u, v) is computed for ALL local bridges at once: a
    multi-source BFS keyed by the bridge pair whose frontier⋈arcs join
    filters out each pair's own edge, capped at ``max_span`` levels
    (unreached ⇒ span NULL, the reference's ∞). No per-edge loop.
    """
    e = _simple_edges(g)  # raises on directed like the reference decorator
    sym = e.select("u", "v").unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # common-neighbor pairs via the wedge join (center exploded once per pair)
    closed = (
        sym.alias("a")
        .join(sym.alias("b"), F.col("a.u") == F.col("b.u"))
        .filter(F.col("a.v") < F.col("b.v"))
        .select(F.col("a.v").alias("u"), F.col("b.v").alias("v"))
        .distinct()
    )
    bridges = e.join(closed, ["u", "v"], "left_anti")
    if not with_span:
        return bridges.select("u", "v")

    if weight is not None:
        return _local_bridge_spans_weighted(g, bridges, weight)
    arcs = sym.select(F.col("u").alias("a_src"), F.col("v").alias("a_dst"))
    with SuperstepCache(g.spark) as cache:
        bridges = cache.truncate(bridges)
        # state: one BFS per bridge pair, rooted at u, looking for v,
        # with that pair's own (u,v) edge removed from its copy of the graph.
        frontier = bridges.select("u", "v", F.col("u").alias("id"))
        visited = frontier
        span_rows = []
        for d in range(1, max_span + 1):
            nxt, seen = cache.truncate(
                frontier.join(arcs, frontier["id"] == F.col("a_src"))
                .filter(
                    ~(
                        (F.least(F.col("id"), F.col("a_dst")) == F.col("u"))
                        & (F.greatest(F.col("id"), F.col("a_dst")) == F.col("v"))
                    )
                )
                .select("u", "v", F.col("a_dst").alias("id"))
                .distinct()
                .join(visited, ["u", "v", "id"], "left_anti"),
                figures=row_count(),
            )
            hit = nxt.filter(F.col("id") == F.col("v")).select(
                "u", "v", F.lit(d).alias("span")
            )
            span_rows.append(hit)
            if seen["rows"] == 0:
                break
            # pairs already resolved stop expanding
            frontier = nxt.join(hit.select("u", "v"), ["u", "v"], "left_anti")
            visited = cache.truncate(
                visited.unionAll(nxt), retire=visited if d > 1 else None
            )
        spans = span_rows[0]
        for s in span_rows[1:]:
            spans = spans.unionAll(s)
        out = bridges.join(spans, ["u", "v"], "left").select("u", "v", "span")
        return cache.result(cache.truncate(out))


def _local_bridge_spans_weighted(g, bridges, weight):
    """Weighted spans for the local bridges (the reference's ``weight=``:
    span = Dijkstra distance between the endpoints with the edge
    removed): one relaxation fixpoint keyed by bridge pair, each pair's
    own edge filtered from its copy of the arc table."""
    from linkgraph.graph import resolve_weight_column

    base = g.symmetric_edges().filter(F.col("src") != F.col("dst"))
    with SuperstepCache(g.spark) as cache:
        bridges = cache.truncate(bridges)
        warcs = cache.pin(
            base.select(
                F.col("src").alias("a_src"),
                F.col("dst").alias("a_dst"),
                resolve_weight_column(base, weight).alias("w"),
            )
            .groupBy("a_src", "a_dst")
            .agg(F.min("w").alias("w"))
        )
        state = cache.truncate(
            bridges.select("u", "v", F.col("u").alias("id"), F.lit(0.0).alias("d"))
        )
        frontier = state
        while True:
            cand = (
                frontier.join(warcs, frontier["id"] == F.col("a_src"))
                .filter(
                    ~(
                        (F.least(F.col("id"), F.col("a_dst")) == F.col("u"))
                        & (F.greatest(F.col("id"), F.col("a_dst")) == F.col("v"))
                    )
                )
                .select(
                    "u", "v", F.col("a_dst").alias("id"),
                    (F.col("d") + F.col("w")).alias("d"),
                )
                .groupBy("u", "v", "id")
                .agg(F.min("d").alias("d"))
            )
            improved, seen = cache.truncate(
                cand.join(
                    state.select("u", "v", "id", F.col("d").alias("_old")),
                    ["u", "v", "id"],
                    "left",
                )
                .filter(F.col("_old").isNull() | (F.col("d") < F.col("_old")))
                .select("u", "v", "id", "d"),
                retire=None if frontier is state else frontier,
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            state = cache.truncate(
                state.join(
                    improved.select("u", "v", "id"), ["u", "v", "id"], "left_anti"
                ).unionByName(improved),
                retire=state,
            )
            frontier = improved
        spans = state.filter(F.col("id") == F.col("v")).select(
            "u", "v", F.col("d").alias("span")
        )
        out = bridges.join(spans, ["u", "v"], "left").select("u", "v", "span")
        return cache.result(cache.truncate(out))


def effective_size(g: SparkGraph, weight=None) -> DataFrame:
    """(id, effective_size): Burt's effective size
    (``structuralholes.py:183``). Unweighted undirected graphs use
    Borgatti's simplification n − 2t/n over the degree-oriented triangle
    plan, exactly like the reference; directed or ``weight=`` inputs use
    the general redundancy form e(u) = Σ_{v∈N(u)} (1 − Σ_w p_uw·m_vw)
    with p the strength-normalized and m the max-normalized mutual
    weights — one wedge join over the mutual-weight table (the
    constraint plan's shape). Isolates get NULL (reference nan).
    """
    if weight is None and not g.directed:
        tri = triangles(g)
        deg = degrees(g)
        return tri.join(deg, "id").select(
            "id",
            F.when(F.col("degree") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("degree") - 2.0 * F.col("triangles") / F.col("degree")
            )
            .alias("effective_size"),
        )
    from linkgraph.graph import resolve_weight_column

    base = g.edges.filter(F.col("src") != F.col("dst"))
    wcol = F.lit(1.0) if weight is None else resolve_weight_column(base, weight)
    a = base.select("src", "dst", wcol.alias("w"))
    sym = (
        a.unionAll(
            a.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .persist()
    )
    norms = sym.groupBy("src").agg(
        F.sum("w").alias("s"), F.max("w").alias("mx")
    )
    p = sym.join(norms, "src").select(
        F.col("src").alias("u"),
        F.col("dst").alias("wn"),
        (F.col("w") / F.col("s")).alias("p"),
    )
    m = sym.join(norms, "src").select(
        F.col("src").alias("v"),
        F.col("dst").alias("wn"),
        (F.col("w") / F.col("mx")).alias("m"),
    )
    red = (
        p.join(m, "wn")
        .groupBy("u", "v")
        .agg(F.sum(F.col("p") * F.col("m")).alias("red"))
    )
    esize = (
        sym.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(red, ["u", "v"], "left")
        .select("u", (F.lit(1.0) - F.coalesce("red", F.lit(0.0))).alias("t"))
        .groupBy(F.col("u").alias("id"))
        .agg(F.sum("t").alias("effective_size"))
    )
    return g.vertices.select("id").join(esize, "id", "left")


def constraint(g: SparkGraph, weight=None) -> DataFrame:
    """(id, constraint): Burt's constraint (``structuralholes.py:281``):
    c(u) = Σ_{v∈N(u)} (p_uv + Σ_w p_uw · p_wv)², with p_uv the proportion of
    u's aggregated edge weight spent on v and w ranging over common
    neighbors. Isolates get NULL (reference nan). ``weight=None``
    follows the reference default — every edge counts 1 regardless of
    stored weights; name a column/expression for the weighted form.

    Plan: normalize arc weights by source strength (one join), then the
    indirect term is one wedge self-join u→w→v re-joined to the direct arc
    table — the same shape and cost class as triangle counting. For
    directed graphs the neighborhood is predecessors ∪ successors with
    mutual weights a_uv + a_vu, per the reference's
    ``normalized_mutual_weight``.
    """
    from linkgraph.graph import resolve_weight_column

    base = g.edges.filter(F.col("src") != F.col("dst"))
    wcol = F.lit(1.0) if weight is None else resolve_weight_column(base, weight)
    a = base.select("src", "dst", wcol.alias("weight"))
    if not g.directed:
        a = a.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        ).groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    sym = (
        a.unionAll(
            a.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )
    strength = sym.groupBy("src").agg(F.sum("weight").alias("s"))
    p = (
        sym.join(strength, "src")
        .select("src", "dst", (F.col("weight") / F.col("s")).alias("p"))
        .persist()
    )
    ind = (
        p.alias("uw")
        .join(
            p.alias("wv"),
            (F.col("uw.dst") == F.col("wv.src"))
            & (F.col("uw.src") != F.col("wv.dst")),
        )
        .groupBy(F.col("uw.src").alias("src"), F.col("wv.dst").alias("dst"))
        .agg(F.sum(F.col("uw.p") * F.col("wv.p")).alias("ind"))
    )
    lc = p.join(ind, ["src", "dst"], "left").select(
        "src",
        F.pow(F.col("p") + F.coalesce("ind", F.lit(0.0)), F.lit(2.0)).alias("lc"),
    )
    agg = lc.groupBy(F.col("src").alias("id")).agg(F.sum("lc").alias("constraint"))
    if g.directed:
        # the reference leaves constraint undefined (nan) when ``G[v]`` is
        # empty — i.e. a node with NO successors, even if it has
        # predecessors (``structuralholes.py:281``).
        has_succ = g.edges.select(F.col("src").alias("id")).distinct()
        agg = agg.join(has_succ, "id", "left_semi")
    out = (
        g.vertices.select("id")
        .join(agg, "id", "left")
        .select("id", F.col("constraint").cast("double").alias("constraint"))
    )
    out = local_checkpoint(out)
    p.unpersist()
    return out


def efficiency(g: SparkGraph, u, v) -> float:
    """``efficiency_measures.py`` ``efficiency`` — 1/d(u, v) for one node
    pair (0 when unreachable, like the reference's ``except`` branch).
    One bounded BFS from u."""
    from linkgraph.algos.setops import shortest_path_lengths

    row = (
        shortest_path_lengths(g, [int(u)])
        .filter(F.col("id") == int(v))
        .select("distance")
        .first()
    )
    if row is None or row[0] == 0:
        return 0.0
    return 1.0 / float(row[0])


def wiener_index(g: SparkGraph, weight=None) -> float:
    """Sum of shortest-path distances over all (un)ordered pairs
    (``wiener.py:14``); inf when not (strongly) connected, like the
    reference. One aggregation over the batched all-pairs BFS table
    (``weight=`` uses the weighted relaxation lengths, the reference's
    Dijkstra path).
    """
    n = g.number_of_nodes()
    row = all_pairs_shortest_path_lengths(g, distance=weight).agg(
        F.sum("distance").alias("s"), F.count(F.lit(1)).alias("c")
    ).first()
    if (row["c"] or 0) < n * n:
        return float("inf")
    total = float(row["s"] or 0.0)
    return total if g.directed else total / 2.0


def global_efficiency(g: SparkGraph) -> float:
    """Mean of 1/d(u, v) over ordered pairs, unreachable ⇒ 0
    (``efficiency_measures.py:65``; undirected in the reference).
    """
    n = g.number_of_nodes()
    if n < 2:
        return 0.0
    row = (
        all_pairs_shortest_path_lengths(g)
        .filter(F.col("distance") > 0)
        .agg(F.sum(1.0 / F.col("distance")).alias("s"))
        .first()
    )
    return float(row["s"] or 0.0) / (n * (n - 1))


def local_efficiency(g: SparkGraph) -> float:
    """Mean over nodes of the global efficiency of their ego network
    (``efficiency_measures.py:120``).

    All ego networks are searched *simultaneously*: ego-restricted arcs are
    the triangle-style two-hop join (both endpoints adjacent to the ego),
    the BFS state is keyed (ego, source, node), and each level is one
    frontier⋈ego-arcs shuffle join — the reference's per-node subgraph loop
    becomes a single distributed superstep program. Per-level distances are
    folded into a per-ego Σ 1/d immediately, so only the visited-set grows.
    """
    sym = (
        g.symmetric_edges()
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    adj = sym.select(F.col("src").alias("ego"), F.col("dst").alias("member"))
    ego_arcs = (
        sym.alias("e")
        .join(adj.alias("l"), F.col("l.member") == F.col("e.src"))
        .join(
            adj.alias("r"),
            (F.col("r.ego") == F.col("l.ego"))
            & (F.col("r.member") == F.col("e.dst")),
        )
        .select(
            F.col("l.ego").alias("ego"),
            F.col("e.src").alias("a_src"),
            F.col("e.dst").alias("a_dst"),
        )
    )
    n = g.number_of_nodes()
    if n == 0:
        return 0.0
    with SuperstepCache(g.spark) as cache:
        ego_arcs = cache.pin(ego_arcs)
        frontier = adj.select(
            "ego", F.col("member").alias("source"), F.col("member").alias("id")
        )
        visited = frontier
        per_ego = None
        d = 0
        while True:
            d += 1
            nxt, seen = cache.truncate(
                frontier.join(
                    ego_arcs,
                    (frontier["ego"] == ego_arcs["ego"])
                    & (frontier["id"] == F.col("a_src")),
                )
                .select(frontier["ego"], "source", F.col("a_dst").alias("id"))
                .distinct()
                .join(visited, ["ego", "source", "id"], "left_anti"),
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            lvl = nxt.groupBy("ego").agg(
                (F.count(F.lit(1)) / float(d)).alias("inv")
            )
            per_ego = lvl if per_ego is None else per_ego.unionAll(lvl)
            frontier = nxt
            # the first visited set is the members themselves, no snapshot
            visited = cache.truncate(
                visited.unionAll(nxt), retire=visited if d > 1 else None
            )
        if per_ego is None:
            return 0.0
        deg = degrees(g)
        eff = (
            per_ego.groupBy("ego")
            .agg(F.sum("inv").alias("inv"))
            .join(deg.withColumnRenamed("id", "ego"), "ego")
            .filter(F.col("degree") >= 2)
            .select(
                (F.col("inv") / (F.col("degree") * (F.col("degree") - 1))).alias(
                    "eff"
                )
            )
        )
        total = eff.agg(F.sum("eff")).first()[0] or 0.0
    return float(total) / n


def schultz_index(g: SparkGraph, weight=None) -> float:
    """Σ over unordered pairs of d(u,v)·(deg u + deg v)
    (``networkx/algorithms/wiener.py`` ``schultz_index``; inf when
    disconnected like the reference; ``weight=`` makes the DISTANCES
    weighted — degrees stay counts, per the reference). One APSP⋈degree
    join."""
    return _degree_distance_index(g, product=False, weight=weight)


def gutman_index(g: SparkGraph, weight=None) -> float:
    """Σ over unordered pairs of d(u,v)·deg(u)·deg(v)
    (``wiener.py`` ``gutman_index``)."""
    return _degree_distance_index(g, product=True, weight=weight)


def _degree_distance_index(g: SparkGraph, product: bool, weight=None) -> float:
    from linkgraph.algos.degrees import degrees as _degrees

    n = g.number_of_nodes()
    with SuperstepCache(g.spark) as loop:
        sp = all_pairs_shortest_path_lengths(g, distance=weight)
        try:
            if sp.count() < n * n:
                return float("inf")
            deg = _degrees(g)
            du = deg.select(F.col("id").alias("source"), F.col("degree").alias("du"))
            dv = deg.select(F.col("id").alias("id"), F.col("degree").alias("dv"))
            term = (
                F.col("distance") * (F.col("du") * F.col("dv"))
                if product
                else F.col("distance") * (F.col("du") + F.col("dv"))
            )
            total = (
                sp.join(du, "source").join(dv, "id").agg(F.sum(term)).first()[0] or 0.0
            )
            return float(total) / 2.0
        finally:
            loop.release(sp)


def harmonic_diameter(g: SparkGraph, weight=None) -> float:
    """n(n−1) / Σ over ordered pairs of 1/d(u,v) — the harmonic mean
    distance (``networkx/algorithms/distance_measures.py``
    ``harmonic_diameter``; unreachable pairs contribute 0, so it is finite
    on disconnected graphs unless NO pair is reachable; ``weight=`` →
    weighted lengths)."""
    n = g.number_of_nodes()
    row = (
        all_pairs_shortest_path_lengths(g, distance=weight)
        .filter(F.col("distance") > 0)
        .agg(F.sum(1.0 / F.col("distance")))
        .first()
    )
    s = float(row[0] or 0.0)
    return float("inf") if s == 0.0 else n * (n - 1) / s


def closeness_vitality(
    g: SparkGraph,
    node: "int | None" = None,
    weight=None,
    wiener_index: "float | None" = None,
    *,
    max_nodes: int = 200,
):
    """Wiener-index drop when ``node`` is removed —
    ``networkx/algorithms/vitality.py:11``. With a node: a float (two
    APSP aggregates). ``node=None`` is the reference's all-nodes form —
    n+1 all-pairs sweeps by definition (the reference pays the same), so
    the node count is guarded by ``max_nodes``; returns a DataFrame
    ``(id, closeness_vitality)``. ``weight=`` threads through every
    sweep; ``wiener_index=`` reuses a precomputed W(G)."""
    before = (
        wiener_index if wiener_index is not None
        else globals()["wiener_index"](g, weight=weight)
    )
    if node is not None:
        after = globals()["wiener_index"](
            g.remove_nodes(g.spark.createDataFrame([(int(node),)], "id bigint")),
            weight=weight,
        )
        return before - after
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    if len(ids) > max_nodes:
        raise ValueError(
            f"closeness_vitality(node=None) runs {len(ids)}+1 all-pairs "
            f"sweeps (the definition's cost); {len(ids)} nodes > "
            f"max_nodes={max_nodes} — call per node of interest instead"
        )
    rows = []
    for v in ids:
        after = globals()["wiener_index"](
            g.remove_nodes(g.spark.createDataFrame([(int(v),)], "id bigint")),
            weight=weight,
        )
        rows.append((int(v), float(before - after)))
    return g.spark.createDataFrame(rows, "id long, closeness_vitality double")


def group_degree_centrality(g: SparkGraph, S: DataFrame) -> float:
    """|N(S) − S| / (n − |S|) —
    ``networkx/algorithms/centrality/group.py`` ``group_degree_centrality``.
    One boundary semi/anti-join pair."""
    s = _ids(S)
    n_s = s.count()
    return node_boundary(g, s).count() / (g.number_of_nodes() - n_s)


def group_closeness_centrality(
    g: SparkGraph, S: DataFrame, *, weight: Optional[str] = None
) -> float:
    """|V∖S| / Σ_{v∉S} d(S, v) — ``group.py`` ``group_closeness_centrality``
    (directed graphs measure INCOMING distance, like the reference's
    reverse view; unreachable nodes contribute 0). One multi-source
    sweep + one aggregate."""
    s = _ids(S).persist()
    base = g.reverse() if g.directed else g
    if weight is None:
        from linkgraph.algos.setops import shortest_path_lengths

        d = shortest_path_lengths(base, s)
    else:
        from linkgraph.algos.sssp import weighted_shortest_path_lengths

        d = weighted_shortest_path_lengths(base, s)
    tot = (
        d.join(s, "id", "left_anti").agg(F.sum("distance")).first()[0] or 0.0
    )
    n_vs = g.number_of_nodes() - s.count()
    s.unpersist()
    return 0.0 if tot == 0 else n_vs / float(tot)




def local_constraint(g: SparkGraph, u, v, weight=None) -> float:
    """``structuralholes.py:318`` ``local_constraint`` — ℓ(u, v) =
    (p_uv + Σ_{w∈N(u)} p_uw·p_wv)² with p the source-strength-normalized
    mutual weight (both arc directions summed on digraphs). One filtered
    join over the arcs incident to u — never the full pair table."""
    u, v = int(u), int(v)
    if g.directed:
        a = g.edges.filter(F.col("src") != F.col("dst")).select(
            "src", "dst", "weight" if weight is None else F.col(weight).alias("weight")
        )
        sym = (
            a.unionAll(
                a.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
                )
            )
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
        )
    else:
        base = g.symmetric_edges().filter(F.col("src") != F.col("dst"))
        sym = base.select(
            "src", "dst", ("weight" if weight is None else F.col(weight).alias("weight"))
        )
    strength = sym.groupBy("src").agg(F.sum("weight").alias("s"))
    p = sym.join(strength, "src").select(
        "src", "dst", (F.col("weight") / F.col("s")).alias("p")
    )
    p_u = p.filter(F.col("src") == u).persist()  # u's whole neighborhood row
    drow = p_u.filter(F.col("dst") == v).select("p").first()
    direct = float(drow["p"]) if drow else 0.0
    ind_row = (
        p_u.select(F.col("dst").alias("w"), F.col("p").alias("puw"))
        .join(
            p.filter(F.col("dst") == v).select(
                F.col("src").alias("w"), F.col("p").alias("pwv")
            ),
            "w",
        )
        .agg(F.sum(F.col("puw") * F.col("pwv")))
        .first()[0]
    )
    p_u.unpersist()
    return (direct + float(ind_row or 0.0)) ** 2


def group_out_degree_centrality(g: SparkGraph, S: DataFrame) -> float:
    """``group.py`` ``group_out_degree_centrality`` — fraction of
    non-group members reached by an arc OUT of the group."""
    if not g.directed:
        raise NotImplementedForDirected(
            "group_out_degree_centrality: directed only"
        )
    return group_degree_centrality(g, S)


def group_in_degree_centrality(g: SparkGraph, S: DataFrame) -> float:
    """``group.py`` ``group_in_degree_centrality`` — fraction of
    non-group members with an arc INTO the group (the out form on the
    reversed view)."""
    if not g.directed:
        raise NotImplementedForDirected(
            "group_in_degree_centrality: directed only"
        )
    return group_degree_centrality(g.reverse(), S)
