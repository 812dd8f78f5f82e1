"""Distance-based measures: all-pairs BFS, closeness/harmonic centrality,
eccentricity / diameter / radius / center / periphery, and
``average_shortest_path_length``.

Reference semantics:

- ``closeness_centrality`` — ``networkx/algorithms/centrality/closeness.py:15``:
  C(u) = (n_r − 1) / Σ_v d(v, u) over the n_r nodes that can REACH u
  (incoming distance for directed graphs); with ``wf_improved`` (the
  default) scaled by (n_r − 1)/(N − 1). Nodes nobody reaches get 0.0.
- ``harmonic_centrality`` — ``networkx/algorithms/centrality/harmonic.py``:
  H(u) = Σ_{v≠u} 1/d(v, u), incoming distance, unreachable terms are 0.
- ``eccentricity/diameter/radius/center/periphery`` —
  ``networkx/algorithms/distance_measures.py:150,230,292,320,348``:
  ecc(u) = max_v d(u, v) (OUTGOING distance); raises when the graph is not
  (strongly) connected, matching the reference's "Found infinite path
  length" error.
- ``average_shortest_path_length`` —
  ``networkx/algorithms/shortest_paths/generic.py:356``: mean of d(u, v)
  over all ordered pairs; raises on a disconnected (undirected) or
  non-strongly-connected (directed) graph.

Spark plan: ONE primitive — a batched multi-source BFS whose state is the
``(source, id, distance)`` table — powers everything; each BFS level is a
single frontier⋈arcs shuffle join + composite-key anti-join, all sources
advancing simultaneously (no per-source driver loop). Every measure above
is then one aggregation over that table.

Scale note: with ``sources=None`` the result is O(n·reach) rows — exact
all-pairs is inherently quadratic (the reference pays the same O(n·m)
time). At web scale pass ``sources=`` a landmark sample (the standard
approximation: closeness/eccentricity estimated from k pivots); the
superstep machinery is identical and the aggregations below accept the
restricted table unchanged.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count

__all__ = [
    "incremental_closeness_centrality",
    "all_pairs_shortest_path_lengths",
    "closeness_centrality",
    "harmonic_centrality",
    "eccentricity",
    "diameter",
    "radius",
    "center",
    "periphery",
    "average_shortest_path_length",
]


def _arcs(g: SparkGraph, reverse: bool) -> DataFrame:
    if g.directed:
        a = g.edges.select("src", "dst")
        if reverse:
            a = a.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        return a
    return g.symmetric_edges().select("src", "dst")


def all_pairs_shortest_path_lengths(
    g: SparkGraph,
    sources: Optional[DataFrame] = None,
    *,
    reverse: bool = False,
    max_depth: Optional[int] = None,
    distance=None,
) -> DataFrame:
    """Batched multi-source BFS: ``(source BIGINT, id BIGINT, distance
    BIGINT)`` — unweighted distance from ``source`` to ``id`` following
    out-arcs (``reverse=True`` follows in-arcs, i.e. distance TO source).
    Row ``(s, s, 0)`` is present for every source, like the reference's
    ``dict(nx.all_pairs_shortest_path_length(G))`` including the source
    itself (``unweighted.py:22``). Unreachable pairs are absent.

    ``sources=None`` uses every vertex (exact all-pairs); pass a one-column
    DataFrame of landmark ids for the sampled approximation at scale.

    ``distance`` (the reference's edge-attribute name on the Dijkstra
    family, resolved per :func:`linkgraph.graph.resolve_weight_column`)
    switches to weighted relaxation — same frontier superstep with
    dist+w min-merge, distances come back DOUBLE; non-negative weights
    required (the reference's Dijkstra cost class).
    """
    spark = g.spark
    if sources is None:
        src_df = g.vertices.select(F.col("id").alias("source"))
    else:
        src_df = sources.select(
            F.col(sources.columns[0]).cast("long").alias("source")
        ).join(g.vertices.select(F.col("id").alias("source")), "source", "left_semi")

    if distance is not None:
        if max_depth is not None:
            raise ValueError("max_depth only applies to the unweighted BFS")
        return _all_pairs_weighted(g, src_df, reverse, distance)

    with SuperstepCache(spark) as cache:
        adj = cache.pin(_arcs(g, reverse))
        visited = cache.truncate(
            src_df.select(
                "source",
                F.col("source").alias("id"),
                F.lit(0).cast("long").alias("distance"),
            )
        )
        frontier = visited
        depth = 0
        while True:
            if max_depth is not None and depth >= max_depth:
                break
            depth += 1
            nxt, seen = cache.truncate(
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .select("source", F.col("dst").alias("id"))
                .distinct()
                .join(visited, ["source", "id"], "left_anti")
                .select("source", "id", F.lit(depth).cast("long").alias("distance")),
                retire=None if frontier is visited else frontier,
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            visited = cache.truncate(visited.unionByName(nxt), retire=visited)
            frontier = nxt
        return cache.result(visited)


def _all_pairs_weighted(g: SparkGraph, src_df, reverse: bool, distance):
    """Weighted twin of the multi-source BFS: frontier relaxation keyed
    ``(source, id)`` with per-round join + groupBy-min + improvements
    merge (the sssp superstep sharded by source)."""
    from linkgraph.graph import resolve_weight_column

    spark = g.spark
    base = g.edges if g.directed else g.symmetric_edges()
    w_col = resolve_weight_column(base, distance)
    adj = base.select("src", "dst", w_col.alias("w"))
    if g.directed and reverse:
        adj = adj.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    with SuperstepCache(spark) as cache:
        adj = cache.pin(adj.groupBy("src", "dst").agg(F.min("w").alias("w")))
        if adj.filter(F.col("w") < 0).limit(1).count():
            raise ValueError(
                "all_pairs_shortest_path_lengths(distance=...): negative "
                "weights are outside the Dijkstra cost class the reference "
                "uses here"
            )
        dist = cache.truncate(
            src_df.select(
                "source", F.col("source").alias("id"), F.lit(0.0).alias("distance")
            )
        )
        frontier = dist
        while True:
            cand = (
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(
                    "source",
                    F.col("dst").alias("id"),
                    (F.col("distance") + F.col("w")).alias("distance"),
                )
                .groupBy("source", "id")
                .agg(F.min("distance").alias("distance"))
            )
            improved, seen = cache.truncate(
                cand.join(
                    dist.select(
                        "source", "id", F.col("distance").alias("_old")
                    ),
                    ["source", "id"],
                    "left",
                )
                .filter(F.col("_old").isNull() | (F.col("distance") < F.col("_old")))
                .select("source", "id", "distance"),
                retire=None if frontier is dist else frontier,
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            dist = cache.truncate(
                dist.join(
                    improved.select("source", "id"), ["source", "id"], "left_anti"
                ).unionByName(improved),
                retire=dist,
            )
            frontier = improved
        return cache.result(dist)


def closeness_centrality(
    g: SparkGraph,
    u=None,
    *,
    wf_improved: bool = True,
    sources: Optional[DataFrame] = None,
    distance=None,
):
    """``(id, closeness DOUBLE)`` for every vertex — exact
    ``nx.closeness_centrality`` semantics (``closeness.py:15``): incoming
    distances, (n_r−1)/Σd, Wasserman-Faust (n_r−1)/(N−1) factor when
    ``wf_improved``; nodes that nobody reaches get 0.0.

    ``sources=`` restricts the BFS to landmark targets (then the result is
    the landmark estimate, only exact when sources covers all vertices).
    ``distance=`` is the reference's weighted form (``closeness.py:15``
    ``distance`` kwarg → Dijkstra lengths): same aggregation over the
    weighted relaxation distances.
    """
    if u is not None:
        # the reference's single-node form returns a float
        one = g.spark.createDataFrame([(int(u),)], "id long")
        row = (
            closeness_centrality(
                g, wf_improved=wf_improved, sources=one, distance=distance
            )
            .filter(F.col("id") == int(u))
            .first()
        )
        return float(row["closeness"]) if row else 0.0
    n_total = g.number_of_nodes()
    # BFS from u over REVERSED arcs reaches exactly the v that reach u,
    # at distance d(v, u) — so rows (source=u, id=v) give incoming distances.
    sp = all_pairs_shortest_path_lengths(g, sources, reverse=True, distance=distance)
    agg = sp.groupBy(F.col("source").alias("id")).agg(
        F.sum("distance").alias("totsp"),
        F.count("*").alias("n_reach"),
    )
    if n_total <= 1:
        return g.vertices.select("id", F.lit(0.0).alias("closeness"))
    base = (F.col("n_reach") - 1) / F.col("totsp")
    if wf_improved:
        base = base * (F.col("n_reach") - 1) / F.lit(float(n_total - 1))
    scored = agg.select(
        "id",
        F.when(F.col("totsp") > 0, base).otherwise(F.lit(0.0)).alias("closeness"),
    )
    out = g.vertices.select("id").join(scored, "id", "left")
    return out.select("id", F.coalesce("closeness", F.lit(0.0)).alias("closeness"))


def harmonic_centrality(
    g: SparkGraph, *, sources: Optional[DataFrame] = None, distance=None
) -> DataFrame:
    """``(id, harmonic DOUBLE)`` — ``nx.harmonic_centrality`` (``harmonic.py``):
    Σ_{v≠u} 1/d(v, u) with incoming distances; unreachable pairs add 0.
    ``distance=`` switches to weighted (Dijkstra-class) lengths."""
    sp = all_pairs_shortest_path_lengths(g, sources, reverse=True, distance=distance)
    agg = (
        sp.filter(F.col("distance") > 0)
        .groupBy(F.col("source").alias("id"))
        .agg(F.sum(F.lit(1.0) / F.col("distance")).alias("harmonic"))
    )
    return (
        g.vertices.select("id")
        .join(agg, "id", "left")
        .select("id", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
    )


def _ecc_table(
    g: SparkGraph, sources: Optional[DataFrame] = None, weight=None
) -> DataFrame:
    """Per-node eccentricity; raises like the reference when some pair is
    unreachable (``distance_measures.py:150``: "Found infinite path
    length"). ``sources=`` computes the exact eccentricity of just those
    nodes (the reference's ``eccentricity(G, v=...)``) — k·m work instead
    of n·m, the scale path for "how eccentric are THESE nodes".
    ``weight=`` uses weighted (Dijkstra-class) lengths, like the
    reference's ``weight`` kwarg across the distance_measures family."""
    n = g.number_of_nodes()
    if sources is not None:
        k = sources.count()
    else:
        k = n
    with SuperstepCache(g.spark) as loop:
        sp = all_pairs_shortest_path_lengths(
            g, sources, reverse=False, distance=weight
        )
        try:
            ecc, seen = loop.truncate(
                sp.groupBy(F.col("source").alias("id")).agg(
                    F.max("distance").alias("eccentricity"),
                    F.count(F.lit(1)).alias("reached"),
                ),
                figures={"reached": F.sum("reached")},
            )
            if (seen["reached"] or 0) != k * n:
                kind = "strongly connected" if g.directed else "connected"
                raise ValueError(
                    "Found infinite path length because the "
                    f"{'di' if g.directed else ''}graph is not {kind}"
                )
            return loop.result(ecc.select("id", "eccentricity"))
        finally:
            loop.release(sp)


def eccentricity(
    g: SparkGraph, sources: Optional[DataFrame] = None, weight=None
) -> DataFrame:
    """``(id, eccentricity BIGINT)`` — max distance from each node
    (``distance_measures.py:150``). ``sources=`` restricts to those nodes
    (exact, like the reference's ``v=`` argument); ``weight=`` switches
    to weighted lengths (eccentricity comes back DOUBLE)."""
    return _ecc_table(g, sources, weight)


def eccentricity_bounds(g: SparkGraph, landmarks: DataFrame) -> DataFrame:
    """``(id, ecc_lower BIGINT, ecc_upper BIGINT)`` for EVERY node from k
    landmark BFSs — the landmark bounding scheme of the reference's
    approximation module (``networkx/algorithms/approximation/
    distance_measures.py:12`` and Takes & Kosters 2011, "Determining the
    diameter of small world networks"):

        max_l d(l, v)  <=  ecc(v)  <=  min_l (d(l, v) + ecc(l))

    (undirected triangle inequality). k·m work and O(k·n) state instead of
    the exact family's n·m / n² — the 100×-scale answer for per-node
    eccentricity estimates. Landmarks must reach every node (raises
    otherwise, same "Found infinite path length" contract)."""
    if g.directed:
        raise ValueError(
            "eccentricity_bounds: undirected graphs only (the landmark "
            "triangle-inequality bound needs symmetric distances)"
        )
    n = g.number_of_nodes()
    k = landmarks.count()
    with SuperstepCache(g.spark) as loop:
        sp = all_pairs_shortest_path_lengths(g, landmarks, reverse=False)
        try:
            if sp.count() != k * n:
                raise ValueError(
                    "Found infinite path length because the graph is not connected"
                )
            # exact ecc of each landmark falls out of its own BFS row-set
            lecc = sp.groupBy("source").agg(F.max("distance").alias("lecc"))
            bounds = (
                sp.join(F.broadcast(lecc), "source")
                .groupBy("id")
                .agg(
                    F.max("distance").alias("ecc_lower"),
                    F.min(F.col("distance") + F.col("lecc")).alias("ecc_upper"),
                )
            )
            # a landmark's own row is exact on both sides (d(l,l)=0 already
            # makes the upper bound tight; lift the lower bound to match)
            bounds = (
                bounds.join(
                    F.broadcast(lecc.select(F.col("source").alias("id"), "lecc")),
                    "id",
                    "left",
                )
                .select(
                    "id",
                    F.greatest(
                        "ecc_lower", F.coalesce("lecc", F.lit(0))
                    ).alias("ecc_lower"),
                    "ecc_upper",
                )
            )
            return loop.result(loop.truncate(bounds))
        finally:
            loop.release(sp)


def approximate_diameter(g: SparkGraph) -> int:
    """Two-sweep lower bound on the diameter (the reference's
    ``approximation.diameter``, ``networkx/algorithms/approximation/
    distance_measures.py:12``): BFS from a deterministic seed, then BFS
    from the farthest node found; that node's eccentricity is the bound
    (exact on trees, empirically tight on small-world graphs). Two BFS
    sweeps total — O(m) per sweep, any scale."""
    if g.directed:
        raise ValueError(
            "approximate_diameter: undirected graphs only"
        )
    if g.number_of_nodes() == 0:
        raise ValueError("the graph is empty")
    seed = g.vertices.select(F.min("id").alias("id"))
    with SuperstepCache(g.spark) as loop:
        sweep1 = all_pairs_shortest_path_lengths(g, seed, reverse=False)
        far = (
            sweep1.orderBy(F.desc("distance"), F.asc("id")).limit(1).select("id")
        )
        sweep2 = all_pairs_shortest_path_lengths(g, far, reverse=False)
        bound = int(sweep2.agg(F.max("distance")).first()[0])
        loop.release([sweep1, sweep2])
    return bound


def diameter(g: SparkGraph, weight=None) -> int:
    """Max eccentricity (``distance_measures.py:230``)."""
    return _ecc_extreme(g, weight, F.max)


def radius(g: SparkGraph, weight=None) -> int:
    """Min eccentricity (``distance_measures.py:292``)."""
    return _ecc_extreme(g, weight, F.min)


def _ecc_extreme(g: SparkGraph, weight, extreme):
    """``extreme`` (``F.min`` or ``F.max``) of the eccentricities."""
    with SuperstepCache(g.spark) as loop:
        ecc = _ecc_table(g, weight=weight)
        value = ecc.agg(extreme("eccentricity")).first()[0]
        loop.release(ecc)
    return value


def center(g: SparkGraph, weight=None) -> DataFrame:
    """Nodes with ecc == radius (``distance_measures.py:320``)."""
    ecc = _ecc_table(g, weight=weight)
    r = ecc.agg(F.min("eccentricity").alias("r"))
    return ecc.join(F.broadcast(r), ecc.eccentricity == r.r, "left_semi").select("id")


def periphery(g: SparkGraph, weight=None) -> DataFrame:
    """Nodes with ecc == diameter (``distance_measures.py:348``)."""
    ecc = _ecc_table(g, weight=weight)
    d = ecc.agg(F.max("eccentricity").alias("d"))
    return ecc.join(F.broadcast(d), ecc.eccentricity == d.d, "left_semi").select("id")


def average_shortest_path_length(
    g: SparkGraph, weight=None, method: Optional[str] = None
) -> float:
    """Mean d(u, v) over ordered pairs (``generic.py:356``); raises on a
    disconnected / non-strongly-connected graph like the reference.
    ``weight=`` averages weighted lengths; ``method`` is accepted for
    signature parity (every method computes the same lengths — the
    engine's relaxation kernel already covers the Dijkstra/Bellman-Ford
    cost classes)."""
    n = g.number_of_nodes()
    if n <= 1:
        raise ValueError(
            "the graph is empty" if n == 0 else "graph has fewer than two nodes"
        )
    with SuperstepCache(g.spark) as loop:
        sp = all_pairs_shortest_path_lengths(g, reverse=False, distance=weight)
        row = sp.agg(
            F.count("*").alias("pairs"), F.sum("distance").alias("total")
        ).first()
        loop.release(sp)
    if row["pairs"] != n * n:
        kind = "strongly connected" if g.directed else "connected"
        raise ValueError(f"Graph is not {kind}.")
    return float(row["total"]) / (n * (n - 1))


def barycenter(g: SparkGraph, weight=None) -> DataFrame:
    """(id): the node(s) minimizing total shortest-path distance to every
    other node (``networkx/algorithms/distance_measures.py`` sibling
    ``barycenter``; ``weight=`` uses weighted lengths like the
    reference). Raises when any node misses part of the graph, like the
    reference's NetworkXNoPath. One aggregation over the batched
    all-pairs table plus a global-min semi-filter."""
    n = g.number_of_nodes()
    with SuperstepCache(g.spark) as loop:
        sp = all_pairs_shortest_path_lengths(g, distance=weight)
        sums, seen = loop.truncate(
            sp.groupBy(F.col("source").alias("id")).agg(
                F.sum("distance").alias("s"), F.count(F.lit(1)).alias("c")
            ),
            figures={
                "rows": F.count(F.lit(1)),
                "bad": F.count(F.when(F.col("c") < n, 1)),
                "best": F.min("s"),
            },
        )
        loop.release(sp)
        if seen["bad"] or seen["rows"] < n:
            raise ValueError(
                "Input graph is disconnected, so every induced subgraph has "
                "infinite barycentricity."
            )
        return loop.result(sums.filter(F.col("s") == seen["best"]).select("id"))


def incremental_closeness_centrality(
    g: SparkGraph,
    edge,
    prev_cc: Optional[DataFrame] = None,
    insertion: bool = True,
    *,
    wf_improved: bool = True,
) -> DataFrame:
    """Closeness after inserting/deleting ``edge``, recomputing only the
    nodes the change can affect — ``closeness.py:142``
    ``incremental_closeness_centrality`` (Sariyüce et al. 2013 level-based
    work filtering). Theorem 1: cc[s] is unchanged iff
    ``|d(s, u) − d(s, v)| ≤ 1``, with d measured before an insertion /
    after a deletion.

    ``prev_cc`` is a ``(id, closeness)`` DataFrame (e.g. a previous call's
    output); ``None`` recomputes everything. Like the reference, the input
    graph is left untouched and the result reflects the modified graph.
    Undirected unweighted graphs only.

    Distributed shape: two BFS sweeps (u and v, one batched multi-source
    run) classify nodes; the affected set re-runs through the SAME batched
    multi-source closeness kernel (each covered source is exact); the
    unaffected set keeps its previous rows. At 100 TB the affected set is
    the work bound — exactly the filtering theorem's point.
    """
    from linkgraph.exceptions import NetworkXError, NotImplementedForDirected

    if g.directed:
        raise NotImplementedForDirected(
            "incremental_closeness_centrality: not implemented for directed type"
        )
    u, v = int(edge[0]), int(edge[1])
    spark = g.spark
    if prev_cc is not None:
        ids = g.vertices.select("id")
        pc = prev_cc.select(F.col(prev_cc.columns[0]).alias("id"))
        if (
            ids.join(pc, "id", "left_anti").limit(1).count()
            or pc.join(ids, "id", "left_anti").limit(1).count()
        ):
            raise NetworkXError("prev_cc and G do not have the same nodes")

    pair = spark.createDataFrame([(u, v, 1.0)], "src long, dst long, weight double")
    if insertion:
        g2 = g.add_edges(pair)
        base = g  # distances BEFORE the insertion
    else:
        g2 = g.remove_edges(pair.select("src", "dst"))
        base = g2  # distances AFTER the removal

    if prev_cc is None:
        return closeness_centrality(g2, wf_improved=wf_improved)

    srcs = spark.createDataFrame([(u,), (v,)], "id long")
    sp = all_pairs_shortest_path_lengths(base, srcs)
    du = sp.filter(F.col("source") == u).select("id", F.col("distance").alias("du"))
    dv = sp.filter(F.col("source") == v).select("id", F.col("distance").alias("dv"))
    unaffected = (
        du.join(dv, "id")
        .filter(F.abs(F.col("du") - F.col("dv")) <= 1)
        .select("id")
    )
    kept = prev_cc.select(
        F.col(prev_cc.columns[0]).alias("id"),
        F.col(prev_cc.columns[1]).alias("closeness"),
    ).join(unaffected, "id", "left_semi")
    affected = g.vertices.select("id").join(unaffected, "id", "left_anti")
    recomputed = closeness_centrality(
        g2, wf_improved=wf_improved, sources=affected
    ).join(affected, "id", "left_semi")
    return kept.unionByName(recomputed)
