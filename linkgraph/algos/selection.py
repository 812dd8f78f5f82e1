"""Greedy node/edge selection: maximal independent set, maximal matching,
and VoteRank influential-node selection.

Reference semantics (networkx 3.6.1):

- ``maximal_independent_set`` — ``networkx/algorithms/mis.py:13``: a
  maximal (not maximum) independent set containing the optional seed
  ``nodes``; raises when the seed nodes are adjacent. The reference grows
  the set sequentially in random order; we run **Luby's algorithm** (the
  classic O(log n)-round distributed MIS): every round each still-active
  node draws a deterministic pseudo-random priority and joins the set iff
  it beats every active neighbor — a local minimum test that is one
  arcs⋈priority join + one min-aggregation per round. The result is a
  valid maximal independent set (the reference's own result is also just
  "some" MIS — randomized), deterministic for a given ``seed``.
- ``maximal_matching`` — ``networkx/algorithms/matching.py:21``: greedy
  maximal matching. Distributed analog of Israeli–Itai: per round every
  active edge draws a priority; an edge enters the matching iff it is the
  minimum among ALL edges sharing either endpoint (two min-by
  aggregations), then both endpoints retire. O(log n) rounds expected.
- ``voterank`` — ``networkx/algorithms/centrality/voterank_alg.py:9``
  (Zhang et al. 2016): iterative election. Each round every node's score
  is the sum of its neighbors' voting ability (out-neighbors' ability for
  directed — "nodes only vote for their in-neighbors"); the top scorer is
  elected, its ability zeroed, and its (out-)neighbors' ability decreases
  by 1/⟨k⟩, floored at 0. Elections are inherently sequential (k driver
  rounds over an (id, ability) state table — each round is one join+agg on
  a vertex-sized DataFrame, so the per-round cost is tiny; k is the number
  of spreaders requested, typically small).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.iterutils import SuperstepCache, row_count

__all__ = [
    "maximal_independent_set",
    "maximal_matching",
    "voterank",
    "dominating_set",
    "min_vertex_cover_approx",
]


from linkgraph.exceptions import NetworkXUnfeasible  # noqa: E402 (shared hierarchy)


def _sym_arcs(g: SparkGraph) -> DataFrame:
    return (
        g.symmetric_edges()
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def maximal_independent_set(
    g: SparkGraph, nodes: Optional[DataFrame] = None, seed: int = 42
) -> DataFrame:
    """(id): a maximal independent set containing ``nodes`` (``mis.py:13``).

    Luby's algorithm; ``seed`` makes the per-round priorities (xxhash64 of
    (id, seed, round)) — and therefore the output — deterministic.
    """
    if g.directed:
        raise NotImplementedForDirected(
            "maximal_independent_set: not implemented for directed type"
        )
    with SuperstepCache(g.spark) as cache:
        sym = cache.pin(_sym_arcs(g))
        mis_parts = []
        active, seen = cache.truncate(g.vertices.select("id"), figures=row_count())
        if nodes is not None:
            seed_ids = nodes.select(
                F.col(nodes.columns[0]).cast("long").alias("id")
            ).distinct()
            bad = (
                sym.join(seed_ids.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(seed_ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
            if not bad.isEmpty():
                raise NetworkXUnfeasible(
                    "The given neighbors are not a maximal independent set."
                )
            seed_ids = cache.truncate(seed_ids)
            mis_parts.append(seed_ids)
            nbrs = (
                sym.join(seed_ids.withColumnRenamed("id", "src"), "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            active, seen = cache.truncate(
                active.join(seed_ids, "id", "left_anti").join(nbrs, "id", "left_anti"),
                retire=active,
                figures=row_count(),
            )
        rnd = 0
        while seen["rows"] > 0:
            rnd += 1
            pri = active.select(
                "id", F.xxhash64(F.col("id"), F.lit(seed), F.lit(rnd)).alias("h")
            )
            arcs = sym.join(
                active.withColumnRenamed("id", "src"), "src", "left_semi"
            ).join(active.withColumnRenamed("id", "dst"), "dst", "left_semi")
            nbr_min = (
                arcs.join(
                    pri.select(F.col("id").alias("dst"), "h"), "dst"
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.min(F.struct("h", F.col("dst").alias("nid"))).alias("m"))
            )
            sel = (
                pri.join(nbr_min, "id", "left")
                .filter(
                    F.col("m").isNull()
                    | (F.struct("h", F.col("id").alias("nid")) < F.col("m"))
                )
                .select("id")
            )
            sel = cache.truncate(sel)
            mis_parts.append(sel)
            sel_nbrs = (
                sym.join(sel.withColumnRenamed("id", "src"), "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            active, seen = cache.truncate(
                active.join(sel, "id", "left_anti").join(
                    sel_nbrs, "id", "left_anti"
                ),
                retire=active,
                figures=row_count(),
            )
        if not mis_parts:
            return g.vertices.select("id").limit(0)
        out = mis_parts[0]
        for p in mis_parts[1:]:
            out = out.unionAll(p)
        return cache.result(cache.truncate(out))


def maximal_matching(g: SparkGraph, seed: int = 42) -> DataFrame:
    """(u, v): a maximal matching (``matching.py:21``), canonical u < v.

    Distributed greedy: per round an edge is matched iff its deterministic
    priority is the minimum at BOTH endpoints; matched endpoints retire.
    """
    e0 = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    with SuperstepCache(g.spark) as cache:
        parts = []
        active, seen = cache.truncate(e0, figures=row_count())
        rnd = 0
        while seen["rows"] > 0:
            rnd += 1
            pri = active.select(
                "u", "v",
                F.xxhash64(F.col("u"), F.col("v"), F.lit(seed), F.lit(rnd)).alias("h"),
            )
            ends = pri.select(F.col("u").alias("node"), "u", "v", "h").unionAll(
                pri.select(F.col("v").alias("node"), "u", "v", "h")
            )
            node_min = ends.groupBy("node").agg(
                F.min(F.struct("h", "u", "v")).alias("m")
            )
            sel = (
                pri.join(
                    node_min.withColumnRenamed("node", "u").withColumnRenamed("m", "mu"),
                    "u",
                )
                .join(
                    node_min.withColumnRenamed("node", "v").withColumnRenamed("m", "mv"),
                    "v",
                )
                .filter(
                    (F.struct("h", "u", "v") == F.col("mu"))
                    & (F.struct("h", "u", "v") == F.col("mv"))
                )
                .select("u", "v")
            )
            sel = cache.truncate(sel)
            parts.append(sel)
            matched = sel.select(F.col("u").alias("node")).unionAll(
                sel.select(F.col("v").alias("node"))
            )
            active, seen = cache.truncate(
                active.join(
                    matched.withColumnRenamed("node", "u"), "u", "left_anti"
                ).join(matched.withColumnRenamed("node", "v"), "v", "left_anti"),
                retire=active,
                figures=row_count(),
            )
        if not parts:
            return e0.limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return cache.result(cache.truncate(out))


def voterank(g: SparkGraph, number_of_nodes: Optional[int] = None) -> DataFrame:
    """(rank, id): influential nodes in election order
    (``voterank_alg.py:9``). ``rank`` starts at 0.

    Exact reference semantics: score(n) = Σ ability over neighbors
    (out-neighbors for directed), elected = max score (ties → smallest id,
    the reference's insertion-order max for integer-labeled graphs), then
    the elected node's (out-)neighbors lose 1/⟨k_out⟩ ability (floored at
    0) and it stops voting/being elected. Each election is one join +
    aggregation over the vertex-sized ability table.
    """
    n = g.number_of_nodes()
    if n == 0:
        return g.spark.createDataFrame([], "rank long, id long")
    if number_of_nodes is None or number_of_nodes > n:
        number_of_nodes = n
    if g.directed:
        arcs = g.edges.select("src", "dst")
        m = arcs.count()
    else:
        arcs = _sym_arcs(g)
        m = arcs.count()
    avg_deg = m / n  # directed: mean out-degree; undirected: mean degree
    if avg_deg == 0:
        return g.spark.createDataFrame([], "rank long, id long")
    f = 1.0 / avg_deg

    with SuperstepCache(g.spark) as cache:
        state = cache.truncate(
            g.vertices.select(
                "id", F.lit(1.0).alias("ability"), F.lit(False).alias("elected")
            )
        )
        chosen = []
        for _ in range(number_of_nodes):
            # votes flow dst→src: score(src) = Σ ability(dst)
            scores = (
                arcs.join(
                    state.select(F.col("id").alias("dst"), "ability"), "dst"
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("ability").alias("score"))
            )
            top = (
                state.filter(~F.col("elected"))
                .join(scores, "id", "left")
                .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
                .orderBy(F.desc("score"), F.asc("id"))
                .limit(1)
                .first()
            )
            if top is None or top["score"] == 0.0:
                break
            nid = top["id"]
            chosen.append(nid)
            nbrs = arcs.filter(F.col("src") == nid).select(
                F.col("dst").alias("id")
            )
            state = cache.truncate(
                state.join(F.broadcast(nbrs.withColumn("hit", F.lit(True))), "id", "left")
                .select(
                    "id",
                    F.when(F.col("id") == nid, 0.0)
                    .when(
                        F.col("hit").isNotNull(),
                        F.greatest(F.col("ability") - f, F.lit(0.0)),
                    )
                    .otherwise(F.col("ability"))
                    .alias("ability"),
                    (F.col("elected") | (F.col("id") == nid)).alias("elected"),
                ),
                retire=state,
            )
        return g.spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(chosen)], "rank long, id long"
        )


def dominating_set(g: SparkGraph, seed: int = 42) -> DataFrame:
    """(id): a dominating set (``networkx/algorithms/dominating.py:10``
    contract: every node is in the set or adjacent to it). The reference
    grows one greedily in scan order — sequential — so this returns a
    maximal independent set instead, which is always a minimal dominating
    set (every MIS is dominating by maximality, and minimal by
    independence); Luby's rounds make it distributed and deterministic
    per ``seed``."""
    return maximal_independent_set(g, seed=seed)


def min_vertex_cover_approx(g: SparkGraph, seed: int = 42) -> DataFrame:
    """(id): a vertex cover at most twice the minimum size — both endpoints
    of a maximal matching (the classical 2-approximation; reference surface
    ``networkx/algorithms/approximation/vertex_cover.py:17`` with unit
    weights). The reference's weighted local-ratio walk processes edges one
    at a time and does not shard; the matching route reuses the O(log n)
    distributed rounds of :func:`maximal_matching` and carries the same
    factor-2 guarantee for the unit-weight case.
    """
    m = maximal_matching(g, seed=seed)
    return (
        m.select(F.col("u").alias("id"))
        .unionAll(m.select(F.col("v").alias("id")))
        .distinct()
    )


def is_dominating_set(g: SparkGraph, nbunch) -> bool:
    """True iff every node is in the set or adjacent to it
    (``networkx/algorithms/dominating.py:78``)."""
    if isinstance(nbunch, DataFrame):
        s = nbunch.select(F.col(nbunch.columns[0]).cast("long").alias("id"))
    else:
        s = g.spark.createDataFrame([(int(x),) for x in nbunch], "id long")
    s = s.persist()
    covered = s.unionByName(
        _sym_arcs(g)
        .join(s.withColumnRenamed("id", "src"), "src")
        .select(F.col("dst").alias("id"))
    ).distinct()
    return (
        g.vertices.select("id").join(covered, "id", "left_anti").limit(1).count()
        == 0
    )


def is_connected_dominating_set(g: SparkGraph, nbunch) -> bool:
    """True iff dominating and the induced subgraph is connected
    (``dominating.py:106``)."""
    if not is_dominating_set(g, nbunch):
        return False
    from linkgraph.algos.components import is_connected

    if isinstance(nbunch, DataFrame):
        s = nbunch.select(F.col(nbunch.columns[0]).cast("long").alias("id"))
    else:
        s = g.spark.createDataFrame([(int(x),) for x in nbunch], "id long")
    return is_connected(g.subgraph(s))
