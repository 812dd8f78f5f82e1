"""Degree-preserving randomization: parallel double-edge swaps.

Reference: ``networkx/algorithms/swap.py:117`` ``double_edge_swap`` — pick
two edges (u,v), (x,y), replace with (u,x), (v,y) when that keeps the graph
simple; repeated ``nswap`` times this is the Maslov–Sneppen null model that
``rich_club_coefficient(normalized=True)`` divides by
(``networkx/algorithms/richclub.py:96``).

The reference's loop is sequential (each swap depends on the previous
state). The distributed form runs it in ROUNDS: every round pairs up the
current edges at random (deterministic seeded hash ranks inside hash
buckets), proposes the swap within each pair, and applies exactly the
proposals that keep the graph simple — endpoints distinct, neither
replacement edge already present, no two proposals creating the same edge.
Each round is one window-rank + two anti-joins, attempts ~m/2 swaps at
once, and preserves the degree multiset exactly (both swap outcomes keep
every endpoint's incident count). This is the standard parallel variant of
the null model; it samples the same degree-sequence-preserving family, not
the reference's exact Markov-chain trajectory (impossible to replicate
distributed — documented deviation, validity pinned in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.iterutils import SuperstepCache, row_count


# Simple edges connected_double_edge_swap collects onto the driver.
_DRIVER_EDGES = 1_000_000

__all__ = ["double_edge_swap"]


def double_edge_swap(
    g: SparkGraph, nswap: int = 1, seed: int = 42, max_rounds: int = 200
) -> SparkGraph:
    """A new undirected :class:`SparkGraph` with (at least) ``nswap``
    successful double-edge swaps applied, same degree sequence.

    Rounds run until the cumulative number of applied swaps reaches
    ``nswap`` (or ``max_rounds``); each round applies ~m/4 swaps in
    expectation, so the round count is ~4·nswap/m — a 100·m-swap null
    model is ~400 rounds regardless of graph size.
    """
    if g.directed:
        raise NotImplementedForDirected(
            "double_edge_swap: not implemented for directed type"
        )
    e = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    with SuperstepCache(g.spark) as cache:
        edges, seen = cache.truncate(e, figures=row_count())
        m = seen["rows"]
        if m < 2:
            return SparkGraph(
                e.select(F.col("u").alias("src"), F.col("v").alias("dst")),
                g.vertices.select("id"),
                directed=False,
                coalesce_edges=False,
            )
        done = 0
        rnd = 0
        while done < nswap and rnd < max_rounds:
            rnd += 1
            # random pairing: hash-rank edges, pair rank 2i with 2i+1
            # inside hash buckets (window over bucket keeps the sort local)
            h = F.xxhash64("u", "v", F.lit(seed), F.lit(rnd))
            n_buckets = max(1, m // 10_000)
            ranked = edges.select(
                "u", "v", h.alias("h"), F.pmod(h, F.lit(n_buckets)).alias("b")
            ).withColumn(
                "rn", F.row_number().over(Window.partitionBy("b").orderBy("h"))
            )
            a = ranked.filter(F.col("rn") % 2 == 1).select(
                "b", ((F.col("rn") + 1) / 2).cast("long").alias("pair"),
                F.col("u").alias("u1"), F.col("v").alias("v1"),
            )
            bb = ranked.filter(F.col("rn") % 2 == 0).select(
                "b", (F.col("rn") / 2).cast("long").alias("pair"),
                F.col("u").alias("u2"), F.col("v").alias("v2"),
            )
            prop = (
                a.join(bb, ["b", "pair"])
                # swap (u1,v1),(u2,v2) -> (u1,v2),(u2,v1); all 4 distinct
                .filter(
                    (F.col("u1") != F.col("u2")) & (F.col("u1") != F.col("v2"))
                    & (F.col("v1") != F.col("u2")) & (F.col("v1") != F.col("v2"))
                )
                .select(
                    F.col("u1").alias("ou1"), F.col("v1").alias("ov1"),
                    F.col("u2").alias("ou2"), F.col("v2").alias("ov2"),
                    F.least("u1", "v2").alias("n1u"), F.greatest("u1", "v2").alias("n1v"),
                    F.least("u2", "v1").alias("n2u"), F.greatest("u2", "v1").alias("n2v"),
                )
                .filter(  # no self-loops in the replacements
                    (F.col("n1u") != F.col("n1v")) & (F.col("n2u") != F.col("n2v"))
                )
            )
            # replacements must not already exist in the graph
            prop = prop.join(
                edges.select(F.col("u").alias("n1u"), F.col("v").alias("n1v")),
                ["n1u", "n1v"], "left_anti",
            ).join(
                edges.select(F.col("u").alias("n2u"), F.col("v").alias("n2v")),
                ["n2u", "n2v"], "left_anti",
            )
            # no two proposals may create the same new edge, and a
            # proposal's two replacements must differ from each other
            prop = prop.filter(
                ~((F.col("n1u") == F.col("n2u")) & (F.col("n1v") == F.col("n2v")))
            )
            news = prop.select(F.col("n1u").alias("u"), F.col("n1v").alias("v")).unionAll(
                prop.select(F.col("n2u").alias("u"), F.col("n2v").alias("v"))
            )
            clash = (
                news.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > 1)
            )
            prop = prop.join(
                clash.select(F.col("u").alias("n1u"), F.col("v").alias("n1v")),
                ["n1u", "n1v"], "left_anti",
            ).join(
                clash.select(F.col("u").alias("n2u"), F.col("v").alias("n2v")),
                ["n2u", "n2v"], "left_anti",
            )
            prop, seen = cache.truncate(prop, figures=row_count())
            applied = seen["rows"]
            if applied == 0:
                cache.release(prop)
                continue
            olds = prop.select(F.col("ou1").alias("u"), F.col("ov1").alias("v")).unionAll(
                prop.select(F.col("ou2").alias("u"), F.col("ov2").alias("v"))
            )
            adds = prop.select(F.col("n1u").alias("u"), F.col("n1v").alias("v")).unionAll(
                prop.select(F.col("n2u").alias("u"), F.col("n2v").alias("v"))
            )
            edges = cache.truncate(
                edges.join(olds, ["u", "v"], "left_anti").unionAll(adds),
                retire=edges,
            )
            cache.release(prop)
            done += applied
        out = SparkGraph(
            edges.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            g.vertices.select("id"),
            directed=False,
            coalesce_edges=False,
        )
        out.edges = cache.result(cache.truncate(out.edges))
        return out


def directed_edge_swap(
    g: SparkGraph, nswap: int = 1, seed: int = 42, max_rounds: int = 200
) -> SparkGraph:
    """A new directed :class:`SparkGraph` with (at least) ``nswap``
    successful directed swaps applied — (u→v, x→y) becomes (u→y, x→v),
    preserving every in- and out-degree
    (``networkx/algorithms/swap.py:22`` ``directed_edge_swap``; the
    reference draws one pair per step, the distributed twin applies a
    hash-paired batch per round, the same Maslov–Sneppen null model)."""
    if not g.directed:
        raise ValueError("directed_edge_swap: directed graphs only")
    e = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )
    with SuperstepCache(g.spark) as cache:
        edges, seen = cache.truncate(e, figures=row_count())
        m = seen["rows"]
        if m < 2:
            return SparkGraph(
                e.select(F.col("u").alias("src"), F.col("v").alias("dst")),
                g.vertices.select("id"),
                directed=True,
                coalesce_edges=False,
            )
        done = 0
        rnd = 0
        while done < nswap and rnd < max_rounds:
            rnd += 1
            h = F.xxhash64("u", "v", F.lit(seed), F.lit(rnd))
            n_buckets = max(1, m // 10_000)
            ranked = edges.select(
                "u", "v", h.alias("h"), F.pmod(h, F.lit(n_buckets)).alias("b")
            ).withColumn(
                "rn", F.row_number().over(Window.partitionBy("b").orderBy("h"))
            )
            a = ranked.filter(F.col("rn") % 2 == 1).select(
                "b", ((F.col("rn") + 1) / 2).cast("long").alias("pair"),
                F.col("u").alias("u1"), F.col("v").alias("v1"),
            )
            bb = ranked.filter(F.col("rn") % 2 == 0).select(
                "b", (F.col("rn") / 2).cast("long").alias("pair"),
                F.col("u").alias("u2"), F.col("v").alias("v2"),
            )
            prop = (
                a.join(bb, ["b", "pair"])
                # replacements (u1→v2), (u2→v1): no self-loops, all
                # endpoints pairwise distinct enough to avoid collapses
                .filter(
                    (F.col("u1") != F.col("v2"))
                    & (F.col("u2") != F.col("v1"))
                    & ~((F.col("u1") == F.col("u2")) & (F.col("v1") == F.col("v2")))
                )
            )
            prop = prop.join(
                edges.select(F.col("u").alias("u1"), F.col("v").alias("v2")),
                ["u1", "v2"], "left_anti",
            ).join(
                edges.select(F.col("u").alias("u2"), F.col("v").alias("v1")),
                ["u2", "v1"], "left_anti",
            ).filter(
                ~((F.col("u1") == F.col("u2")) & (F.col("v2") == F.col("v1")))
            )
            news = prop.select(F.col("u1").alias("u"), F.col("v2").alias("v")).unionAll(
                prop.select(F.col("u2").alias("u"), F.col("v1").alias("v"))
            )
            clash = (
                news.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > 1)
                .select("u", "v")
            )
            ok = prop.join(
                clash.select(F.col("u").alias("u1"), F.col("v").alias("v2")),
                ["u1", "v2"], "left_anti",
            ).join(
                clash.select(F.col("u").alias("u2"), F.col("v").alias("v1")),
                ["u2", "v1"], "left_anti",
            )
            ok, seen = cache.truncate(ok, figures=row_count())
            n_ok = seen["rows"]
            if n_ok == 0:
                cache.release(ok)
                continue
            olds = ok.select(F.col("u1").alias("u"), F.col("v1").alias("v")).unionAll(
                ok.select(F.col("u2").alias("u"), F.col("v2").alias("v"))
            )
            adds = ok.select(F.col("u1").alias("u"), F.col("v2").alias("v")).unionAll(
                ok.select(F.col("u2").alias("u"), F.col("v1").alias("v"))
            )
            edges = cache.truncate(
                edges.join(olds, ["u", "v"], "left_anti").unionByName(adds),
                retire=edges,
            )
            cache.release(ok)
            done += n_ok
        out = cache.result(
            cache.truncate(edges.select(F.col("u").alias("src"), F.col("v").alias("dst")))
        )
        return SparkGraph(
            out, g.vertices.select("id"), directed=True, coalesce_edges=False
        )


def connected_double_edge_swap(
    g: SparkGraph,
    nswap: int = 1,
    seed: int = 42,
) -> "tuple[SparkGraph, int]":
    """``swap.py`` ``connected_double_edge_swap`` — degree-preserving
    swaps that keep the graph connected, undoing any swap that would
    disconnect it. The reference's windowed schedule is a throughput
    optimization over the same accept/undo semantics; the engine runs
    the chain driver-gated with a seeded RNG and a connectivity probe
    per accepted swap. Returns ``(swapped graph, n_swaps_performed)``."""
    import random as _random
    from collections import deque

    from linkgraph.exceptions import NetworkXError
    from linkgraph.graph import SparkGraph as _SG

    if g.directed:
        raise NotImplementedForDirected(
            "connected_double_edge_swap: undirected only"
        )
    arcs = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    adj: dict = {}
    for r in driver_rows(arcs, _DRIVER_EDGES, "connected_double_edge_swap"):
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    for x in nodes:
        adj.setdefault(x, set())

    def connected():
        if not nodes:
            return True
        seen = {nodes[0]}
        q = deque(seen)
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        return len(seen) == len(nodes)

    if not connected():
        raise NetworkXError("Graph not connected")
    if any(len(adj[v]) == 0 for v in nodes):
        raise NetworkXError("Graph has isolated vertices")
    rng = _random.Random(seed)
    degrees = [len(adj[v]) for v in nodes]
    cum = []
    s = 0
    for d in degrees:
        s += d
        cum.append(s)

    def draw():
        x = rng.random() * s
        lo, hi = 0, len(nodes) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cum[mid] < x:
                lo = mid + 1
            else:
                hi = mid
        return nodes[lo]

    swaps = 0
    attempts = 0
    max_attempts = 100 * nswap + 100
    while swaps < nswap and attempts < max_attempts:
        attempts += 1
        u, x = draw(), draw()
        if u == x or not adj[u] or not adj[x]:
            continue
        v = rng.choice(sorted(adj[u]))
        y = rng.choice(sorted(adj[x]))
        if v == y or x in (u, v) or y in (u, v):
            continue
        if x in adj[u] or y in adj[v]:
            continue
        # swap u-v, x-y -> u-x, v-y
        adj[u].discard(v)
        adj[v].discard(u)
        adj[x].discard(y)
        adj[y].discard(x)
        adj[u].add(x)
        adj[x].add(u)
        adj[v].add(y)
        adj[y].add(v)
        if connected():
            swaps += 1
        else:
            adj[u].discard(x)
            adj[x].discard(u)
            adj[v].discard(y)
            adj[y].discard(v)
            adj[u].add(v)
            adj[v].add(u)
            adj[x].add(y)
            adj[y].add(x)
    rows = sorted((a, b, 1.0) for a in adj for b in adj[a] if a < b)
    e = g.spark.createDataFrame(rows or [], "src long, dst long, weight double")
    return (
        _SG(e, g.vertices.select("id"), directed=False, coalesce_edges=False),
        swaps,
    )
