"""Community-detection tail: divisive partitions, bisection heuristics,
clique percolation, tree partitioning, local expansion.

Reference: ``networkx/algorithms/community/`` —
``centrality.py`` (``girvan_newman``), ``kernighan_lin.py``,
``kclique.py`` (``k_clique_communities``), ``lukes.py``
(``lukes_partitioning``), ``divisive.py`` (``edge_betweenness_partition``,
``edge_current_flow_betweenness_partition``), ``community_utils.py``
(``is_partition``), ``local.py`` (``greedy_source_expansion``),
``bipartition.py`` (``spectral_modularity_bipartition``,
``greedy_node_swap_bipartition``).

Scale notes per function: the divisive family re-runs the DISTRIBUTED
edge-betweenness / current-flow kernels each round (the loop is the
algorithm, the per-round work is the scaled part); clique percolation is
pure joins (clique → (k−1)-subset key → overlap CC); the bisection
heuristics and the Lukes tree DP are sequential local searches — driver
kernels under size guards, like the reference.
"""

from __future__ import annotations

import random as _random
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, check_driver_limit
from linkgraph.iterutils import local_checkpoint


# Edges of the graphs the sequential kernels collect: the local searches,
# and the tree DP of lukes_partitioning.
_DRIVER_EDGES = 1_000_000
_LUKES_EDGES = 100_000

__all__ = [
    "is_partition",
    "girvan_newman",
    "kernighan_lin_bisection",
    "k_clique_communities",
    "lukes_partitioning",
    "edge_betweenness_partition",
    "edge_current_flow_betweenness_partition",
    "naive_greedy_modularity_communities",
    "louvain_partitions",
    "leiden_partitions",
    "spectral_modularity_bipartition",
    "greedy_node_swap_bipartition",
    "greedy_source_expansion",
]


def _as_membership(g: SparkGraph, communities):
    """Normalize list-of-sets / DataFrame community input to (id, community)."""
    if isinstance(communities, DataFrame):
        return communities.select(
            F.col(communities.columns[0]).cast("long").alias("id"),
            F.col(communities.columns[1]).cast("long").alias("community"),
        )
    rows = []
    for i, c in enumerate(communities):
        for v in c:
            rows.append((int(v), i))
    return g.spark.createDataFrame(rows or [], "id long, community long")


def is_partition(g: SparkGraph, communities) -> bool:
    """``community_utils.py`` ``is_partition`` — every node in exactly
    one community. Two counts on the membership table."""
    mem = _as_membership(g, communities)
    n = g.vertices.count()
    if mem.count() != n:
        return False
    if mem.select("id").distinct().count() != n:
        return False
    covered = g.vertices.select("id").join(mem.select("id"), "id", "left_semi")
    return covered.count() == n


def girvan_newman(g: SparkGraph, most_valuable_edge=None):
    """``community/centrality.py`` ``girvan_newman`` — yield successively
    finer partitions (as (id, community) DataFrames) by removing the
    highest-edge-betweenness edge until each yield's component count
    grows. The betweenness pass per round is the engine's distributed
    Brandes kernel; ``most_valuable_edge`` may be a callable
    ``f(SparkGraph) -> (src, dst)`` like the reference's."""
    from linkgraph.algos.betweenness import edge_betweenness_centrality
    from linkgraph.algos.components import (
        connected_components,
        number_connected_components,
    )

    if g.directed:
        raise NetworkXError("girvan_newman: undirected graphs only")
    work = SparkGraph(
        g.edges.filter(F.col("src") != F.col("dst")),
        g.vertices.select("id"),
        directed=False,
        coalesce_edges=False,
    )
    n = work.vertices.count()
    ncomp = number_connected_components(work)
    while work.edges.count() > 0 and ncomp < n:
        target = ncomp + 1
        while ncomp < target and work.edges.count() > 0:
            if most_valuable_edge is not None:
                u, v = most_valuable_edge(work)
            else:
                row = (
                    edge_betweenness_centrality(work)
                    .orderBy(F.col("betweenness").desc(), "src", "dst")
                    .limit(1)
                    .collect()[0]
                )
                u, v = row["src"], row["dst"]
            e2 = local_checkpoint(work.edges.filter(
                ~(
                    ((F.col("src") == u) & (F.col("dst") == v))
                    | ((F.col("src") == v) & (F.col("dst") == u))
                )
            ))
            work = SparkGraph(
                e2, work.vertices, directed=False, coalesce_edges=False
            )
            ncomp = number_connected_components(work)
        yield connected_components(work).select(
            "id", F.col("component").alias("community")
        )


def kernighan_lin_bisection(
    g: SparkGraph, partition=None, max_iter: int = 10, weight="weight",
    seed: int = 0
):
    """``community/kernighan_lin.py`` ``kernighan_lin_bisection`` — the
    classic swap-sweep bisection heuristic; sequential by definition,
    driver-side over the collected weighted adjacency. Returns two sets."""
    from linkgraph.graph import resolve_weight_column

    if g.directed:
        raise NetworkXError("kernighan_lin_bisection: undirected only")
    check_driver_limit(g.edges.count(), _DRIVER_EDGES, "kernighan_lin_bisection")
    base = g.symmetric_edges()
    adj = {}
    for r in base.select(
        "src", "dst", resolve_weight_column(base, weight).alias("w")
    ).collect():
        adj.setdefault(r["src"], {})[r["dst"]] = float(r["w"])
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    for v in nodes:
        adj.setdefault(v, {})
    rng = _random.Random(int(seed))
    if partition is None:
        order = list(nodes)
        rng.shuffle(order)
        mid = len(order) // 2
        A, B = set(order[:mid]), set(order[mid:])
    else:
        try:
            A, B = (set(partition[0]), set(partition[1]))
        except (TypeError, ValueError, IndexError) as err:
            raise NetworkXError("partition must be two sets") from err
        if sorted(A | B) != nodes or (A & B):
            raise NetworkXError("partition invalid")
    side = {v: (v in A) for v in nodes}

    def ext_cost(v):
        # D-value: external minus internal weight
        s = side[v]
        return sum(w if side[u] != s else -w for u, w in adj[v].items())

    for _ in range(int(max_iter)):
        d = {v: ext_cost(v) for v in nodes}
        locked = set()
        gains = []
        swap_pairs = []
        side_tmp = dict(side)
        for _ in range(min(len(A), len(B))):
            best = None
            for u in nodes:
                if u in locked or not side_tmp[u]:
                    continue
                for v in adj.keys():
                    if v in locked or side_tmp[v]:
                        continue
                    gain = d[u] + d[v] - 2 * adj[u].get(v, 0.0)
                    if best is None or gain > best[0]:
                        best = (gain, u, v)
            if best is None:
                break
            gain, u, v = best
            gains.append(gain)
            swap_pairs.append((u, v))
            locked.update((u, v))
            # update D-values as if swapped
            for x in nodes:
                if x in locked:
                    continue
                sx = side_tmp[x]
                d[x] += 2 * (adj[x].get(u, 0.0) * (1 if sx else -1))
                d[x] += 2 * (adj[x].get(v, 0.0) * (-1 if sx else 1))
        if not gains:
            break
        prefix = list(__import__("itertools").accumulate(gains))
        best_k = max(range(len(prefix)), key=lambda i: prefix[i])
        if prefix[best_k] <= 0:
            break
        for u, v in swap_pairs[: best_k + 1]:
            side[u] = False
            side[v] = True
    part1 = {v for v in nodes if not side[v]}
    part2 = {v for v in nodes if side[v]}
    return part1, part2


def k_clique_communities(g: SparkGraph, k: int, cliques=None) -> DataFrame:
    """``community/kclique.py`` ``k_clique_communities`` (Palla clique
    percolation) — union of k-cliques connected through (k−1)-node
    overlaps. Fully distributed: enumerate k-cliques, explode each into
    its k (k−1)-subsets, equi-join on the subset key, connected
    components over the clique-overlap graph, then union members.
    Returns (id, community) with community = min member id; nodes in no
    k-clique are absent, like the reference."""
    from linkgraph.algos.cliques import k_cliques
    from linkgraph.algos.components import connected_components

    if k < 2:
        raise NetworkXError(f"k={k}, k must be greater than 1.")
    spark = g.spark
    cl = cliques if cliques is not None else k_cliques(g, int(k))
    col = cl.columns[0]
    cl = cl.select(F.sort_array(F.col(col)).alias("members"))
    from pyspark.sql import Window

    cl = cl.withColumn(
        "cid", F.row_number().over(Window.orderBy("members")).cast("long")
    ).persist()
    if cl.limit(1).count() == 0:
        return spark.createDataFrame([], "id long, community long")
    # (k-1)-subsets: drop each position once
    subsets = cl.select(
        "cid",
        F.explode(
            F.expr(
                "transform(sequence(0, size(members)-1), i -> "
                "concat(slice(members, 1, i), "
                "slice(members, i+2, size(members))))"
            )
        ).alias("key"),
    ).select("cid", F.col("key").cast("array<long>").alias("key"))
    other = subsets.select(F.col("cid").alias("cid2"), "key")
    overlap = (
        subsets.join(other, "key")
        .filter(F.col("cid") < F.col("cid2"))
        .select(F.col("cid").alias("src"), F.col("cid2").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    clique_graph = SparkGraph(
        overlap, cl.select(F.col("cid").alias("id")), directed=False,
        coalesce_edges=False,
    )
    cc = connected_components(clique_graph)
    members = (
        cl.select("cid", F.explode("members").alias("id"))
        .join(cc.select(F.col("id").alias("cid"), "component"), "cid")
        .select("id", "component")
        .distinct()
    )
    out = (
        members.groupBy("component", "id")
        .agg(F.lit(1))
        .select("component", "id")
    )
    canon = out.groupBy("component").agg(F.min("id").alias("community"))
    res = out.join(canon, "component").select("id", "community").distinct()
    res = local_checkpoint(res)
    cl.unpersist()
    return res


def lukes_partitioning(
    g: SparkGraph, max_size: int, node_weight=None, edge_weight=None
):
    """``community/lukes.py`` ``lukes_partitioning`` — the optimal
    max-weight partition of a TREE into clusters of bounded node weight
    (Lukes 1974 dynamic program). Sequential bottom-up DP over the
    collected tree, like the reference; node/edge weights come from
    vertex/edge columns (defaults 1)."""
    from linkgraph.algos.tree import is_tree

    check_driver_limit(g.edges.count(), _LUKES_EDGES, "lukes_partitioning")
    if not is_tree(g):
        raise NetworkXError("lukes_partitioning works only on trees")
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    nw = {v: 1 for v in nodes}
    if node_weight is not None:
        for r in g.vertices.select("id", node_weight).collect():
            val = r[node_weight]
            if not isinstance(val, int):
                raise TypeError(
                    "lukes_partitioning needs integer values for "
                    f"node_weight ({node_weight})"
                )
            nw[r["id"]] = val
    cols = ["src", "dst"] + ([edge_weight] if edge_weight else [])
    ew = {}
    adj = {v: set() for v in nodes}
    for r in g.edges.select(*cols).collect():
        u, v = r["src"], r["dst"]
        w = float(r[edge_weight]) if edge_weight else 1.0
        ew[(min(u, v), max(u, v))] = w
        adj[u].add(v)
        adj[v].add(u)
    root = nodes[0]
    # iterative post-order
    order = []
    parent = {root: None}
    stack = [root]
    while stack:
        x = stack.pop()
        order.append(x)
        for y in sorted(adj[x]):
            if y != parent[x]:
                parent[y] = x
                stack.append(y)
    order.reverse()  # leaves first

    def cluster_value(cluster):
        return sum(
            w for (a, b), w in ew.items() if a in cluster and b in cluster
        )

    # DP state per node: dict weight_of_root_cluster -> (value, partition)
    # partition = list of frozensets; root cluster = the one containing node
    state = {}
    for x in order:
        base = {nw[x]: (0.0, [frozenset([x])])} if nw[x] <= max_size else None
        if base is None:
            raise NetworkXError(
                "lukes_partitioning: a single node exceeds max_size"
            )
        cur = base
        for child in sorted(adj[x]):
            if child == parent[x]:
                continue
            cstate = state[child]
            nxt = {}
            for wr, (val, partn) in cur.items():
                root_cluster = next(
                    c for c in partn if x in c
                )
                for cwr, (cval, cpartn) in cstate.items():
                    child_root = next(c for c in cpartn if child in c)
                    # option 1: keep child's cluster separate
                    v1 = val + cval
                    key = wr
                    cand = [c for c in partn] + [c for c in cpartn]
                    if key not in nxt or nxt[key][0] < v1:
                        nxt[key] = (v1, cand)
                    # option 2: merge child's root cluster into ours
                    merged = root_cluster | child_root
                    mw = wr + cwr
                    if mw <= max_size:
                        v2 = (
                            val + cval
                            + ew.get(
                                (min(x, child), max(x, child)), 0.0
                            )
                            + sum(
                                ew.get((min(a, b), max(a, b)), 0.0)
                                for a in root_cluster
                                for b in child_root
                                if (min(a, b), max(a, b)) in ew
                                and {a, b} != {x, child}
                            )
                        )
                        cand2 = (
                            [c for c in partn if c != root_cluster]
                            + [c for c in cpartn if c != child_root]
                            + [merged]
                        )
                        if mw not in nxt or nxt[mw][0] < v2:
                            nxt[mw] = (v2, cand2)
            cur = nxt
        state[x] = cur
    best = max(state[root].values(), key=lambda t: t[0])
    return [set(c) for c in best[1]]


def _divisive_partition(g, number_of_sets, rank_fn):
    from linkgraph.algos.components import (
        connected_components,
        number_connected_components,
    )

    n = g.vertices.count()
    if number_of_sets <= 0:
        raise NetworkXError("number_of_sets must be >0")
    if number_of_sets == 1:
        return g.vertices.select(
            "id", F.lit(0).cast("long").alias("community")
        )
    if number_of_sets == n:
        return g.vertices.select("id", F.col("id").alias("community"))
    if number_of_sets > n:
        raise NetworkXError("number_of_sets must be <= len(G)")
    work = SparkGraph(
        g.edges, g.vertices.select("id"), directed=g.directed,
        coalesce_edges=False,
    )
    while number_connected_components(work) < number_of_sets:
        u, v = rank_fn(work)
        e2 = local_checkpoint(work.edges.filter(
            ~(
                ((F.col("src") == u) & (F.col("dst") == v))
                | ((F.col("src") == v) & (F.col("dst") == u))
            )
        ))
        work = SparkGraph(e2, work.vertices, directed=work.directed,
                          coalesce_edges=False)
    cc = connected_components(work)
    return cc.select("id", F.col("component").alias("community"))


def edge_betweenness_partition(
    g: SparkGraph, number_of_sets: int, *, weight=None
) -> DataFrame:
    """``community/divisive.py`` ``edge_betweenness_partition`` — remove
    the max-edge-betweenness edge (distributed Brandes pass per round)
    until the component count reaches ``number_of_sets``. Returns
    (id, community)."""
    from linkgraph.algos.betweenness import edge_betweenness_centrality

    if weight is not None:
        raise NetworkXError(
            "edge_betweenness_partition: the engine's Brandes kernel is "
            "unweighted (hop counts); pass weight=None"
        )

    def rank(work):
        row = (
            edge_betweenness_centrality(work)
            .orderBy(F.col("betweenness").desc(), "src", "dst")
            .limit(1)
            .collect()[0]
        )
        return row["src"], row["dst"]

    return _divisive_partition(g, int(number_of_sets), rank)


def edge_current_flow_betweenness_partition(
    g: SparkGraph, number_of_sets: int, *, weight=None
) -> DataFrame:
    """``community/divisive.py`` ``edge_current_flow_betweenness_
    partition`` — same loop over the batched-CG current-flow kernel.
    Rounds that disconnect the graph rank within each component (the
    kernel requires connectivity), matching the reference's behavior of
    operating on the remaining structure."""
    from linkgraph.algos.components import connected_components
    from linkgraph.algos.currentflow import (
        edge_current_flow_betweenness_centrality,
    )

    def rank(work):
        # per-component ranking: run on the largest component with edges
        cc = connected_components(work)
        comp_edges = (
            work.edges.join(
                cc.select(F.col("id").alias("src"), "component"), "src"
            )
        )
        counts = (
            comp_edges.groupBy("component").agg(F.count(F.lit(1)).alias("m"))
            .orderBy(F.col("m").desc())
            .limit(1)
            .collect()
        )
        target = counts[0]["component"]
        sub_v = cc.filter(F.col("component") == target).select("id")
        sub_e = comp_edges.filter(F.col("component") == target).select(
            "src", "dst", "weight"
        )
        sub = SparkGraph(sub_e, sub_v, directed=False, coalesce_edges=False)
        row = (
            edge_current_flow_betweenness_centrality(sub, weight=weight)
            .orderBy(F.col("betweenness").desc(), "src", "dst")
            .limit(1)
            .collect()[0]
        )
        return row["src"], row["dst"]

    return _divisive_partition(g, int(number_of_sets), rank)


def naive_greedy_modularity_communities(
    g: SparkGraph, *, resolution: float = 1.0, weight: bool = False
) -> DataFrame:
    """``community/modularity_max.py`` ``naive_greedy_modularity_
    communities`` — the O(n·m) re-scan variant of CNM; both maximize the
    same greedy objective, so this engine routes to the (heap-parity)
    :func:`greedy_modularity_communities` kernel."""
    from linkgraph.algos.community import greedy_modularity_communities

    return greedy_modularity_communities(
        g, resolution=resolution, weight=weight
    )


def louvain_partitions(
    g: SparkGraph, *, resolution: float = 1.0, threshold: float = 1e-7,
    seed: int = 42, max_levels: int = 20,
):
    """``community/louvain.py`` ``louvain_partitions`` — yield the
    partition after each Louvain level. The level loop is deterministic
    per seed, so level k is exactly ``louvain_communities(max_level=k)``;
    the generator stops when a level no longer changes the partition."""
    from linkgraph.algos.community import louvain_communities

    prev = None
    for k in range(1, int(max_levels) + 1):
        cur = louvain_communities(
            g, resolution=resolution, threshold=threshold, seed=seed,
            max_level=k,
        )
        sig = sorted(
            (r["id"], r["community"]) for r in cur.collect()
        )
        if prev is not None and sig == prev:
            return
        prev = sig
        yield cur


def leiden_partitions(
    g: SparkGraph, *, resolution: float = 1.0, threshold: float = 1e-7,
    seed: int = 42, max_levels: int = 20,
):
    """``community/leiden.py`` ``leiden_partitions`` — per-level Leiden
    partitions (connectivity-refined levels)."""
    from linkgraph.algos.community import leiden_communities

    prev = None
    for k in range(1, int(max_levels) + 1):
        cur = leiden_communities(
            g, resolution=resolution, threshold=threshold, seed=seed,
            max_level=k,
        )
        sig = sorted((r["id"], r["community"]) for r in cur.collect())
        if prev is not None and sig == prev:
            return
        prev = sig
        yield cur


def spectral_modularity_bipartition(g: SparkGraph, *, max_nodes: int = 20000):
    """``community/bipartition.py`` ``spectral_modularity_bipartition``
    (Newman 2006) — split by the sign of the modularity matrix's leading
    eigenvector. Dense eigensolve, driver-gated like the linalg family."""
    import numpy as np

    from linkgraph.linalg import modularity_matrix

    if g.directed:
        raise NetworkXError("spectral_modularity_bipartition: undirected only")
    B, ids = modularity_matrix(g, max_nodes=max_nodes)
    evals, evecs = np.linalg.eig(np.asarray(B))
    lead = np.argsort(evals.real)[-1]
    v2 = evecs[:, lead].real
    left = {ids[i] for i in range(len(ids)) if v2[i] < 0}
    right = set(ids) - left
    return left, right


def greedy_node_swap_bipartition(
    g: SparkGraph, *, init_split=None, max_iter: int = 10, seed: int = 0,
):
    """``community/bipartition.py`` ``greedy_node_swap_bipartition`` —
    modularity-greedy node swaps between two halves (sequential local
    search, driver-side; seeded where the reference uses the global RNG)."""
    check_driver_limit(
        g.edges.count(), _DRIVER_EDGES, "greedy_node_swap_bipartition"
    )
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    adj = {v: set() for v in nodes}
    m = 0
    for r in g.symmetric_edges().select("src", "dst").collect():
        adj[r["src"]].add(r["dst"])
    m = sum(len(s) for s in adj.values()) // 2
    if m == 0:
        raise NetworkXError("greedy_node_swap_bipartition: graph has no edges")
    deg = {v: len(adj[v]) for v in nodes}
    rng = _random.Random(int(seed))
    if init_split is None:
        half = len(nodes) // 2
        left = set(rng.sample(nodes, half))
        right = set(nodes) - left
    else:
        left, right = set(init_split[0]), set(init_split[1])
        if (left | right) != set(nodes) or (left & right):
            raise NetworkXError("init_split is not a partition of G")

    def mod(split):
        l_, r_ = split
        intra = sum(
            1 for u in nodes for w in adj[u]
            if u < w and ((u in l_) == (w in l_))
        )
        dl = sum(deg[v] for v in l_)
        dr = sum(deg[v] for v in r_)
        return intra / m - (dl * dl + dr * dr) / (4 * m * m)

    best_split = (set(left), set(right))
    best_mod = mod(best_split)
    max_split, max_mod = best_split, best_mod
    for _ in range(int(max_iter)):
        if max_mod < best_mod:
            break
        best_split, best_mod = max_split, best_mod
        cur = (set(best_split[0]), set(best_split[1]))
        cur_mod = best_mod
        remaining = set(nodes)
        while remaining:
            l_, r_ = cur
            dl = sum(deg[v] for v in l_)
            dr = sum(deg[v] for v in r_)
            best_swap, best_node = None, None
            for v in remaining:
                if v in l_:
                    inc, outc, ind, outd = l_, r_, dl, dr
                else:
                    inc, outc, ind, outd = r_, l_, dr, dl
                delta = (
                    -(len(adj[v] & inc) / m)
                    + (len(adj[v] & outc) / m)
                    + (deg[v] / (2 * m * m)) * (ind - outd - deg[v])
                )
                if best_swap is None or delta > best_swap:
                    best_swap, best_node = delta, v
            if best_node in cur[0]:
                cur[0].discard(best_node)
                cur[1].add(best_node)
            else:
                cur[1].discard(best_node)
                cur[0].add(best_node)
            cur_mod += best_swap
            if cur_mod > max_mod:
                max_split = (set(cur[0]), set(cur[1]))
                max_mod = cur_mod
            remaining.discard(best_node)
    return best_split


def greedy_source_expansion(
    g: SparkGraph, *, source, cutoff: Optional[int] = None,
    method: str = "clauset",
):
    """``community/local.py`` ``greedy_source_expansion`` (Clauset 2005
    local modularity R) — grow a community from ``source`` by greedily
    adding the boundary node maximizing R until no improvement (or
    ``cutoff`` size). Sequential frontier growth with a global boundary
    state — driver kernel; returns the community set."""
    if method != "clauset":
        raise ValueError(f"{method} is not a valid choice for an algorithm.")
    check_driver_limit(g.edges.count(), _DRIVER_EDGES, "greedy_source_expansion")
    adj = {}
    for r in g.symmetric_edges().select("src", "dst").collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    source = int(source)
    if source not in adj:
        return {source}
    C = {source}
    while cutoff is None or len(C) < cutoff:
        boundary = {v for u in C for v in adj[u]} - C
        if not boundary:
            break
        # local modularity R = B_in_edges / B_total_edges over the boundary
        def r_value(comm):
            bnodes = {u for u in comm if adj[u] - comm}
            t = sum(1 for u in bnodes for v in adj[u])
            i = sum(1 for u in bnodes for v in adj[u] if v in comm)
            return (i / t) if t else 0.0

        base_r = r_value(C)
        best = None
        for v in sorted(boundary):
            cand = r_value(C | {v})
            if best is None or cand > best[0]:
                best = (cand, v)
        if best is None or best[0] < base_r:
            break
        C.add(best[1])
        if best[0] == base_r == 1.0:
            break
    return C
