"""Small-world coefficient.

Reference: ``networkx/algorithms/smallworld.py`` ``sigma`` — the
Humphries–Gurney coefficient ``(C/Cr)/(L/Lr)`` where C is transitivity, L
the average shortest path length, and the r-subscripted values come from
degree-preserving randomized references (Maslov–Sneppen rewiring, the
reference's ``random_reference``). The distributed twin reuses
:func:`linkgraph.algos.swap.double_edge_swap` (parallel swap rounds,
seeded) for the references, the wedge-join transitivity, and the batched
all-pairs BFS for L — so the whole measure is the composition of three
already-distributed operators. ``omega`` composes the same kernels with
``lattice_reference`` — whose accept/reject rewiring chain is inherently
one-swap-at-a-time and therefore runs driver-gated (at most
1M edges) with the reference's own seeded schedule.

Deviation (documented): a randomized reference can disconnect; the
reference's ``average_shortest_path_length`` would raise there, so for the
REFERENCE graphs L_r is taken over reachable pairs (the standard
estimator). For the input graph the strict reference behavior is kept
(raises when disconnected).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.graph import SparkGraph, driver_rows


# Simple edges lattice_reference's rewiring chain collects onto the driver.
_DRIVER_EDGES = 1_000_000

__all__ = ["sigma", "random_reference", "lattice_reference", "omega"]


def random_reference(g: SparkGraph, niter: int = 1, seed: int = 42) -> SparkGraph:
    """Degree-preserving randomized copy: ~``niter`` swaps per edge
    (``smallworld.py:16`` semantics via the parallel double-edge-swap)."""
    from linkgraph.algos.swap import double_edge_swap

    m = g.number_of_edges()
    return double_edge_swap(g, nswap=max(1, niter * m), seed=seed)


def _reachable_aspl(g: SparkGraph) -> float:
    from linkgraph.algos.distance import all_pairs_shortest_path_lengths

    row = (
        all_pairs_shortest_path_lengths(g)
        .filter(F.col("distance") > 0)
        .agg(F.avg("distance"))
        .first()
    )
    return float(row[0])


def sigma(
    g: SparkGraph, niter: int = 5, nrand: int = 3, seed: int = 42
) -> float:
    """Small-world coefficient ``(C/Cr)/(L/Lr)`` (``smallworld.py:216``);
    > 1 is commonly read as small-world. Deterministic per seed."""
    if g.directed:
        raise NotImplementedForDirected("sigma: not implemented for directed type")
    from linkgraph.algos.triangles import transitivity
    from linkgraph.algos.distance import average_shortest_path_length

    C = transitivity(g)
    L = average_shortest_path_length(g)
    crs, lrs = [], []
    for i in range(nrand):
        gr = random_reference(g, niter=niter, seed=seed + 977 * i)
        crs.append(transitivity(gr))
        lrs.append(_reachable_aspl(gr))
    cr = sum(crs) / len(crs)
    lr = sum(lrs) / len(lrs)
    return (C / cr) / (L / lr)


def lattice_reference(
    g: SparkGraph,
    niter: int = 5,
    D=None,
    seed: int = 42,
) -> SparkGraph:
    """Latticized degree-preserving reference (``smallworld.py:77``
    ``lattice_reference``; Sporns & Zwi "latmio"): double-edge swaps
    accepted only when they move edges toward the ring-distance diagonal
    of D. The accept/reject chain is sequential by definition —
    driver-gated with a seeded RNG, same schedule as the reference."""
    import random as _random

    import numpy as np

    from linkgraph.graph import SparkGraph as _SG

    if g.directed:
        raise NotImplementedForDirected("lattice_reference: undirected only")
    arcs = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    rows = driver_rows(arcs, _DRIVER_EDGES, "lattice_reference")
    rng = _random.Random(seed)
    adj: dict = {}
    for r in rows:
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    for x in nodes:
        adj.setdefault(x, set())
    keys = nodes
    idx = {v: i for i, v in enumerate(keys)}
    nnodes = len(keys)
    nedges = len(rows)
    if nnodes < 4 or nedges < 2:
        return g
    if D is None:
        D = np.zeros((nnodes, nnodes))
        un = np.arange(1, nnodes)
        um = np.arange(nnodes - 1, 0, -1)
        u = np.append((0,), np.where(un < um, un, um))
        for v in range(int(np.ceil(nnodes / 2))):
            D[nnodes - v - 1, :] = np.append(u[v + 1:], u[: v + 1])
            D[v, :] = D[nnodes - v - 1, :][::-1]
    degrees = [len(adj[v]) for v in keys]
    cum = []
    s = 0
    for d in degrees:
        s += d
        cum.append(s)
    total_deg = s

    def draw_node():
        x = rng.random() * total_deg
        lo, hi = 0, nnodes - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cum[mid] < x:
                lo = mid + 1
            else:
                hi = mid
        return lo

    rounds = niter * nedges
    max_attempts = max(1, int(nnodes * nedges / (nnodes * (nnodes - 1) / 2)))
    for _ in range(rounds):
        n_att = 0
        while n_att < max_attempts:
            n_att += 1
            ai, ci = draw_node(), draw_node()
            if ai == ci:
                continue
            a, c = keys[ai], keys[ci]
            if not adj[a] or not adj[c]:
                continue
            b = rng.choice(sorted(adj[a]))
            d = rng.choice(sorted(adj[c]))
            if b in (a, c, d) or d in (a, b, c):
                continue
            if d not in adj[a] and b not in adj[c]:
                bi, di = idx[b], idx[d]
                if D[ai, bi] + D[ci, di] >= D[ai, ci] + D[bi, di]:
                    adj[a].discard(b)
                    adj[b].discard(a)
                    adj[c].discard(d)
                    adj[d].discard(c)
                    adj[a].add(d)
                    adj[d].add(a)
                    adj[c].add(b)
                    adj[b].add(c)
                    break
    rows = sorted(
        (u2, v2, 1.0) for u2 in adj for v2 in adj[u2] if u2 < v2
    )
    e = g.spark.createDataFrame(rows or [], "src long, dst long, weight double")
    return _SG(e, g.vertices.select("id"), directed=False, coalesce_edges=False)


def omega(
    g: SparkGraph, niter: int = 5, nrand: int = 10, seed: int = 42
) -> float:
    """Small-world omega (``smallworld.py:292``): Lr/L − C/C_lattice,
    averaging clustering over ``nrand`` lattice references and path
    length over ``nrand`` random references. Near 0 = small world;
    deterministic per seed — composed from the engine's distributed
    clustering/ASPL kernels with the reference chains above."""
    from linkgraph.algos.distance import average_shortest_path_length
    from linkgraph.algos.triangles import average_clustering

    if g.directed:
        raise NotImplementedForDirected("omega: not implemented for directed type")
    C = average_clustering(g)
    L = average_shortest_path_length(g)
    c_latt, l_rand = [], []
    for i in range(nrand):
        gl = lattice_reference(g, niter=niter, seed=seed + 977 * i)
        c_latt.append(average_clustering(gl))
        gr = random_reference(g, niter=niter, seed=seed + 313 * i)
        l_rand.append(_reachable_aspl(gr))
    return (sum(l_rand) / nrand) / L - C / (sum(c_latt) / nrand)
