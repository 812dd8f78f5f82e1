"""Tournament recognition and scores.

Reference: ``networkx/algorithms/tournament.py:38`` ``is_tournament``,
``:84`` ``score_sequence``. A tournament has exactly one arc per unordered
node pair, no self-loops. The pairwise ``(v in G[u]) ^ (u in G[v])`` scan
becomes three aggregates: zero self-loops, zero reciprocal pairs (one
self-join probe), and distinct-arc count = C(n, 2).

``hamiltonian_path`` (insertion construction) and ``is_reachable``
(Tantau closure criterion) are driver kernels — sequential by nature,
size-guarded; ``random_tournament`` is one hash coin per pair,
distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.graph import SparkGraph, driver_rows


# Arcs the tournament kernels collect onto the driver.
_DRIVER_EDGES = 1_000_000

__all__ = ["is_tournament", "score_sequence", "random_tournament", "hamiltonian_path", "is_reachable", "tournament_matrix"]


def _require_digraph(g: SparkGraph, name: str) -> None:
    if not g.directed:
        raise NotImplementedForDirected(f"{name}: not implemented for undirected type")


def is_tournament(g: SparkGraph) -> bool:
    """True iff exactly one directed edge joins each pair of distinct nodes
    (``tournament.py:38``)."""
    _require_digraph(g, "is_tournament")
    arcs = g.edges.select("src", "dst").distinct().persist()
    try:
        if arcs.filter(F.col("src") == F.col("dst")).limit(1).count():
            return False
        n = g.number_of_nodes()
        if arcs.count() != n * (n - 1) // 2:
            return False
        recip = arcs.join(
            arcs.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            ["src", "dst"],
            "left_semi",
        )
        return recip.limit(1).count() == 0
    finally:
        arcs.unpersist()


def score_sequence(g: SparkGraph) -> DataFrame:
    """(score): the out-degrees of the tournament, ascending
    (``tournament.py:84``)."""
    _require_digraph(g, "score_sequence")
    from linkgraph.algos.degrees import out_degrees

    return out_degrees(g).select(F.col("degree").alias("score")).orderBy("score")


def random_tournament(spark, n: int, seed: int = 0) -> SparkGraph:
    """``tournament.py`` ``random_tournament`` — orient each pair by an
    independent coin; one hash coin per (u, v) pair, fully distributed."""
    pairs = (
        spark.range(int(n)).select(F.col("id").alias("u"))
        .crossJoin(spark.range(int(n)).select(F.col("id").alias("v")))
        .filter(F.col("u") < F.col("v"))
    )
    coin = F.pmod(
        F.xxhash64(F.lit(int(seed)), "u", "v"), F.lit(1 << 53)
    ) / F.lit(float(1 << 53))
    e = pairs.select(
        F.when(coin < 0.5, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(coin < 0.5, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    v = spark.range(int(n)).select(F.col("id").cast("long"))
    return SparkGraph(e, v, directed=True, coalesce_edges=False)


def hamiltonian_path(g: SparkGraph):
    """``tournament.py`` ``hamiltonian_path`` — insertion construction
    (every tournament has one): insert each node before its first
    out-neighbor in the partial path. Sequential by definition; driver
    kernel over the collected arcs."""
    _require_digraph(g, "hamiltonian_path")
    succ = {}
    for r in driver_rows(
        g.edges.select("src", "dst"), _DRIVER_EDGES, "hamiltonian_path"
    ):
        succ.setdefault(r["src"], set()).add(r["dst"])
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    path = []
    for v in nodes:
        # insert BEFORE the first node v beats (v -> u arc exists)
        idx = next(
            (i for i, u in enumerate(path) if u in succ.get(v, ())),
            len(path),
        )
        path.insert(idx, v)
    return path


def is_reachable(g: SparkGraph, s, t) -> bool:
    """``tournament.py`` ``is_reachable`` — the Tantau two-neighborhood
    closure criterion (logspace in the reference); the same boolean via
    the criterion over the collected adjacency."""
    _require_digraph(g, "is_reachable")
    s, t = int(s), int(t)
    succ = {}
    pred = {}
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    for v in nodes:
        succ.setdefault(v, set())
        pred.setdefault(v, set())
    for r in driver_rows(g.edges.select("src", "dst"), _DRIVER_EDGES, "is_reachable"):
        succ[r["src"]].add(r["dst"])
        pred[r["dst"]].add(r["src"])

    def two_neighborhood(v):
        return {
            x for x in nodes
            if x == v or x in succ[v] or any(z in succ[v] for z in pred[x])
        }

    def closed(S):
        return all(
            u in S or all(v in succ[u] for v in S) for u in nodes
        )

    return not any(
        s in S and t not in S and closed(S)
        for S in (two_neighborhood(v) for v in nodes)
    )


def tournament_matrix(g: SparkGraph, *, max_nodes: int = 20000):
    """``tournament.py`` ``tournament_matrix`` — ``A − Aᵀ`` over the
    dense adjacency (driver numerics like the linalg bridges). Returns
    (matrix, ids)."""
    from linkgraph.linalg import adjacency_matrix

    A, ids = adjacency_matrix(g, max_nodes=max_nodes)
    return A - A.T, ids
