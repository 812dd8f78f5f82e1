"""Line graphs.

Reference: ``networkx/generators/line.py:15`` ``line_graph`` —
``_lg_undirected`` (:153) makes one L-node per canonical edge and one
clique per G-node over its incident edges; ``_lg_directed`` (:123) links
arc (u, v) to every arc (v, w).

Both forms are single self-joins here — the undirected clique expansion is
an incidence self-join keyed on the shared endpoint (output size
Σ_v C(deg v, 2), inherent to the definition: the join cannot produce fewer
rows than the line graph has edges), and the directed form is one
``a.dst = b.src`` equi-join. L-node identity stays relational: each
line-graph node is its original endpoint pair (u, v), and the SparkGraph
form derives a synthetic 64-bit id with ``xxhash64(u, v)``.

Scale note: hub nodes contribute C(deg, 2) rows. For power-law webgraphs
compute ``line_graph_edges`` on a degree-capped or k-core-restricted view
first (the standard practice); the join itself partitions on the shared
endpoint, so skew salting applies as for any hub-keyed self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, driver_rows

# Edges inverse_line_graph collects onto the driver.
_DRIVER_EDGES = 1_000_000

__all__ = ["line_graph_edges", "line_graph", "inverse_line_graph"]


def line_graph_edges(g: SparkGraph) -> DataFrame:
    """L(G) edges as endpoint pairs ``(u1, v1, u2, v2)``.

    Undirected (``line.py:153``): L-nodes are canonical ``(u <= v)`` edges;
    two distinct edges are adjacent iff they share an endpoint; rows are
    canonical (``(u1, v1) <lex (u2, v2)``) and distinct. Directed
    (``line.py:123``): arc (u1, v1) → (u2, v2) iff ``v1 == u2`` (self-loop
    arcs yield L-self-loops, as in the reference).
    """
    if g.directed:
        a = g.edges.select(F.col("src").alias("u1"), F.col("dst").alias("v1"))
        b = g.edges.select(F.col("src").alias("u2"), F.col("dst").alias("v2"))
        return a.join(b, a["v1"] == b["u2"]).select("u1", "v1", "u2", "v2")
    # incidence rows: one per (endpoint, canonical edge); self-loops once
    e = g.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    inc = e.select(F.col("u").alias("node"), "u", "v").unionByName(
        e.filter(F.col("u") != F.col("v")).select(
            F.col("v").alias("node"), "u", "v"
        )
    )
    a = inc.select("node", F.col("u").alias("u1"), F.col("v").alias("v1"))
    b = inc.select("node", F.col("u").alias("u2"), F.col("v").alias("v2"))
    pairs = a.join(b, "node").filter(
        (F.col("u1") < F.col("u2"))
        | ((F.col("u1") == F.col("u2")) & (F.col("v1") < F.col("v2")))
    )
    return pairs.select("u1", "v1", "u2", "v2").distinct()


def line_graph(g: SparkGraph) -> SparkGraph:
    """L(G) as a SparkGraph (``line.py:15``): vertices carry the original
    endpoint pair columns ``(u, v)``; ids are ``xxhash64(u, v)`` over the
    canonical pair. Isolated L-nodes (edges with no incident partner) are
    preserved via the explicit vertex set, like the reference's
    ``L.add_node`` for single-edge stars."""
    verts = g.edges.select(
        F.xxhash64("src", "dst").alias("id"),
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
    ).distinct()
    le = line_graph_edges(g)
    edges = le.select(
        F.xxhash64("u1", "v1").alias("src"), F.xxhash64("u2", "v2").alias("dst")
    )
    return SparkGraph(
        edges, verts, directed=g.directed, coalesce_edges=False
    )


def inverse_line_graph(g: SparkGraph):
    """``networkx/generators/line.py`` ``inverse_line_graph`` — the root
    graph H with ``line_graph(H) ≅ g`` (Roussopoulos 1973): pick a
    starting cell (edge or odd-triangle clique), grow the Krausz
    partition, one H-node per cell plus one per singleton vertex, H-edge
    where cells share a G-node. Raises ``NetworkXError`` when ``g`` is
    not a line graph.

    The reference keys H's nodes by tuples of g's nodes; here H's ids are
    dense longs and the cells ride along as a ``members`` array column on
    the vertices. Partition growth is a sequential cell-by-cell process,
    driver-side under the usual size guard.
    """
    from itertools import combinations

    from linkgraph.exceptions import NetworkXError

    if g.directed:
        raise NetworkXError("inverse_line_graph is defined for undirected graphs")
    n = g.vertices.count()
    spark = g.spark
    if n == 0:
        e = spark.createDataFrame([], "src long, dst long, weight double")
        v = spark.createDataFrame([(0,)], "id long")
        return SparkGraph(e, v, directed=False, coalesce_edges=False)
    rows = driver_rows(
        g.edges.select("src", "dst"), _DRIVER_EDGES, "inverse_line_graph"
    )
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    adj = {v: set() for v in nodes}
    for r in rows:
        u, v = r["src"], r["dst"]
        if u == v:
            raise NetworkXError(
                "A line graph as generated by NetworkX has no selfloops, "
                "so G has no inverse line graph."
            )
        adj[u].add(v)
        adj[v].add(u)
    if n == 1:
        e = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
        v = spark.createDataFrame([(0,), (1,)], "id long")
        return SparkGraph(e, v, directed=False, coalesce_edges=False)
    if all(not s for s in adj.values()):
        raise NetworkXError(
            "inverse_line_graph() doesn't work on an edgeless graph. "
            "Please use this function on each component separately."
        )

    def triangles_of(u, v):
        return [(u, v, x) for x in sorted(adj[u] & adj[v])]

    def odd_triangle(T):
        cnt = {}
        for t in T:
            for w in adj[t]:
                if w not in T:
                    cnt[w] = cnt.get(w, 0) + 1
        return any(c in (1, 3) for c in cnt.values())

    def starting_cell(e):
        u, v = e
        tris = triangles_of(u, v)
        r = len(tris)
        if r == 0:
            return (u, v)
        if r == 1:
            a, b, c = tris[0]
            if len(triangles_of(a, c)) == 1:
                if len(triangles_of(b, c)) == 1:
                    return tris[0]
                return starting_cell((b, c))
            return starting_cell((a, c))
        odd = [T for T in tris if odd_triangle(T)]
        s = len(odd)
        if r == 2 and s == 0:
            return tris[-1]
        if r - 1 <= s <= r:
            members = sorted({x for T in odd for x in T})
            for a, b in combinations(members, 2):
                if b not in adj[a]:
                    raise NetworkXError(
                        "G is not a line graph (odd triangles do not form "
                        "complete subgraph)"
                    )
            return tuple(members)
        raise NetworkXError(
            "G is not a line graph (incorrect number of odd triangles "
            "around starting edge)"
        )

    first_edge = next(
        (u, min(adj[u])) for u in nodes if adj[u]
    )
    cell0 = starting_cell(first_edge)
    # grow the Krausz partition
    live = {u: set(s) for u, s in adj.items()}
    P = [tuple(cell0)]
    for a, b in combinations(cell0, 2):
        live[a].discard(b)
        live[b].discard(a)
    frontier = list(cell0)
    while any(live.values()):
        if not frontier:
            raise NetworkXError("G is not a line graph (disconnected remainder)")
        u = frontier.pop()
        if live[u]:
            cell = [u] + sorted(live[u])
            for a, b in combinations(cell, 2):
                if b not in adj[a]:
                    raise NetworkXError(
                        "G is not a line graph (partition cell not a "
                        "complete subgraph)"
                    )
            P.append(tuple(cell))
            for a, b in combinations(cell, 2):
                live[a].discard(b)
                live[b].discard(a)
            frontier += cell
    count = {u: 0 for u in nodes}
    for cell in P:
        for u in cell:
            count[u] += 1
    if max(count.values()) > 2:
        raise NetworkXError(
            "G is not a line graph (vertex found in more than two "
            "partition cells)"
        )
    cells = list(P) + [(u,) for u in nodes if count[u] == 1]
    h_edges = []
    for i, a in enumerate(cells):
        sa = set(a)
        for j in range(i + 1, len(cells)):
            if sa & set(cells[j]):
                h_edges.append((i, j))
    e_df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in h_edges], "src long, dst long, weight double"
    )
    v_df = spark.createDataFrame(
        [(i, [int(x) for x in cell]) for i, cell in enumerate(cells)],
        "id long, members array<long>",
    )
    return SparkGraph(e_df, v_df, directed=False, coalesce_edges=False)
