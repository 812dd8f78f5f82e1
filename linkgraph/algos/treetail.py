"""Tree/chordal tail: k-factors, connected dominating sets, broadcast
centers, chordal completion, junction trees, tree joins, and nested-tuple
codings.

References: ``networkx/algorithms/regular.py`` (``k_factor``, Meijer
et al. 2009 gadgets), ``dominating.py`` (``connected_dominating_set``),
``broadcasting.py`` (Slater/Cockayne/Hedetniemi 1981),
``chordal.py`` (``complete_to_chordal_graph``, MCS-M),
``tree/decomposition.py`` (``junction_tree``), ``tree/operations.py``
(``join_trees``), ``tree/coding.py`` (``to_nested_tuple`` /
``from_nested_tuple``), ``perfect_graph.py`` (``is_perfect_graph``),
``asteroidal.py`` (``find_asteroidal_triple`` / ``is_at_free``).

Kernels that are sequential by nature (gadget matching, the greedy CDS
heap, MCS-M numbering, the broadcast leaf-peel) run driver-side under
the usual size guard; predicates and compositions (domination check,
perfect-graph holes) stay distributed over the engine's existing
kernels.
"""

from __future__ import annotations

import itertools
from collections import deque

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import (
    NetworkXError,
    NetworkXUnfeasible,
    NodeNotFound,
    NotATree,
    NotImplementedForDirected,
)
from linkgraph.algos.chordal import _is_peo, _mcs_numbering, _undirected_adjacency
from linkgraph.graph import SparkGraph

__all__ = [
    "k_factor",
    "connected_dominating_set",
    "is_connected_dominating_set",
    "tree_broadcast_center",
    "tree_broadcast_time",
    "complete_to_chordal_graph",
    "junction_tree",
    "join_trees",
    "to_nested_tuple",
    "from_nested_tuple",
    "is_perfect_graph",
    "find_asteroidal_triple",
    "is_at_free",
]


# Simple edges the driver kernels collect.
_DRIVER_EDGES = 1_000_000


def _collect_undirected(g: SparkGraph):
    return _undirected_adjacency(
        g, _DRIVER_EDGES, "driver-gated kernel", weighted=True
    )


def k_factor(g: SparkGraph, k: int) -> SparkGraph:
    """``regular.py`` ``k_factor`` — a spanning k-regular subgraph, via
    the Meijer/Núñez-Rodríguez/Rappaport gadget reduction to maximum-
    cardinality perfect matching (the engine's own blossom kernel).
    Raises ``NetworkXUnfeasible`` exactly like the reference when a
    vertex has degree < k or no perfect gadget matching exists."""
    from linkgraph.algos.matching_weight import _blossom_kernel

    if g.directed:
        raise NotImplementedForDirected("k_factor: undirected only")
    adj, edges, nodes = _collect_undirected(g)
    if any(len(adj[v]) < k for v in nodes):
        raise NetworkXUnfeasible(
            "Graph contains a vertex with degree less than k"
        )
    # gadget expansion over integer labels
    label: dict = {}

    def lab(x):
        if x not in label:
            label[x] = len(label)
        return label[x]

    gadget_edges = []  # (i, j, weight)
    ewt = {(u, v): w for u, v, w in edges}
    outer_of: dict = {}  # (node, neighbor) -> outer gadget label
    parts: dict = {}
    for node in nodes:
        nbrs = sorted(adj[node])
        d = len(nbrs)
        is_large = k >= d / 2.0
        outer = [lab((node, "o", i)) for i in range(d)]
        if is_large:
            core = [lab((node, "c", i)) for i in range(d - k)]
            inner = []
        else:
            core = [lab((node, "c", i)) for i in range(k)]
            inner = [lab((node, "i", i)) for i in range(d)]
        for o, i_ in zip(outer, inner):
            gadget_edges.append((o, i_, 1.0))
        for o, nbr in zip(outer, nbrs):
            outer_of[(node, nbr)] = o
        ring = outer if is_large else inner
        for c in core:
            for r in ring:
                gadget_edges.append((c, r, 1.0))
        parts[node] = (outer, core, inner)
    for u, v, w in edges:
        gadget_edges.append((outer_of[(u, v)], outer_of[(v, u)], w))

    n_g = len(label)
    mate = _blossom_kernel(n_g, gadget_edges, True)
    matched_pairs = {
        (i, j) for i, j in enumerate(mate) if j != -1 and i < j
    }
    if sum(1 for j in mate if j != -1) != n_g:
        raise NetworkXUnfeasible(
            "Cannot find k-factor because no perfect matching exists"
        )
    keep = []
    for u, v, w in edges:
        a, b = outer_of[(u, v)], outer_of[(v, u)]
        if (min(a, b), max(a, b)) in matched_pairs:
            keep.append((u, v, w))
    e = g.spark.createDataFrame(
        keep or [], "src long, dst long, weight double"
    )
    return SparkGraph(
        e, g.vertices.select("id"), directed=False, coalesce_edges=False
    )


def connected_dominating_set(g: SparkGraph) -> set:
    """``dominating.py`` ``connected_dominating_set`` — Guha–Khuller-style
    greedy: repeatedly pop the node covering the most unseen neighbors
    (lazy max-heap), exactly the reference's schedule with ascending-id
    tie-breaks for determinism. The invariant (dominating + connected) is
    pinned by :func:`is_connected_dominating_set`."""
    import heapq

    if g.directed:
        raise NotImplementedForDirected("connected_dominating_set: undirected only")
    adj, _, nodes = _collect_undirected(g)
    n = len(nodes)
    if n == 0:
        return set()
    if not _is_conn(adj):
        raise NetworkXError("G must be a connected graph")
    if n == 1:
        return set(nodes)
    unseen_degree = {v: len(adj[v]) for v in nodes}
    start = max(nodes, key=lambda v: (unseen_degree[v], -v))
    for nbr in adj[start]:
        unseen_degree[nbr] -= 1
    unseen = set(nodes) - {start}
    heap = [(-unseen_degree[start], start)]
    cds: set = set()
    while unseen:
        neg, u = heapq.heappop(heap)
        if -neg > unseen_degree[u]:
            heapq.heappush(heap, (-unseen_degree[u], u))
            continue
        for v in sorted(adj[u]):
            if v in unseen:
                unseen.discard(v)
                for nbr in adj[v]:
                    unseen_degree[nbr] -= 1
                heapq.heappush(heap, (-unseen_degree[v], v))
        cds.add(u)
    return cds


def _is_conn(adj: dict) -> bool:
    if not adj:
        return True
    it = iter(adj)
    seen = {next(it)}
    q = deque(seen)
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in seen:
                seen.add(v)
                q.append(v)
    return len(seen) == len(adj)


def is_connected_dominating_set(g: SparkGraph, nbunch) -> bool:
    """``dominating.py`` ``is_connected_dominating_set`` — fully
    distributed: domination is one semi/anti-join, connectivity one CC
    run on the induced subgraph."""
    from linkgraph.algos.components import connected_components

    if g.directed:
        raise NotImplementedForDirected(
            "is_connected_dominating_set: undirected only"
        )
    if isinstance(nbunch, DataFrame):
        s = nbunch.select(F.col(nbunch.columns[0]).cast("long").alias("id"))
    else:
        s = g.spark.createDataFrame([(int(x),) for x in nbunch], "id long")
    s = s.distinct().persist()
    if s.join(g.vertices.select("id"), "id", "left_anti").limit(1).count():
        s.unpersist()
        return False
    sym = g.symmetric_edges().select("src", "dst")
    dominated = (
        sym.join(s.withColumnRenamed("id", "src"), "src", "left_semi")
        .select(F.col("dst").alias("id"))
        .distinct()
        .unionByName(s)
        .distinct()
    )
    if g.vertices.select("id").join(dominated, "id", "left_anti").limit(1).count():
        s.unpersist()
        return False
    induced = SparkGraph(
        g.edges.join(s.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(s.withColumnRenamed("id", "dst"), "dst", "left_semi"),
        s,
        directed=False,
        coalesce_edges=False,
    )
    ncomp = connected_components(induced).select("component").distinct().count()
    s.unpersist()
    return ncomp == 1


def _tree_adj(g: SparkGraph):
    from linkgraph.algos.tree import is_tree

    if g.directed:
        raise NotImplementedForDirected("broadcasting: undirected only")
    if not is_tree(g):
        raise NotATree("G is not a tree")
    adj, _, nodes = _collect_undirected(g)
    return adj, nodes


def tree_broadcast_center(g: SparkGraph):
    """``broadcasting.py`` ``tree_broadcast_center`` — (minimum broadcast
    time, set of center nodes) by the Slater–Cockayne–Hedetniemi linear
    leaf-peel (driver-gated; ties ascending id)."""
    adj, nodes = _tree_adj(g)
    n = len(nodes)
    if n < 3:
        return n - 1, set(nodes)

    def max_bvalue(U, v, values):
        ranked = sorted(adj[v] & U, key=lambda u: values[u], reverse=True)
        return max(values[u] + i for i, u in enumerate(ranked, start=1))

    U = {v for v in nodes if len(adj[v]) == 1}
    values = {v: 0 for v in U}
    t_nodes = set(nodes) - U
    t_adj = {v: adj[v] - U for v in t_nodes}
    W = {v for v in t_nodes if len(t_adj[v]) == 1}
    values.update((w, len(adj[w]) - 1) for w in W)
    while len(t_nodes) >= 2:
        w = min(W, key=lambda x: (values[x], x))
        v = next(iter(t_adj[w]))
        U.add(w)
        W.discard(w)
        t_nodes.discard(w)
        for x in t_adj[w]:
            t_adj[x].discard(w)
        del t_adj[w]
        if len(t_adj[v]) == 1:
            values[v] = max_bvalue(U, v, values)
            W.add(v)
    v = min(t_nodes)
    b_T = max_bvalue(U, v, values)
    ranked = sorted(adj[v], key=lambda u: values[u], reverse=True)
    j = next(i for i, u in enumerate(ranked, start=1) if values[u] + i == b_T)
    return b_T, set([v] + ranked[:j])


def tree_broadcast_time(g: SparkGraph, node=None) -> int:
    """``broadcasting.py`` ``tree_broadcast_time`` — b(center) + the
    BFS distance from the broadcast center (whole-tree maximum when
    ``node`` is None)."""
    from linkgraph.algos.setops import shortest_path_lengths

    if node is not None:
        if g.vertices.filter(F.col("id") == int(node)).limit(1).count() == 0:
            raise NodeNotFound(f"node {node} not in G")
    b_T, b_C = tree_broadcast_center(g)
    d = shortest_path_lengths(
        g, g.spark.createDataFrame([(int(c),) for c in b_C], "id long")
    )
    if node is None:
        return b_T + int(d.agg(F.max("distance")).first()[0] or 0)
    return b_T + int(
        d.filter(F.col("id") == int(node)).select("distance").first()[0]
    )


def complete_to_chordal_graph(g: SparkGraph):
    """``chordal.py`` ``complete_to_chordal_graph`` (MCS-M, Berry et al.
    2004) — (chordal supergraph, alpha elimination-order dict). The
    numbering schedule is one-vertex-at-a-time by definition
    (driver-gated; ties ascending id like the reference's dict order)."""
    if g.directed:
        raise NotImplementedForDirected(
            "complete_to_chordal_graph: undirected only"
        )
    adj, edges, nodes = _collect_undirected(g)
    alpha = {v: 0 for v in nodes}
    if _is_peo(adj, nodes, _mcs_numbering(adj, nodes)):
        return g, alpha
    chords: set = set()
    h_adj = {v: set(adj[v]) for v in nodes}
    weight = {v: 0 for v in nodes}
    unnumbered = list(nodes)
    for i in range(len(nodes), 0, -1):
        z = max(unnumbered, key=lambda v: (weight[v], -v))
        unnumbered.remove(z)
        alpha[z] = i
        update = []
        for y in unnumbered:
            if y in adj[z]:
                update.append(y)
            else:
                y_weight = weight[y]
                lower = {v for v in unnumbered if weight[v] < y_weight}
                lower |= {z, y}
                # BFS y -> z within `lower` over H
                seen = {y}
                q = deque([y])
                found = False
                while q and not found:
                    x = q.popleft()
                    for w in h_adj[x]:
                        if w in lower and w not in seen:
                            if w == z:
                                found = True
                                break
                            seen.add(w)
                            q.append(w)
                if found:
                    update.append(y)
                    chords.add((z, y))
        for v in update:
            weight[v] += 1
    for u, v in chords:
        h_adj[u].add(v)
        h_adj[v].add(u)
    rows = sorted(
        {(min(u, v), max(u, v)) for u in h_adj for v in h_adj[u]}
    )
    e = g.spark.createDataFrame(
        [(u, v, 1.0) for u, v in rows], "src long, dst long, weight double"
    )
    return (
        SparkGraph(e, g.vertices.select("id"), directed=False,
                   coalesce_edges=False),
        alpha,
    )


def junction_tree(g: SparkGraph):
    """``tree/decomposition.py`` ``junction_tree`` — moralize (if
    directed), complete to chordal, take the maximal cliques, connect
    cliques weighted by separator size, keep a maximum spanning tree,
    and splice each separator in as its own node.

    Returns ``(tree SparkGraph, nodes DataFrame (id, members
    ARRAY<BIGINT>, type))`` — the engine's relational shape for the
    reference's tuple-labeled graph (ids dense by (type, members))."""
    from linkgraph.algos.chordal import chordal_graph_cliques
    from linkgraph.algos.dag import moral_graph

    base = moral_graph(g) if g.directed else g
    chordal, _ = complete_to_chordal_graph(base)
    cliques = [tuple(sorted(c)) for c in chordal_graph_cliques(chordal)]
    # clique graph: weight = |separator|
    cedges = []
    for a, b in itertools.combinations(range(len(cliques)), 2):
        sep = tuple(sorted(set(cliques[a]) & set(cliques[b])))
        if sep:
            cedges.append((a, b, len(sep), sep))
    # maximum spanning tree (Kruskal, deterministic tie order)
    parent = list(range(len(cliques)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    mst = []
    for a, b, w, sep in sorted(cedges, key=lambda e: (-e[2], e[0], e[1])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
            mst.append((a, b, sep))
    # node table: cliques then separators, dense deterministic ids
    sepsets = sorted({sep for _, _, sep in mst})
    ids = {}
    rows = []
    for i, c in enumerate(sorted(cliques)):
        ids[("clique", c)] = i
        rows.append((i, list(c), "clique"))
    off = len(cliques)
    for j, s in enumerate(sepsets):
        ids[("sepset", s)] = off + j
        rows.append((off + j, list(s), "sepset"))
    clique_id = {c: ids[("clique", c)] for c in cliques}
    earcs_set = set()
    for a, b, sep in mst:
        sid = ids[("sepset", sep)]
        earcs_set.add((clique_id[cliques[a]], sid, 1.0))
        earcs_set.add((clique_id[cliques[b]], sid, 1.0))
    earcs = sorted(earcs_set)
    spark = g.spark
    tree = SparkGraph(
        spark.createDataFrame(earcs or [], "src long, dst long, weight double"),
        spark.createDataFrame(
            [(r[0],) for r in rows], "id long"
        ),
        directed=False,
        coalesce_edges=False,
    )
    nodes = spark.createDataFrame(
        rows, "id long, members array<bigint>, type string"
    )
    return tree, nodes


def join_trees(rooted_trees, *, first_label: int = 0) -> SparkGraph:
    """``tree/operations.py`` ``join_trees`` — a new tree whose root
    (``first_label``) connects the roots of the input trees; each input
    tree's nodes are relabeled to consecutive integers (tree order, BFS
    from its root) exactly as the reference does by iteration order.
    ``rooted_trees`` is a sequence of (SparkGraph, root) pairs."""
    if not rooted_trees:
        raise ValueError("join_trees: need at least one (tree, root) pair")
    spark = rooted_trees[0][0].spark
    all_edges = []
    offset = first_label + 1
    root_labels = []
    for tree, root in rooted_trees:
        # BFS relabel from the root for deterministic consecutive ids
        arcs = tree.symmetric_edges().select("src", "dst")
        rows = arcs.collect()
        adj: dict = {}
        for r in rows:
            adj.setdefault(r["src"], set()).add(r["dst"])
        order = {int(root): 0}
        q = deque([int(root)])
        while q:
            u = q.popleft()
            for v in sorted(adj.get(u, ())):
                if v not in order:
                    order[v] = len(order)
                    q.append(v)
        n_tree = tree.number_of_nodes()
        for u, nbrs in adj.items():
            for v in nbrs:
                if u < v:
                    all_edges.append((offset + order[u], offset + order[v]))
        root_labels.append(offset)
        offset += n_tree
    for rl in root_labels:
        all_edges.append((first_label, rl))
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in sorted(all_edges)],
        "src long, dst long, weight double",
    )
    verts = spark.createDataFrame(
        [(i,) for i in range(first_label, offset)], "id long"
    )
    return SparkGraph(e, verts, directed=False, coalesce_edges=False)


def to_nested_tuple(g: SparkGraph, root, canonical_form: bool = False):
    """``tree/coding.py`` ``to_nested_tuple`` — the rooted tree as nested
    tuples of child subtrees; ``canonical_form`` sorts subtrees so
    isomorphic trees encode identically (driver-gated: the encoding IS a
    driver object)."""
    from linkgraph.algos.tree import is_tree

    if not is_tree(g):
        raise NotATree("the graph is not a tree")
    adj, _, nodes = _collect_undirected(g)
    root = int(root)
    if root not in adj:
        raise NodeNotFound(f"root {root} is not in the tree")

    def encode(v, parent):
        subs = [encode(w, v) for w in sorted(adj[v]) if w != parent]
        if canonical_form:
            subs.sort()
        return tuple(subs)

    return encode(root, None)


def from_nested_tuple(
    spark, sequence, sensible_relabeling: bool = False
) -> SparkGraph:
    """``tree/coding.py`` ``from_nested_tuple`` — decode nested tuples to
    a tree; node ids are a BFS numbering from the root when
    ``sensible_relabeling`` (the reference's option), DFS preorder
    otherwise (both are exactly the reference's label choices)."""
    edges = []
    counter = itertools.count()

    def decode(t):
        me = next(counter)
        for child in t:
            c = decode(child)
            edges.append((me, c))
        return me

    decode(tuple(sequence))
    n = next(counter)
    if sensible_relabeling:
        adj: dict = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        order = {0: 0}
        q = deque([0])
        while q:
            u = q.popleft()
            for v in sorted(adj.get(u, ())):
                if v not in order:
                    order[v] = len(order)
                    q.append(v)
        edges = [(order[u], order[v]) for u, v in edges]
    e = spark.createDataFrame(
        [(min(u, v), max(u, v), 1.0) for u, v in sorted(edges)] or [],
        "src long, dst long, weight double",
    )
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    return SparkGraph(e, verts, directed=False, coalesce_edges=False)


def is_perfect_graph(g: SparkGraph, **kwargs) -> bool:
    """``perfect_graph.py`` ``is_perfect_graph`` — by the Strong Perfect
    Graph Theorem: no chordless odd hole of length ≥ 5 in G or its
    complement. Pure composition of the engine's distributed
    :func:`chordless_cycles` and :func:`complement` kernels."""
    from linkgraph.algos.cycles import chordless_cycles
    from linkgraph.algos.setops import complement

    if g.directed:
        raise NotImplementedForDirected("is_perfect_graph: undirected only")

    def has_odd_hole(h):
        return (
            chordless_cycles(h, **kwargs)
            .filter((F.size("cycle") >= 5) & (F.size("cycle") % 2 == 1))
            .limit(1)
            .count()
            > 0
        )

    return not (has_odd_hole(g) or has_odd_hole(complement(g)))


def find_asteroidal_triple(g: SparkGraph):
    """``asteroidal.py`` ``find_asteroidal_triple`` — three pairwise
    non-adjacent nodes such that each pair stays connected when the
    third's closed neighborhood is removed (Ekkehard & Köhler component
    structure; driver-gated — the structure is the n×n table the
    reference also materializes). Returns [u, v, w] or None."""
    if g.directed:
        raise NotImplementedForDirected("find_asteroidal_triple: undirected only")
    adj, _, nodes = _collect_undirected(g)
    node_set = set(nodes)
    comp: dict = {}
    for u in nodes:
        removed = adj[u] | {u}
        labels = {}
        cid = 0
        for start in nodes:
            if start in removed or start in labels:
                continue
            cid += 1
            labels[start] = cid
            q = deque([start])
            while q:
                x = q.popleft()
                for y in adj[x]:
                    if y not in removed and y not in labels:
                        labels[y] = cid
                        q.append(y)
        comp[u] = labels
    for u, v in itertools.combinations(nodes, 2):
        if v in adj[u]:
            continue
        excluded = adj[u] | adj[v] | {u, v}
        for w in nodes:
            if w in excluded:
                continue
            if (
                comp[w].get(u) == comp[w].get(v)
                and comp[v].get(u) == comp[v].get(w)
                and comp[u].get(v) == comp[u].get(w)
            ):
                return [u, v, w]
    return None


def is_at_free(g: SparkGraph, **kwargs) -> bool:
    """``asteroidal.py`` ``is_at_free``."""
    return find_asteroidal_triple(g, **kwargs) is None
