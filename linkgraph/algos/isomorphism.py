"""Subgraph pattern matching — the distributable slice of the reference's
``networkx/algorithms/isomorphism/`` package (VF2: ``isomorphvf2.py:GraphMatcher
.subgraph_isomorphisms_iter / subgraph_monomorphisms_iter``).

VF2 is a sequential backtracking search; its distributed twin — for the case
that actually occurs at 100 TB, a SMALL driver-side pattern matched against a
LARGE distributed data graph — is the standard *motif join plan* (the same
shape GraphFrames' ``find()`` and worst-case-optimal join systems use;
cf. Afrati et al., "Enumerating subgraph instances using map-reduce"):

1. Order the pattern vertices greedily so each next vertex is adjacent to as
   many already-bound vertices as possible (a connected search order keeps
   every expansion an equi-join, never a cross join, whenever the pattern is
   connected).
2. Bind vertex by vertex: one equi-join against the arc table generates
   candidates through a single pattern edge; every remaining pattern edge to
   bound vertices becomes a ``left_semi`` adjacency check; injectivity is a
   codegen'd column filter.
3. ``induced=True`` (the reference's *subgraph isomorphism*: node-induced)
   additionally anti-joins each bound NON-edge of the pattern against the arc
   table; ``induced=False`` is the reference's *monomorphism*.

Every intermediate is a DataFrame of partial embeddings — the frontier
fan-out is bounded by data-graph degrees, exactly the quantity AQE's skew
handling and salting manage elsewhere in this repo. Enumeration parity with
the reference: every automorphic image is a distinct row, matching the
iterator semantics of ``subgraph_isomorphisms_iter`` (so a triangle pattern
yields 6 rows per data triangle).

Full graph↔graph isomorphism of two LARGE graphs (canonical forms) stays out
of scope — no join-shaped twin exists; ``weisfeiler_lehman_graph_hash``
(``algos/wlhash.py``) is this repo's scalable isomorphism *witness*.
"""

from __future__ import annotations

from typing import Iterable, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.exceptions import NetworkXError

# Rows an exact search collects onto the driver: arcs (both directions of
# an undirected graph), or edges for tree isomorphism.
_DRIVER_ARCS = 1_000_000


def _pattern_norm(pattern_edges: Iterable[Tuple], directed: bool):
    """Normalize the driver-side pattern: node list + edge set.

    Returns (nodes, edges) where edges is a set of (a, b) tuples —
    canonicalized a <= b when undirected.
    """
    edges = set()
    nodes: list = []
    seen = set()
    for a, b in pattern_edges:
        if a == b:
            raise NetworkXError(
                "pattern self-loops are not supported (data-graph self-loops "
                "are ignored by matching, as in the reference's simple-graph "
                "matchers)"
            )
        e = (a, b) if directed else (min(a, b), max(a, b))
        edges.add(e)
        for n in (a, b):
            if n not in seen:
                seen.add(n)
                nodes.append(n)
    if not edges:
        raise NetworkXError("pattern must contain at least one edge")
    return nodes, edges


def _search_order(nodes: Sequence, edges: set, directed: bool) -> list:
    """Greedy connected order: highest pattern degree first, then always the
    unbound vertex with the most edges into the bound set (ties: degree,
    then first-seen order). Guarantees each expansion join has >= 1 anchor
    edge whenever the pattern is connected."""
    def adj(a, b):
        if directed:
            return (a, b) in edges or (b, a) in edges
        return (min(a, b), max(a, b)) in edges

    deg = {n: sum(1 for m in nodes if m != n and adj(n, m)) for n in nodes}
    pos = {n: i for i, n in enumerate(nodes)}
    order = [max(nodes, key=lambda n: (deg[n], -pos[n]))]
    bound = {order[0]}
    while len(order) < len(nodes):
        rest = [n for n in nodes if n not in bound]
        nxt = max(
            rest,
            key=lambda n: (sum(1 for b in bound if adj(n, b)), deg[n], -pos[n]),
        )
        order.append(nxt)
        bound.add(nxt)
    return order


def _arcs(g: SparkGraph) -> DataFrame:
    """Directed arc table (s, d) the joins run against: stored arcs for a
    digraph, both orientations of the canonical rows for an undirected
    graph. Self-loops are dropped (simple-graph matching)."""
    e = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if g.directed:
        e = e.distinct()
        return e.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    e = e.distinct()
    return e.select(F.col("src").alias("s"), F.col("dst").alias("d")).unionAll(
        e.select(F.col("dst").alias("s"), F.col("src").alias("d"))
    )


def subgraph_matches(
    g: SparkGraph,
    pattern_edges: Iterable[Tuple],
    *,
    induced: bool = True,
) -> DataFrame:
    """All embeddings of the pattern in ``g`` — one row per mapping, column
    ``m_<node>`` = the data-graph vertex bound to pattern vertex ``<node>``.

    ``induced=True`` matches the reference's ``GraphMatcher
    .subgraph_isomorphisms_iter`` (node-induced: pattern non-edges must be
    data non-edges); ``induced=False`` matches
    ``subgraph_monomorphisms_iter``. Directedness follows ``g``; pattern
    edges are read as arcs for a digraph and as undirected pairs otherwise.
    """
    nodes, edges = _pattern_norm(pattern_edges, g.directed)
    order = _search_order(nodes, edges, g.directed)
    arcs = _arcs(g)

    def col(n):
        return f"m_{n}"

    def has_edge(a, b):
        # directed: arc a -> b in the pattern; undirected: pair
        if g.directed:
            return (a, b) in edges
        return (min(a, b), max(a, b)) in edges

    # constraints between the q-th vertex and the already-bound prefix
    def bound_constraints(q_idx):
        q = order[q_idx]
        pos, neg = [], []  # (bound_node, src_is_bound) adjacency constraints
        for p in order[:q_idx]:
            if g.directed:
                if has_edge(p, q):
                    pos.append((p, True))
                if has_edge(q, p):
                    pos.append((p, False))
                if not has_edge(p, q):
                    neg.append((p, True))
                if not has_edge(q, p):
                    neg.append((p, False))
            else:
                if has_edge(p, q):
                    pos.append((p, True))
                else:
                    neg.append((p, True))
        return pos, neg

    # seed: bind order[0] and order[1] through one pattern edge when
    # possible, else (disconnected pattern) all vertices for order[0]
    pos0, _ = bound_constraints(1)
    if pos0:
        p, src_is_bound = pos0[0]
        a = arcs
        first = a.select(
            (F.col("s") if src_is_bound else F.col("d")).alias(col(p)),
            (F.col("d") if src_is_bound else F.col("s")).alias(col(order[1])),
        )
        matches = first
        start = 2
        # residual constraints between the first two (reverse arc / induced
        # non-arcs in a digraph)
        pos, neg = bound_constraints(1)
        for pp, sib in pos[1:]:
            matches = _semi(matches, arcs, col(pp), col(order[1]), sib)
        if induced:
            for pp, sib in neg:
                matches = _anti(matches, arcs, col(pp), col(order[1]), sib)
    else:
        matches = g.vertices.select(F.col("id").alias(col(order[0])))
        start = 1

    for q_idx in range(start, len(order)):
        q = order[q_idx]
        pos, neg = bound_constraints(q_idx)
        if pos:
            p, src_is_bound = pos[0]
            gen = arcs.select(
                (F.col("s") if src_is_bound else F.col("d")).alias(col(p)),
                (F.col("d") if src_is_bound else F.col("s")).alias(col(q)),
            )
            matches = matches.join(gen, col(p))
            rest = pos[1:]
        else:
            # disconnected pattern component: candidate = every vertex
            # (documented cost — the reference pays the same |V| factor)
            matches = matches.crossJoin(
                g.vertices.select(F.col("id").alias(col(q)))
            )
            rest = []
        # injectivity before the checks — cheapest filter first
        inj = None
        for p in order[:q_idx]:
            c = F.col(col(q)) != F.col(col(p))
            inj = c if inj is None else (inj & c)
        matches = matches.filter(inj)
        for p, src_is_bound in rest:
            matches = _semi(matches, arcs, col(p), col(q), src_is_bound)
        if induced:
            for p, src_is_bound in neg:
                matches = _anti(matches, arcs, col(p), col(q), src_is_bound)

    return matches.select(*[col(n) for n in nodes])


def _semi(matches, arcs, bound_col, cand_col, src_is_bound):
    a = arcs.select(
        (F.col("s") if src_is_bound else F.col("d")).alias(bound_col),
        (F.col("d") if src_is_bound else F.col("s")).alias(cand_col),
    )
    return matches.join(a, [bound_col, cand_col], "left_semi")


def _anti(matches, arcs, bound_col, cand_col, src_is_bound):
    a = arcs.select(
        (F.col("s") if src_is_bound else F.col("d")).alias(bound_col),
        (F.col("d") if src_is_bound else F.col("s")).alias(cand_col),
    )
    return matches.join(a, [bound_col, cand_col], "left_anti")


def count_subgraph_matches(
    g: SparkGraph, pattern_edges: Iterable[Tuple], *, induced: bool = True
) -> int:
    """Number of embeddings (mappings, not node-set occurrences) — the
    length of the reference's ``subgraph_isomorphisms_iter`` /
    ``subgraph_monomorphisms_iter`` streams."""
    return subgraph_matches(g, pattern_edges, induced=induced).count()


def subgraph_is_isomorphic(
    g: SparkGraph, pattern_edges: Iterable[Tuple], *, induced: bool = True
) -> bool:
    """``GraphMatcher.subgraph_is_isomorphic`` — does at least one embedding
    exist? Short-circuits with LIMIT 1, so Spark stops expanding embeddings
    as soon as one survives."""
    return (
        subgraph_matches(g, pattern_edges, induced=induced).limit(1).count() > 0
    )


def could_be_isomorphic(g1: SparkGraph, g2: SparkGraph) -> bool:
    """Fast necessary condition — ``isomorphism/isomorph.py:12``
    ``could_be_isomorphic``: equal sorted (degree, triangle-count,
    clique-membership?) fingerprints. The reference compares per-node
    (degree, triangles, maximal-clique count); computing max cliques is
    exponential, so this twin compares the sorted (degree, triangles)
    multiset — a strictly weaker certificate than the reference's but
    fully distributed (two aggregations, no collect): NEVER returns False
    for isomorphic graphs. Directed graphs compare (in, out) degrees.
    """
    from linkgraph.algos.degrees import degrees, in_degrees, out_degrees
    from linkgraph.algos.triangles import triangles

    if g1.directed != g2.directed:
        return False
    if g1.number_of_nodes() != g2.number_of_nodes():
        return False
    if g1.number_of_edges() != g2.number_of_edges():
        return False

    def fingerprint(g):
        if g.directed:
            d = (
                in_degrees(g).withColumnRenamed("degree", "din")
                .join(out_degrees(g).withColumnRenamed("degree", "dout"), "id")
                .select(
                    F.concat_ws("_", F.col("din"), F.col("dout")).alias("fp")
                )
            )
        else:
            t = triangles(g).select("id", F.col("triangles").alias("t"))
            d = (
                degrees(g)
                .join(t, "id", "left")
                .select(
                    F.concat_ws(
                        "_",
                        F.col("degree"),
                        F.coalesce(F.col("t"), F.lit(0)),
                    ).alias("fp")
                )
            )
        return {
            (r["fp"], r["n"])
            for r in d.groupBy("fp").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    return fingerprint(g1) == fingerprint(g2)


def _collect_adj_pair(g: SparkGraph):
    arcs = (g.edges if g.directed else g.symmetric_edges()).select("src", "dst")
    out: dict = {}
    inn: dict = {}
    for r in driver_rows(
        arcs, _DRIVER_ARCS,
        "exact isomorphism is a sequential backtracking search; the driver "
        "kernel collects the edge list",
        "Use weisfeiler_lehman_graph_hash for a distributed near-certain "
        "equality probe.",
    ):
        out.setdefault(r["src"], set()).add(r["dst"])
        inn.setdefault(r["dst"], set()).add(r["src"])
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    return nodes, out, inn


def _color_refine(nodes, out, inn, directed, rounds=None):
    """1-WL color refinement; returns {node: color_int}."""
    if directed:
        color = {
            v: (len(out.get(v, ())), len(inn.get(v, ()))) for v in nodes
        }
    else:
        color = {v: len(out.get(v, ())) for v in nodes}
    # canonicalize to ints
    pal = {c: i for i, c in enumerate(sorted(set(color.values())))}
    color = {v: pal[c] for v, c in color.items()}
    for _ in range(rounds if rounds is not None else len(nodes)):
        sig = {}
        for v in nodes:
            so = tuple(sorted(color[w] for w in out.get(v, ())))
            si = (
                tuple(sorted(color[w] for w in inn.get(v, ())))
                if directed
                else ()
            )
            sig[v] = (color[v], so, si)
        pal = {c: i for i, c in enumerate(sorted(set(sig.values())))}
        new = {v: pal[sig[v]] for v in nodes}
        if len(set(new.values())) == len(set(color.values())):
            color = new
            break
        color = new
    return color


def is_isomorphic(
    g1: SparkGraph,
    g2: SparkGraph,
) -> bool:
    """Exact graph isomorphism — ``isomorphvf2.py`` ``GraphMatcher
    .is_isomorphic`` semantics for attribute-free graphs. Backtracking
    (inherently sequential; worst case exponential like the reference's
    VF2) over WL-color-refined classes on the driver, size-guarded like
    the DFS family. Candidate order is most-constrained-first (rarest
    color, then highest degree)."""
    if g1.directed != g2.directed:
        return False
    n1, o1, i1 = _collect_adj_pair(g1)
    n2, o2, i2 = _collect_adj_pair(g2)
    if len(n1) != len(n2):
        return False
    m1 = sum(len(s) for s in o1.values())
    m2 = sum(len(s) for s in o2.values())
    if m1 != m2:
        return False
    directed = g1.directed
    c1 = _color_refine(n1, o1, i1, directed)
    c2 = _color_refine(n2, o2, i2, directed)
    from collections import Counter

    if Counter(c1.values()) != Counter(c2.values()):
        return False

    by_color2: dict = {}
    for v, c in c2.items():
        by_color2.setdefault(c, []).append(v)
    # most-constrained-first: rarest color class, then largest degree
    color_size = Counter(c1.values())
    order = sorted(
        n1, key=lambda v: (color_size[c1[v]], -len(o1.get(v, ())), v)
    )
    mapping: dict = {}
    used: set = set()

    def consistent(v, w):
        # all mapped neighbors must correspond exactly (both directions)
        for x in o1.get(v, ()):
            if x in mapping and mapping[x] not in o2.get(w, ()):
                return False
        for x in i1.get(v, ()):
            if x in mapping and mapping[x] not in i2.get(w, ()):
                return False
        # reverse containment: mapped nodes adjacent to w must have their
        # preimages adjacent to v
        for x in o2.get(w, ()):
            if x in used:
                pre = _pre[x]
                if pre not in o1.get(v, ()) and True:
                    return False
        for x in i2.get(w, ()):
            if x in used:
                pre = _pre[x]
                if pre not in i1.get(v, ()):
                    return False
        return True

    _pre: dict = {}

    def backtrack(k):
        if k == len(order):
            return True
        v = order[k]
        for w in by_color2.get(c1[v], ()):
            if w in used:
                continue
            if consistent(v, w):
                mapping[v] = w
                _pre[w] = v
                used.add(w)
                if backtrack(k + 1):
                    return True
                used.discard(w)
                del _pre[w]
                del mapping[v]
        return False

    import sys as _sys

    old = _sys.getrecursionlimit()
    _sys.setrecursionlimit(max(old, len(n1) + 100))
    try:
        return backtrack(0)
    finally:
        _sys.setrecursionlimit(old)


def fast_could_be_isomorphic(g1: SparkGraph, g2: SparkGraph) -> bool:
    """``isomorph.py:117`` — (degree, triangle-count) joint sequence
    equality; both sides are one distributed agg each."""
    from linkgraph.algos.triangles import triangles

    if g1.directed != g2.directed:
        return False

    def sig(g):
        from linkgraph.algos.degrees import degrees

        base = g.undirected_view() if g.directed else g
        d = degrees(base)
        t = triangles(base)
        return sorted(
            (r["degree"], r["triangles"])
            for r in d.join(t, "id", "left")
            .fillna(0, subset=["triangles"])
            .select("degree", "triangles")
            .collect()
        )

    return sig(g1) == sig(g2)


def faster_could_be_isomorphic(g1: SparkGraph, g2: SparkGraph) -> bool:
    """``isomorph.py:156`` — degree-sequence equality only."""
    from linkgraph.algos.degrees import degrees

    if g1.directed != g2.directed:
        return False
    d1 = sorted(r["degree"] for r in degrees(g1).collect())
    d2 = sorted(r["degree"] for r in degrees(g2).collect())
    return d1 == d2


def vf2pp_is_isomorphic(g1: SparkGraph, g2: SparkGraph, **kwargs) -> bool:
    """``vf2pp.py:30`` — same boolean as :func:`is_isomorphic` (the
    engine's color-refined backtracking kernel)."""
    return is_isomorphic(g1, g2, **kwargs)


def _collect_attrs(g: SparkGraph):
    """Driver-side attribute dicts for the matcher kernel: per-node dict
    of every non-id vertex column, per-arc dict of every non-endpoint
    edge column (both orientations registered for undirected graphs —
    the reference's ``G[u][v]`` is one shared dict)."""
    nattr: dict = {}
    for r in g.vertices.collect():
        d = r.asDict()
        nid = d.pop("id")
        nattr[nid] = d
    eattr: dict = {}
    for r in g.edges.collect():
        d = r.asDict()
        u = d.pop("src")
        v = d.pop("dst")
        eattr[(u, v)] = d
        if not g.directed:
            eattr.setdefault((v, u), d)
    return nattr, eattr


def _iso_mappings(
    g1: SparkGraph,
    g2: SparkGraph,
    node_match=None,
    edge_match=None,
):
    """Yield every node bijection g1→g2 preserving adjacency (the
    VF2++-style color-refined backtracking of :func:`is_isomorphic`,
    generalized to a generator).

    ``node_match`` / ``edge_match`` are the reference's
    ``vf2userfunc.py`` callables over attribute dicts — evaluated inside
    the backtracking consistency check (the structural color-refinement
    pruning stays attribute-blind, which is a valid necessary condition
    either way)."""
    if g1.directed != g2.directed:
        return
    n1, o1, i1 = _collect_adj_pair(g1)
    n2, o2, i2 = _collect_adj_pair(g2)
    if len(n1) != len(n2):
        return
    if sum(len(s) for s in o1.values()) != sum(len(s) for s in o2.values()):
        return
    directed = g1.directed
    c1 = _color_refine(n1, o1, i1, directed)
    c2 = _color_refine(n2, o2, i2, directed)
    from collections import Counter

    if Counter(c1.values()) != Counter(c2.values()):
        return
    na1 = ea1 = na2 = ea2 = None
    if node_match is not None or edge_match is not None:
        na1, ea1 = _collect_attrs(g1)
        na2, ea2 = _collect_attrs(g2)
    by_color2: dict = {}
    for v, c in c2.items():
        by_color2.setdefault(c, []).append(v)
    color_size = Counter(c1.values())
    order = sorted(n1, key=lambda v: (color_size[c1[v]], -len(o1.get(v, ())), v))
    mapping: dict = {}
    pre: dict = {}
    used: set = set()

    def consistent(v, w):
        for x in o1.get(v, ()):
            if x in mapping and mapping[x] not in o2.get(w, ()):
                return False
        for x in i1.get(v, ()):
            if x in mapping and mapping[x] not in i2.get(w, ()):
                return False
        for x in o2.get(w, ()):
            if x in used and pre[x] not in o1.get(v, ()):
                return False
        for x in i2.get(w, ()):
            if x in used and pre[x] not in i1.get(v, ()):
                return False
        if node_match is not None and not node_match(na1[v], na2[w]):
            return False
        if edge_match is not None:
            for x in o1.get(v, ()):
                if x in mapping and not edge_match(
                    ea1[(v, x)], ea2[(w, mapping[x])]
                ):
                    return False
            if directed:
                for x in i1.get(v, ()):
                    if x in mapping and not edge_match(
                        ea1[(x, v)], ea2[(mapping[x], w)]
                    ):
                        return False
        return True

    def backtrack(k):
        if k == len(order):
            yield dict(mapping)
            return
        v = order[k]
        for w in sorted(by_color2.get(c1[v], ())):
            if w in used:
                continue
            if consistent(v, w):
                mapping[v] = w
                pre[w] = v
                used.add(w)
                yield from backtrack(k + 1)
                used.discard(w)
                del pre[w]
                del mapping[v]

    yield from backtrack(0)


def vf2pp_isomorphism(g1: SparkGraph, g2: SparkGraph):
    """``vf2pp.py`` ``vf2pp_isomorphism`` — one isomorphism mapping as a
    dict (None when the graphs are not isomorphic)."""
    for m in _iso_mappings(g1, g2):
        return m
    return None


def vf2pp_all_isomorphisms(g1: SparkGraph, g2: SparkGraph):
    """``vf2pp.py`` ``vf2pp_all_isomorphisms`` — generator over every
    isomorphism mapping."""
    yield from _iso_mappings(g1, g2)


# ---------------------------------------------------------------------- #
# matcher classes + match-function factories + tree isomorphism
# (``isomorphism/{isomorph,vf2userfunc,matchhelpers,tree_isomorphism}.py``)
# ---------------------------------------------------------------------- #


class GraphMatcher:
    """``isomorphism/isomorphvf2.py`` ``GraphMatcher`` /
    ``vf2userfunc.py`` ``GraphMatcher`` — the class surface over the
    engine's color-refined backtracking kernel: ``is_isomorphic`` /
    ``isomorphisms_iter`` / ``mapping`` / ``subgraph_is_isomorphic``.

    ``node_match`` / ``edge_match`` are the reference's attribute-dict
    callables (build them with the ``categorical_*`` / ``numerical_*`` /
    ``generic_*`` factories below): node attributes come from the extra
    vertex-DataFrame columns, edge attributes from the extra edge
    columns. The kernel is driver-gated (backtracking is inherently
    sequential), so evaluating Python predicates inside it adds no
    distribution boundary. ``subgraph_is_isomorphic`` /
    ``subgraph_isomorphisms_iter`` run matcher-aware induced embedding
    search via the shared ISMAGS kernel."""

    def __init__(self, g1: SparkGraph, g2: SparkGraph,
                 node_match=None, edge_match=None):
        self.g1 = g1
        self.g2 = g2
        self.node_match = node_match
        self.edge_match = edge_match
        self.mapping = None

    def is_isomorphic(self) -> bool:
        for m in _iso_mappings(
            self.g1, self.g2, self.node_match, self.edge_match
        ):
            self.mapping = m
            return True
        return False

    def isomorphisms_iter(self):
        for m in _iso_mappings(
            self.g1, self.g2, self.node_match, self.edge_match
        ):
            self.mapping = m
            yield m

    def subgraph_isomorphisms_iter(self):
        """Induced embeddings of g2 in g1 as ``{g1_node: g2_node}``
        (``isomorphvf2.py`` ``subgraph_isomorphisms_iter``), matcher-aware
        — via the shared ISMAGS embedding kernel. (Round 5 fix: this
        method previously routed a SparkGraph into the tuple-pattern
        matcher and raised TypeError on every call.)"""
        yield from ISMAGS(
            self.g1, self.g2, self.node_match, self.edge_match
        )._embeddings()

    def subgraph_is_isomorphic(self) -> bool:
        return any(self.subgraph_isomorphisms_iter())


class DiGraphMatcher(GraphMatcher):
    """``isomorphvf2.py`` ``DiGraphMatcher`` — the directed twin (the
    kernel reads directedness from the graphs)."""


class MultiGraphMatcher(GraphMatcher):
    """``vf2userfunc.py`` ``MultiGraphMatcher`` — parallel edges coalesce
    in the engine's model; matching runs on the coalesced simple view,
    and a multiedge ``edge_match`` (which the reference hands a
    keyed-dict-of-dicts) sees the coalesced attrs as the single key 0."""

    def __init__(self, g1: SparkGraph, g2: SparkGraph,
                 node_match=None, edge_match=None):
        if edge_match is not None:
            inner = edge_match
            edge_match = lambda d1, d2: inner({0: d1}, {0: d2})  # noqa: E731
        super().__init__(g1, g2, node_match, edge_match)


class MultiDiGraphMatcher(MultiGraphMatcher):
    """``vf2userfunc.py`` ``MultiDiGraphMatcher``."""


def _dict_match_factory(attrs, defaults, op):
    if isinstance(attrs, str):
        attrs, defaults = [attrs], [defaults]

    def match(d1, d2):
        return all(
            op(d1.get(a, d), d2.get(a, d)) for a, d in zip(attrs, defaults)
        )

    return match


def categorical_node_match(attr, default):
    """``matchhelpers.py`` ``categorical_node_match`` — equality on the
    named attribute(s); works on plain dicts (Row.asDict() included)."""
    import operator

    return _dict_match_factory(attr, default, operator.eq)


categorical_edge_match = categorical_node_match


def categorical_multiedge_match(attr, default):
    """``matchhelpers.py`` — multiedge variant: some pairing of the two
    keyed-dicts matches."""
    single = categorical_node_match(attr, default)

    def match(d1, d2):
        vals1 = list(d1.values()) if d1 else [{}]
        vals2 = list(d2.values()) if d2 else [{}]
        return any(single(a, b) for a in vals1 for b in vals2)

    return match


def numerical_node_match(attr, default, rtol: float = 1e-5, atol: float = 1e-8):
    """``matchhelpers.py`` ``numerical_node_match`` — isclose on the
    named numeric attribute(s)."""
    import math

    def close(a, b):
        return math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=atol)

    return _dict_match_factory(attr, default, close)


numerical_edge_match = numerical_node_match


def numerical_multiedge_match(attr, default, rtol: float = 1e-5, atol: float = 1e-8):
    single = numerical_node_match(attr, default, rtol=rtol, atol=atol)

    def match(d1, d2):
        vals1 = list(d1.values()) if d1 else [{}]
        vals2 = list(d2.values()) if d2 else [{}]
        return any(single(a, b) for a in vals1 for b in vals2)

    return match


def generic_node_match(attr, default, op):
    """``matchhelpers.py`` ``generic_node_match`` — user-supplied
    comparison(s)."""
    if isinstance(attr, str):
        attrs, defaults, ops = [attr], [default], [op]
    else:
        attrs, defaults, ops = attr, default, op

    def match(d1, d2):
        return all(
            o(d1.get(a, d), d2.get(a, d))
            for a, d, o in zip(attrs, defaults, ops)
        )

    return match


generic_edge_match = generic_node_match


def generic_multiedge_match(attr, default, op):
    single = generic_node_match(attr, default, op)

    def match(d1, d2):
        vals1 = list(d1.values()) if d1 else [{}]
        vals2 = list(d2.values()) if d2 else [{}]
        return any(single(a, b) for a in vals1 for b in vals2)

    return match


def _ahu_code(adj, root, parent):
    """AHU canonical code of the subtree at ``root`` (iterative)."""
    order = [(root, parent)]
    stack = [(root, parent)]
    children = {}
    while stack:
        x, p = stack.pop()
        kids = [y for y in sorted(adj[x]) if y != p]
        children[x] = kids
        for y in kids:
            order.append((y, x))
            stack.append((y, x))
    code = {}
    for x, p in reversed(order):
        code[x] = "(" + "".join(sorted(code[y] for y in children[x])) + ")"
    return code[root]


def rooted_tree_isomorphism(g1: SparkGraph, root1, g2: SparkGraph, root2):
    """``isomorphism/tree_isomorphism.py`` ``rooted_tree_isomorphism``
    (Aho-Hopcroft-Ullman) — the node correspondence list when the rooted
    trees are isomorphic, else []. Canonical-code recursion, driver-side."""

    def collect(g):
        adj = {}
        for r in driver_rows(
            g.edges.select("src", "dst"), _DRIVER_ARCS, "tree isomorphism"
        ):
            adj.setdefault(r["src"], set()).add(r["dst"])
            adj.setdefault(r["dst"], set()).add(r["src"])
        for r in g.vertices.select("id").collect():
            adj.setdefault(r["id"], set())
        return adj

    a1, a2 = collect(g1), collect(g2)
    root1, root2 = int(root1), int(root2)
    if _ahu_code(a1, root1, None) != _ahu_code(a2, root2, None):
        return []
    # build the mapping top-down by pairing equal-coded children
    out = []
    stack = [(root1, None, root2, None)]
    while stack:
        u, pu, v, pv = stack.pop()
        out.append((u, v))
        kids1 = sorted(
            (y for y in a1[u] if y != pu),
            key=lambda y: _ahu_code(a1, y, u),
        )
        kids2 = sorted(
            (y for y in a2[v] if y != pv),
            key=lambda y: _ahu_code(a2, y, v),
        )
        for y1, y2 in zip(kids1, kids2):
            stack.append((y1, u, y2, v))
    return out


def tree_isomorphism(g1: SparkGraph, g2: SparkGraph):
    """``tree_isomorphism.py`` ``tree_isomorphism`` — free-tree variant:
    root both at their centers and try the ≤2 center pairings."""
    from linkgraph.algos.tree import is_tree

    if not (is_tree(g1) and is_tree(g2)):
        raise NetworkXError("tree_isomorphism: both graphs must be trees")
    n1 = g1.vertices.count()
    if n1 != g2.vertices.count():
        return []
    from linkgraph.algos.distance import center as _center

    c1 = sorted(r["id"] for r in _center(g1).collect())
    c2 = sorted(r["id"] for r in _center(g2).collect())
    if len(c1) != len(c2):
        return []
    for r2 in c2:
        m = rooted_tree_isomorphism(g1, c1[0], g2, r2)
        if m:
            return m
    return []


class ISMAGS:
    """``isomorphism/ismags.py`` ``ISMAGS`` — the symmetry-aware matcher.

    Reference semantics pinned against the install (verified on C4/K4/P3
    fixtures): embeddings are NODE-INDUCED; mappings are yielded as
    ``{graph_node: subgraph_node}``; ``symmetry=True`` keeps one mapping
    per orbit under the (match-respecting) automorphism group of
    ``subgraph``; ``largest_common_subgraph`` yields the maximum common
    induced subgraph mappings.

    The engine's twin: embeddings come from a driver-gated induced
    backtracking search (sequential by nature, the same cost class the
    reference pays); the symmetry quotient composes the automorphisms
    from the existing color-refined kernel instead of ISMAGS'
    permutation-group machinery — same classes, different derivation;
    the LCS is the maximum-clique set of the MODULAR PRODUCT of the two
    graphs (the classic reduction; driver Bron–Kerbosch under a size
    guard)."""

    def __init__(self, graph, subgraph, node_match=None, edge_match=None,
                 cache=None):
        self.graph = graph
        self.subgraph = subgraph
        self.node_match = node_match
        self.edge_match = edge_match

    # -- collected driver structures ----------------------------------- #
    def _sides(self):
        if not hasattr(self, "_side_data"):
            gn, go, gi = _collect_adj_pair(self.graph)
            sn, so, si = _collect_adj_pair(self.subgraph)
            ga = sa = gea = sea = None
            if self.node_match is not None or self.edge_match is not None:
                ga, gea = _collect_attrs(self.graph)
                sa, sea = _collect_attrs(self.subgraph)
            self._side_data = (gn, go, gi, sn, so, si, ga, sa, gea, sea)
        return self._side_data

    def _autos(self):
        """Match-respecting automorphisms of the subgraph (dicts s→s)."""
        if not hasattr(self, "_auto_list"):
            self._auto_list = list(
                _iso_mappings(
                    self.subgraph,
                    self.subgraph,
                    self.node_match,
                    self.edge_match,
                )
            )
        return self._auto_list

    def _sym_filter(self, mappings):
        seen = set()
        autos = self._autos()
        for m in mappings:  # m: {graph_node: subgraph_node}
            key = tuple(sorted(m.items()))
            if key in seen:
                continue
            for a in autos:
                seen.add(tuple(sorted((g, a[s]) for g, s in m.items())))
            yield m

    def _embeddings(self):
        """Yield every induced embedding as {graph_node: subgraph_node}."""
        gn, go, gi, sn, so, si, ga, sa, gea, sea = self._sides()
        nm, em = self.node_match, self.edge_match
        directed = self.graph.directed
        order = sorted(
            sn, key=lambda u: (-(len(so.get(u, ())) + len(si.get(u, ()))), u)
        )
        mapping: dict = {}  # s -> g
        used: set = set()

        def feasible(u, v):
            if len(go.get(v, ())) < len(so.get(u, ())):
                return False
            if directed and len(gi.get(v, ())) < len(si.get(u, ())):
                return False
            if nm is not None and not nm(ga[v], sa[u]):
                return False
            for u2, v2 in mapping.items():
                a_out = u2 in so.get(u, ())
                if a_out != (v2 in go.get(v, ())):
                    return False
                a_in = u2 in si.get(u, ())
                if a_in != (v2 in gi.get(v, ())):
                    return False
                if em is not None:
                    if a_out and not em(gea[(v, v2)], sea[(u, u2)]):
                        return False
                    if a_in and not em(gea[(v2, v)], sea[(u2, u)]):
                        return False
            return True

        def bt(k):
            if k == len(order):
                yield {v: u for u, v in mapping.items()}
                return
            u = order[k]
            for v in gn:
                if v in used:
                    continue
                if feasible(u, v):
                    mapping[u] = v
                    used.add(v)
                    yield from bt(k + 1)
                    used.discard(v)
                    del mapping[u]

        yield from bt(0)

    # -- public surface (reference method names) ----------------------- #
    def find_isomorphisms(self, symmetry=True):
        it = self._embeddings()
        return self._sym_filter(it) if symmetry else it

    subgraph_isomorphisms_iter = find_isomorphisms

    def isomorphisms_iter(self, symmetry=True):
        if self.graph.number_of_nodes() != self.subgraph.number_of_nodes():
            return iter(())
        return self.find_isomorphisms(symmetry)

    def is_isomorphic(self, symmetry=False) -> bool:
        return any(self.isomorphisms_iter(symmetry=False))

    def subgraph_is_isomorphic(self, symmetry=False) -> bool:
        return any(self.find_isomorphisms(symmetry=False))

    def largest_common_subgraph(self, symmetry=True, *, max_product_nodes=2000):
        """Maximum common induced subgraph mappings via the maximum
        cliques of the modular product (driver Bron–Kerbosch with pivot,
        size-guarded)."""
        gn, go, gi, sn, so, si, ga, sa, gea, sea = self._sides()
        nm, em = self.node_match, self.edge_match
        directed = self.graph.directed
        pnodes = []
        for v in gn:
            for u in sn:
                if nm is not None and not nm(ga[v], sa[u]):
                    continue
                pnodes.append((v, u))
        if len(pnodes) > max_product_nodes:
            raise ValueError(
                f"largest_common_subgraph: modular product has "
                f"{len(pnodes)} nodes > max_product_nodes="
                f"{max_product_nodes}"
            )

        def compatible(p, q):
            v1, u1 = p
            v2, u2 = q
            if v1 == v2 or u1 == u2:
                return False
            a_out = v2 in go.get(v1, ())
            b_out = u2 in so.get(u1, ())
            if a_out != b_out:
                return False
            if a_out and em is not None and not em(
                gea[(v1, v2)], sea[(u1, u2)]
            ):
                return False
            if directed:
                a_in = v2 in gi.get(v1, ())
                b_in = u2 in si.get(u1, ())
                if a_in != b_in:
                    return False
                if a_in and em is not None and not em(
                    gea[(v2, v1)], sea[(u2, u1)]
                ):
                    return False
            return True

        idx = {p: i for i, p in enumerate(pnodes)}
        nbrs = [set() for _ in pnodes]
        for i, p in enumerate(pnodes):
            for j in range(i + 1, len(pnodes)):
                if compatible(p, pnodes[j]):
                    nbrs[i].add(j)
                    nbrs[j].add(i)

        best: list = []
        best_size = 0

        def bk(r, p, x):
            nonlocal best_size
            if not p and not x:
                if len(r) > best_size:
                    best_size = len(r)
                    best.clear()
                if len(r) == best_size and r:
                    best.append(list(r))
                return
            pivot = max(p | x, key=lambda w: len(nbrs[w] & p))
            for w in list(p - nbrs[pivot]):
                bk(r | {w}, p & nbrs[w], x & nbrs[w])
                p.discard(w)
                x.add(w)

        bk(set(), set(range(len(pnodes))), set())
        mappings = [
            dict(pnodes[i] for i in clique) for clique in best
        ]
        # dedupe exact duplicates (BK can report a maximum clique once,
        # but keep this defensive), then the symmetry quotient
        uniq = []
        seen = set()
        for m in mappings:
            key = tuple(sorted(m.items()))
            if key not in seen:
                seen.add(key)
                uniq.append(m)
        return self._sym_filter(uniq) if symmetry else iter(uniq)


class TimeRespectingGraphMatcher:
    """``isomorphism/temporalisomorphvf2.py`` ``TimeRespectingGraphMatcher``
    — time-respecting subgraph matching: every embedding must keep, for
    each mapped node, the temporal attributes of its mapped incident
    edges within ``delta`` of each other.

    The reference enforces this as an incremental ``semantic_
    feasibility`` check inside VF2's DFS. The constraint is MONOTONE in
    the partial mapping (a node's incident-date span only grows as the
    mapping grows), so filtering COMPLETE induced embeddings by the
    final-state constraint yields the identical result set — which is
    how the engine's twin composes it over the driver-gated embedding
    kernel. Edge dates come from the ``temporal_attribute_name`` column
    of the G1 edge table (datetime or numeric; ``delta`` is the matching
    ``timedelta``/number)."""

    def __init__(self, g1, g2, temporal_attribute_name, delta):
        self.g1 = g1
        self.g2 = g2
        self.temporal_attribute_name = temporal_attribute_name
        self.delta = delta
        self._ism = ISMAGS(g1, g2)

    def _dates(self):
        if not hasattr(self, "_edate"):
            _, self._edate = _collect_attrs(self.g1)
            self._adj: dict = {}
            for (u, v) in self._edate:
                self._adj.setdefault(u, set()).add(v)
        return self._edate, self._adj

    def _ok(self, mapped):
        edate, adj = self._dates()
        attr = self.temporal_attribute_name
        for v in mapped:
            dates = []
            for n in adj.get(v, ()):
                if n in mapped:
                    dates.append(edate[(v, n)].get(attr))
            if any(x is None for x in dates):
                raise ValueError("Datetime not supplied for at least one edge.")
            if dates and max(dates) - min(dates) > self.delta:
                return False
        return True

    def subgraph_isomorphisms_iter(self):
        for m in self._ism._embeddings():  # {g1_node: g2_node}
            if self._ok(set(m)):
                yield m

    def subgraph_is_isomorphic(self) -> bool:
        return any(self.subgraph_isomorphisms_iter())

    def isomorphisms_iter(self):
        if self.g1.number_of_nodes() != self.g2.number_of_nodes():
            return
        yield from self.subgraph_isomorphisms_iter()

    def is_isomorphic(self) -> bool:
        return any(self.isomorphisms_iter())


class TimeRespectingDiGraphMatcher(TimeRespectingGraphMatcher):
    """``temporalisomorphvf2.py`` ``TimeRespectingDiGraphMatcher`` — the
    directed form adds the flow condition: at every mapped node the
    earliest mapped OUTGOING interaction must not precede the latest
    mapped INCOMING one (``test_two``), alongside the shared span-within-
    delta test over all incident mapped dates (``test_one``)."""

    def _dates(self):
        if not hasattr(self, "_edate"):
            _, self._edate = _collect_attrs(self.g1)
            self._out: dict = {}
            self._in: dict = {}
            for (u, v) in self._edate:
                self._out.setdefault(u, set()).add(v)
                self._in.setdefault(v, set()).add(u)
        return self._edate, (self._out, self._in)

    def _ok(self, mapped):
        edate, (out, inn) = self._dates()
        attr = self.temporal_attribute_name
        for v in mapped:
            succ_dates = [
                edate[(v, n)].get(attr) for n in out.get(v, ()) if n in mapped
            ]
            pred_dates = [
                edate[(n, v)].get(attr) for n in inn.get(v, ()) if n in mapped
            ]
            dates = pred_dates + succ_dates
            if any(x is None for x in dates):
                raise ValueError(
                    "Date or datetime not supplied for at least one edge."
                )
            if dates and max(dates) - min(dates) > self.delta:
                return False
            if succ_dates and pred_dates and min(succ_dates) < max(pred_dates):
                return False
        return True
