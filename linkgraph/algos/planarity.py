"""Planarity testing.

Reference: ``networkx/algorithms/planarity.py:1`` ``check_planarity`` /
``is_planar`` (left-right algorithm). LR planarity is a sequential DFS
orientation — like the DFS family, no shuffle-parallel schedule exists —
so the engine runs a driver-side test under the usual size guard. The
kernel is Demoucron–Malgrange–Pertuiset face embedding (1964; the classic
O(n²) "gamma algorithm"), chosen over LR for implementation clarity:

1. planarity is decided per biconnected component (a graph is planar iff
   every biconnected component is);
2. within a component: quick Euler cut ``m > 3n − 6 → nonplanar``, then
   start from any cycle (two faces) and repeatedly embed an α-path of a
   fragment into an admissible face (one whose boundary contains all the
   fragment's attachment vertices), splitting it; a fragment with no
   admissible face certifies nonplanarity; no fragments left certifies an
   embedding. Demoucron's theorem: always embedding a fragment with the
   fewest admissible faces never paints the algorithm into a corner.

Faces are simple vertex cycles here because the component is biconnected.
Only the boolean surface is exposed (= ``nx.is_planar``); the reference's
combinatorial-embedding / Kuratowski-subgraph outputs are out of scope.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from linkgraph.graph import SparkGraph, check_driver_limit


# Simple edges the embedding search collects onto the driver.
_DRIVER_EDGES = 5_000_000

__all__ = ["is_planar", "check_planarity", "PlanarEmbedding"]


def _biconnected_edge_sets(adj):
    """Iterative Tarjan biconnected decomposition; yields edge lists."""
    disc: dict = {}
    low: dict = {}
    timer = [0]
    estack: list = []
    for root in sorted(adj):
        if root in disc:
            continue
        stack = [(root, None, iter(sorted(adj[root])))]
        disc[root] = low[root] = timer[0]
        timer[0] += 1
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w == parent:
                    continue
                if w not in disc:
                    estack.append((v, w))
                    disc[w] = low[w] = timer[0]
                    timer[0] += 1
                    stack.append((w, v, iter(sorted(adj[w]))))
                    advanced = True
                    break
                if disc[w] < disc[v]:
                    estack.append((v, w))
                    if disc[w] < low[v]:
                        low[v] = disc[w]
            if advanced:
                continue
            stack.pop()
            if stack:
                pv = stack[-1][0]
                if low[v] < low[pv]:
                    low[pv] = low[v]
                if low[v] >= disc[pv]:
                    comp = []
                    while estack:
                        e = estack.pop()
                        comp.append(e)
                        if e == (pv, v):
                            break
                    if comp:
                        yield comp


def _find_cycle(adj):
    """Any simple cycle in a biconnected component with >= 2 edges."""
    root = next(iter(sorted(adj)))
    parent = {root: None}
    stack = [root]
    order = []
    while stack:
        v = stack.pop()
        order.append(v)
        for w in sorted(adj[v]):
            if w not in parent:
                parent[w] = v
                stack.append(w)
    for v in order:
        for w in sorted(adj[v]):
            if parent.get(v) != w and parent.get(w) != v:
                # back/cross edge in the tree: cycle via tree paths
                pv, pw = [], []
                x = v
                while x is not None:
                    pv.append(x)
                    x = parent[x]
                x = w
                anc = set(pv)
                while x not in anc:
                    pw.append(x)
                    x = parent[x]
                i = pv.index(x)
                return pv[: i + 1] + list(reversed(pw))
    return None


def _fragments(adj, emb_nodes, emb_edges):
    """Fragments of G relative to the embedded subgraph: chords (single
    non-embedded edges between embedded vertices) and bridges (components
    of G − emb_nodes plus their attachment edges). Returns a list of
    (attachment_set, alpha_path) where alpha_path runs between two
    attachments with non-embedded interior."""
    frags = []
    seen_chord = set()
    outside = set(adj) - emb_nodes
    for v in emb_nodes:
        for w in adj[v]:
            if w in emb_nodes and frozenset((v, w)) not in emb_edges:
                key = frozenset((v, w))
                if key not in seen_chord:
                    seen_chord.add(key)
                    frags.append(({v, w}, [v, w]))
    visited = set()
    for start in sorted(outside):
        if start in visited:
            continue
        comp = {start}
        visited.add(start)
        queue = [start]
        att = set()
        while queue:
            v = queue.pop()
            for w in adj[v]:
                if w in emb_nodes:
                    att.add(w)
                elif w not in comp:
                    comp.add(w)
                    visited.add(w)
                    queue.append(w)
        # alpha path: attachment -> through comp -> another attachment
        a0 = min(att)
        prev = {a0: None}
        bfs = [a0]
        path = None
        while bfs:
            v = bfs.pop(0)
            for w in sorted(adj[v]):
                if w == a0 or (w not in comp and w not in att):
                    continue
                if v == a0 and w not in comp:
                    continue  # leave a0 only into the component
                if w in prev:
                    continue
                prev[w] = v
                if w in att:
                    path = [w]
                    x = v
                    while x is not None:
                        path.append(x)
                        x = prev[x]
                    path.reverse()
                    bfs = []
                    break
                bfs.append(w)
        frags.append((att, path))
    return frags


def _demoucron_planar(edges, *, want_faces=False):
    """Demoucron face embedding on one biconnected component. With
    ``want_faces`` returns the face list (vertex cycles) instead of a
    bare boolean (None when nonplanar)."""
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    n = len(adj)
    m = len({frozenset(e) for e in edges})
    cycle = _find_cycle(adj)
    if not want_faces:
        if n < 5:
            return True
        if m > 3 * n - 6:
            return False
    elif m > 3 * n - 6 and n >= 3:
        return None
    if cycle is None:
        # a single edge / tree piece: one face around it
        if want_faces:
            return [sorted(adj)]
        return True
    emb_nodes = set(cycle)
    emb_edges = {
        frozenset((cycle[i], cycle[(i + 1) % len(cycle)]))
        for i in range(len(cycle))
    }
    faces = [list(cycle), list(cycle)]
    while True:
        frags = _fragments(adj, emb_nodes, emb_edges)
        if not frags:
            return faces if want_faces else True
        best = None
        for att, path in frags:
            adm = [
                idx
                for idx, f in enumerate(faces)
                if att <= set(f)
            ]
            if not adm:
                return None if want_faces else False
            if best is None or len(adm) < best[0]:
                best = (len(adm), adm[0], path)
        _, fidx, path = best
        face = faces[fidx]
        u, v = path[0], path[-1]
        i, j = face.index(u), face.index(v)
        if i > j:
            i, j = j, i
            path = list(reversed(path))
        arc1 = face[i : j + 1]
        arc2 = face[j:] + face[: i + 1]
        interior = path[1:-1]
        faces[fidx] = arc1 + list(reversed(interior))
        faces.append(arc2 + interior)
        emb_nodes.update(path)
        for a, b in zip(path, path[1:]):
            emb_edges.add(frozenset((a, b)))


def is_planar(g: SparkGraph) -> bool:
    """``nx.is_planar`` twin (``planarity.py``; boolean surface only).
    Directed graphs are tested on the underlying undirected edges, like
    the reference. Driver-gated (see module docstring)."""
    arcs = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    m = arcs.count()
    n = g.number_of_nodes()
    check_driver_limit(
        m, _DRIVER_EDGES,
        "planarity testing is a sequential embedding search; the driver "
        "kernel collects the edge list",
    )
    if n >= 3 and m > 3 * n - 6:
        return False  # Euler bound — no collect needed
    adj: dict = {}
    for r in arcs.collect():
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    for comp in _biconnected_edge_sets(adj):
        if not _demoucron_planar(comp):
            return False
    return True


class PlanarEmbedding:
    """Driver-side planar-embedding certificate: the Demoucron face lists
    per biconnected component plus the undirected adjacency.

    The reference's ``PlanarEmbedding`` is a half-edge rotation system
    (``planarity.py`` class PlanarEmbedding); this certificate exposes the
    pieces the engine's consumers use — ``faces()``, ``traverse_face``,
    ``node_count`` — and feeds :func:`combinatorial_embedding_to_pos` /
    ``planar_layout`` (Tutte barycentric coordinates)."""

    def __init__(self, adj, component_faces):
        self.adj = {u: set(s) for u, s in adj.items()}
        self.component_faces = [list(map(list, fs)) for fs in component_faces]

    def faces(self):
        out = []
        for fs in self.component_faces:
            out.extend(fs)
        return out

    def traverse_face(self, index: int):
        return list(self.faces()[index])

    def node_count(self):
        return len(self.adj)

    def outer_face(self):
        """The largest face — the standard choice for the drawing's
        outer boundary."""
        faces = self.faces()
        if not faces:
            return sorted(self.adj)
        return max(faces, key=len)


def check_planarity(g: SparkGraph, counterexample: bool = False):
    """``planarity.py:1`` ``check_planarity`` — (is_planar, certificate):
    the certificate is a :class:`PlanarEmbedding` when planar, else None.
    ``counterexample=True`` (extracting a Kuratowski subdivision) is not
    implemented — the reference's LR machinery is the only practical
    extractor; use ``is_planar`` plus the Euler bound diagnostics."""
    if counterexample:
        raise NotImplementedError(
            "check_planarity(counterexample=True): Kuratowski subgraph "
            "extraction is not implemented; the boolean + embedding "
            "surface is."
        )
    arcs = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    m = arcs.count()
    n = g.number_of_nodes()
    check_driver_limit(m, _DRIVER_EDGES, "planarity testing collects the edge list")
    if n >= 3 and m > 3 * n - 6:
        return False, None
    adj: dict = {
        r["id"]: set() for r in g.vertices.select("id").collect()
    }
    for r in arcs.collect():
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    all_faces = []
    for comp in _biconnected_edge_sets(adj):
        faces = _demoucron_planar(comp, want_faces=True)
        if faces is None:
            return False, None
        all_faces.append(faces)
    return True, PlanarEmbedding(adj, all_faces)
