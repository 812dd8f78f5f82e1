"""Maximum-weight matching (Edmonds blossom, primal-dual).

Reference: ``networkx/algorithms/matching.py:247`` ``max_weight_matching``
/ ``min_weight_matching:186`` (Galil 1986, "Efficient algorithms for
finding maximal matchings in graphs"). The primal-dual stage loop — grow
alternating forests over TIGHT edges, shrink odd cycles into blossoms,
augment, adjust duals — is inherently sequential: every stage's forest
depends on all previous augmentations. Like the DFS/CNM/Euler families,
the engine collects the (size-guarded) edge list and runs the stage loop
on the driver, returning the matching as a DataFrame.

This kernel is an independent implementation of the published algorithm
with two deliberate simplifications relative to the reference:

- the dual adjustment δ is found by a full edge scan (O(m)) instead of
  per-blossom best-edge caches — simpler, same results;
- when a T-blossom's dual hits zero (δ-type-4) it is dissolved and the
  forest is REBUILT from the free vertices (labels dropped, duals kept)
  instead of relabeling through the cycle in place. Duals are the real
  state, so correctness is unaffected; each rebuild costs one extra scan
  and can happen at most once per pre-existing blossom per stage.

Verification: total matched weight (shared by every maximum-weight
matching) and validity vs the reference across randomized fixtures, plus
exact-set parity where the optimum is unique — tests/test_matching_weight.py.
Integer weights stay exact (duals remain multiples of 1/2, exact in
binary floats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph

__all__ = ["max_weight_matching", "min_weight_matching"]

_NONE = -1


def _blossom_kernel(n, edges, maxcardinality):
    """mate[] over vertices 0..n-1; ``edges`` is [(i, j, w)], i != j,
    deduplicated (max weight kept upstream)."""
    m = len(edges)
    mate = [_NONE] * n
    if m == 0:
        return mate
    adj = [[] for _ in range(n)]
    for k, (i, j, _w) in enumerate(edges):
        adj[i].append(k)
        adj[j].append(k)

    # clamp at 0 so negative-weight edges can never become tight under
    # maxcardinality=False (they are never worth matching)
    maxw = max(0.0, max(w for _i, _j, w in edges))
    dual = [float(maxw)] * n + [0.0] * n
    label = [0] * (2 * n)          # top-level only: 0 free, 1 S, 2 T
    label_from = [_NONE] * (2 * n)  # vertex on the far side of the entry edge
    label_edge = [_NONE] * (2 * n)  # entry edge index (T blossoms only)
    top = list(range(n))            # vertex -> top-level blossom
    base = list(range(n)) + [_NONE] * n
    parent = [_NONE] * (2 * n)
    childs: list = [None] * (2 * n)
    # child_edges[b][i] = (u, v): u in childs[b][i], v in childs[b][(i+1)%L]
    child_edges: list = [None] * (2 * n)
    unused = list(range(2 * n - 1, n - 1, -1))
    allow = [False] * m

    def slack(k):
        i, j, w = edges[k]
        return dual[i] + dual[j] - 2.0 * w

    def leaves(b):
        stack = [b]
        while stack:
            x = stack.pop()
            if x < n:
                yield x
            else:
                stack.extend(childs[x])

    queue: list = []

    def assign_label(v, t, frm, k):
        b = top[v]
        label[b] = t
        label_from[b] = frm
        label_edge[b] = k
        if t == 1:
            queue.extend(leaves(b))
        else:
            bb = base[b]
            # the base's partner becomes S through the matched edge
            assign_label(mate[bb], 1, bb, _NONE)

    def tree_parent(b):
        return top[label_from[b]] if label_from[b] != _NONE else _NONE

    def find_lca(v, w):
        seen = set()
        a, c = top[v], top[w]
        while a != _NONE or c != _NONE:
            if a != _NONE:
                if a in seen:
                    return a
                seen.add(a)
                a = tree_parent(a)
            if c != _NONE:
                if c in seen:
                    return c
                seen.add(c)
                c = tree_parent(c)
        return _NONE

    def immediate_child(b, v):
        x = v
        while parent[x] != b:
            x = parent[x]
        return x

    def augment_blossom(b, v):
        """Rotate blossom b so vertex v becomes its base, flipping the
        matching around the odd cycle."""
        t = immediate_child(b, v)
        if t >= n:
            augment_blossom(t, v)
        cyc, ce = childs[b], child_edges[b]
        L = len(cyc)
        i = cyc.index(t)
        for off in range(1, L, 2):
            j = (i + off) % L
            u_e, w_e = ce[j]
            cu, cw = cyc[j], cyc[(j + 1) % L]
            if cu >= n:
                augment_blossom(cu, u_e)
            if cw >= n:
                augment_blossom(cw, w_e)
            mate[u_e] = w_e
            mate[w_e] = u_e
        childs[b] = cyc[i:] + cyc[:i]
        child_edges[b] = ce[i:] + ce[:i]
        base[b] = v

    def augment_matching(k):
        ki, kj, _w = edges[k]
        for s, p in ((ki, kj), (kj, ki)):
            while True:
                bs = top[s]
                if bs >= n:
                    augment_blossom(bs, s)
                mate[s] = p
                if label_from[bs] == _NONE:
                    break  # tree root
                bt = top[label_from[bs]]          # T predecessor
                kt = label_edge[bt]
                q = label_from[bt]                # S vertex above bt
                ti, tj, _tw = edges[kt]
                x = ti if top[ti] == bt else tj
                if bt >= n:
                    augment_blossom(bt, x)
                mate[x] = q
                s, p = q, x

    def make_blossom(lca, k):
        ki, kj, _w = edges[k]
        path_v, edges_v = [], []
        b = top[ki]
        while b != lca:
            path_v.append(b)
            inner = base[b] if label[b] == 1 else _t_inner(b)
            edges_v.append((inner, label_from[b]))
            b = tree_parent(b)
        path_w, edges_w = [], []
        b = top[kj]
        while b != lca:
            path_w.append(b)
            inner = base[b] if label[b] == 1 else _t_inner(b)
            edges_w.append((inner, label_from[b]))
            b = tree_parent(b)
        cyc = [lca] + list(reversed(path_v)) + path_w
        ce = (
            [(pv, iv) for iv, pv in reversed(edges_v)]
            + [(ki, kj)]
            + edges_w
        )
        slot = unused.pop()
        base[slot] = base[lca]
        parent[slot] = _NONE
        childs[slot] = cyc
        child_edges[slot] = ce
        dual[slot] = 0.0
        label[slot] = 1
        label_from[slot] = label_from[lca]
        label_edge[slot] = label_edge[lca]
        for cb in cyc:
            parent[cb] = slot
        for leaf in leaves(slot):
            top[leaf] = slot
        for cb in cyc:
            if label[cb] == 2:
                queue.extend(leaves(cb))
        for cb in cyc:
            label[cb] = 0

    def _t_inner(b):
        """Entry vertex of a T blossom: the endpoint of its entry edge
        inside b."""
        kt = label_edge[b]
        ti, tj, _tw = edges[kt]
        return ti if top[ti] == b else tj

    def expand_blossom(b):
        """Dissolve one level of b (children become top-level)."""
        for cb in childs[b]:
            parent[cb] = _NONE
            for leaf in leaves(cb):
                top[leaf] = cb
            label[cb] = 0
            label_from[cb] = _NONE
            label_edge[cb] = _NONE
        childs[b] = None
        child_edges[b] = None
        base[b] = _NONE
        label[b] = 0
        unused.append(b)

    def rebuild_forest():
        """Drop all labels and restart the forest from free vertices
        (duals untouched) — the restart-on-expand simplification."""
        queue.clear()
        for b in range(2 * n):
            label[b] = 0
            label_from[b] = _NONE
            label_edge[b] = _NONE
        for v in range(n):
            if mate[v] == _NONE and label[top[v]] == 0:
                assign_label(v, 1, _NONE, _NONE)

    for _stage in range(n + 1):
        for k in range(m):
            allow[k] = False
        rebuild_forest()
        if not queue:
            break
        augmented = False
        guard = 0
        while True:
            guard += 1
            if guard > 20 * (n + 1) * (m + n + 1):
                raise RuntimeError(
                    "blossom kernel failed to converge (internal error)"
                )
            # scan
            while queue and not augmented:
                s = queue.pop()
                if label[top[s]] != 1:
                    continue
                for k in adj[s]:
                    i, j, _w = edges[k]
                    o = j if i == s else i
                    if top[s] == top[o]:
                        continue
                    if not allow[k] and slack(k) <= 0:
                        allow[k] = True
                    if not allow[k]:
                        continue
                    bo = top[o]
                    if label[bo] == 0:
                        assign_label(o, 2, s, k)
                    elif label[bo] == 1:
                        lca = find_lca(s, o)
                        if lca == _NONE:
                            augment_matching(k)
                            augmented = True
                            break
                        make_blossom(lca, k)
            if augmented:
                break
            # dual adjustment
            d_type, delta, d_edge, d_blossom = 0, None, _NONE, _NONE
            if not maxcardinality:
                delta = min(dual[v] for v in range(n))
                d_type = 1
            for k in range(m):
                i, j, _w = edges[k]
                li, lj = label[top[i]], label[top[j]]
                if top[i] == top[j]:
                    continue
                sl = slack(k)
                if (li == 1 and lj == 0) or (li == 0 and lj == 1):
                    if delta is None or sl < delta:
                        d_type, delta, d_edge = 2, sl, k
                elif li == 1 and lj == 1:
                    if delta is None or sl / 2.0 < delta:
                        d_type, delta, d_edge = 3, sl / 2.0, k
            for b in range(n, 2 * n):
                if childs[b] is not None and parent[b] == _NONE and label[b] == 2:
                    if delta is None or dual[b] / 2.0 < delta:
                        d_type, delta, d_blossom = 4, dual[b] / 2.0, b
            if delta is None:
                # maxcardinality with nothing to improve: optimum
                d_type, delta = 1, max(0.0, min(dual[v] for v in range(n)))
            for v in range(n):
                lv = label[top[v]]
                if lv == 1:
                    dual[v] -= delta
                elif lv == 2:
                    dual[v] += delta
            for b in range(n, 2 * n):
                if childs[b] is not None and parent[b] == _NONE:
                    if label[b] == 1:
                        dual[b] += 2.0 * delta
                    elif label[b] == 2:
                        dual[b] -= 2.0 * delta
            if d_type == 1:
                augmented = False
                break  # optimum reached
            if d_type in (2, 3):
                allow[d_edge] = True
                i, j, _w = edges[d_edge]
                # requeue an S endpoint so the edge gets processed
                if label[top[i]] == 1:
                    queue.append(i)
                if label[top[j]] == 1:
                    queue.append(j)
            elif d_type == 4:
                expand_blossom(d_blossom)
                rebuild_forest()
        if not augmented:
            break
        # stage end: clear labels, dissolve spent blossoms (z == 0)
        changed = True
        while changed:
            changed = False
            for b in range(n, 2 * n):
                if (
                    childs[b] is not None
                    and parent[b] == _NONE
                    and dual[b] == 0.0
                ):
                    expand_blossom(b)
                    changed = True
    return mate


# Simple edges the blossom kernel collects onto the driver.
_DRIVER_EDGES = 5_000_000


def _collect_edges(g: SparkGraph, weight):
    from linkgraph.graph import driver_rows, resolve_weight_column

    und = g.edges if not g.directed else g.undirected_view().edges
    wexpr = resolve_weight_column(und, weight)
    simple = (
        und.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            wexpr.alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))
    )
    rows = driver_rows(
        simple, _DRIVER_EDGES,
        "blossom matching is a sequential primal-dual stage loop; the driver "
        "kernel collects the edge list",
        "Use maximal_matching for the distributed (unweighted, "
        "1/2-approximate) path.",
    )
    return sorted((r["u"], r["v"], float(r["w"])) for r in rows)


def max_weight_matching(
    g: SparkGraph,
    *,
    maxcardinality: bool = False,
    weight=None,
) -> DataFrame:
    """Maximum-weight matching as ``(src, dst)`` rows (``src < dst``),
    ``matching.py:247`` semantics: maximum total weight, or — with
    ``maxcardinality=True`` — maximum weight among maximum-cardinality
    matchings. ``weight`` follows :func:`resolve_weight_column`."""
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    idx = {v: i for i, v in enumerate(ids)}
    raw = _collect_edges(g, weight)
    edges = [(idx[u], idx[v], w) for u, v, w in raw]
    mate = _blossom_kernel(len(ids), edges, maxcardinality)
    rows = []
    for i, p in enumerate(mate):
        if p != _NONE and i < p:
            rows.append((min(ids[i], ids[p]), max(ids[i], ids[p])))
    return g.spark.createDataFrame(rows or [], "src long, dst long")


def min_weight_matching(
    g: SparkGraph,
    *,
    weight=None,
) -> DataFrame:
    """Minimum-weight full-cardinality matching (``matching.py:186``):
    runs :func:`max_weight_matching` with ``maxcardinality=True`` on
    weights ``(1 + max_w) - w``, exactly the reference's reduction."""
    from linkgraph.graph import resolve_weight_column

    und = g.edges if not g.directed else g.undirected_view().edges
    wexpr = resolve_weight_column(und, weight)
    maxw = (
        und.filter(F.col("src") != F.col("dst"))
        .agg(F.max(wexpr))
        .first()[0]
    )
    if maxw is None:
        return g.spark.createDataFrame([], "src long, dst long")
    inv = (F.lit(1.0 + float(maxw)) - wexpr)
    g2 = SparkGraph(
        und.filter(F.col("src") != F.col("dst")).select(
            "src", "dst", inv.alias("weight")
        ),
        g.vertices.select("id"),
        directed=False,
        coalesce_edges=False,
    )
    return max_weight_matching(g2, maxcardinality=True)
