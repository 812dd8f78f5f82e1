"""Optimum spanning arborescences — Edmonds / Chu-Liu
(``networkx/algorithms/tree/branchings.py`` ``minimum_spanning_arborescence``
/ ``maximum_spanning_arborescence``).

The reference's ``Edmonds`` class mutates one graph sequentially. The
distributed formulation is the classic parallel contraction loop (the same
skeleton as the Borůvka MST this repo already ships, plus Edmonds' reduced
costs). Per round, entirely as DataFrame ops:

1. **min in-arc**: every non-root node picks its cheapest incoming arc —
   one ``groupBy(head).min(struct(w, orig))`` with a deterministic
   ``(weight, orig_src, orig_dst)`` tie-break. A non-root node with no
   in-arc certifies "no spanning arborescence" (``branchings.py`` raises
   ``NetworkXException`` for the same condition).
2. **cycle detection**: the picks form a functional graph (out-degree ≤ 1
   pointers, root absorbing). Any walk of ≥ n steps ends on a cycle, so
   the image of the 2^K-step ancestor map (K = ⌈log₂ n⌉ + 1, computed by
   K pointer-doubling self-joins) is exactly {cycle nodes} ∪ {root} — no
   sequential tail peel.
3. **cycle labeling**: min-label connected components over the pick arcs
   restricted to cycle nodes (each component is exactly one cycle).
4. **contract**: map cycle nodes to their label, re-weight arcs entering a
   cycle by ``w − w(pick(head))`` (the reduced cost), drop intra-supernode
   arcs, keep the cheapest arc per (tail, head) supernode pair. Every arc
   row permanently carries its ORIGINAL (src, dst, weight) identity —
   unique per level by construction — plus ``enter`` = its head node id
   one level down, which is all the expansion needs.

No cycles → the picks ARE the arborescence on the contracted nodes.
Unwind newest-first: the one selected arc entering each contracted cycle
displaces the cycle's own pick at the node it enters (one anti-join on
``enter``); every other cycle pick joins the solution; selected arcs are
re-represented one level down by semi-joining their original ids. Rounds =
contraction depth ≤ n, in practice O(log n) (every round removes ≥1 node
per cycle and cycles cover ≥2 nodes each).

``root=None`` minimizes over all roots via the virtual-root reduction:
arcs (VR → v, W) with W above any achievable total; a spanning
arborescence exists iff the VR-rooted optimum uses exactly one virtual arc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.iterutils import SuperstepCache, loop_partitions, row_count
from linkgraph.exceptions import NetworkXError, NotImplementedForDirected

_VROOT = -(2**61)

# Arcs ArborescenceIterator collects onto the driver.
_DRIVER_EDGES = 1_000_000


def _rooted(
    edges: DataFrame, n0: int, root: int, spark, spanning: bool = False
) -> DataFrame:
    """Contraction + expansion. ``edges``: (src, dst, w, ow) no self-loops,
    w = working weight (negated for maximization), ow = original weight.
    Returns the selected original arcs (src, dst, weight). ``spanning``
    raises unless exactly one selected arc leaves ``root`` (the
    virtual-root reduction's test for a spanning arborescence). The
    loop's shuffles are sized by the ``n0`` nodes."""
    from linkgraph.algos.components import _components

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with SuperstepCache(spark, partitions=loop_partitions(n0, cap)) as loop:
        arcs = loop.truncate(
            edges.groupBy("src", "dst")
            .agg(F.min(F.struct("w", "ow")).alias("m"))
            .select(
                F.col("src").alias("u"),
                F.col("dst").alias("v"),
                F.col("m.w").alias("w"),
                F.col("src").alias("ou"),
                F.col("dst").alias("ov"),
                F.col("m.ow").alias("ow"),
                F.col("dst").alias("enter"),
            )
        )
        n_nodes = n0
        levels: list[tuple[DataFrame, DataFrame, DataFrame]] = []

        while True:
            picks, seen = loop.truncate(
                arcs.filter(F.col("v") != root)
                .groupBy("v")
                .agg(F.min(F.struct("w", "ou", "ov", "u", "ow", "enter")).alias("m"))
                .select(
                    "v",
                    F.col("m.u").alias("u"),
                    F.col("m.w").alias("w"),
                    F.col("m.ou").alias("ou"),
                    F.col("m.ov").alias("ov"),
                    F.col("m.ow").alias("ow"),
                    F.col("m.enter").alias("enter"),
                ),
                figures=row_count(),
            )
            if seen["rows"] < n_nodes - 1:
                raise NetworkXError("No spanning arborescence in G.")

            # cycle nodes = image of the 2^K-step ancestor map, root excluded
            anc = loop.truncate(
                picks.select("v", F.col("u").alias("a")).unionByName(
                    spark.createDataFrame([(int(root), int(root))], "v long, a long")
                )
            )
            for _ in range(max(1, int(n_nodes).bit_length() + 1)):
                anc = loop.truncate(
                    anc.join(
                        anc.select(F.col("v").alias("a"), F.col("a").alias("a2")),
                        "a",
                    ).select("v", F.col("a2").alias("a")),
                    retire=anc,
                )
            cyc_nodes, seen = loop.truncate(
                anc.filter(F.col("a") != root).select(F.col("a").alias("v")).distinct(),
                retire=anc,
                figures=row_count(),
            )
            if seen["rows"] == 0:
                selected = picks
                break

            # the cycle arcs are a snapshot of their own, so releasing the
            # labeling below frees it and the labeling's rounds only
            cyc_arcs = loop.truncate(
                picks.join(cyc_nodes, "v", "left_semi")
                .join(cyc_nodes.select(F.col("v").alias("u")), "u", "left_semi")
                .select(F.col("v").alias("src"), F.col("u").alias("dst")),
                retire=cyc_nodes,
            )
            cc = _components(
                SparkGraph(cyc_arcs, directed=False, coalesce_edges=False), loop
            )
            labels, seen = loop.truncate(
                cc.select(F.col("id").alias("node"), F.col("component").alias("super")),
                figures={
                    "nodes": F.count(F.lit(1)),
                    # a component is labeled by its least node
                    "supers": F.sum((F.col("node") == F.col("super")).cast("long")),
                },
            )
            loop.release(cc)
            levels.append((arcs, picks, labels))

            mapped = (
                arcs.join(
                    labels.select(F.col("node").alias("u"), F.col("super").alias("mu")),
                    "u",
                    "left",
                )
                .join(
                    labels.select(F.col("node").alias("v"), F.col("super").alias("mv")),
                    "v",
                    "left",
                )
                .join(picks.select("v", F.col("w").alias("pw")), "v", "left")
                .select(
                    F.coalesce("mu", "u").alias("nu"),
                    F.coalesce("mv", "v").alias("nv"),
                    F.when(F.col("mv").isNotNull(), F.col("w") - F.col("pw"))
                    .otherwise(F.col("w"))
                    .alias("w"),
                    "ou",
                    "ov",
                    "ow",
                    F.col("v").alias("enter"),
                )
                .filter(F.col("nu") != F.col("nv"))
            )
            arcs = loop.truncate(
                mapped.groupBy(F.col("nu").alias("u"), F.col("nv").alias("v"))
                .agg(F.min(F.struct("w", "ou", "ov", "ow", "enter")).alias("m"))
                .select(
                    "u",
                    "v",
                    F.col("m.w").alias("w"),
                    F.col("m.ou").alias("ou"),
                    F.col("m.ov").alias("ov"),
                    F.col("m.ow").alias("ow"),
                    F.col("m.enter").alias("enter"),
                )
            )
            n_contracted = seen["nodes"] - seen["supers"]
            if n_contracted <= 0:
                raise RuntimeError("arborescence contraction failed to shrink")
            n_nodes -= n_contracted

        # ---- expansion ------------------------------------------------- #
        sel = selected
        for arcs_l, picks_l, labels_l in reversed(levels):
            cyc_picks = picks_l.join(
                labels_l.select(F.col("node").alias("v")), "v", "left_semi"
            )
            kept_cyc = cyc_picks.join(
                sel.select(F.col("enter").alias("v")), "v", "left_anti"
            )
            sel_below = arcs_l.join(
                sel.select("ou", "ov"), ["ou", "ov"], "left_semi"
            )
            sel = loop.truncate(
                sel_below.select("v", "u", "w", "ou", "ov", "ow", "enter").unionByName(
                    kept_cyc.select("v", "u", "w", "ou", "ov", "ow", "enter")
                )
            )
            loop.release([arcs_l, picks_l, labels_l])
        out, seen = loop.truncate(
            sel.select(
                F.col("ou").alias("src"), F.col("ov").alias("dst"), F.col("ow").alias("weight")
            ),
            figures={"roots": F.sum((F.col("src") == root).cast("long"))},
        )
        if spanning and seen["roots"] != 1:
            raise NetworkXError("No spanning arborescence in G.")
        return loop.result(out)


def _prep(g: SparkGraph, maximize: bool) -> DataFrame:
    sign = F.lit(-1.0) if maximize else F.lit(1.0)
    return (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            (sign * F.col("weight")).cast("double").alias("w"),
            F.col("weight").cast("double").alias("ow"),
        )
    )


def _spanning_arborescence(
    g: SparkGraph, root, maximize: bool
) -> DataFrame:
    if not g.directed:
        raise NotImplementedForDirected(
            "spanning arborescence: not implemented for undirected type"
        )
    spark = g.spark
    edges = _prep(g, maximize)
    n = g.number_of_nodes()
    if n == 0:
        raise NetworkXError("No spanning arborescence in G.")
    if root is not None:
        return _rooted(edges, n, int(root), spark)

    # virtual-root reduction: W exceeds |sum of working weights|, so the
    # optimum never takes a second virtual arc when a real one exists
    big = edges.agg(F.coalesce(F.sum(F.abs("w")), F.lit(0.0))).first()[0] + 1.0
    varcs = g.vertices.select(
        F.lit(_VROOT).cast("long").alias("src"),
        F.col("id").cast("long").alias("dst"),
        F.lit(float(big)).alias("w"),
        F.lit(float(big)).alias("ow"),
    )
    sel = _rooted(edges.unionByName(varcs), n + 1, _VROOT, spark, spanning=True)
    return sel.filter(F.col("src") != _VROOT)


def minimum_spanning_arborescence(g: SparkGraph, *, root=None) -> DataFrame:
    """Arcs (src, dst, weight) of a minimum-total-weight spanning
    arborescence (``branchings.py`` ``minimum_spanning_arborescence``);
    ``root`` pins the root, ``None`` optimizes over roots like the
    reference. Raises :class:`NetworkXError` when none exists."""
    return _spanning_arborescence(g, root, maximize=False)


def maximum_spanning_arborescence(g: SparkGraph, *, root=None) -> DataFrame:
    """``branchings.py`` ``maximum_spanning_arborescence`` — weight-negated
    twin of the minimum variant."""
    return _spanning_arborescence(g, root, maximize=True)


def _branching(g: SparkGraph, maximize: bool) -> DataFrame:
    """Optimum branching (in-degree <= 1, acyclic, no spanning
    requirement): the virtual-root reduction with ZERO-weight virtual
    arcs — a real arc joins the solution iff it beats "no arc at all",
    which is exactly the reference's Edmonds style='branching'
    (``branchings.py:837``)."""
    if not g.directed:
        raise NotImplementedForDirected(
            "branching: not implemented for undirected type"
        )
    spark = g.spark
    edges = _prep(g, maximize)
    n = g.number_of_nodes()
    if n == 0:
        return spark.createDataFrame([], "src long, dst long, weight double")
    varcs = g.vertices.select(
        F.lit(_VROOT).cast("long").alias("src"),
        F.col("id").cast("long").alias("dst"),
        F.lit(0.0).alias("w"),
        F.lit(0.0).alias("ow"),
    )
    sel = _rooted(edges.unionByName(varcs), n + 1, _VROOT, spark)
    return sel.filter(F.col("src") != _VROOT)


def maximum_branching(g: SparkGraph) -> DataFrame:
    """``branchings.py`` ``maximum_branching`` — arcs (src, dst, weight)
    of a maximum-total-weight branching (only arcs with positive weight
    can help, so the result never spans unless profitable)."""
    return _branching(g, maximize=True)


def minimum_branching(g: SparkGraph) -> DataFrame:
    """``branchings.py`` ``minimum_branching`` — minimum-weight twin
    (only negative-weight arcs lower the total)."""
    return _branching(g, maximize=False)


# ---------------------------------------------------------------------- #
# ArborescenceIterator (``tree/branchings.py`` class ArborescenceIterator)
# ---------------------------------------------------------------------- #


def _driver_min_arborescence(nodes, arcs, partition, minimum):
    """Chu-Liu/Edmonds over the collected arc list, honoring a partition
    of forced-included / excluded arcs; returns (total weight over the
    ORIGINAL weights, arc list) or None when infeasible. The iterator's
    inner kernel — the distributed Edmonds above stays the one-shot API.
    """
    INC, EXC = 1, 2
    big = sum(abs(w) for _, _, w in arcs) + 1.0
    sign = 1.0 if minimum else -1.0
    work = []
    mod_w = {}
    for (u, v, w) in arcs:
        st = partition.get((u, v), 0)
        if st == EXC:
            continue
        ww = sign * w - (2 * big if st == INC else 0.0)
        work.append((u, v, ww, (u, v, w)))
        mod_w[(u, v)] = ww
    best = None
    for root in nodes:
        chosen = _chu_liu(list(nodes), work, root)
        if chosen is None:
            continue
        total_mod = sum(mod_w[(u, v)] for u, v, _ in chosen)
        if best is None or total_mod < best[0]:
            best = (total_mod, chosen)
    if best is None:
        return None
    chosen = best[1]
    chosen_set = {(u, v) for u, v, _ in chosen}
    for (u, v), st in partition.items():
        if st == INC and (u, v) not in chosen_set:
            return None
    total = sum(w for _, _, w in chosen)
    return total, chosen


def _chu_liu(nodes, arcs, root):
    """Minimum arborescence rooted at ``root`` by recursive cycle
    contraction. ``arcs`` rows are (u, v, w, payload); returns the list
    of chosen payloads (at the top level: original (u, v, w) triples) or
    None when some node is unreachable."""
    best_in = {}
    for u, v, w, pl in arcs:
        if v == root or u == v:
            continue
        if v not in best_in or w < best_in[v][2]:
            best_in[v] = (u, v, w, pl)
    for v in nodes:
        if v != root and v not in best_in:
            return None
    # cycle among the picks?
    color = {}
    cycle = None
    for v in nodes:
        if v == root or v in color:
            continue
        path = []
        x = v
        while x != root and color.get(x) is None:
            color[x] = v
            path.append(x)
            x = best_in[x][0]
        if x != root and color.get(x) == v and x in path:
            cycle = path[path.index(x):]
            break
    if cycle is None:
        return [best_in[v][3] for v in nodes if v != root]
    cyc = set(cycle)
    super_id = ("C", min(map(repr, cycle)))
    new_nodes = [n for n in nodes if n not in cyc] + [super_id]
    new_arcs = []
    for u, v, w, pl in arcs:
        if u in cyc and v in cyc:
            continue
        if v in cyc:
            new_arcs.append((u, super_id, w - best_in[v][2],
                             ("__enter__", pl, v)))
        elif u in cyc:
            new_arcs.append((super_id, v, w, pl))
        else:
            new_arcs.append((u, v, w, pl))
    sub = _chu_liu(new_nodes, new_arcs, root)
    if sub is None:
        return None
    out = []
    entered = None
    for item in sub:
        if isinstance(item, tuple) and len(item) == 3 and item[0] == "__enter__":
            out.append(item[1])
            entered = item[2]
        else:
            out.append(item)
    for c in cycle:
        if c != entered:
            out.append(best_in[c][3])
    return out


class ArborescenceIterator:
    """``tree/branchings.py`` ``ArborescenceIterator`` — every spanning
    arborescence of a digraph in nondecreasing (or nonincreasing) weight
    order, via the same included/excluded/open partition scheme as
    :class:`linkgraph.algos.mst.SpanningTreeIterator`; yields directed
    SparkGraphs. Driver-gated enumeration (output may be exponential)."""

    def __init__(self, g, weight="weight", minimum: bool = True,
                 init_partition=None):
        from linkgraph.graph import resolve_weight_column

        if not g.directed:
            raise NetworkXError("ArborescenceIterator needs a directed graph")
        self.g = g
        self.minimum = minimum
        base = g.edges
        self.arcs = [
            (r["src"], r["dst"], float(r["w"]))
            for r in driver_rows(
                base.select(
                    "src", "dst", resolve_weight_column(base, weight).alias("w")
                ),
                _DRIVER_EDGES, "ArborescenceIterator",
            )
        ]
        self.nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
        self.init_partition = {}
        if init_partition is not None:
            included, excluded = init_partition
            for (u, v) in included:
                self.init_partition[(u, v)] = 1
            for (u, v) in excluded:
                self.init_partition[(u, v)] = 2

    def __iter__(self):
        import heapq

        sign = 1.0 if self.minimum else -1.0
        counter = 0
        heap = []
        first = _driver_min_arborescence(
            self.nodes, self.arcs, self.init_partition, self.minimum
        )
        if first is not None:
            heapq.heappush(
                heap, (sign * first[0], counter, dict(self.init_partition))
            )
            counter += 1
        while heap:
            _, _, part = heapq.heappop(heap)
            total, tree = _driver_min_arborescence(
                self.nodes, self.arcs, part, self.minimum
            )
            yield self._to_graph(tree)
            new_part = dict(part)
            for u, v, w in tree:
                if part.get((u, v), 0) != 0:
                    continue
                p_exc = dict(new_part)
                p_exc[(u, v)] = 2
                got = _driver_min_arborescence(
                    self.nodes, self.arcs, p_exc, self.minimum
                )
                if got is not None:
                    heapq.heappush(heap, (sign * got[0], counter, p_exc))
                    counter += 1
                new_part[(u, v)] = 1

    def _to_graph(self, tree):
        from linkgraph.graph import SparkGraph

        e = self.g.spark.createDataFrame(
            [(u, v, w) for u, v, w in sorted(tree)] or [],
            "src long, dst long, weight double",
        )
        return SparkGraph(e, self.g.vertices.select("id"), directed=True,
                          coalesce_edges=False)


def branching_weight(g: SparkGraph, attr="weight", default: float = 1) -> float:
    """``tree/branchings.py`` ``branching_weight`` — the total edge
    weight of a branching graph; one aggregate."""
    from pyspark.sql import functions as F

    if attr in g.edges.columns:
        col = F.coalesce(F.col(attr).cast("double"), F.lit(float(default)))
    else:
        col = F.lit(float(default))
    row = g.edges.agg(F.sum(col)).collect()[0][0]
    return float(row or 0.0)


def greedy_branching(g: SparkGraph, attr="weight", default: float = 1,
                     kind: str = "max", seed: int = 0) -> DataFrame:
    """``tree/branchings.py`` ``greedy_branching`` — scan arcs by weight
    (desc for ``max``), keep an arc when its head is still free and it
    closes no cycle (union-find). The scan order IS the algorithm —
    driver kernel; returns the branching arcs (src, dst, weight)."""
    from pyspark.sql import functions as F

    if kind not in ("min", "max"):
        raise NetworkXError("Unknown value for `kind`.")
    if attr in g.edges.columns:
        rows = [
            (r["src"], r["dst"],
             float(r[attr]) if r[attr] is not None else float(default))
            for r in g.edges.select("src", "dst", attr).collect()
        ]
    else:
        rows = [
            (r["src"], r["dst"], float(default))
            for r in g.edges.select("src", "dst").collect()
        ]
    rows.sort(key=lambda t: (t[2], t[0], t[1]), reverse=(kind == "max"))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    taken_head = set()
    out = []
    for u, v, w in rows:
        if find(u) == find(v) or v in taken_head:
            continue
        parent[find(u)] = find(v)
        taken_head.add(v)
        out.append((u, v, w))
    return g.spark.createDataFrame(
        sorted(out) or [], "src long, dst long, weight double"
    )


def minimal_branching(g: SparkGraph, *, attr="weight", default: float = 1) -> DataFrame:
    """``tree/branchings.py`` ``minimal_branching`` — minimum SPANNING
    branching via the reference's flip ``w' = Wmax + 1 + (Wmax − Wmin)
    − w`` (all weights positive, so the maximum branching spans) then
    un-flip. Runs on the distributed Edmonds kernel."""
    from pyspark.sql import functions as F

    if attr in g.edges.columns:
        col = F.coalesce(F.col(attr).cast("double"), F.lit(float(default)))
    else:
        col = F.lit(float(default))
    stats = g.edges.agg(
        F.max(col).alias("mx"), F.min(col).alias("mn")
    ).collect()[0]
    mx = float(stats["mx"] if stats["mx"] is not None else default)
    mn = float(stats["mn"] if stats["mn"] is not None else default)
    shift = mx + 1 + (mx - mn)
    flipped = SparkGraph(
        g.edges.select(
            "src", "dst", (F.lit(shift) - col).alias("weight")
        ),
        g.vertices.select("id"),
        directed=True,
        coalesce_edges=False,
    )
    b = maximum_branching(flipped)
    return b.select(
        "src", "dst", (F.lit(shift) - F.col("weight")).alias("weight")
    )
