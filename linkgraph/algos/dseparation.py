"""d-separation on DAGs.

Reference: ``networkx/algorithms/d_separation.py:231`` ``is_d_separator`` —
the two-deque modified Bayes-Ball walk (van der Zander & Liśkiewicz 2020):
a *backward* frontier carries the ball arriving against arc direction, a
*forward* frontier with it. Expansion rules, mirrored exactly:

- backward node ∉ Z: parents stay backward, children go forward;
  backward node ∈ Z: blocked.
- forward node ∈ ancestors(X) ∪ X ∪ Z: parents go backward (the collider
  ``→ w ←`` opens); forward node ∉ Z: children stay forward.
- X and Y are d-connected iff either walk ever reaches Y.

The distributed twin advances BOTH frontiers one superstep at a time
(frontier ⋈ arcs joins with per-mode visited anti-joins) — the same
O(n + m) total state the reference touches, sharded. The ancestor set
comes from one reverse multi-source BFS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError, NotImplementedForDirected
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count

__all__ = ["is_d_separator", "find_minimal_d_separator"]


def _ids(df: DataFrame) -> DataFrame:
    return df.select(F.col(df.columns[0]).cast("long").alias("id")).distinct()


def is_d_separator(
    g: SparkGraph, x: DataFrame, y: DataFrame, z: DataFrame
) -> bool:
    """True iff the node set ``z`` d-separates ``x`` from ``y`` in the DAG
    (``d_separation.py:231``). ``x``/``y``/``z`` are one-column id
    DataFrames. Raises like the reference: on undirected input, on
    non-disjoint sets, on unknown nodes, and on cyclic graphs.
    """
    if not g.directed:
        raise NotImplementedForDirected(
            "is_d_separator: not implemented for undirected type"
        )
    x, y, z = _ids(x), _ids(y), _ids(z)
    for a, b, names in ((x, y, "x∩y"), (x, z, "x∩z"), (y, z, "y∩z")):
        if a.join(b, "id", "left_semi").limit(1).count():
            raise NetworkXError(f"The sets are not disjoint ({names} nonempty)")
    all_ids = x.unionAll(y).unionAll(z).distinct()
    if all_ids.join(g.vertices.select("id"), "id", "left_anti").limit(1).count():
        raise ValueError("The node(s) are not found in G")
    from linkgraph.algos.dag import is_directed_acyclic_graph

    if not is_directed_acyclic_graph(g):
        raise NetworkXError("graph should be directed acyclic")

    from linkgraph.algos.setops import shortest_path_lengths

    with SuperstepCache(g.spark) as cache:
        arcs = cache.pin(g.edges.select("src", "dst").distinct())
        z = cache.pin(z)
        y = cache.pin(y)
        # ancestors(X) ∪ X ∪ Z — the forward-collider opening set
        ancestors = shortest_path_lengths(g.reverse(), x)
        anc_or_z = cache.truncate(
            ancestors.select("id").unionAll(z.select("id")).distinct()
        )
        cache.release(ancestors)
        bwd_frontier = cache.truncate(x)
        fwd_frontier = None  # empty
        bwd_seen = bwd_frontier
        fwd_seen = None
        # the start set itself may touch nothing; X∩Y is impossible (disjoint)
        while True:
            new_bwd_parts = []
            new_fwd_parts = []
            if bwd_frontier is not None:
                b_act = bwd_frontier.join(z, "id", "left_anti")
                new_bwd_parts.append(
                    arcs.join(b_act.withColumnRenamed("id", "dst"), "dst")
                    .select(F.col("src").alias("id"))
                )
                new_fwd_parts.append(
                    arcs.join(b_act.withColumnRenamed("id", "src"), "src")
                    .select(F.col("dst").alias("id"))
                )
            if fwd_frontier is not None:
                f_open = fwd_frontier.join(anc_or_z, "id", "left_semi")
                new_bwd_parts.append(
                    arcs.join(f_open.withColumnRenamed("id", "dst"), "dst")
                    .select(F.col("src").alias("id"))
                )
                f_pass = fwd_frontier.join(z, "id", "left_anti")
                new_fwd_parts.append(
                    arcs.join(f_pass.withColumnRenamed("id", "src"), "src")
                    .select(F.col("dst").alias("id"))
                )
            if not new_bwd_parts and not new_fwd_parts:
                return True
            nb = _step(cache, new_bwd_parts, bwd_seen)
            nf = _step(cache, new_fwd_parts, fwd_seen)
            if nb is None and nf is None:
                return True
            # reached Y in either mode → d-connected
            touch = None
            if nb is not None:
                touch = nb
            if nf is not None:
                touch = nf if touch is None else touch.unionAll(nf)
            if touch.join(y, "id", "left_semi").limit(1).count():
                return False
            # a seen set is retired once its successor is materialized
            if nb is not None:
                bwd_seen = cache.truncate(
                    nb if bwd_seen is None else bwd_seen.unionAll(nb).distinct(),
                    retire=bwd_seen,
                )
            if nf is not None:
                fwd_seen = cache.truncate(
                    nf if fwd_seen is None else fwd_seen.unionAll(nf).distinct(),
                    retire=fwd_seen,
                )
            bwd_frontier, fwd_frontier = nb, nf


def _step(cache: SuperstepCache, parts, seen):
    """The distinct union of ``parts`` minus ``seen``, truncated on
    ``cache``; None when ``parts`` is empty or the union has no new node."""
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out = out.distinct()
    if seen is not None:
        out = out.join(seen, "id", "left_anti")
    out, found = cache.truncate(out, figures=row_count())
    return out if found["rows"] else None


def _reachable(g: SparkGraph, x: DataFrame, a: DataFrame, z: DataFrame) -> DataFrame:
    """(id): closure of ``x`` under d-connected walks restricted to ``a``
    given conditioning set ``z`` — the ``REACHABLE`` procedure of van der
    Zander & Liśkiewicz 2020 (``d_separation.py:589``). State = (node,
    arrived-along-incoming-arc?); transitions per superstep:

    - to a predecessor n (leaving along an arc INTO v, f=False): allowed
      when v ∉ Z or the ball arrived along an incoming arc (the collider
      ``→ v ←`` opens for v ∈ Z);
    - to a successor n (f=True): allowed only when v ∉ Z;
    - always restricted to n ∈ A.
    """
    xx = _ids(x)
    with SuperstepCache(g.spark) as cache:
        arcs = cache.pin(g.edges.select("src", "dst").distinct())
        a = cache.pin(a.select(F.col(a.columns[0]).cast("long").alias("id")).distinct())
        z = cache.pin(z.select(F.col(z.columns[0]).cast("long").alias("id")).distinct())

        # start states: (v, e=True) if v has predecessors, (v, e=False) if v
        # has successors
        has_pred = xx.join(arcs.select(F.col("dst").alias("id")).distinct(), "id", "left_semi")
        has_succ = xx.join(arcs.select(F.col("src").alias("id")).distinct(), "id", "left_semi")
        frontier = cache.truncate(
            has_pred.select("id", F.lit(True).alias("e"))
            .unionAll(has_succ.select("id", F.lit(False).alias("e")))
            .distinct()
        )
        seen = frontier
        reached = xx.unionAll(frontier.select("id")).distinct()
        while True:
            fz = frontier.join(
                z.withColumn("_z", F.lit(True)), "id", "left"
            ).select("id", "e", F.col("_z").isNotNull().alias("in_z"))
            # backward moves (to predecessors, f=False): v not in Z or e
            back = (
                fz.filter(~F.col("in_z") | F.col("e"))
                .withColumnRenamed("id", "dst")
                .join(arcs, "dst")
                .select(F.col("src").alias("id"), F.lit(False).alias("e"))
            )
            # forward moves (to successors, f=True): v not in Z
            fwd = (
                fz.filter(~F.col("in_z"))
                .withColumnRenamed("id", "src")
                .join(arcs, "src")
                .select(F.col("dst").alias("id"), F.lit(True).alias("e"))
            )
            new, found = cache.truncate(
                back.unionAll(fwd)
                .distinct()
                .join(a, "id", "left_semi")
                .join(seen, ["id", "e"], "left_anti"),
                figures=row_count(),
            )
            if found["rows"] == 0:
                break
            seen = cache.truncate(seen.unionAll(new).distinct())
            reached = reached.unionAll(new.select("id")).distinct()
            frontier = new
        return cache.result(cache.truncate(reached))


def find_minimal_d_separator(
    g: SparkGraph,
    x: DataFrame,
    y: DataFrame,
    *,
    included: DataFrame = None,
    restricted: DataFrame = None,
):
    """A minimal d-separating set of ``x`` and ``y`` as an (id) DataFrame,
    or ``None`` when none exists (``d_separation.py:339``; van der Zander &
    Liśkiewicz 2020): two REACHABLE closures over the ancestor set of
    x ∪ y ∪ included. Deterministic — matches the reference set-for-set.
    """
    if not g.directed:
        raise NotImplementedForDirected(
            "find_minimal_d_separator: not implemented for directed type"
        )
    from linkgraph.algos.dag import is_directed_acyclic_graph

    if not is_directed_acyclic_graph(g):
        raise NetworkXError("graph should be directed acyclic")
    spark = g.spark
    x, y = _ids(x), _ids(y)
    inc = (
        _ids(included)
        if included is not None
        else spark.createDataFrame([], "id bigint")
    )
    rest = _ids(restricted) if restricted is not None else g.vertices.select("id")
    if inc.join(rest, "id", "left_anti").limit(1).count():
        raise NetworkXError("Included nodes must be in restricted nodes")
    for a_, b_ in ((x, y), (x, inc), (y, inc)):
        if a_.join(b_, "id", "left_semi").limit(1).count():
            raise NetworkXError("The sets x, y, included are not disjoint.")
    allv = x.unionAll(y).unionAll(inc).unionAll(rest).distinct()
    if allv.join(g.vertices.select("id"), "id", "left_anti").limit(1).count():
        raise ValueError("The node(s) are not found in G")

    nodeset = x.unionAll(y).unionAll(inc).distinct()
    with SuperstepCache(spark) as cache:
        # ancestors of the nodeset, nodeset included (distance 0 rows)
        anc = _ancestors(g, nodeset, cache)
        z_init = cache.pin(
            rest.join(anc, "id", "left_semi")
            .join(x, "id", "left_anti")
            .join(y, "id", "left_anti")
        )
        x_closure = _reachable(g, x, anc, z_init)
        try:
            if x_closure.join(y, "id", "left_semi").limit(1).count():
                return None
            z_updated = cache.pin(
                z_init.join(x_closure.unionAll(inc).distinct(), "id", "left_semi")
            )
            y_closure = _reachable(g, y, anc, z_updated)
            out = cache.truncate(
                z_updated.join(y_closure.unionAll(inc).distinct(), "id", "left_semi")
            )
            cache.release(y_closure)
            return cache.result(out)
        finally:
            cache.release(x_closure)


def _ancestors(g: SparkGraph, nodes: DataFrame, cache: SuperstepCache) -> DataFrame:
    """(id): ``nodes`` and their ancestors, a snapshot of ``cache``."""
    from linkgraph.algos.setops import shortest_path_lengths

    reach = shortest_path_lengths(g.reverse(), nodes)
    anc = cache.truncate(reach.select("id").distinct())
    cache.release(reach)
    return anc


def is_minimal_d_separator(
    g: SparkGraph,
    x: DataFrame,
    y: DataFrame,
    z: DataFrame,
    *,
    included: DataFrame = None,
    restricted: DataFrame = None,
) -> bool:
    """``d_separation.py`` ``is_minimal_d_separator`` — is ``z`` a
    d-separator of ``x``/``y`` no strict subset of which (respecting
    ``included`` ⊆ z ⊆ ``restricted``) still separates. Same two
    REACHABLE closures as :func:`find_minimal_d_separator` (van der
    Zander & Liśkiewicz 2020), each one distributed Bayes-Ball sweep."""
    from linkgraph.algos.dag import is_directed_acyclic_graph

    if not g.directed:
        raise NotImplementedForDirected(
            "is_minimal_d_separator: not implemented for undirected type"
        )
    if not is_directed_acyclic_graph(g):
        raise NetworkXError("graph should be directed acyclic")
    spark = g.spark
    x, y, z = _ids(x), _ids(y), _ids(z)
    inc = (
        _ids(included)
        if included is not None
        else spark.createDataFrame([], "id bigint")
    )
    rest = _ids(restricted) if restricted is not None else g.vertices.select("id")
    if inc.join(z, "id", "left_anti").limit(1).count():
        raise NetworkXError("Included nodes must be in proposed separating set z")
    if z.join(rest, "id", "left_anti").limit(1).count():
        raise NetworkXError("Separating set must be contained in restricted set")
    for a_, b_ in ((x, y), (x, z), (y, z)):
        if a_.join(b_, "id", "left_semi").limit(1).count():
            raise NetworkXError("The sets are not disjoint")
    allv = x.unionAll(y).unionAll(z).unionAll(inc).unionAll(rest).distinct()
    if allv.join(g.vertices.select("id"), "id", "left_anti").limit(1).count():
        raise ValueError("The node(s) are not found in G")

    nodeset = x.unionAll(y).unionAll(inc).distinct()
    with SuperstepCache(spark) as cache:
        anc = _ancestors(g, nodeset, cache)
        z = cache.pin(z)
        x_closure = _reachable(g, x, anc, z)
        try:
            if x_closure.join(y, "id", "left_semi").limit(1).count():
                return False
            if z.join(anc, "id", "left_anti").limit(1).count():
                return False
            y_closure = _reachable(g, y, anc, z)
            # every z-node outside `included` must be touched by BOTH closures
            need = z.join(inc, "id", "left_anti")
            ok = (
                need.join(
                    x_closure.join(y_closure, "id", "left_semi"), "id", "left_anti"
                )
                .limit(1)
                .count()
                == 0
            )
            cache.release(y_closure)
            return ok
        finally:
            cache.release(x_closure)
