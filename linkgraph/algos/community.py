"""Community detection: Newman modularity and Louvain.

- :func:`modularity` — exact ``nx.community.modularity`` semantics
  (``networkx/algorithms/community/quality.py:145``): for undirected
  graphs Q = Σ_c [L_c/m − γ·(D_c/2m)²] where L_c is intra-community edge
  weight (self-loops once), D_c the community degree sum (self-loops
  twice), m = D/2; directed uses L_c/m − γ·D_c_out·D_c_in/m². Raises when
  ``communities`` is not a partition of the node set, mirroring
  ``NotAPartition``. One join + two aggregations — fully SQL-expressible.

- :func:`louvain_communities` — the Louvain method
  (``networkx/algorithms/community/louvain.py:16``; Blondel et al. 2008)
  re-expressed for synchronous distributed execution. The reference's
  local-moving phase sweeps nodes one at a time in seeded-shuffle order
  (``louvain.py:269``) — inherently sequential, so bit-identical output is
  out of reach by design. This twin keeps the same gain formula
  (``_one_level``, ``louvain.py:227``: remove_cost + k_i,in/m −
  γ·Stot·k_i/2m²) and level structure (local moves to a fixpoint, then
  community-aggregation coarsening), but evaluates all nodes' best moves
  per superstep from the same snapshot and applies a deterministic
  hash-coin half of the positive-gain moves per round — the standard
  guard against the A↔B swap oscillation of synchronous Louvain
  (cf. distributed Louvain literature, e.g. Que et al. IPDPS'15). Results
  are valid Louvain partitions, deterministic for a fixed seed; quality is
  asserted via :func:`modularity` in the parity tests rather than exact
  set equality.

Scale notes. One move round is: arcs ⋈ state (hash join on the pinned arc
layout) → two shuffle aggregations → one state checkpoint. The per-node
degree and community live in ONE state table, so no per-round degree join;
the community-strength table ``stot`` stays a lazy aggregate of that state.
Each level re-sizes ``spark.sql.shuffle.partitions`` to its arc count —
coarsened levels shrink geometrically and would otherwise pay the full
fan-out in empty-task scheduling (the local-bench killer, and at 1000
executors the same waste in reverse).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.iterutils import SuperstepCache, loop_partitions


# Arcs greedy_modularity_communities collects onto the driver.
_DRIVER_ARCS = 5_000_000

__all__ = [
    "modularity",
    "louvain_communities",
    "leiden_communities",
    "greedy_modularity_communities",
    "partition_quality",
]

def _require_partition(g: SparkGraph, communities: DataFrame) -> None:
    """Raise like ``NotAPartition`` (``quality.py:107``) unless every node
    appears exactly once. Two anti-join probes, no collect."""
    ids = g.vertices.select("id")
    com = communities.select(F.col(communities.columns[0]).alias("id"))
    missing = ids.join(com, "id", "left_anti").limit(1).count()
    extra_or_dup = (
        com.join(ids, "id", "left_anti").limit(1).count()
        or com.groupBy("id").count().filter(F.col("count") > 1).limit(1).count()
    )
    if missing or extra_or_dup:
        raise ValueError("communities is not a valid partition of the graph nodes")


def modularity(
    g: SparkGraph, communities: DataFrame, *, resolution: float = 1.0
) -> float:
    """Exact Newman modularity of a partition. ``communities`` is a
    two-column DataFrame ``(id, community)``."""
    _require_partition(g, communities)
    com = communities.select(
        F.col(communities.columns[0]).cast("long").alias("id"),
        F.col(communities.columns[1]).alias("community"),
    )
    return _modularity_unchecked(g, com, resolution)


def _modularity_unchecked(
    g: SparkGraph, com: DataFrame, resolution: float
) -> float:
    """Newman modularity without the partition probes — internal path for
    the Louvain level loop, where the partition is valid by construction.
    One action (a single summed DataFrame)."""
    e = g.edges  # canonical storage: undirected rows once, self-loops once
    lab = com.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    lab2 = com.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    tagged = e.join(lab, "src").join(lab2, "dst")
    intra = tagged.filter(F.col("c_src") == F.col("c_dst")).groupBy(
        F.col("c_src").alias("community")
    ).agg(F.sum("weight").alias("lc"))

    if g.directed:
        m = e.agg(F.sum("weight")).first()[0]
        if not m:
            return 0.0
        m = float(m)
        outd = (
            e.join(lab, "src")
            .groupBy(F.col("c_src").alias("community"))
            .agg(F.sum("weight").alias("dout"))
        )
        ind = (
            e.join(lab2, "dst")
            .groupBy(F.col("c_dst").alias("community"))
            .agg(F.sum("weight").alias("din"))
        )
        per = (
            outd.join(ind, "community", "full")
            .join(intra, "community", "left")
            .select(
                (
                    F.coalesce("lc", F.lit(0.0)) / m
                    - F.lit(resolution)
                    * F.coalesce("dout", F.lit(0.0))
                    * F.coalesce("din", F.lit(0.0))
                    / (m * m)
                ).alias("q")
            )
        )
    else:
        # degree sum: each canonical row credits both endpoints (self-loop
        # row credits its node twice), matching nx degree semantics
        contrib = e.select(F.col("src").alias("id"), "weight").unionAll(
            e.select(F.col("dst").alias("id"), "weight")
        )
        deg = contrib.groupBy("id").agg(F.sum("weight").alias("k"))
        deg_sum = deg.agg(F.sum("k")).first()[0]  # = 2m
        if not deg_sum:
            return 0.0
        deg_sum = float(deg_sum)
        m = deg_sum / 2.0
        dsum = (
            com.join(deg, "id")
            .groupBy("community")
            .agg(F.sum("k").alias("dc"))
        )
        per = dsum.join(intra, "community", "left").select(
            (
                F.coalesce("lc", F.lit(0.0)) / m
                - F.lit(resolution)
                * F.col("dc")
                * F.col("dc")
                / (deg_sum * deg_sum)
            ).alias("q")
        )
    return float(per.agg(F.sum("q")).first()[0] or 0.0)


def _level_tables(g: SparkGraph):
    """(arcs-without-self-loops, initial state, m, arc_count) for one level.

    ``arcs`` is the symmetric neighbour-weight table (directed graphs merge
    out- and in-arcs, ``louvain.py:252-261``), hash-partitioned by ``dst``
    and pinned so every round's state join reuses the layout and only the
    small state side shuffles. The state table carries the per-node degree
    columns alongside the community label — the degrees are level constants,
    so folding them into the state removes a join from every round.

    Undirected state: ``(id, community, k)`` with self-loops counted twice
    in ``k`` and m = Σk/2. Directed: ``(id, community, kout, kin)``,
    m = total arc weight.
    """
    e = g.edges
    if g.directed:
        outd = e.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("kout"))
        ind = e.groupBy(F.col("dst").alias("id")).agg(F.sum("weight").alias("kin"))
        state = (
            g.vertices.select("id")
            .join(outd, "id", "left")
            .join(ind, "id", "left")
            .select(
                "id",
                F.col("id").alias("community"),
                F.coalesce("kout", F.lit(0.0)).alias("kout"),
                F.coalesce("kin", F.lit(0.0)).alias("kin"),
            )
        )
        m = e.agg(F.sum("weight")).first()[0]
        noself = e.filter(F.col("src") != F.col("dst"))
        arcs = noself.select("src", "dst", "weight").unionAll(
            noself.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
        arcs = arcs.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    else:
        contrib = e.select(F.col("src").alias("id"), "weight").unionAll(
            e.select(F.col("dst").alias("id"), "weight")
        )
        state = (
            g.vertices.select("id")
            .join(contrib.groupBy("id").agg(F.sum("weight").alias("k")), "id", "left")
            .select(
                "id",
                F.col("id").alias("community"),
                F.coalesce("k", F.lit(0.0)).alias("k"),
            )
        )
        m = e.agg(F.sum("weight")).first()[0]
        noself = e.filter(F.col("src") != F.col("dst"))
        arcs = noself.unionAll(
            noself.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
    return arcs, state, float(m or 0.0)


def _one_level(
    g: SparkGraph,
    cache: SuperstepCache,
    *,
    resolution: float,
    seed: int,
    max_move_rounds: int,
) -> DataFrame:
    """Local-moving phase on one level graph: returns ``(id, community)``.

    Per round (one snapshot, synchronous):
    1. ``w2c``: Σ weight from node i to each neighbouring community, union'd
       with a zero-weight row for i's OWN community so every node scores its
       stay option through the same formula — exactly ``_one_level``'s
       defaultdict semantics (``louvain.py:276-315``: w(i→c_i) defaults
       to 0 when i has no intra-community neighbour).
    2. score(c) = w(i→c)/m − γ·k_i·Stot'(c)/(2m²) per candidate, where
       Stot' has i removed when c is i's own community; gain = best
       foreign score − stay score.
    3. Nodes with a strictly positive best gain move — gated by a per-round
       hash coin (about half move) to break synchronous A↔B swaps;
       converged when no node has a positive gain. ONE checkpoint per round
       (the next state, carrying a had-gain flag for the termination probe).
    """
    spark = g.spark
    arcs, state0, m = _level_tables(g)
    if m <= 0:
        return g.vertices.select("id", F.col("id").alias("community"))
    directed = g.directed

    n_arcs = arcs.count()
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = loop_partitions(n_arcs, default_parts)

    with SuperstepCache(spark, partitions=parts) as level:
        arcs = level.pin(arcs.repartition(parts, "dst"))
        state = cache.truncate(state0)
        carry = ["kout", "kin"] if directed else ["k"]
        for rnd in range(max_move_rounds):
            if directed:
                stot = state.groupBy("community").agg(
                    F.sum("kout").alias("s_out"), F.sum("kin").alias("s_in")
                )
            else:
                stot = state.groupBy("community").agg(F.sum("k").alias("s"))
            # weights from each node to each neighbouring community, plus a
            # zero row for the node's own community (see docstring)
            w2c = (
                arcs.join(
                    state.select(
                        F.col("id").alias("dst"), F.col("community").alias("c")
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"), "c")
                .agg(F.sum("weight").alias("w"))
                .unionByName(
                    state.select(
                        "id",
                        F.col("community").alias("c"),
                        F.lit(0.0).alias("w"),
                    )
                )
                .groupBy("id", "c")
                .agg(F.sum("w").alias("w"))
            )
            cand = w2c.join(state, "id").join(
                stot.withColumnRenamed("community", "c"), "c"
            )
            is_own = F.col("c") == F.col("community")
            if directed:
                s_in_adj = F.col("s_in") - F.when(is_own, F.col("kin")).otherwise(
                    F.lit(0.0)
                )
                s_out_adj = F.col("s_out") - F.when(is_own, F.col("kout")).otherwise(
                    F.lit(0.0)
                )
                score = F.col("w") / m - F.lit(resolution) * (
                    F.col("kout") * s_in_adj + F.col("kin") * s_out_adj
                ) / (m * m)
            else:
                s_adj = F.col("s") - F.when(is_own, F.col("k")).otherwise(F.lit(0.0))
                score = F.col("w") / m - F.lit(resolution) * (
                    s_adj * F.col("k")
                ) / (2.0 * m * m)
            agg = (
                cand.select(
                    "id", "c", *carry, score.alias("score"), is_own.alias("is_own")
                )
                .groupBy("id")
                .agg(
                    *[F.first(col).alias(col) for col in carry],
                    F.max(F.when(F.col("is_own"), F.col("c"))).alias("community"),
                    F.max(F.when(F.col("is_own"), F.col("score"))).alias("stay"),
                    F.max(F.when(~F.col("is_own"), F.col("score"))).alias(
                        "best_score"
                    ),
                    F.max_by(
                        F.when(~F.col("is_own"), F.col("c")),
                        F.when(
                            ~F.col("is_own"),
                            F.struct(F.col("score"), (-F.col("c")).alias("tie")),
                        ),
                    ).alias("new_c"),
                )
            )
            has_gain = F.col("best_score").isNotNull() & (
                F.col("best_score") - F.col("stay") > 1e-12
            )
            moves = F.pmod(F.xxhash64("id", F.lit(seed), F.lit(rnd)), F.lit(2)) == 0
            nxt = agg.select(
                "id",
                F.when(has_gain & moves, F.col("new_c"))
                .otherwise(F.col("community"))
                .alias("community"),
                *carry,
                has_gain.alias("_gain"),
            )
            # ONE checkpoint per round: re-roots the ~6-join plan (Catalyst
            # analysis goes superlinear if plans compound across rounds) and
            # backs both the termination probe and the next round's reads
            nxt = cache.truncate(nxt, retire=state)
            state = nxt
            if state.filter(F.col("_gain")).limit(1).count() == 0:
                break
    return state.select("id", "community")


def _refine_connectivity(
    level_g: SparkGraph, comm: DataFrame, cache: SuperstepCache
) -> DataFrame:
    """Leiden refinement, connectivity form (Traag, Waltman & van Eck 2019,
    "From Louvain to Leiden", §A refinement): split every community into
    its connected components so no community is internally disconnected —
    the paper's headline defect of Louvain. Splitting a disconnected
    community never lowers Q (intra weight is unchanged; the degree-sum
    penalty (D/2m)² strictly drops), so refined levels dominate unrefined
    ones. Reuses the large-star/small-star CC machinery over the
    intra-community edge set — one extra CC run per level, on ``cache``,
    whose exit releases its labeling."""
    from linkgraph.algos.components import _components

    lab = comm.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    lab2 = comm.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    intra = (
        level_g.edges.join(lab, "src")
        .join(lab2, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .select("src", "dst", "weight")
    )
    sub = SparkGraph(
        intra,
        level_g.vertices.select("id"),
        directed=False,  # weak connectivity is the Leiden criterion
        coalesce_edges=False,
    )
    cc = _components(sub, cache)
    return cache.truncate(cc.select("id", F.col("component").alias("community")))


def partition_quality(
    g: SparkGraph, communities: DataFrame
) -> "tuple[float, float]":
    """``(coverage, performance)`` of a partition —
    ``networkx/algorithms/community/quality.py:346``.

    Coverage is the intra-community edge fraction; performance is
    ``(intra edges + inter-community non-edges) / total node pairs``
    (``quality.py:166,259`` semantics, multigraph edges counted with
    multiplicity). Plan: one edges⋈labels⋈labels tagging pass for the
    intra count plus one community-size aggregation — the non-edge term is
    closed-form (``Σ s_c·(s_c−1)`` pairs), never enumerated.
    """
    _require_partition(g, communities)
    com = communities.select(
        F.col(communities.columns[0]).cast("long").alias("id"),
        F.col(communities.columns[1]).alias("community"),
    )
    m = g.number_of_edges()
    n = g.number_of_nodes()
    lab_s = com.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    lab_d = com.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    intra = (
        g.edges.join(lab_s, "src")
        .join(lab_d, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .count()
    )
    inter = m - intra
    pair_row = (
        com.groupBy("community")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1)).alias("p"))
        .first()
    )
    intra_pairs = int(pair_row["p"] or 0)
    total_pairs = n * (n - 1)
    if not g.directed:
        intra_pairs //= 2
        total_pairs //= 2
    coverage = intra / m if m else 1.0
    performance = (
        (intra + (total_pairs - intra_pairs - inter)) / total_pairs
        if total_pairs
        else 1.0
    )
    return coverage, performance


def louvain_communities(
    g: SparkGraph,
    *,
    resolution: float = 1.0,
    threshold: float = 1e-7,
    max_level: Optional[int] = None,
    seed: int = 42,
    max_move_rounds: int = 50,
) -> DataFrame:
    """Louvain partition as ``(id, community)`` over the ORIGINAL node ids;
    the community label is the minimum member id (deterministic).

    Level loop mirrors ``louvain_partitions`` (``louvain.py:135``): local
    moves to a fixpoint, stop when the level's modularity gain ≤
    ``threshold`` (or ``max_level`` reached), else coarsen communities into
    super-nodes (intra-community weight becomes a self-loop) and recurse.
    The per-level modularity is computed on the LEVEL graph — Q is
    invariant under the coarsening (the self-loop carries L_c, the
    super-node degree carries D_c), so this matches the reference's value
    while touching only the (geometrically shrinking) coarsened tables.
    """
    return _partition_levels(
        g,
        refine=False,
        resolution=resolution,
        threshold=threshold,
        max_level=max_level,
        seed=seed,
        max_move_rounds=max_move_rounds,
    )


def leiden_communities(
    g: SparkGraph,
    *,
    resolution: float = 1.0,
    threshold: float = 1e-7,
    max_level: Optional[int] = None,
    seed: int = 42,
    max_move_rounds: int = 50,
) -> DataFrame:
    """Leiden partition (Traag et al. 2019; the reference grew
    ``nx.community.leiden_communities`` alongside ``louvain.py``):
    the Louvain level loop with a CONNECTIVITY REFINEMENT pass between
    local moving and coarsening, so every returned community is internally
    connected — the guarantee Louvain lacks. The refinement is the
    deterministic connectivity form (see :func:`_refine_connectivity`);
    the paper's randomized merge queue has no distributed analog, and the
    connectivity guarantee plus the Q-dominance argument are what the
    parity tests pin (partition validity, every community connected,
    modularity >= Louvain's on the same fixture and seed)."""
    return _partition_levels(
        g,
        refine=True,
        resolution=resolution,
        threshold=threshold,
        max_level=max_level,
        seed=seed,
        max_move_rounds=max_move_rounds,
    )


def _partition_levels(
    g: SparkGraph,
    *,
    refine: bool,
    resolution: float,
    threshold: float,
    max_level: Optional[int],
    seed: int,
    max_move_rounds: int,
) -> DataFrame:
    with SuperstepCache(g.spark) as cache:
        # mapping from original id to current community
        mapping = cache.truncate(g.vertices.select("id", F.col("id").alias("community")))
        level_g = g
        prev_q = _modularity_unchecked(
            g, g.vertices.select("id", F.col("id").alias("community")), resolution
        )
        level = 0
        while True:
            level += 1
            comm = _one_level(
                level_g,
                cache,
                resolution=resolution,
                seed=seed + level,
                max_move_rounds=max_move_rounds,
            )
            if refine:
                comm = _refine_connectivity(level_g, comm, cache)
            # compose: original -> old community -> new community
            new_mapping = cache.truncate(
                mapping.join(
                    comm.select(
                        F.col("id").alias("community"), F.col("community").alias("c2")
                    ),
                    "community",
                ).select("id", F.col("c2").alias("community")),
                retire=mapping,
            )
            q = _modularity_unchecked(level_g, comm, resolution)
            mapping = new_mapping
            if q - prev_q <= threshold:
                break
            prev_q = q
            if max_level is not None and level >= max_level:
                break
            # coarsen: communities become nodes; weights aggregate; intra
            # weight becomes a self-loop (canonicalization handles orientation)
            lab = comm.select(
                F.col("id").alias("src"), F.col("community").alias("c_src")
            )
            lab2 = comm.select(
                F.col("id").alias("dst"), F.col("community").alias("c_dst")
            )
            e2 = (
                level_g.edges.join(lab, "src")
                .join(lab2, "dst")
                .select(
                    F.col("c_src").alias("src"), F.col("c_dst").alias("dst"), "weight"
                )
            )
            v2 = comm.select(F.col("community").alias("id")).distinct()
            # materialize the coarsened tables: without this each level's plan
            # embeds every previous level's joins and the driver OOMs on plan
            # bookkeeping alone after a few levels
            coarse = SparkGraph(e2, v2, directed=g.directed, coalesce_edges=True)
            level_g = SparkGraph(
                cache.truncate(coarse.edges),
                cache.truncate(coarse.vertices),
                directed=g.directed,
                coalesce_edges=False,
            )
        # deterministic label: min original member id
        canon = mapping.groupBy("community").agg(F.min("id").alias("label"))
        out = mapping.join(canon, "community").select(
            "id", F.col("label").alias("community")
        )
        out = cache.truncate(out, retire=mapping)
        return cache.result(out)

def greedy_modularity_communities(
    g: SparkGraph,
    *,
    weight: bool = False,
    resolution: float = 1.0,
    cutoff: int = 1,
    best_n: Optional[int] = None,
) -> DataFrame:
    """Clauset–Newman–Moore greedy modularity maximization
    (``community/modularity_max.py:228``) as ``(id, community)``; the
    community label is the minimum member id (deterministic). The default
    ``weight=False`` counts every edge as 1, matching the reference's
    default ``weight=None``; ``weight=True`` uses the edge ``weight``
    column (= reference ``weight="weight"``).

    Scale note: the CNM merge schedule is inherently sequential — every
    merge's ΔQ depends on all previous merges — so no shuffle-parallel
    schedule reproduces it. The engine aggregates the weighted simple
    arc table distributively (one groupBy), then runs the published heap
    loop on the driver under the size guard, the same pattern as the
    exact-parity LPA coloring path. For distributed community detection
    at 100 TB scale use :func:`louvain_communities` /
    :func:`leiden_communities`.

    Parity: merge selection is "largest ΔQ, ties toward the smallest
    ordered pair", the popped pair (u, v) merges u INTO v, and the ΔQ
    init/update arithmetic keeps the reference's operation order, so
    results are bit-identical to the reference on unit-weight graphs
    (pinned in tests/test_community_greedy.py). While ΔQ > 0 a merge
    always joins two communities sharing an edge, so every returned
    community is connected — the invariant the driver query checks.
    """
    import heapq

    n_nodes = g.number_of_nodes()
    if cutoff < 1 or cutoff > max(n_nodes, 1):
        raise ValueError(f"cutoff must be between 1 and {n_nodes}. Got {cutoff}.")
    if best_n is not None:
        if best_n < 1 or best_n > max(n_nodes, 1):
            raise ValueError(
                f"best_n must be between 1 and {n_nodes}. Got {best_n}."
            )
        if best_n < cutoff:
            raise ValueError(f"Must have best_n >= cutoff. Got {best_n} < {cutoff}")

    # Distributed prep: simple weighted arc list (self-loops contribute to
    # m but never to a pair entry, like the reference's generator).
    wcol = F.col("weight").cast("double") if weight else F.lit(1.0)
    arcs = (
        g.edges.select("src", "dst", wcol.alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    rows = driver_rows(
        arcs, _DRIVER_ARCS,
        "CNM's merge schedule is sequential; the driver loop collects the arc "
        "list",
        "Use louvain_communities for the scale path.",
    )
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    spark = g.spark

    def _result(members_map) -> DataFrame:
        out = []
        for mem in members_map:
            lab = min(mem)
            out.extend((n, lab) for n in mem)
        return spark.createDataFrame(out or [], "id long, community long")

    m = sum(r["w"] for r in rows)
    if not rows or m == 0.0 or (best_n == 1):
        if best_n == 1 and nodes:
            return _result([nodes])
        return _result([[n] for n in nodes])

    q0 = 1.0 / m
    # a: out-degree fraction, b: in-degree fraction (a is b undirected);
    # degrees summed first, scaled once (deg * q0 * 0.5) so the floats
    # match the reference's init arithmetic bit-for-bit on unit weights
    deg_out = {n: 0.0 for n in nodes}
    deg_in = {n: 0.0 for n in nodes}
    wt: dict = {n: {} for n in nodes}
    for r in sorted(rows, key=lambda r: (r["src"], r["dst"])):
        u, v, w = r["src"], r["dst"], r["w"]
        deg_out[u] += w
        deg_in[v] += w
        if not g.directed:
            deg_out[v] += w
            deg_in[u] += w
        if u != v:
            wt[u][v] = wt[u].get(v, 0.0) + w
            wt[v][u] = wt[v].get(u, 0.0) + w
    if g.directed:
        a = {n: d * q0 for n, d in deg_out.items()}
        b = {n: d * q0 for n, d in deg_in.items()}
    else:
        a = b = {n: d * q0 * 0.5 for n, d in deg_out.items()}

    dq: dict = {
        u: {
            v: q0 * w_uv - resolution * (a[u] * b[v] + b[u] * a[v])
            for v, w_uv in nbrs.items()
        }
        for u, nbrs in wt.items()
    }
    heap = [(-d, u, v) for u, nbrs in dq.items() for v, d in nbrs.items()]
    heapq.heapify(heap)
    members: dict = {n: [n] for n in nodes}
    merged_away: set = set()

    while len(members) > cutoff:
        best = None
        while heap:
            negd, u, v = heapq.heappop(heap)
            if (
                u not in merged_away
                and v not in merged_away
                and v in dq[u]
                and dq[u][v] == -negd
            ):
                best = (-negd, u, v)
                break
        if best is None:
            # heap exhausted: communities are the components; best_n may
            # force union of the largest sets (modularity_max.py:344)
            comms = sorted(members.values(), key=len, reverse=True)
            if best_n is not None:
                while len(comms) > best_n:
                    comms = [comms[0] + comms[1]] + comms[2:]
            return _result(comms)
        d_best, u, v = best
        if d_best < 0 and (best_n is None or len(members) <= best_n):
            break
        # merge u INTO v (the reference's orientation for the popped pair)
        u_nbrs = set(dq[u]) - {v}
        v_nbrs = set(dq[v]) - {u}
        for w_ in u_nbrs | v_nbrs:
            if w_ in u_nbrs and w_ in v_nbrs:
                nd = dq[v][w_] + dq[u][w_]
            elif w_ in v_nbrs:
                nd = dq[v][w_] - resolution * (a[u] * b[w_] + a[w_] * b[u])
            else:
                nd = dq[u][w_] - resolution * (a[v] * b[w_] + a[w_] * b[v])
            dq[v][w_] = nd
            dq[w_][v] = nd
            dq[w_].pop(u, None)
            heapq.heappush(heap, (-nd, v, w_))
            heapq.heappush(heap, (-nd, w_, v))
        dq[v].pop(u, None)
        dq[u] = {}
        a[v] += a[u]
        a[u] = 0.0
        if g.directed:
            b[v] += b[u]
            b[u] = 0.0
        members[v] = members[v] + members.pop(u)
        merged_away.add(u)

    return _result(members.values())
