"""Random-graph generator tail — the Spark twins of
``networkx/generators/random_graphs.py``, ``geometric.py``,
``expanders.py``, ``community.py``, ``degree_seq.py`` and ``trees.py``.

Distribution-parity, not stream-parity: the reference draws from one
sequential Mersenne-Twister stream, which cannot be replayed across
partitions. Every generator here is seeded and deterministic via
PER-ELEMENT hash coins (``xxhash64(seed, ...)``) — the same distribution,
embarrassingly parallel (the ``gnp_random_graph`` convention of
``generators.py``). Inherently sequential growth processes (gn/gnr/gnc,
random_lobster, random_regular pairing retries) run driver-side with a
seeded ``random.Random`` — they are O(n) scalar recurrences, not data
jobs; the docstrings say so.
"""

from __future__ import annotations

import random as _random
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, check_driver_limit
from linkgraph.generators import (
    _vertices,
    caveman_graph,
    gnm_random_graph,
    gnp_random_graph,
    stochastic_block_model,
    watts_strogatz_graph,
)

__all__ = [
    "erdos_renyi_graph",
    "binomial_graph",
    "fast_gnp_random_graph",
    "dense_gnm_random_graph",
    "newman_watts_strogatz_graph",
    "connected_watts_strogatz_graph",
    "random_geometric_graph",
    "geometric_edges",
    "soft_random_geometric_graph",
    "waxman_graph",
    "margulis_gabber_galil_graph",
    "chordal_cycle_graph",
    "random_partition_graph",
    "gaussian_random_partition_graph",
    "relaxed_caveman_graph",
    "configuration_model",
    "havel_hakimi_graph",
    "random_regular_graph",
    "random_labeled_tree",
    "from_prufer_sequence",
    "to_prufer_sequence",
    "degree_sequence_tree",
    "gn_graph",
    "gnr_graph",
    "gnc_graph",
    "random_lobster",
    "random_lobster_graph",
    "interval_graph",
    "scale_free_graph",
    "random_k_out_graph",
    "duplication_divergence_graph",
    "partial_duplication_graph",
    "dual_barabasi_albert_graph",
    "extended_barabasi_albert_graph",
    "random_powerlaw_tree",
    "random_powerlaw_tree_sequence",
    "random_clustered_graph",
    "random_shell_graph",
    "random_cograph",
    "random_degree_sequence_graph",
    "thresholded_random_geometric_graph",
    "geographical_threshold_graph",
    "geometric_soft_configuration_graph",
    "navigable_small_world_graph",
    "uniform_random_intersection_graph",
    "k_random_intersection_graph",
    "general_random_intersection_graph",
    "random_kernel_graph",
    "maybe_regular_expander_graph",
    "maybe_regular_expander",
    "is_regular_expander",
    "random_regular_expander_graph",
    "random_labeled_rooted_tree",
    "random_labeled_rooted_forest",
    "random_unlabeled_rooted_tree",
    "random_unlabeled_rooted_forest",
    "random_unlabeled_tree",
    "directed_configuration_model",
    "directed_havel_hakimi_graph",
    "LFR_benchmark_graph",
    "spectral_graph_forge",
    "random_internet_as_graph",
]

_U53 = float(1 << 53)


# Tree edges to_prufer_sequence encodes on the driver, and nodes of the
# dense adjacency is_regular_expander eigensolves.
_PRUFER_EDGES = 5_000_000
_EXPANDER_NODES = 200_000


def _coin(*cols):
    """Uniform [0, 1) from a hash of the columns — the per-element RNG."""
    return (F.pmod(F.xxhash64(*cols), F.lit(1 << 53)) / F.lit(_U53))


# --------------------------------------------------------------------- #
# gnp/gnm aliases
# --------------------------------------------------------------------- #

def erdos_renyi_graph(spark, n, p, seed: int = 0, *, directed=False):
    """``random_graphs.py`` alias of ``gnp_random_graph``."""
    return gnp_random_graph(spark, n, p, seed=seed, directed=directed)


def binomial_graph(spark, n, p, seed: int = 0, *, directed=False):
    """``random_graphs.py`` alias of ``gnp_random_graph``."""
    return gnp_random_graph(spark, n, p, seed=seed, directed=directed)


def fast_gnp_random_graph(spark, n, p, seed: int = 0, *, directed=False):
    """``random_graphs.py:437`` — the reference's O(n+m) skip-sampling is
    a sequential-stream optimization; the hash-coin kernel is already
    embarrassingly parallel AND O(candidate pairs) work distributed, so
    both names share it."""
    return gnp_random_graph(spark, n, p, seed=seed, directed=directed)


def dense_gnm_random_graph(spark, n, m, seed: int = 0):
    """``random_graphs.py`` — same uniform G(n, m) family."""
    return gnm_random_graph(spark, n, m, seed=seed)


# --------------------------------------------------------------------- #
# small-world variants
# --------------------------------------------------------------------- #

def newman_watts_strogatz_graph(
    spark: SparkSession, n: int, k: int, p: float, seed: int = 0
) -> SparkGraph:
    """``random_graphs.py`` ``newman_watts_strogatz_graph`` — ring lattice
    with k nearest neighbors plus (never instead of) random shortcuts: for
    each lattice edge, with probability p add a shortcut from its source
    to a hash-uniform node. Self-loops and duplicates drop, like the
    reference."""
    n, k = int(n), int(k)
    ring = spark.range(n).select(F.col("id").alias("src"))
    offs = F.array(*[F.lit(j) for j in range(1, k // 2 + 1)])
    lattice = ring.select(
        "src", F.explode(offs).alias("o")
    ).select("src", F.pmod(F.col("src") + F.col("o"), F.lit(n)).cast("long").alias("dst"))
    shortcuts = (
        lattice.withColumn("u", _coin(F.lit(int(seed)), "src", "dst", F.lit(1)))
        .filter(F.col("u") < float(p))
        .select(
            "src",
            F.pmod(
                F.xxhash64(F.lit(int(seed)), F.col("src"), F.col("dst"), F.lit(2)),
                F.lit(n),
            ).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    e = lattice.unionByName(shortcuts).select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).distinct().withColumn("weight", F.lit(1.0))
    return SparkGraph(e, vertices=_vertices(spark, n), directed=False,
                      coalesce_edges=False)


def connected_watts_strogatz_graph(
    spark: SparkSession, n: int, k: int, p: float, tries: int = 100, seed: int = 0
) -> SparkGraph:
    """``random_graphs.py`` ``connected_watts_strogatz_graph`` — retry the
    seeded WS draw (distinct derived seed per attempt) until connected."""
    from linkgraph.algos.components import is_connected

    for t in range(int(tries)):
        g = watts_strogatz_graph(spark, n, k, p, seed=int(seed) + 7919 * t)
        if is_connected(g):
            return g
    raise NetworkXError(f"Maximum number of tries ({tries}) exceeded")


# --------------------------------------------------------------------- #
# geometric family — grid-bucketed distance joins (never all-pairs)
# --------------------------------------------------------------------- #

def _positions(spark, n, dim, seed):
    pos = spark.range(int(n)).select(
        "id",
        *[
            _coin(F.lit(int(seed)), F.col("id"), F.lit(d)).alias(f"x{d}")
            for d in range(dim)
        ],
    )
    return pos


def _cell_join(pos, radius, dim):
    """Candidate pairs whose cells are within one step — the standard
    fixed-grid spatial join: cell width = radius, so any pair within
    ``radius`` shares adjacent cells. Shuffle key = cell id, NEVER n²."""
    cells = pos.select(
        "*",
        *[
            F.floor(F.col(f"x{d}") / F.lit(float(radius))).alias(f"c{d}")
            for d in range(dim)
        ],
    )
    right = cells.select(
        *[F.col(c).alias(f"r_{c}") for c in cells.columns]
    )
    # neighbor-cell offsets
    from itertools import product

    conds = [F.col("id") < F.col("r_id")]
    offs = list(product([-1, 0, 1], repeat=dim))
    off_pred = None
    for off in offs:
        p = None
        for d in range(dim):
            c = F.col(f"r_c{d}") == F.col(f"c{d}") + int(off[d])
            p = c if p is None else (p & c)
        off_pred = p if off_pred is None else (off_pred | p)
    left_keyed = cells
    joined = left_keyed.join(right, conds[0] & off_pred)
    dist2 = None
    for d in range(dim):
        t = (F.col(f"x{d}") - F.col(f"r_x{d}")) ** 2
        dist2 = t if dist2 is None else dist2 + t
    return joined.withColumn("_d2", dist2)


def random_geometric_graph(
    spark: SparkSession, n: int, radius: float, dim: int = 2, seed: int = 0
) -> SparkGraph:
    """``geometric.py`` ``random_geometric_graph`` — hash-uniform positions
    in [0,1)^dim, edge iff euclidean distance <= radius. The pair search is
    a grid-cell bucket join (cell = radius), the canonical spatial-join
    plan at scale. Positions ride along as vertex columns x0..x{dim-1}
    (the reference's ``pos`` attribute)."""
    pos = _positions(spark, n, int(dim), seed).persist()
    cand = _cell_join(pos, float(radius), int(dim))
    e = (
        cand.filter(F.col("_d2") <= float(radius) ** 2)
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"))
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=pos, directed=False, coalesce_edges=False)


def geometric_edges(g: SparkGraph, radius: float, p: int = 2) -> DataFrame:
    """``geometric.py`` ``geometric_edges`` — pairs within ``radius`` under
    the Minkowski-p metric over the graph's position columns x0..xk."""
    dims = sorted(c for c in g.vertices.columns if c.startswith("x") and c[1:].isdigit())
    if not dims:
        raise NetworkXError("geometric_edges: vertices carry no x* position columns")
    pos = g.vertices.select("id", *dims)
    k = len(dims)
    if p == 2:
        cand = _cell_join(pos, float(radius), k)
        return (
            cand.filter(F.col("_d2") <= float(radius) ** 2)
            .select(F.col("id").alias("u"), F.col("r_id").alias("v"))
        )
    # general Minkowski p: same grid join (cells at L2 radius bound Lp too
    # for p >= 1), exact filter on the Lp sum
    cand = _cell_join(pos, float(radius), k)
    lp = None
    for d in range(k):
        t = F.abs(F.col(f"x{d}") - F.col(f"r_x{d}")) ** float(p)
        lp = t if lp is None else lp + t
    return (
        cand.filter(lp <= float(radius) ** float(p))
        .select(F.col("id").alias("u"), F.col("r_id").alias("v"))
    )


def soft_random_geometric_graph(
    spark: SparkSession,
    n: int,
    radius: float,
    dim: int = 2,
    seed: int = 0,
    p_dist=None,
) -> SparkGraph:
    """``geometric.py`` ``soft_random_geometric_graph`` — candidate pairs
    within ``radius`` connect with probability ``p_dist(dist)``
    (default 1, reducing to the hard RGG). ``p_dist`` is a SQL
    expression/Column over ``dist`` — the vectorized twin of the
    reference's callable."""
    pos = _positions(spark, n, int(dim), seed).persist()
    cand = _cell_join(pos, float(radius), int(dim)).withColumn(
        "dist", F.sqrt(F.col("_d2"))
    )
    if p_dist is None:
        keep = F.lit(True)
    else:
        prob = F.expr(p_dist) if isinstance(p_dist, str) else p_dist
        keep = _coin(F.lit(int(seed) + 1), F.col("id"), F.col("r_id")) < prob
    e = (
        cand.filter((F.col("_d2") <= float(radius) ** 2) & keep)
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"))
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=pos, directed=False, coalesce_edges=False)


def waxman_graph(
    spark: SparkSession,
    n: int,
    beta: float = 0.4,
    alpha: float = 0.1,
    L: Optional[float] = None,
    dim: int = 2,
    seed: int = 0,
) -> SparkGraph:
    """``geometric.py`` ``waxman_graph`` — hash-uniform positions, edge
    probability beta * exp(-d / (alpha * L)). All pairs carry positive
    probability, so this one IS an O(n²) candidate model by definition
    (like the reference); the filter is a single vectorized expression."""
    pos = _positions(spark, n, int(dim), seed).persist()
    right = pos.select(*[F.col(c).alias(f"r_{c}") for c in pos.columns])
    pairs = pos.join(right, F.col("id") < F.col("r_id"))
    dist2 = None
    for d in range(int(dim)):
        t = (F.col(f"x{d}") - F.col(f"r_x{d}")) ** 2
        dist2 = t if dist2 is None else dist2 + t
    pairs = pairs.withColumn("dist", F.sqrt(dist2))
    if L is None:
        L = pairs.agg(F.max("dist")).first()[0] or 1.0
    prob = F.lit(float(beta)) * F.exp(-F.col("dist") / F.lit(float(alpha) * float(L)))
    e = (
        pairs.filter(_coin(F.lit(int(seed) + 3), F.col("id"), F.col("r_id")) < prob)
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"))
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=pos, directed=False, coalesce_edges=False)


# --------------------------------------------------------------------- #
# explicit expanders — pure expressions
# --------------------------------------------------------------------- #

def margulis_gabber_galil_graph(spark: SparkSession, n: int) -> SparkGraph:
    """``expanders.py`` ``margulis_gabber_galil_graph`` — the 8-regular
    multigraph expander on Z_n × Z_n; node id = x * n + y. Four generator
    arcs per vertex, all pure column arithmetic; parallel edges coalesce
    with multiplicity in ``weight`` (the engine's multigraph convention)."""
    n = int(n)
    base = spark.range(n * n).select(
        F.col("id"),
        F.floor(F.col("id") / n).alias("x"),
        F.pmod(F.col("id"), F.lit(n)).alias("y"),
    )
    gens = []
    # (x + 2y, y), (x + 2y + 1, y), (x, y + 2x), (x, y + 2x + 1)
    gens.append((F.pmod(F.col("x") + 2 * F.col("y"), F.lit(n)), F.col("y")))
    gens.append((F.pmod(F.col("x") + 2 * F.col("y") + 1, F.lit(n)), F.col("y")))
    gens.append((F.col("x"), F.pmod(F.col("y") + 2 * F.col("x"), F.lit(n))))
    gens.append((F.col("x"), F.pmod(F.col("y") + 2 * F.col("x") + 1, F.lit(n))))
    parts = [
        base.select(
            F.col("id").alias("src"),
            (gx * n + gy).cast("long").alias("dst"),
        )
        for gx, gy in gens
    ]
    e = parts[0]
    for p in parts[1:]:
        e = e.unionByName(p)
    e = e.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).withColumn("weight", F.lit(1.0))
    # parallel generator applications sum into weight = multiplicity
    return SparkGraph(e, vertices=_vertices(spark, n * n), directed=False,
                      coalesce_edges=True)


def chordal_cycle_graph(spark: SparkSession, p: int) -> SparkGraph:
    """``expanders.py`` ``chordal_cycle_graph`` — the 3-regular expander on
    Z_p (p prime): the cycle plus the chord x ↔ x^{-1} (0 gets a
    self-loop). The inverse table is p rows computed once via Fermat
    (x^{p-2} mod p) on the driver and joined in; the cycle arcs are pure
    expressions."""
    p = int(p)
    # the reference adds, PER VERTEX x: (x, x+1), (x, x-1), (x, x^-1) —
    # so cycle edges carry multiplicity 2 and chords 2 (1 when x is its
    # own inverse, where the chord is a self-loop: x ∈ {0, 1, p-1})
    inv = [(x, pow(x, p - 2, p) if x else 0) for x in range(p)]
    inv_df = spark.createDataFrame(inv, "src long, dst long")
    fwd = spark.range(p).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") + 1, F.lit(p)).cast("long").alias("dst"),
    )
    bwd = spark.range(p).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") - 1, F.lit(p)).cast("long").alias("dst"),
    )
    e = (
        fwd.unionByName(bwd).unionByName(inv_df)
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=_vertices(spark, p), directed=False,
                      coalesce_edges=True)


# --------------------------------------------------------------------- #
# community / partition models — SBM compositions
# --------------------------------------------------------------------- #

def random_partition_graph(
    spark: SparkSession, sizes: Sequence[int], p_in: float, p_out: float,
    seed: int = 0, *, directed: bool = False,
) -> SparkGraph:
    """``community.py`` ``random_partition_graph`` — the planted-partition
    generalization with per-group sizes: exactly the stochastic block
    model with a 2-level probability matrix."""
    sizes = [int(s) for s in sizes]
    k = len(sizes)
    probs = [
        [float(p_in) if i == j else float(p_out) for j in range(k)]
        for i in range(k)
    ]
    return stochastic_block_model(
        spark, sizes, probs, seed=seed, directed=directed
    )


def gaussian_random_partition_graph(
    spark: SparkSession, n: int, s: float, v: float, p_in: float, p_out: float,
    seed: int = 0, *, directed: bool = False,
) -> SparkGraph:
    """``community.py`` ``gaussian_random_partition_graph`` — group sizes
    drawn N(s, s/v) on the driver (an O(k) scalar recurrence), then the
    partition model above."""
    rng = _random.Random(int(seed))
    sizes = []
    total = 0
    n = int(n)
    while total < n:
        sz = max(1, int(rng.gauss(float(s), float(s) / float(v))))
        sz = min(sz, n - total)
        sizes.append(sz)
        total += sz
    return random_partition_graph(
        spark, sizes, p_in, p_out, seed=seed, directed=directed
    )


def relaxed_caveman_graph(
    spark: SparkSession, l: int, k: int, p: float, seed: int = 0
) -> SparkGraph:
    """``community.py`` ``relaxed_caveman_graph`` — l cliques of k, then
    each edge rewired with probability p to a hash-uniform target."""
    base = caveman_graph(spark, l, k)
    n = int(l) * int(k)
    e = base.edges.select("src", "dst")
    coin = _coin(F.lit(int(seed)), "src", "dst", F.lit(11))
    tgt = F.pmod(
        F.xxhash64(F.lit(int(seed)), F.col("src"), F.col("dst"), F.lit(12)),
        F.lit(n),
    ).cast("long")
    rewired = e.select(
        "src",
        F.when(coin < float(p), tgt).otherwise(F.col("dst")).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    ee = rewired.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).distinct().withColumn("weight", F.lit(1.0))
    return SparkGraph(ee, vertices=_vertices(spark, n), directed=False,
                      coalesce_edges=False)


# --------------------------------------------------------------------- #
# degree-sequence models
# --------------------------------------------------------------------- #

def configuration_model(
    spark: SparkSession, deg_sequence: Iterable[int], seed: int = 0
) -> SparkGraph:
    """``degree_seq.py`` ``configuration_model`` — uniform stub matching:
    every node explodes into deg stubs, stubs get a hash rank, and
    consecutive ranked stubs pair up. The reference returns a MultiGraph;
    here parallel edges coalesce with multiplicity in ``weight`` and
    self-loops survive, so degree sums match exactly.

    Scale note: the rank assignment is a global sort (row_number over the
    hash order) — one range-partitioned shuffle of 2m stub rows."""
    from pyspark.sql import Window

    degs = [int(d) for d in deg_sequence]
    if sum(degs) % 2 != 0:
        raise NetworkXError("Invalid degree sequence: sum of degrees must be even")
    ddf = spark.createDataFrame(
        [(i, d) for i, d in enumerate(degs)], "id long, deg int"
    )
    stubs = ddf.select(
        "id", F.explode(F.sequence(F.lit(0), F.col("deg") - 1)).alias("k")
    ).filter(F.col("k") >= 0)
    ranked = stubs.select(
        "id",
        F.row_number()
        .over(
            Window.orderBy(
                F.xxhash64(F.lit(int(seed)), F.col("id"), F.col("k")),
                "id",
                "k",
            )
        )
        .alias("r"),
    )
    pairs = (
        ranked.withColumn("pair", F.floor((F.col("r") - 1) / 2))
        .groupBy("pair")
        .agg(F.min("id").alias("src"), F.max("id").alias("dst"),
             F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 2)
        .select("src", "dst")
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(pairs, vertices=_vertices(spark, len(degs)),
                      directed=False, coalesce_edges=True)


def havel_hakimi_graph(spark: SparkSession, deg_sequence: Iterable[int]) -> SparkGraph:
    """``degree_seq.py`` ``havel_hakimi_graph`` — the deterministic
    highest-degree-first realization; O(n log n) scalar recurrence on the
    driver (the reference's loop is the same), edges land as one
    DataFrame."""
    import heapq

    degs = [int(d) for d in deg_sequence]
    if sum(degs) % 2 != 0:
        raise NetworkXError("Invalid degree sequence")
    heap = [(-d, i) for i, d in enumerate(degs) if d > 0]
    heapq.heapify(heap)
    edges = []
    while heap:
        d, u = heapq.heappop(heap)
        d = -d
        grabbed = []
        for _ in range(d):
            if not heap:
                raise NetworkXError("Non-graphical degree sequence")
            dv, v = heapq.heappop(heap)
            grabbed.append((dv, v))
            edges.append((min(u, v), max(u, v)))
        for dv, v in grabbed:
            if dv + 1 < 0:
                heapq.heappush(heap, (dv + 1, v))
            elif dv + 1 > 0:
                raise NetworkXError("Non-graphical degree sequence")
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    return SparkGraph(e, vertices=_vertices(spark, len(degs)),
                      directed=False, coalesce_edges=False)


def random_regular_graph(
    spark: SparkSession, d: int, n: int, seed: int = 0, *, tries: int = 200
) -> SparkGraph:
    """``random_graphs.py`` ``random_regular_graph`` — seeded stub pairing
    with rejection of self-loops/multi-edges (the standard pairing model;
    the reference uses a smarter suitable-pair retry, same distribution
    family). Driver-side recurrence (O(dn) scalars per try)."""
    d, n = int(d), int(n)
    if (d * n) % 2 != 0:
        raise NetworkXError("d * n must be even")
    if d >= n:
        raise NetworkXError("d must be < n")
    rng = _random.Random(int(seed))
    for _ in range(int(tries)):
        stubs = [i for i in range(n) for _ in range(d)]
        rng.shuffle(stubs)
        pairs = set()
        ok = True
        for a, b in zip(stubs[::2], stubs[1::2]):
            if a == b or (min(a, b), max(a, b)) in pairs:
                ok = False
                break
            pairs.add((min(a, b), max(a, b)))
        if ok:
            e = spark.createDataFrame(
                [(u, v, 1.0) for u, v in sorted(pairs)],
                "src long, dst long, weight double",
            )
            return SparkGraph(e, vertices=_vertices(spark, n),
                              directed=False, coalesce_edges=False)
    raise NetworkXError(f"random_regular_graph: no simple pairing in {tries} tries")


# --------------------------------------------------------------------- #
# labeled trees + Prüfer codecs
# --------------------------------------------------------------------- #

def from_prufer_sequence(spark: SparkSession, sequence: Sequence[int]) -> SparkGraph:
    """``trees.py`` ``from_prufer_sequence`` — exact decode (deterministic,
    matches the reference edge-for-edge)."""
    seq = [int(x) for x in sequence]
    n = len(seq) + 2
    deg = [1] * n
    for x in seq:
        deg[x] += 1
    import heapq

    leaves = [i for i in range(n) if deg[i] == 1]
    heapq.heapify(leaves)
    edges = []
    for x in seq:
        leaf = heapq.heappop(leaves)
        edges.append((min(leaf, x), max(leaf, x)))
        deg[x] -= 1
        if deg[x] == 1:
            heapq.heappush(leaves, x)
    u = heapq.heappop(leaves)
    v = heapq.heappop(leaves)
    edges.append((min(u, v), max(u, v)))
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "src long, dst long, weight double"
    )
    return SparkGraph(e, vertices=_vertices(spark, n), directed=False,
                      coalesce_edges=False)


def to_prufer_sequence(g: SparkGraph) -> "list[int]":
    """``trees.py`` ``to_prufer_sequence`` — exact encode; the peel order
    is sequential by definition, so the (n-1)-edge tree is collected under
    the usual size guard."""
    from linkgraph.algos.tree import is_tree

    if not is_tree(g):
        raise NetworkXError("to_prufer_sequence: input is not a tree")
    rows = g.edges.select("src", "dst").collect()
    check_driver_limit(len(rows), _PRUFER_EDGES, "to_prufer_sequence")
    adj: dict = {}
    for r in rows:
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    n = len(adj)
    import heapq

    leaves = [u for u, s in adj.items() if len(s) == 1]
    heapq.heapify(leaves)
    seq = []
    for _ in range(n - 2):
        leaf = heapq.heappop(leaves)
        (nbr,) = adj[leaf]
        seq.append(nbr)
        adj[nbr].discard(leaf)
        del adj[leaf]
        if len(adj[nbr]) == 1:
            heapq.heappush(leaves, nbr)
    return seq


def random_labeled_tree(spark: SparkSession, n: int, seed: int = 0) -> SparkGraph:
    """``trees.py`` ``random_labeled_tree`` — uniform over labeled trees
    via a seeded Prüfer draw."""
    n = int(n)
    if n < 2:
        from linkgraph.generators import empty_graph

        return empty_graph(spark, n)
    rng = _random.Random(int(seed))
    seq = [rng.randrange(n) for _ in range(n - 2)]
    return from_prufer_sequence(spark, seq)


def degree_sequence_tree(spark: SparkSession, deg_sequence: Iterable[int]) -> SparkGraph:
    """``degree_seq.py`` ``degree_sequence_tree`` — deterministic greedy
    tree realization (sum deg = 2(n-1) required)."""
    degs = [int(d) for d in deg_sequence]
    n = len(degs)
    if sum(degs) != 2 * (n - 1):
        raise NetworkXError("Degree sequence invalid for a tree")
    # node i carries degs[i]; internal nodes (deg >= 2) form a path, then
    # leaves fill each internal node's remaining capacity in order — the
    # reference's construction
    internal = sorted(range(n), key=lambda i: (-degs[i], i))
    internal = [i for i in internal if degs[i] >= 2]
    leaves = [i for i in range(n) if degs[i] == 1]
    if n == 2:
        e = spark.createDataFrame(
            [(0, 1, 1.0)], "src long, dst long, weight double"
        )
        return SparkGraph(e, vertices=_vertices(spark, 2), directed=False,
                          coalesce_edges=False)
    edges = []
    for a, b in zip(internal, internal[1:]):
        edges.append((min(a, b), max(a, b)))
    capacity = {
        i: degs[i] - (2 if 0 < k < len(internal) - 1 else (1 if len(internal) > 1 else 0))
        for k, i in enumerate(internal)
    }
    li = 0
    for i in internal:
        for _ in range(capacity[i]):
            if li >= len(leaves):
                break
            v = leaves[li]
            li += 1
            edges.append((min(i, v), max(i, v)))
    if li != len(leaves):
        raise NetworkXError("Degree sequence invalid for a tree")
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    return SparkGraph(e, vertices=_vertices(spark, n), directed=False,
                      coalesce_edges=False)


# --------------------------------------------------------------------- #
# growing-network recurrences (driver-side by nature)
# --------------------------------------------------------------------- #

def gn_graph(spark: SparkSession, n: int, kernel=None, seed: int = 0) -> SparkGraph:
    """``directed.py`` ``gn_graph`` — growing network: node t attaches to
    an earlier node with probability proportional to kernel(in_degree + 1)
    (default linear). Sequential recurrence, driver-side."""
    rng = _random.Random(int(seed))
    kernel = kernel or (lambda x: x)
    n = int(n)
    edges = []
    if n > 1:
        edges.append((1, 0))
        indeg = [1, 0]
        weights = [kernel(2), kernel(1)]
        for t in range(2, n):
            tot = sum(weights)
            r = rng.random() * tot
            acc = 0.0
            target = 0
            for i, w in enumerate(weights):
                acc += w
                if r < acc:
                    target = i
                    break
            edges.append((t, target))
            indeg[target] += 1
            weights[target] = kernel(indeg[target] + 1)
            indeg.append(0)
            weights.append(kernel(1))
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    return SparkGraph(e, vertices=_vertices(spark, n), directed=True,
                      coalesce_edges=False)


def gnr_graph(spark: SparkSession, n: int, p: float, seed: int = 0) -> SparkGraph:
    """``directed.py`` ``gnr_graph`` — growing network with redirection:
    node t picks a uniform earlier node, and with probability p the edge
    redirects to that node's own target."""
    rng = _random.Random(int(seed))
    n = int(n)
    target_of: "dict[int, int]" = {}
    edges = []
    for t in range(1, n):
        u = rng.randrange(t)
        if rng.random() < float(p) and u in target_of:
            u = target_of[u]
        edges.append((t, u))
        target_of[t] = u
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "src long, dst long, weight double"
    )
    return SparkGraph(e, vertices=_vertices(spark, n), directed=True,
                      coalesce_edges=False)


def gnc_graph(spark: SparkSession, n: int, seed: int = 0) -> SparkGraph:
    """``directed.py`` ``gnc_graph`` — growing network with copying: node t
    attaches to a uniform earlier node AND copies all of its out-edges."""
    rng = _random.Random(int(seed))
    n = int(n)
    out: "dict[int, set]" = {0: set()}
    edges = []
    for t in range(1, n):
        u = rng.randrange(t)
        new = {u} | out[u]
        out[t] = new
        for v in sorted(new):
            edges.append((t, v))
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "src long, dst long, weight double"
    )
    return SparkGraph(e, vertices=_vertices(spark, n), directed=True,
                      coalesce_edges=False)


def random_lobster(
    spark: SparkSession, n: int, p1: float, p2: float, seed: int = 0
) -> SparkGraph:
    """``random_graphs.py`` ``random_lobster`` — a backbone path of
    ~n * (1 + p1) nodes, leaves at distance one (prob p1 each), leaves on
    leaves (prob p2). Sequential recurrence, driver-side."""
    rng = _random.Random(int(seed))
    llen = int(2 * float(p1) * int(n) * rng.random()) + int(n)
    edges = []
    nxt = llen
    for i in range(llen - 1):
        edges.append((i, i + 1))
    for i in range(llen):
        while rng.random() < float(p1):
            leaf = nxt
            nxt += 1
            edges.append((i, leaf))
            while rng.random() < float(p2):
                edges.append((leaf, nxt))
                nxt += 1
    e = spark.createDataFrame(
        [(min(u, v), max(u, v), 1.0) for u, v in edges],
        "src long, dst long, weight double",
    )
    return SparkGraph(e, vertices=_vertices(spark, nxt), directed=False,
                      coalesce_edges=False)


def interval_graph(spark: SparkSession, intervals: Sequence) -> SparkGraph:
    """``interval_graph.py`` — vertices = given intervals (id = position
    in the input list; the reference keys nodes by the interval tuple),
    edge iff the closed intervals overlap. One self-join with the overlap
    predicate — at scale this is the classic interval-overlap range join
    AQE handles; vertices carry lo/hi columns."""
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(intervals)]
    for _, a, b in rows:
        if a > b:
            raise NetworkXError(f"interval [{a}, {b}] is invalid")
    iv = spark.createDataFrame(rows, "id long, lo double, hi double")
    right = iv.select(
        F.col("id").alias("rid"), F.col("lo").alias("rlo"), F.col("hi").alias("rhi")
    )
    e = (
        iv.join(
            right,
            (F.col("id") < F.col("rid"))
            & (F.col("lo") <= F.col("rhi"))
            & (F.col("rlo") <= F.col("hi")),
        )
        .select(F.col("id").alias("src"), F.col("rid").alias("dst"))
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=iv, directed=False, coalesce_edges=False)


# ---------------------------------------------------------------------- #
# growth-process tail (``random_graphs.py``, ``directed.py``,
# ``duplication.py``, ``cographs.py``, ``degree_seq.py``,
# ``random_clustered.py``) — sequential recurrences, driver-side by the
# module convention above; the resulting graph is the distributed object.
# ---------------------------------------------------------------------- #


def _edges_to_graph(spark, edges, n_or_nodes, *, directed=False,
                    multigraph=False, coalesce=False):
    if isinstance(n_or_nodes, int):
        v = _vertices(spark, n_or_nodes)
    else:
        v = spark.createDataFrame([(int(x),) for x in n_or_nodes], "id long")
    rows = [(int(u), int(v_), 1.0) for u, v_ in edges]
    if not directed:
        rows = [(min(a, b), max(a, b), w) for a, b, w in rows]
    e = spark.createDataFrame(rows or [], "src long, dst long, weight double")
    if multigraph:
        from linkgraph.multigraph import SparkMultiGraph

        return SparkMultiGraph(e, v, directed=directed)
    return SparkGraph(e, v, directed=directed, coalesce_edges=coalesce)


def _weighted_pick(weights: dict, rng: "_random.Random"):
    total = sum(weights.values())
    r = rng.random() * total
    acc = 0.0
    for k, w in weights.items():
        acc += w
        if r < acc:
            return k
    return k  # float round-off: last key


def scale_free_graph(
    spark: SparkSession,
    n: int,
    alpha: float = 0.41,
    beta: float = 0.54,
    gamma: float = 0.05,
    delta_in: float = 0.2,
    delta_out: float = 0.0,
    seed: int = 0,
):
    """``networkx/generators/directed.py`` ``scale_free_graph`` — the
    Bollobás-Borgs-Chayes-Riordan directed preferential-attachment process
    (multi-arcs kept). With prob alpha add a new source attached by
    in-degree; beta, an arc between existing nodes; gamma, a new sink.
    Sequential recurrence (each step conditions on all prior degrees),
    driver-side; validation matches the reference."""
    if alpha <= 0 or beta <= 0 or gamma <= 0:
        raise ValueError("alpha/beta/gamma must each be > 0")
    if abs(alpha + beta + gamma - 1.0) >= 1e-9:
        raise ValueError("alpha+beta+gamma must equal 1.")
    if delta_in < 0 or delta_out < 0:
        raise ValueError("delta_in/delta_out must be >= 0")
    rng = _random.Random(int(seed))
    edges = [(0, 1), (1, 2), (2, 0)]
    vs = [0, 1, 2]  # one entry per unit of out-degree
    ws = [0, 1, 2]  # one entry per unit of in-degree
    nodes = [0, 1, 2]
    cursor = 3

    def pick(candidates, delta):
        if delta > 0:
            bias = len(nodes) * delta
            if rng.random() < bias / (bias + len(candidates)):
                return rng.choice(nodes)
        return rng.choice(candidates)

    while len(nodes) < int(n):
        r = rng.random()
        if r < alpha:
            v = cursor
            cursor += 1
            nodes.append(v)
            w = pick(ws, delta_in)
        elif r < alpha + beta:
            v = pick(vs, delta_out)
            w = pick(ws, delta_in)
        else:
            v = pick(vs, delta_out)
            w = cursor
            cursor += 1
            nodes.append(w)
        edges.append((v, w))
        vs.append(v)
        ws.append(w)
    return _edges_to_graph(spark, edges, nodes, directed=True, multigraph=True)


def random_k_out_graph(
    spark: SparkSession,
    n: int,
    k: int,
    alpha: float,
    self_loops: bool = True,
    seed: int = 0,
):
    """``directed.py`` ``random_k_out_graph`` — every node gets exactly k
    out-arcs; targets drawn by the Pólya-urn weight ``alpha + in-degree``
    (each chosen target's weight grows by one). Multi-arcs kept."""
    if alpha < 0:
        raise ValueError("alpha must be positive")
    rng = _random.Random(int(seed))
    weights = {v: float(alpha) for v in range(int(n))}
    remaining = {v: int(k) for v in range(int(n))}
    edges = []
    while remaining:
        u = rng.choice(list(remaining.keys()))
        if not self_loops:
            uw = weights.pop(u)
        v = _weighted_pick(weights, rng)
        if not self_loops:
            weights[u] = uw
        edges.append((u, v))
        weights[v] += 1.0
        remaining[u] -= 1
        if remaining[u] == 0:
            del remaining[u]
    return _edges_to_graph(spark, edges, int(n), directed=True, multigraph=True)


def duplication_divergence_graph(
    spark: SparkSession, n: int, p: float, seed: int = 0
) -> SparkGraph:
    """``duplication.py`` ``duplication_divergence_graph`` (Ispolatov et
    al. 2005): duplicate a random node, keep each copied link with prob p,
    discard the replica if nothing is retained."""
    if not 0 <= p <= 1:
        raise NetworkXError(f"NetworkXError p={p} is not in [0,1].")
    if n < 2:
        raise NetworkXError("n must be greater than or equal to 2")
    rng = _random.Random(int(seed))
    adj = {0: {1}, 1: {0}}
    i = 2
    while i < int(n):
        target = rng.choice(list(adj.keys()))
        kept = set()
        for nbr in adj[target]:
            if rng.random() < p:
                kept.add(nbr)
        if kept:
            adj[i] = kept
            for nbr in kept:
                adj[nbr].add(i)
            i += 1
    edges = {(min(u, v), max(u, v)) for u, nbrs in adj.items() for v in nbrs}
    return _edges_to_graph(spark, sorted(edges), sorted(adj.keys()))


def partial_duplication_graph(
    spark: SparkSession, N: int, n: int, p: float, q: float, seed: int = 0
) -> SparkGraph:
    """``duplication.py`` ``partial_duplication_graph`` — start from K_n;
    each new node copies a random source's neighbors with prob p each and
    links to the source itself with prob q."""
    if not (0 <= p <= 1 and 0 <= q <= 1):
        raise NetworkXError("partial duplication graph must have 0 <= p, q <= 1.")
    if n > N:
        raise NetworkXError("partial duplication graph must have n <= N.")
    rng = _random.Random(int(seed))
    adj = {u: {v for v in range(int(n)) if v != u} for u in range(int(n))}
    for new in range(int(n), int(N)):
        src = rng.randint(0, new - 1)
        adj[new] = set()
        for nbr in list(adj[src]):
            if rng.random() < p:
                adj[new].add(nbr)
                adj[nbr].add(new)
        if rng.random() < q:
            adj[new].add(src)
            adj[src].add(new)
    edges = {(min(u, v), max(u, v)) for u, nbrs in adj.items() for v in nbrs}
    return _edges_to_graph(spark, sorted(edges), sorted(adj.keys()))


def _preferential_subset(repeated, m, rng):
    targets = set()
    while len(targets) < m:
        targets.add(rng.choice(repeated))
    return targets


def dual_barabasi_albert_graph(
    spark: SparkSession, n: int, m1: int, m2: int, p: float, seed: int = 0
) -> SparkGraph:
    """``random_graphs.py`` ``dual_barabasi_albert_graph`` — BA growth
    where each arriving node attaches m1 edges with prob p else m2."""
    from linkgraph.generators import barabasi_albert_graph, star_graph

    if not 0 <= p <= 1:
        raise NetworkXError(f"NetworkXError p={p} is not in [0,1].")
    if p == 1:
        return barabasi_albert_graph(spark, n, m1, seed=seed)
    if p == 0:
        return barabasi_albert_graph(spark, n, m2, seed=seed)
    m_max = max(int(m1), int(m2))
    if m_max < 1 or m_max >= n:
        raise NetworkXError(
            f"dual BA must have 1 <= m1, m2 < n (got m1={m1}, m2={m2}, n={n})"
        )
    rng = _random.Random(int(seed))
    edges = [(0, i) for i in range(1, m_max + 1)]  # star seed
    repeated = [0] * m_max + list(range(1, m_max + 1))
    source = m_max + 1
    while source < int(n):
        m = int(m1) if rng.random() < p else int(m2)
        targets = _preferential_subset(repeated, m, rng)
        edges.extend((source, t) for t in targets)
        repeated.extend(targets)
        repeated.extend([source] * m)
        source += 1
    return _edges_to_graph(spark, edges, int(n))


def extended_barabasi_albert_graph(
    spark: SparkSession, n: int, m: int, p: float, q: float, seed: int = 0
) -> SparkGraph:
    """``random_graphs.py`` ``extended_barabasi_albert_graph`` (Albert &
    Barabási 2000): with prob p add m preferential edges between existing
    nodes, with prob q rewire m edges, else grow by one node with m
    preferential links."""
    if p + q >= 1:
        raise NetworkXError("extended BA requires p + q < 1")
    if m < 1 or m >= n:
        raise NetworkXError(f"extended BA must have 1 <= m < n (m={m}, n={n})")
    rng = _random.Random(int(seed))
    adj = {v: set() for v in range(int(m))}
    pref = list(range(int(m)))  # smoothed attachment list, one entry per node + degree
    new_node = int(m)
    while new_node < int(n):
        r = rng.random()
        nnodes = len(adj)
        clique_degree = nnodes - 1
        clique_size = nnodes * clique_degree / 2
        size = sum(len(s) for s in adj.values()) // 2
        if r < p and size <= clique_size - m:
            # add m edges between existing nodes
            for _ in range(int(m)):
                eligible = [u for u in adj if len(adj[u]) < clique_degree]
                src = rng.choice(eligible)
                prohibited = adj[src] | {src}
                pool = [u for u in pref if u not in prohibited]
                if not pool:
                    continue
                dst = rng.choice(pool)
                adj[src].add(dst)
                adj[dst].add(src)
                pref.append(src)
                pref.append(dst)
        elif r < p + q and m <= size < clique_size:
            # rewire m edges
            for _ in range(int(m)):
                eligible = [u for u in adj if 0 < len(adj[u]) < clique_degree]
                if not eligible:
                    break
                node = rng.choice(eligible)
                src = rng.choice(sorted(adj[node]))
                pool = [u for u in pref if u not in adj[node] and u != node]
                if not pool:
                    continue
                dst = rng.choice(pool)
                adj[node].discard(src)
                adj[src].discard(node)
                adj[node].add(dst)
                adj[dst].add(node)
                pref.remove(src)
                pref.append(dst)
        else:
            # grow
            targets = _preferential_subset(pref, int(m), rng) if pref else set()
            adj[new_node] = set(targets)
            for t in targets:
                adj[t].add(new_node)
            pref.extend(targets)
            pref.extend([new_node] * (int(m) + 1))
            new_node += 1
    edges = {(min(u, v), max(u, v)) for u, nbrs in adj.items() for v in nbrs}
    return _edges_to_graph(spark, sorted(edges), sorted(adj.keys()))


def _powerlaw_sequence(n, gamma, rng):
    return [rng.paretovariate(float(gamma) - 1) for _ in range(int(n))]


def random_powerlaw_tree_sequence(
    spark_or_n, n: int = None, gamma: float = 3, seed: int = 0, tries: int = 100
) -> "list[int]":
    """``random_graphs.py`` ``random_powerlaw_tree_sequence`` — a degree
    sequence drawn from a power law, element-swapped until it is a valid
    tree sequence (sum = 2(n-1), all ≥ 1). Pure driver math (returns a
    Python list like the reference); accepts an optional leading spark
    argument for signature uniformity."""
    if n is None:
        n = int(spark_or_n)
    rng = _random.Random(int(seed))
    zseq = [min(int(n), max(round(s), 0)) for s in _powerlaw_sequence(n, gamma, rng)]
    swap = [min(int(n), max(round(s), 0)) for s in _powerlaw_sequence(tries, gamma, rng)]

    def _is_tree_seq(s):
        return len(s) > 0 and sum(s) == 2 * (len(s) - 1) and min(s) >= 1

    for _ in range(len(swap)):
        if _is_tree_seq(zseq):
            return zseq
        index = rng.randint(0, int(n) - 1)
        zseq[index] = swap.pop()
    if _is_tree_seq(zseq):
        return zseq
    raise NetworkXError(
        f"Exceeded max ({tries}) attempts for a valid tree sequence."
    )


def random_powerlaw_tree(
    spark: SparkSession, n: int, gamma: float = 3, seed: int = 0, tries: int = 100
) -> SparkGraph:
    """``random_graphs.py`` ``random_powerlaw_tree`` — a tree realizing a
    power-law degree sequence (built by the existing
    ``degree_sequence_tree`` once the sequence validates)."""
    seq = random_powerlaw_tree_sequence(n, gamma=gamma, seed=seed, tries=tries)
    return degree_sequence_tree(spark, sorted(seq, reverse=True))


def random_clustered_graph(
    spark: SparkSession, joint_degree_sequence, seed: int = 0
):
    """``random_clustered.py`` ``random_clustered_graph`` — configuration
    model over (independent-edge degree, triangle degree) pairs: shuffled
    stubs pair into edges, shuffled triangle stubs group into triangles.
    Multi-edges kept (multigraph), matching the reference."""
    rng = _random.Random(int(seed))
    joint = [(int(i), int(t)) for i, t in joint_degree_sequence]
    ilist, tlist = [], []
    for node, (i_deg, t_deg) in enumerate(joint):
        ilist.extend([node] * i_deg)
        tlist.extend([node] * t_deg)
    if len(ilist) % 2 != 0 or len(tlist) % 3 != 0:
        raise NetworkXError("Invalid degree sequence")
    rng.shuffle(ilist)
    rng.shuffle(tlist)
    edges = []
    while ilist:
        edges.append((ilist.pop(), ilist.pop()))
    while tlist:
        n1, n2, n3 = tlist.pop(), tlist.pop(), tlist.pop()
        edges.extend([(n1, n2), (n1, n3), (n2, n3)])
    return _edges_to_graph(
        spark, edges, len(joint), directed=False, multigraph=True
    )


def random_shell_graph(spark: SparkSession, constructor, seed: int = 0) -> SparkGraph:
    """``random_graphs.py`` ``random_shell_graph`` — concentric gnm shells
    ``(n, m, d)``; fraction d of each shell's m edges becomes inter-shell
    links to the next shell."""
    rng = _random.Random(int(seed))
    edges = []
    shells = []
    offset = 0
    intra = []
    for n_s, m_s, d_s in constructor:
        inter_edges = int(m_s * d_s)
        intra.append(int(m_s) - inter_edges)
        # gnm inside the shell (driver pairing; shells are small by contract)
        pairs = set()
        nodes = list(range(offset, offset + int(n_s)))
        max_pairs = len(nodes) * (len(nodes) - 1) // 2
        while len(pairs) < min(inter_edges, max_pairs):
            u, v = rng.sample(nodes, 2)
            pairs.add((min(u, v), max(u, v)))
        edges.extend(pairs)
        shells.append(nodes)
        offset += int(n_s)
    existing = set(edges)
    for gi in range(len(shells) - 1):
        count = 0
        while count < intra[gi]:
            u = rng.choice(shells[gi])
            v = rng.choice(shells[gi + 1])
            key = (min(u, v), max(u, v))
            if u == v or key in existing:
                continue
            existing.add(key)
            edges.append(key)
            count += 1
    return _edges_to_graph(spark, edges, offset)


def random_cograph(spark: SparkSession, n: int, seed: int = 0) -> SparkGraph:
    """``cographs.py`` ``random_cograph`` — n rounds of coin-flip
    full-join / disjoint-union doubling; the result has 2**n nodes and no
    induced P4."""
    rng = _random.Random(int(seed))
    nodes = [0]
    edges = set()
    for _ in range(int(n)):
        k = len(nodes)
        new_nodes = [x + k for x in nodes]
        new_edges = {(u + k, v + k) for u, v in edges}
        if rng.randint(0, 1) == 0:  # full join
            cross = {(u, v + k) for u in nodes for v in nodes}
            edges = edges | new_edges | cross
        else:
            edges = edges | new_edges
        nodes = nodes + new_nodes
    edges = {(min(u, v), max(u, v)) for u, v in edges}
    return _edges_to_graph(spark, sorted(edges), len(nodes))


def random_degree_sequence_graph(
    spark: SparkSession, sequence, seed: int = 0, tries: int = 10
) -> SparkGraph:
    """``degree_seq.py`` ``random_degree_sequence_graph`` — a SIMPLE graph
    with the given degree sequence. The reference samples via the
    McKay-Wormald process; here rejection-sampled stub pairing (uniform
    over pairings, retried until simple) realizes the same contract —
    raises ``NetworkXUnfeasible``-style after ``tries`` failures."""
    from linkgraph.algos.graphical import is_graphical

    seq = [int(d) for d in sequence]
    if not is_graphical(seq):
        raise NetworkXError("degree sequence is not graphical")
    rng = _random.Random(int(seed))
    stubs0 = [v for v, d in enumerate(seq) for _ in range(d)]
    for _ in range(max(1, int(tries))):
        stubs = stubs0[:]
        rng.shuffle(stubs)
        pairs = list(zip(stubs[::2], stubs[1::2]))
        simple = all(u != v for u, v in pairs)
        key = {(min(u, v), max(u, v)) for u, v in pairs}
        if simple and len(key) == len(pairs):
            return _edges_to_graph(spark, pairs, len(seq))
    raise NetworkXError(
        f"failed to generate a simple graph in {tries} tries"
    )


def random_lobster_graph(
    spark: SparkSession, n: int, p1: float, p2: float, seed: int = 0
) -> SparkGraph:
    """``random_graphs.py`` ``random_lobster_graph`` — the reference's
    current name for ``random_lobster``."""
    return random_lobster(spark, n, p1, p2, seed=seed)


# ---------------------------------------------------------------------- #
# geometric tail + intersection graphs + expanders (``geometric.py``,
# ``intersection.py``, ``expanders.py``, ``random_graphs.py``)
# ---------------------------------------------------------------------- #


def _expo_weight(seed, tag):
    """Exponential(1) per node from a hash-uniform draw: -ln(1 - u)."""
    u = _coin(F.lit(int(seed)), F.col("id"), F.lit(tag))
    return -F.log(F.lit(1.0) - u)


def _with_node_weight(spark, pos, weight_dict, default_col):
    """Attach the node_weight column: the caller's {node: weight} dict
    (the reference's ``weight=`` kwarg) or the seeded default."""
    if weight_dict is None:
        return pos.withColumn("node_weight", default_col)
    wdf = spark.createDataFrame(
        [(int(k), float(v)) for k, v in weight_dict.items()],
        "id long, node_weight double",
    )
    return pos.join(wdf, "id", "left").withColumn(
        "node_weight", F.coalesce("node_weight", default_col)
    )


def thresholded_random_geometric_graph(
    spark: SparkSession,
    n: int,
    radius: float,
    theta: float,
    dim: int = 2,
    seed: int = 0,
    weight: "dict | None" = None,
) -> SparkGraph:
    """``geometric.py`` ``thresholded_random_geometric_graph`` — geometric
    proximity (grid-bucket join, never all-pairs) AND weight threshold
    ``w_u + w_v >= theta``. ``weight`` is the reference's optional
    {node: weight} dict; omitted → seeded Exponential(1) weights.
    Positions and weights ride as vertex columns (the reference's
    attributes)."""
    pos = _positions(spark, n, int(dim), seed)
    pos = _with_node_weight(spark, pos, weight, _expo_weight(seed, 101)).persist()
    cand = _cell_join(pos.drop("node_weight"), float(radius), int(dim))
    w = pos.select("id", "node_weight")
    e = (
        cand.filter(F.col("_d2") <= float(radius) ** 2)
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"))
        .join(w.select(F.col("id").alias("src"), F.col("node_weight").alias("_wu")), "src")
        .join(w.select(F.col("id").alias("dst"), F.col("node_weight").alias("_wv")), "dst")
        .filter(F.col("_wu") + F.col("_wv") >= float(theta))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )
    return SparkGraph(e, vertices=pos, directed=False, coalesce_edges=False)


def geographical_threshold_graph(
    spark: SparkSession,
    n: int,
    theta: float,
    dim: int = 2,
    seed: int = 0,
    p_dist: str = None,
    weight: "dict | None" = None,
) -> SparkGraph:
    """``geometric.py`` ``geographical_threshold_graph`` (Masuda et al.
    2005) — join nodes u, v iff ``(w_u + w_v) * p_dist(r) >= theta`` with
    Exponential(1) weights and hash-uniform positions. ``p_dist`` is a SQL
    expression in the distance variable ``r`` (default ``power(r, -2)``) —
    the Spark twin of the reference's callable. The interaction is
    unbounded in distance (heavy nodes join far away), so the candidate
    set is the full id< pair join — the model's own density, not a plan
    choice."""
    pos = _positions(spark, n, int(dim), seed)
    pos = _with_node_weight(spark, pos, weight, _expo_weight(seed, 103)).persist()
    right = pos.select(*[F.col(c).alias(f"r_{c}") for c in pos.columns])
    dist2 = None
    for d in range(int(dim)):
        t = (F.col(f"x{d}") - F.col(f"r_x{d}")) ** 2
        dist2 = t if dist2 is None else dist2 + t
    pd_expr = F.expr((p_dist or "power(r, -2)"))
    e = (
        pos.join(right, F.col("id") < F.col("r_id"))
        .withColumn("r", F.sqrt(dist2))
        .withColumn("_p", pd_expr)
        .filter((F.col("node_weight") + F.col("r_node_weight")) * F.col("_p") >= float(theta))
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"),
                F.lit(1.0).alias("weight"))
    )
    return SparkGraph(e, vertices=pos, directed=False, coalesce_edges=False)


def geometric_soft_configuration_graph(
    spark: SparkSession,
    *,
    beta: float,
    n: int = None,
    gamma: float = None,
    mean_degree: float = None,
    kappas: dict = None,
    seed: int = 0,
) -> SparkGraph:
    """``geometric.py`` ``geometric_soft_configuration_graph`` — the
    S1/H2 soft-configuration model. Every pair connects independently with
    ``p_ij = 1 / (1 + (R·Δθ)^β / (μ κ_u κ_v)^max(1,β))``, so the
    reference's sequential insertion loop is exactly a pair-wise coin —
    one id< join with hash coins, embarrassingly parallel. Vertices carry
    ``kappa``, ``theta`` and ``radius`` columns like the reference's node
    attributes."""
    import math

    if kappas is not None:
        if not (n is None and gamma is None and mean_degree is None):
            raise NetworkXError(
                "When kappas is provided, n, gamma and mean_degree must not be."
            )
        items = sorted(kappas.items())
        kdf = spark.createDataFrame(
            [(int(k), float(v)) for k, v in items], "id long, kappa double"
        )
        n = len(items)
        mean_degree = sum(kappas.values()) / n
    else:
        if n is None or gamma is None or mean_degree is None:
            raise NetworkXError(
                "Please provide either kappas, or all 3 of: n, gamma and mean_degree."
            )
        gam_ratio = (gamma - 2) / (gamma - 1)
        kappa_0 = mean_degree * gam_ratio * (1 - 1 / n) / (1 - 1 / n**gam_ratio)
        base = 1 - 1 / n
        power = 1 / (1 - gamma)
        u = _coin(F.lit(int(seed)), F.col("id"), F.lit(11))
        kdf = spark.range(int(n)).select(
            F.col("id").cast("long"),
            (F.lit(kappa_0) * (F.lit(1.0) - u * F.lit(base)) ** F.lit(power)).alias("kappa"),
        )
    R = n / (2 * math.pi)
    if beta > 1:
        mu = beta * math.sin(math.pi / beta) / (2 * math.pi * mean_degree)
    elif beta == 1:
        mu = 1 / (2 * mean_degree * math.log(n))
    else:
        mu = (1 - beta) / (2**beta * mean_degree * n ** (1 - beta))
    theta_col = _coin(F.lit(int(seed)), F.col("id"), F.lit(13)) * F.lit(2 * math.pi)
    zeta = 1 if beta > 1 else 1 / beta
    R_c = 2 * max(1, beta) / (beta * zeta)
    R_hat_base = (2 / zeta) * math.log(n / math.pi)
    pos = kdf.withColumn("theta", theta_col).persist()
    right = pos.select(*[F.col(c).alias(f"r_{c}") for c in pos.columns])
    import math as _m

    angle = F.lit(_m.pi) - F.abs(F.lit(_m.pi) - F.abs(F.col("theta") - F.col("r_theta")))
    dij = (F.lit(R) * angle) ** F.lit(float(beta))
    mk = (F.lit(mu) * F.col("kappa") * F.col("r_kappa")) ** F.lit(float(max(1, beta)))
    p_ij = F.lit(1.0) / (F.lit(1.0) + dij / mk)
    coin = _coin(F.lit(int(seed)), F.col("id"), F.col("r_id"), F.lit(17))
    e = (
        pos.join(right, F.col("id") < F.col("r_id"))
        .filter(coin < p_ij)
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"),
                F.lit(1.0).alias("weight"))
    )
    # radius column: R_hat - R_c * log(kappa), R_hat from the min kappa
    kappa_min = pos.agg(F.min("kappa")).collect()[0][0]
    R_hat = R_hat_base - R_c * _m.log(mu * kappa_min)
    v_final = pos.withColumn("radius", F.lit(R_hat) - F.lit(R_c) * F.log("kappa"))
    return SparkGraph(e, vertices=v_final, directed=False, coalesce_edges=False)


def navigable_small_world_graph(
    spark: SparkSession,
    n: int,
    p: int = 1,
    q: int = 1,
    r: float = 2,
    dim: int = 2,
    seed: int = 0,
) -> SparkGraph:
    """``geometric.py`` ``navigable_small_world_graph`` (Kleinberg 2000) —
    an n^dim grid with arcs to every node within L1 distance p plus q
    long-range arcs per node drawn ∝ d^-r. The reference keys nodes by
    grid tuples; here ids are the mixed-radix encoding and the grid
    coordinates ride as vertex columns c0..c{dim-1}. The long-range draw
    conditions on the full distance CDF per node (the model is O(n^2dim)
    by definition), run driver-side like the reference."""
    from itertools import product as _product
    from bisect import bisect_left
    from itertools import accumulate

    if p < 1:
        raise NetworkXError("p must be >= 1")
    if q < 0:
        raise NetworkXError("q must be >= 0")
    if r < 0:
        raise NetworkXError("r must be >= 0")
    rng = _random.Random(int(seed))
    nodes = list(_product(range(int(n)), repeat=int(dim)))

    def enc(t):
        x = 0
        for c in t:
            x = x * int(n) + int(c)
        return x

    arcs = set()
    for p1 in nodes:
        probs = [0.0]
        others = []
        for p2 in nodes:
            if p1 == p2:
                continue
            d = sum(abs(b - a) for a, b in zip(p1, p2))
            if d <= p:
                arcs.add((enc(p1), enc(p2)))
            others.append(p2)
            probs.append(float(d) ** (-float(r)) if r > 0 else 1.0)
        cdf = list(accumulate(probs))
        for _ in range(int(q)):
            x = rng.uniform(0, cdf[-1])
            idx = bisect_left(cdf, x)
            target = others[max(0, idx - 1)]
            arcs.add((enc(p1), enc(target)))
    v = spark.createDataFrame(
        [(enc(t), *[int(c) for c in t]) for t in nodes],
        "id long, " + ", ".join(f"c{d} long" for d in range(int(dim))),
    )
    e = spark.createDataFrame(
        [(u, w, 1.0) for u, w in sorted(arcs)], "src long, dst long, weight double"
    )
    return SparkGraph(e, vertices=v, directed=True, coalesce_edges=False)


def uniform_random_intersection_graph(
    spark: SparkSession, n: int, m: int, p: float, seed: int = 0
) -> SparkGraph:
    """``intersection.py`` ``uniform_random_intersection_graph`` — nodes
    pick each of m attributes with prob p; two nodes join iff they share
    an attribute. Distributed: the membership table is an n×m hash-coin
    grid, the projection is one equi-join on the attribute key (the LSH
    bucket-join shape — never all-pairs unless the model itself is)."""
    member = (
        spark.range(int(n)).select(F.col("id"))
        .crossJoin(spark.range(int(m)).select(F.col("id").alias("attr")))
        .filter(_coin(F.lit(int(seed)), "id", "attr") < float(p))
    )
    other = member.select(F.col("id").alias("r_id"), "attr")
    e = (
        member.join(other, "attr")
        .filter(F.col("id") < F.col("r_id"))
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=_vertices(spark, int(n)), directed=False,
                      coalesce_edges=False)


def k_random_intersection_graph(
    spark: SparkSession, n: int, m: int, k: int, seed: int = 0
) -> SparkGraph:
    """``intersection.py`` ``k_random_intersection_graph`` — each node
    picks exactly k of m attributes uniformly; edge iff shared attribute.
    The exact-k sample is a per-node top-k over hash ranks (one window
    partitioned by node), then the same attribute equi-join."""
    from pyspark.sql import Window

    ranked = (
        spark.range(int(n)).select(F.col("id"))
        .crossJoin(spark.range(int(m)).select(F.col("id").alias("attr")))
        .withColumn("_h", F.xxhash64(F.lit(int(seed)), "id", "attr"))
        .withColumn(
            "_rk", F.row_number().over(Window.partitionBy("id").orderBy("_h", "attr"))
        )
        .filter(F.col("_rk") <= int(k))
        .select("id", "attr")
    )
    other = ranked.select(F.col("id").alias("r_id"), "attr")
    e = (
        ranked.join(other, "attr")
        .filter(F.col("id") < F.col("r_id"))
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=_vertices(spark, int(n)), directed=False,
                      coalesce_edges=False)


def general_random_intersection_graph(
    spark: SparkSession, n: int, m: int, p, seed: int = 0
) -> SparkGraph:
    """``intersection.py`` ``general_random_intersection_graph`` — per-
    attribute membership probabilities ``p[j]``; the probability vector is
    broadcast-joined onto the membership grid."""
    p = [float(x) for x in p]
    if len(p) != int(m):
        raise ValueError("Probability list p must have m elements.")
    pdf = spark.createDataFrame(
        [(j, pj) for j, pj in enumerate(p)], "attr long, _p double"
    )
    member = (
        spark.range(int(n)).select(F.col("id"))
        .crossJoin(F.broadcast(pdf))
        .filter(_coin(F.lit(int(seed)), "id", "attr") < F.col("_p"))
        .select("id", "attr")
    )
    other = member.select(F.col("id").alias("r_id"), "attr")
    e = (
        member.join(other, "attr")
        .filter(F.col("id") < F.col("r_id"))
        .select(F.col("id").alias("src"), F.col("r_id").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    return SparkGraph(e, vertices=_vertices(spark, int(n)), directed=False,
                      coalesce_edges=False)


def random_kernel_graph(
    spark: SparkSession, n: int, kernel_integral, kernel_root=None, seed: int = 0
) -> SparkGraph:
    """``random_graphs.py`` ``random_kernel_graph`` (Hagberg-Lemons 2015)
    — sparse inhomogeneous random graph by kernel-CDF skip sampling. The
    skip recurrence is sequential (each jump conditions on the last),
    driver-side; ``kernel_root`` defaults to bisection on
    ``kernel_integral`` (SciPy-free)."""
    import math

    if kernel_root is None:
        def kernel_root(y, a, r):
            lo, hi = a, 1.0
            for _ in range(80):
                mid = (lo + hi) / 2
                if kernel_integral(y, a, mid) - r < 0:
                    lo = mid
                else:
                    hi = mid
            return hi
    rng = _random.Random(int(seed))
    edges = []
    i, j = 1, 1
    n = int(n)
    while i < n:
        r = -math.log(1 - rng.random())
        if kernel_integral(i / n, j / n, 1) <= r:
            i, j = i + 1, i + 1
        else:
            j = math.ceil(n * kernel_root(i / n, j / n, r))
            edges.append((i - 1, j - 1))
    return _edges_to_graph(spark, edges, n)


def maybe_regular_expander_graph(
    spark: SparkSession, n: int, d: int, max_tries: int = 100, seed: int = 0
) -> SparkGraph:
    """``expanders.py`` ``maybe_regular_expander_graph`` — union of d/2
    edge-disjoint Hamiltonian cycles from random permutations (Joel
    Friedman's construction: almost surely Ramanujan)."""
    if n < 1:
        raise NetworkXError("n must be a positive integer")
    if d < 1 or d % 2 != 0:
        raise NetworkXError("d must be a positive even integer")
    if n - 1 < d:
        raise NetworkXError(
            f"Need n-1>= d to have room for {d // 2} independent cycles with {n} nodes"
        )
    rng = _random.Random(int(seed))
    edges = set()
    if n < 2:
        return _edges_to_graph(spark, [], int(n))
    for i in range(d // 2):
        tries = int(max_tries)
        while len(edges) != (i + 1) * n:
            tries -= 1
            cycle = list(range(n - 1))
            rng.shuffle(cycle)
            cycle.append(n - 1)
            new = set()
            ok = True
            for u, v in zip(cycle, cycle[1:] + cycle[:1]):
                key = (min(u, v), max(u, v))
                if key in edges or key in new or u == v:
                    ok = False
                    break
                new.add(key)
            if ok and len(new) == n:
                edges.update(new)
            if tries == 0:
                raise NetworkXError("Too many iterations in maybe_regular_expander_graph")
    return _edges_to_graph(spark, sorted(edges), int(n))


def maybe_regular_expander(
    spark: SparkSession, n: int, d: int, max_tries: int = 100, seed: int = 0
) -> SparkGraph:
    """``expanders.py`` alias of ``maybe_regular_expander_graph``."""
    return maybe_regular_expander_graph(spark, n, d, max_tries=max_tries, seed=seed)


def is_regular_expander(g: SparkGraph, *, epsilon: float = 0) -> bool:
    """``expanders.py`` ``is_regular_expander`` — d-regular AND
    ``|λ2| < 2√(d-1) + ε`` (Ramanujan bound). The spectral check collects
    the (sparse) adjacency to the driver under a size guard — an O(n)
    eigensolve is inherently a numerics kernel, exactly as the reference
    defers to scipy."""
    import numpy as np

    from linkgraph.algos.degrees import is_regular

    if epsilon < 0:
        raise NetworkXError("epsilon must be non negative")
    if not is_regular(g):
        return False
    nv = g.vertices.count()
    check_driver_limit(nv, _EXPANDER_NODES, "is_regular_expander")
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((nv, nv))
    for r in g.symmetric_edges().select("src", "dst").collect():
        A[idx[r["src"]], idx[r["dst"]]] = 1.0
    d = int(A[0].sum())
    lams = np.sort(np.abs(np.linalg.eigvalsh(A)))[::-1]
    lambda2 = lams[1] if nv > 1 else 0.0
    return bool(abs(lambda2) < 2 * np.sqrt(max(d - 1, 0)) + epsilon)


def random_regular_expander_graph(
    spark: SparkSession, n: int, d: int, *, epsilon: float = 0,
    max_tries: int = 100, seed: int = 0
) -> SparkGraph:
    """``expanders.py`` ``random_regular_expander_graph`` — retry the
    maybe-expander draw until the Ramanujan check passes."""
    for t in range(int(max_tries)):
        g = maybe_regular_expander_graph(
            spark, n, d, max_tries=max_tries, seed=int(seed) + 7907 * t
        )
        if is_regular_expander(g, epsilon=epsilon):
            return g
    raise NetworkXError("Too many iterations in random_regular_expander_graph")


# ---------------------------------------------------------------------- #
# uniform random trees/forests, labeled + unlabeled (``trees.py``)
# — counting/sampling recurrences are integer driver math (Nijenhuis-Wilf
# RANRUT / Wilf "Free"); the resulting tree is the distributed object.
# ---------------------------------------------------------------------- #


def random_labeled_rooted_tree(spark: SparkSession, n: int, seed: int = 0) -> SparkGraph:
    """``trees.py`` ``random_labeled_rooted_tree`` — a uniform labeled
    tree with a uniform root, recorded in ``g.graph['root']``."""
    rng = _random.Random(int(seed))
    g = random_labeled_tree(spark, n, seed=int(seed) + 1)
    g.graph = {"root": rng.randrange(int(n))} if int(n) > 0 else {}
    return g


def random_labeled_rooted_forest(spark: SparkSession, n: int, seed: int = 0) -> SparkGraph:
    """``trees.py`` ``random_labeled_rooted_forest`` — uniform over
    labeled rooted forests via the generalized Prüfer coding (Knuth 1968 /
    Rubey 2000); roots recorded in ``g.graph['roots']``."""
    from math import factorial

    n = int(n)
    rng = _random.Random(int(seed))
    if n == 0:
        g = _edges_to_graph(spark, [], 0)
        g.graph = {"roots": set()}
        return g

    r = rng.randint(0, (n + 1) ** (n - 1) - 1)
    cum = 0
    k = n
    for kk in range(1, n):
        cum += (factorial(n - 1) * n ** (n - kk)) // (
            factorial(kk - 1) * factorial(n - kk)
        )
        if r < cum:
            k = kk
            break
    if k == n:
        g = _edges_to_graph(spark, [], n)
        g.graph = {"roots": set(range(n))}
        return g
    roots = rng.sample(range(n), k)
    p = set(range(n)) - set(roots)
    code = [rng.randint(0, n - 1) for _ in range(n - k - 1)]
    from collections import Counter

    degree = Counter(x for x in code if x in p)
    it = iter(x for x in sorted(p) if degree[x] == 0)
    edges = []
    u = last = next(it)
    for v in code:
        edges.append((u, v))
        degree[v] -= 1
        if v < last and degree[v] == 0:
            u = v
        else:
            last = u = next(it)
    edges.append((u, roots[0]))
    g = _edges_to_graph(spark, edges, n)
    g.graph = {"roots": set(roots)}
    return g


def _num_rooted_trees(n, cache):
    """A000081: unlabeled rooted trees on n nodes (Euler-transform
    recurrence), memoized in ``cache``."""
    for m in range(len(cache), n + 1):
        s = 0
        for d in range(1, m):
            for j in range(1, (m - 1) // d + 1):
                s += d * cache[m - j * d] * cache[d]
        cache.append(s // (m - 1) if m > 1 else 1)
    return cache[n]


def _select_jd_trees(n, cache, rng):
    """Pick (j, d) with Wilf's RANRUT split probability (formula (5),
    Nijenhuis-Wilf ch. 29)."""
    p = rng.randint(0, _num_rooted_trees(n, cache) * (n - 1) - 1)
    cum = 0
    for d in range(n - 1, 0, -1):
        for j in range(1, (n - 1) // d + 1):
            cum += d * _num_rooted_trees(n - j * d, cache) * _num_rooted_trees(d, cache)
            if p < cum:
                return j, d
    raise AssertionError("unreachable")


def _ranrut(n, cache, rng):
    """Uniform unlabeled rooted tree as (edge list, node count); root 0."""
    if n == 1:
        return [], 1
    if n == 2:
        return [(0, 1)], 2
    j, d = _select_jd_trees(n, cache, rng)
    t1, n1 = _ranrut(n - j * d, cache, rng)
    t2, n2 = _ranrut(d, cache, rng)
    for _ in range(j):
        t1.append((0, n1))
        t1.extend((a + n1, b + n1) for a, b in t2)
        n1 += n2
    return t1, n1


def random_unlabeled_rooted_tree(
    spark: SparkSession, n: int, *, number_of_trees: int = None, seed: int = 0
):
    """``trees.py`` ``random_unlabeled_rooted_tree`` — uniform over
    ISOMORPHISM CLASSES of rooted trees (RANRUT, Nijenhuis-Wilf 1978).
    Root is node 0 (``g.graph['root']``). With ``number_of_trees`` returns
    a list, like the reference."""
    if n <= 0:
        raise NetworkXError("n must be greater than zero")
    rng = _random.Random(int(seed))
    cache = [0, 1]

    def one():
        edges, nn = _ranrut(int(n), cache, rng)
        g = _edges_to_graph(spark, edges, nn)
        g.graph = {"root": 0}
        return g

    if number_of_trees is None:
        return one()
    return [one() for _ in range(int(number_of_trees))]


def _num_rooted_forests(n, q, cache):
    """Unlabeled rooted forests on n nodes, each tree <= q nodes
    (Wilf 1981 formula (2))."""
    for m in range(len(cache), n + 1):
        q_i = min(m, q)
        s = 0
        for d in range(1, q_i + 1):
            for j in range(1, m // d + 1):
                s += d * cache[m - j * d] * cache[d - 1]
        cache.append(s // m if m > 0 else 1)
    return cache[n]


def _select_jd_forests(n, q, cache_f, rng):
    p = rng.randint(0, _num_rooted_forests(n, q, cache_f) * n - 1)
    cum = 0
    for d in range(q, 0, -1):
        for j in range(1, n // d + 1):
            cum += (
                d
                * _num_rooted_forests(n - j * d, q, cache_f)
                * _num_rooted_forests(d - 1, q, cache_f)
            )
            if p < cum:
                return j, d
    raise AssertionError("unreachable")


def _ranruf(n, q, cache_t, cache_f, rng):
    """Uniform unlabeled rooted forest (algorithm "Forest", Wilf 1981):
    (edges, node count, list of roots)."""
    if n == 0:
        return [], 0, []
    j, d = _select_jd_forests(n, q, cache_f, rng)
    t1, n1, r1 = _ranruf(n - j * d, q, cache_t, cache_f, rng)
    t2, n2 = _ranrut(d, cache_t, rng)
    for _ in range(j):
        r1.append(n1)
        t1.extend((a + n1, b + n1) for a, b in t2)
        n1 += n2
    return t1, n1, r1


def random_unlabeled_rooted_forest(
    spark: SparkSession, n: int, *, q: int = None,
    number_of_forests: int = None, seed: int = 0
):
    """``trees.py`` ``random_unlabeled_rooted_forest`` — uniform over
    isomorphism classes of rooted forests with at most ``q`` nodes per
    tree; roots in ``g.graph['roots']``."""
    if q is None:
        q = int(n)
    if q == 0 and n != 0:
        raise NetworkXError("q must be a positive integer if n > 0.")
    rng = _random.Random(int(seed))
    cache_t = [0, 1]
    cache_f = [1]

    def one():
        edges, nn, roots = _ranruf(int(n), int(q), cache_t, cache_f, rng)
        g = _edges_to_graph(spark, edges, nn)
        g.graph = {"roots": set(roots)}
        return g

    if number_of_forests is None:
        return one()
    return [one() for _ in range(int(number_of_forests))]


def _num_trees(n, cache):
    """Otter's formula: free trees from rooted trees."""
    from math import comb

    r = _num_rooted_trees(n, cache) - sum(
        _num_rooted_trees(j, cache) * _num_rooted_trees(n - j, cache)
        for j in range(1, n // 2 + 1)
    )
    if n % 2 == 0:
        r += comb(_num_rooted_trees(n // 2, cache) + 1, 2)
    return r


def random_unlabeled_tree(
    spark: SparkSession, n: int, *, number_of_trees: int = None, seed: int = 0
):
    """``trees.py`` ``random_unlabeled_tree`` — uniform over isomorphism
    classes of FREE trees (Wilf's algorithm "Free": bicentroid split for
    even n, else a rooted forest hung under a new centroid)."""
    from math import comb

    if n <= 0:
        raise NetworkXError("n must be greater than zero")
    rng = _random.Random(int(seed))
    cache_t = [0, 1]
    cache_f = [1]

    def one():
        nn = int(n)
        p = comb(_num_rooted_trees(nn // 2, cache_t) + 1, 2) if nn % 2 == 0 else 0
        if rng.randint(0, _num_trees(nn, cache_t) - 1) < p:
            # bicenter: two rooted halves joined at the roots
            t, tn = _ranrut(nn // 2, cache_t, rng)
            if rng.randint(0, _num_rooted_trees(nn // 2, cache_t)) == 0:
                t2, t2n = list(t), tn
            else:
                t2, t2n = _ranrut(nn // 2, cache_t, rng)
            edges = list(t)
            edges.extend((a + nn // 2, b + nn // 2) for a, b in t2)
            edges.append((0, nn // 2))
            return _edges_to_graph(spark, edges, tn + t2n)
        f, nf, roots = _ranruf(nn - 1, (nn - 1) // 2, cache_t, cache_f, rng)
        edges = list(f) + [(i, nf) for i in roots]
        return _edges_to_graph(spark, edges, nf + 1)

    if number_of_trees is None:
        return one()
    return [one() for _ in range(int(number_of_trees))]


def directed_configuration_model(
    spark: SparkSession,
    in_degree_sequence,
    out_degree_sequence,
    seed: int = 0,
) -> SparkGraph:
    """``degree_seq.py`` ``directed_configuration_model`` — uniform
    matching of out-stubs to in-stubs: both stub tables get independent
    hash ranks and equal ranks pair into arcs. Parallel arcs coalesce
    with multiplicity in ``weight``, self-loops survive, so in/out degree
    sums match exactly. Same one-sort shuffle shape as the undirected
    kernel."""
    from pyspark.sql import Window

    din = [int(d) for d in in_degree_sequence]
    dout = [int(d) for d in out_degree_sequence]
    if sum(din) != sum(dout):
        raise NetworkXError(
            "Invalid degree sequences: sequences must have equal sums"
        )
    if len(din) < len(dout):
        din += [0] * (len(dout) - len(din))
    elif len(dout) < len(din):
        dout += [0] * (len(din) - len(dout))

    def _ranked(degs, tag):
        ddf = spark.createDataFrame(
            [(i, d) for i, d in enumerate(degs)], "id long, deg int"
        )
        stubs = ddf.select(
            "id", F.explode(F.sequence(F.lit(0), F.col("deg") - 1)).alias("k")
        ).filter(F.col("k") >= 0)
        return stubs.select(
            "id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.xxhash64(F.lit(int(seed)), F.lit(tag), "id", "k"),
                    "id",
                    "k",
                )
            )
            .alias("r"),
        )
    outs = _ranked(dout, 1).withColumnRenamed("id", "src")
    ins = _ranked(din, 2).withColumnRenamed("id", "dst")
    arcs = outs.join(ins, "r").select("src", "dst").withColumn(
        "weight", F.lit(1.0)
    )
    return SparkGraph(arcs, vertices=_vertices(spark, len(din)),
                      directed=True, coalesce_edges=True)


def directed_havel_hakimi_graph(
    spark: SparkSession, in_deg_sequence, out_deg_sequence
) -> SparkGraph:
    """``degree_seq.py`` ``directed_havel_hakimi_graph`` — Kleitman-Wang
    greedy realization of a digraphical pair of sequences: repeatedly
    satisfy the full in-degree of the node with the lexicographically
    largest (out, in) remaining stubs, drawing arcs from the current
    largest-out-degree donors. Sequential greedy over a global priority
    state — driver-side like the reference; raises when the sequences are
    not digraphical."""
    import heapq

    din = [int(d) for d in in_deg_sequence]
    dout = [int(d) for d in out_deg_sequence]
    if any(d < 0 for d in din + dout):
        raise NetworkXError(
            "Invalid degree sequences. Sequence values must be positive."
        )
    if sum(din) != sum(dout):
        raise NetworkXError(
            "Invalid degree sequences. Sequences must have equal sums."
        )
    n = max(len(din), len(dout))
    din += [0] * (n - len(din))
    dout += [0] * (n - len(dout))
    # unsatisfied-in nodes keyed by (-out, -in); satisfied-in by (-out)
    stubheap = [(-o, -i, v) for v, (i, o) in enumerate(zip(din, dout)) if i > 0]
    zeroheap = [(-o, v) for v, (i, o) in enumerate(zip(din, dout))
                if i == 0 and o > 0]
    heapq.heapify(stubheap)
    heapq.heapify(zeroheap)
    edges = []
    while stubheap:
        neg_out, neg_in, target = heapq.heappop(stubheap)
        need = -neg_in
        if need > len(stubheap) + len(zeroheap):
            raise NetworkXError("Non-digraphical integer sequence")
        touched = []
        for _ in range(need):
            if zeroheap and (not stubheap or stubheap[0][0] > zeroheap[0][0]):
                d_out, donor = heapq.heappop(zeroheap)
                d_in = 0
            else:
                d_out, d_in, donor = heapq.heappop(stubheap)
            if d_out == 0:
                raise NetworkXError("Non-digraphical integer sequence")
            edges.append((donor, target))
            if d_out + 1 < 0 or d_in < 0:
                touched.append((d_out + 1, d_in, donor))
        for d_out, d_in, donor in touched:
            if d_in < 0:
                heapq.heappush(stubheap, (d_out, d_in, donor))
            else:
                heapq.heappush(zeroheap, (d_out, donor))
        if neg_out < 0:
            heapq.heappush(zeroheap, (neg_out, target))
    return _edges_to_graph(spark, edges, n, directed=True)


# ---------------------------------------------------------------------- #
# LFR community benchmark (``community.py`` ``LFR_benchmark_graph``)
# ---------------------------------------------------------------------- #


def _zipf_rv(alpha, xmin, rng):
    """Devroye's bounded-expected-time Zipf sampler (Non-Uniform Random
    Variate Generation, 1986 — the reference's ``nx.utils.zipf_rv``)."""
    a1 = alpha - 1.0
    b = 2 ** a1
    while True:
        u = 1.0 - rng.random()
        v = rng.random()
        x = int(xmin * u ** -(1.0 / a1))
        t = (1.0 + 1.0 / x) ** a1
        if v * x * (t - 1.0) / (b - 1.0) <= t / b:
            return x


def _zipf_below(gamma, xmin, threshold, rng):
    if threshold < xmin:
        raise NetworkXError(
            f"zipf range empty: threshold {threshold} < xmin {xmin} "
            "(check min/max community bounds)"
        )
    while True:
        r = _zipf_rv(gamma, xmin, rng)
        if r <= threshold:
            return r


def _lfr_powerlaw_seq(gamma, low, high, condition, length, max_iters, rng):
    for _ in range(max_iters):
        seq = []
        while not length(seq):
            seq.append(_zipf_below(gamma, low, high, rng))
        if condition(seq):
            return seq
    raise NetworkXError("Could not create power law sequence")


def _hurwitz_zeta(x, q, tol):
    z = 0.0
    z_prev = -float("inf")
    k = 0
    while abs(z - z_prev) > tol:
        z_prev = z
        z += 1 / ((k + q) ** x)
        k += 1
    return z


def _lfr_min_degree(gamma, average_degree, max_degree, tol, max_iters):
    lo, hi = 1, max_degree
    mid = (hi - lo) / 2 + lo
    itrs = 0
    avg = 0.0
    while abs(avg - average_degree) > tol:
        if itrs > max_iters:
            raise NetworkXError("Could not match average_degree")
        avg = sum(
            (x ** (-gamma + 1)) / _hurwitz_zeta(gamma, mid, tol)
            for x in range(int(mid), max_degree + 1)
        )
        if avg > average_degree:
            hi = mid
        else:
            lo = mid
        mid = (hi - lo) / 2 + lo
        itrs += 1
    return round(mid)


def LFR_benchmark_graph(
    spark: SparkSession,
    n: int,
    tau1: float,
    tau2: float,
    mu: float,
    average_degree: float = None,
    min_degree: int = None,
    max_degree: int = None,
    min_community: int = None,
    max_community: int = None,
    tol: float = 1e-7,
    max_iters: int = 500,
    seed: int = 0,
) -> SparkGraph:
    """``community.py`` ``LFR_benchmark_graph`` (Lancichinetti-Fortunato-
    Radicchi 2008) — power-law degrees (exponent tau1) and community
    sizes (tau2), mixing fraction mu of inter-community edges. The
    assignment/wiring recurrence is driver-side like every growth
    process; the result carries a ``community`` index column on the
    vertices and the membership list in ``g.graph['communities']``."""
    if not tau1 > 1:
        raise NetworkXError("tau1 must be greater than one")
    if not tau2 > 1:
        raise NetworkXError("tau2 must be greater than one")
    if not 0 <= mu <= 1:
        raise NetworkXError("mu must be in the interval [0, 1]")
    n = int(n)
    if max_degree is None:
        max_degree = n
    elif not 0 < max_degree <= n:
        raise NetworkXError("max_degree must be in the interval (0, n]")
    if not ((min_degree is None) ^ (average_degree is None)):
        raise NetworkXError(
            "Must assign exactly one of min_degree and average_degree"
        )
    rng = _random.Random(int(seed))
    if min_degree is None:
        min_degree = _lfr_min_degree(tau1, average_degree, max_degree,
                                     tol, max_iters)
    deg_seq = _lfr_powerlaw_seq(
        tau1, min_degree, max_degree,
        lambda s: sum(s) % 2 == 0, lambda s: len(s) >= n, max_iters, rng,
    )
    if min_community is None:
        min_community = min(deg_seq)
    if max_community is None:
        max_community = max(deg_seq)
    comms = _lfr_powerlaw_seq(
        tau2, min_community, max_community,
        lambda s: sum(s) == n, lambda s: sum(s) >= n, max_iters, rng,
    )
    budget = max_iters * 10 * n
    result = [set() for _ in comms]
    free = list(range(n))
    for _ in range(budget):
        v = free.pop()
        c = rng.randrange(len(comms))
        s = round(deg_seq[v] * (1 - mu))
        if s < comms[c]:
            result[c].add(v)
        else:
            free.append(v)
        if len(result[c]) > comms[c]:
            free.append(result[c].pop())
        if not free:
            break
    else:
        raise NetworkXError(
            "Could not assign communities; try increasing min_community"
        )
    adj = {v: set() for v in range(n)}
    comm_of = {}
    for ci, c in enumerate(result):
        clist = sorted(c)
        for u in c:
            comm_of[u] = ci
            while len(adj[u]) < round(deg_seq[u] * (1 - mu)):
                v = rng.choice(clist)
                if v != u:  # stay simple (the reference's Graph collapses
                    adj[u].add(v)  # duplicates; self-loops add nothing)
                    adj[v].add(u)
                elif len(clist) == 1:
                    break
            while len(adj[u]) < deg_seq[u]:
                v = rng.randrange(n)
                if v not in c:
                    adj[u].add(v)
                    adj[v].add(u)
    edges = sorted(
        {(min(u, v), max(u, v)) for u, s in adj.items() for v in s}
    )
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    v_df = spark.createDataFrame(
        [(v, comm_of.get(v, -1)) for v in range(n)], "id long, community long"
    )
    g = SparkGraph(e, v_df, directed=False, coalesce_edges=False)
    g.graph = {"communities": [set(c) for c in result]}
    return g


def spectral_graph_forge(
    spark: SparkSession, g: SparkGraph, alpha: float,
    transformation: str = "identity", seed: int = 0,
    *, max_nodes: int = 20000,
) -> SparkGraph:
    """``degree_seq.py``-adjacent ``spectral_graph_forge`` (Baldesi et
    al. 2018) — regenerate a random graph preserving the top
    ``alpha``-fraction of the (modularity-)spectrum: low-rank-approximate
    B, clip to [0,1], Bernoulli-sample the upper triangle. The
    eigensolve is dense numerics (the reference defers to numpy/scipy) —
    driver-gated over the distributed adjacency; sampling coins are
    seeded hash draws."""
    import numpy as np

    from linkgraph.linalg import adjacency_matrix

    transformations = ["identity", "modularity"]
    if transformation not in transformations:
        raise NetworkXError(
            f"{transformation!r} is not a valid transformation. "
            f"Transformations: {transformations}"
        )
    alpha = min(max(float(alpha), 0.0), 1.0)
    A, ids = adjacency_matrix(g, max_nodes=max_nodes)
    n = A.shape[1]
    level = round(n * alpha)
    K = np.ones((1, n)) @ A
    B = A.copy()
    if transformation == "modularity":
        B -= K.T @ K / K.sum()
    evals, evecs = np.linalg.eigh(B)
    order = np.argsort(np.abs(evals))[::-1]
    evecs[:, order[np.arange(level, n)]] = 0
    B = evecs @ np.diag(evals) @ evecs.T
    if transformation == "modularity":
        B += K.T @ K / K.sum()
    B = np.clip(B, 0, 1)
    np.fill_diagonal(B, 0)
    rng = _random.Random(int(seed))
    edges = []
    for i in range(n - 1):
        for j in range(i + 1, n):
            if rng.random() < B[i, j]:
                edges.append((ids[i], ids[j]))
    return _edges_to_graph(spark, edges, [int(x) for x in ids])


def random_internet_as_graph(spark: SparkSession, n: int, seed: int = 0) -> SparkGraph:
    """``internet_as_graphs.py`` ``random_internet_as_graph`` (Elmokashfi
    et al. 2010) — an Internet AS-level topology: a tier-1 clique (T),
    mid-level (M), content-provider (CP) and customer (C) nodes wired by
    preferential transit links plus M-M / CP-M / CP-CP peering. Sequential
    policy growth, driver-side; vertices carry the ``type`` code column
    (0=T 1=M 2=CP 3=C), edges carry ``etype`` (0=transit 1=peer) and
    ``customer`` (node id, -1 for peer links)."""
    from math import floor

    rng = _random.Random(int(seed))
    n = int(n)
    n_t = min(n, round(rng.random() * 2 + 4))
    n_m = round(0.15 * n)
    n_cp = round(0.05 * n)
    n_c = max(0, n - n_t - n_m - n_cp)
    d_m = 2 + (2.5 * n) / 10000
    d_cp = 2 + (1.5 * n) / 10000
    d_c = 1 + (5 * n) / 100000
    p_m_m = 1 + (2 * n) / 10000
    p_cp_m = 0.2 + (2 * n) / 10000
    p_cp_cp = 0.05 + (2 * n) / 100000
    t_m, t_cp, t_c = 0.375, 0.375, 0.125

    def avg_int(a, m):
        b = 2 * m - a
        p = (b - floor(b)) / 2
        x1 = round(rng.random() * (floor(b) - a) + a)
        return x1 + (1 if rng.random() < p else 0)

    def weighted_pick(weights):
        if not weights:
            return None
        total = sum(weights.values())
        keys = list(weights.keys())
        if total == 0:
            return rng.choice(keys)
        v = rng.random() * total
        acc = 0.0
        for k in keys:
            acc += weights[k]
            if v <= acc:
                return k
        return keys[-1]

    regions = {r: set() for r in range(5)}
    adj = {}
    etype = {}
    ecust = {}
    ntype = {}
    peers_deg = {}
    customers = {}
    providers = {}
    kinds = {"T": set(), "M": set(), "CP": set(), "C": set()}

    def put_edge(i, j, kind):
        adj[i].add(j)
        adj[j].add(i)
        key = (min(i, j), max(i, j))
        etype[key] = kind
        ecust[key] = i if kind == "transit" else -1

    # tier-1 clique, present in every region
    for i in range(n_t):
        adj[i] = set()
        ntype[i] = "T"
        peers_deg[i] = 0
        customers[i] = set()
        providers[i] = set()
        for r in regions:
            regions[r].add(i)
        for j in range(i):
            put_edge(i, j, "peer")
        kinds["T"].add(i)

    def become_customer(i, j):
        customers[j].add(i)
        providers[i].add(j)
        for z in providers[j]:
            customers[z].add(i)
            providers[i].add(z)

    def grow(i, kind, reg2prob, avg_deg, t_edge_prob):
        regs = 2 if rng.random() < reg2prob else 1
        options = set()
        adj[i] = set()
        ntype[i] = kind
        peers_deg[i] = 0
        customers[i] = set()
        providers[i] = set()
        kinds[kind].add(i)
        for r in rng.sample(list(regions), regs):
            options |= regions[r]
            regions[r].add(i)
        edge_num = avg_int(1, avg_deg)
        t_opts = options & kinds["T"]
        m_opts = (options & kinds["M"]) - {i}
        d = 0
        while d < edge_num and (t_opts or m_opts):
            if not m_opts or (t_opts and rng.random() < t_edge_prob):
                j = weighted_pick({x: len(adj[x]) for x in sorted(t_opts)})
                t_opts.discard(j)
            else:
                j = weighted_pick({x: len(adj[x]) for x in sorted(m_opts)})
                m_opts.discard(j)
            put_edge(i, j, "transit")
            become_customer(i, j)
            d += 1

    nid = n_t
    for _ in range(n_m):
        grow(nid, "M", 0.2, d_m, t_m)
        nid += 1
    for _ in range(n_cp):
        grow(nid, "CP", 0.05, d_cp, t_cp)
        nid += 1
    for _ in range(n_c):
        grow(nid, "C", 0, d_c, t_c)
        nid += 1

    def m_peer(m):
        opts = kinds["M"] - customers[m] - providers[m] - {m} - adj[m]
        if not opts:
            return
        j = weighted_pick({x: peers_deg[x] for x in sorted(opts)})
        put_edge(m, j, "peer")
        peers_deg[m] += 1
        peers_deg[j] += 1

    def cp_peer(cp):
        opts = set()
        for r in regions:
            if cp in regions[r]:
                opts |= regions[r]
        opts = opts - {cp} - providers[cp] - adj[cp]
        if not opts:
            return
        j = rng.sample(sorted(opts), 1)[0]
        put_edge(cp, j, "peer")
        peers_deg[cp] += 1
        peers_deg[j] += 1

    for i in sorted(kinds["M"]):
        for _ in range(avg_int(0, p_m_m)):
            m_peer(i)
    for i in sorted(kinds["CP"]):
        for _ in range(avg_int(0, p_cp_m)):
            cp_peer(i)
    for i in sorted(kinds["CP"]):
        for _ in range(avg_int(0, p_cp_cp)):
            cp_peer(i)

    tcode = {"T": 0, "M": 1, "CP": 2, "C": 3}
    v_df = spark.createDataFrame(
        [(v, tcode[ntype[v]]) for v in sorted(ntype)], "id long, type int"
    )
    rows = [
        (u, v, 1.0, 0 if etype[(u, v)] == "transit" else 1, int(ecust[(u, v)]))
        for (u, v) in sorted(etype)
    ]
    e_df = spark.createDataFrame(
        rows or [],
        "src long, dst long, weight double, etype int, customer long",
    )
    return SparkGraph(e_df, v_df, directed=False, coalesce_edges=False)
