"""Walk counting.

Reference: ``networkx/algorithms/walks.py:9`` ``number_of_walks`` — the
(u, v) entry of the adjacency matrix power ``A^k``. The reference
materializes the dense/sparse matrix power; the DataFrame twin computes the
same counts by ``k − 1`` semiring joins (sum over mid of
``walks(u, mid) · A(mid, v)``), which is how a 100 TB graph would do it —
each round is one equi-join + groupBy keyed on the frontier column, no
n×n matrix anywhere. Counts grow as fast as the reference's (use small k;
the row explosion is inherent to the definition, not the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count

__all__ = ["number_of_walks"]


def number_of_walks(g: SparkGraph, walk_length: int) -> DataFrame:
    """(src, dst, walks): number of ``walk_length``-edge walks between each
    node pair (``walks.py:9``). Zero-count pairs are absent (the reference
    returns dense dicts with explicit zeros — the relational form drops
    them). ``walk_length=0`` is the identity, one row per node.
    """
    if walk_length < 0:
        raise ValueError(f"`walk_length` cannot be negative: {walk_length}")
    if walk_length == 0:
        return g.vertices.select(
            F.col("id").alias("src"), F.col("id").alias("dst"), F.lit(1).alias("walks")
        )
    # A with multigraph multiplicity (weight=None in the reference counts
    # parallel edges); undirected self-loops enter once, like the
    # reference's dict-of-dict adjacency.
    with SuperstepCache(g.spark) as cache:
        arcs = cache.pin(
            (g.edges if g.directed else g.symmetric_edges())
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("a"))
        )
        walks = arcs.select("src", "dst", F.col("a").alias("walks"))
        prev = None
        for _ in range(walk_length - 1):
            walks = cache.truncate(
                walks.withColumnRenamed("dst", "mid")
                .join(arcs.withColumnRenamed("src", "mid"), "mid")
                .groupBy("src", "dst")
                .agg(F.sum(F.col("walks") * F.col("a")).alias("walks")),
                retire=prev,
            )
            prev = walks
        return cache.result(walks)


def generate_random_paths(
    g: SparkGraph,
    sample_size: int,
    path_length: int = 5,
    *,
    weight="weight",
    seed: int = 0,
) -> DataFrame:
    """``similarity.py`` ``generate_random_paths`` — ``sample_size``
    weighted random walks of ``path_length`` edges. Fully distributed:
    the per-source transition table carries cumulative probability
    intervals (one window over each source's out-arcs, built once) and
    every step resolves ALL walks with one hash-coin interval join — no
    sequential RNG stream, identical transition distribution.

    Returns (sample, step, node); walks that hit a sink stop early (the
    reference indexes into a dense transition matrix, which simply has no
    row mass there either)."""
    from pyspark.sql.window import Window

    from linkgraph.graph import resolve_weight_column

    spark = g.spark
    base = g.symmetric_edges() if not g.directed else g.edges
    arcs = base.select(
        "src", "dst", F.abs(resolve_weight_column(base, weight)).alias("w")
    ).filter(F.col("w") > 0)
    win = Window.partitionBy("src").orderBy("dst")
    tot = Window.partitionBy("src")
    with SuperstepCache(spark) as cache:
        trans = cache.pin(
            arcs.select(
                "src",
                "dst",
                (F.sum("w").over(win) / F.sum("w").over(tot)).alias("hi"),
                (
                    (F.sum("w").over(win) - F.col("w")) / F.sum("w").over(tot)
                ).alias("lo"),
            )
        )

        # start nodes: hash-uniform over the vertex table (rank join)
        verts = g.vertices.select("id")
        n = verts.count()
        ranked = verts.select(
            "id",
            (F.row_number().over(Window.orderBy("id")) - 1).alias("_r"),
        )
        samples = spark.range(int(sample_size)).select(
            F.col("id").alias("sample"),
            F.pmod(F.xxhash64("id", F.lit(int(seed))), F.lit(n)).alias("_r"),
        )
        state = samples.join(ranked, "_r").select(
            "sample", F.lit(0).alias("step"), F.col("id").alias("node")
        )
        out = cache.truncate(state)
        frontier = out
        for s in range(1, int(path_length) + 1):
            coin = (
                F.pmod(
                    F.xxhash64("sample", F.lit(int(seed) + 1), F.lit(s)),
                    F.lit(1 << 53),
                )
                / F.lit(float(1 << 53))
            )
            nxt, seen = cache.truncate(
                frontier.select("sample", F.col("node").alias("src"))
                .withColumn("u", coin)
                .join(trans, "src")
                .filter((F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")))
                .select("sample", F.lit(s).alias("step"), F.col("dst").alias("node")),
                retire=None if frontier is out else frontier,
                figures=row_count(),
            )
            if seen["rows"] == 0:
                break
            out = cache.truncate(out.unionByName(nxt), retire=out)
            frontier = nxt
        return cache.result(out)


def panther_similarity(
    g: SparkGraph,
    source,
    k: int = 5,
    path_length: int = 5,
    *,
    sample_size: int = None,
    seed: int = 0,
    weight="weight",
) -> DataFrame:
    """``similarity.py`` ``panther_similarity`` (Zhang et al., KDD 2015) —
    similarity of ``source`` to every node as the fraction of sampled
    random paths containing BOTH, top-k. The estimator is
    sampling-identical in distribution to the reference (co-occurrence
    over R random paths); exact path sets differ (hash RNG vs MT stream),
    so tests pin invariants, not values. One distributed walk generation +
    one semi-join + one count — never per-pair."""
    source = int(source)
    if sample_size is None:
        # the reference sizes R from (eps, delta); its default works out
        # to O(k log n); a deterministic, generous default keeps the
        # estimator stable
        n = g.number_of_nodes()
        import math as _m

        sample_size = max(200, int(_m.ceil(20 * _m.log(max(n, 2)) * k)))
    paths = generate_random_paths(
        g, sample_size, path_length, weight=weight, seed=seed
    )
    membership = paths.select("sample", "node").distinct()
    with_src = membership.filter(F.col("node") == source).select("sample")
    hits = (
        membership.join(with_src, "sample", "left_semi")
        .filter(F.col("node") != source)
        .groupBy(F.col("node").alias("id"))
        .agg((F.count(F.lit(1)) / F.lit(float(sample_size))).alias("similarity"))
    )
    return hits.orderBy(F.col("similarity").desc(), "id").limit(int(k))


def panther_vector_similarity(
    g: SparkGraph,
    source,
    *,
    D: int = 10,
    k: int = 5,
    path_length: int = 5,
    sample_size: int = None,
    eps: float = None,
    weight="weight",
    seed: int = 0,
) -> DataFrame:
    """``similarity.py`` ``panther_vector_similarity`` (Panther++) —
    every node's feature is its sorted top-``D`` path-co-occurrence
    similarity vector; the result is the ``k`` nearest nodes to
    ``source`` in that feature space, scored ``1/distance`` normalized to
    max 1.

    Spark shape: path membership self-joined on the path key (bounded by
    path length, never all-pairs), one per-node top-D window for the
    feature vectors, then a broadcast of the source's vector for the
    distance scan — the KD-tree of the reference is a driver-side search
    structure; the flat distance scan is the distributed equivalent.
    """
    from pyspark.sql.window import Window

    source = int(source)
    n = g.number_of_nodes()
    if n < D:
        raise NetworkXError(
            f"The number of requested similarity scores {D} is greater "
            f"than the number of nodes {n}."
        )
    if sample_size is None:
        import math as _m

        sample_size = max(200, int(_m.ceil(20 * _m.log(max(n, 2)) * k)))
    if eps is None:
        import math as _m

        eps = _m.sqrt(1.0 / sample_size)
    paths = generate_random_paths(
        g, sample_size, path_length, weight=weight, seed=seed
    )
    membership = paths.select("sample", "node").distinct().persist()
    co = (
        membership.join(
            membership.select(
                F.col("sample"), F.col("node").alias("other")
            ),
            "sample",
        )
        .groupBy("node", "other")
        .agg((F.count(F.lit(1)) / F.lit(float(sample_size))).alias("sim"))
    )
    topd = (
        co.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("node").orderBy(F.col("sim").desc(), "other")
            ),
        )
        .filter(F.col("_rk") <= int(D))
        .groupBy("node")
        .agg(
            F.reverse(F.array_sort(F.collect_list("sim"))).alias("_theta")
        )
        # pad with zeros to length D so distances are well-defined
        .withColumn(
            "theta",
            F.slice(
                F.concat(
                    F.col("_theta"),
                    F.array_repeat(F.lit(0.0), int(D)),
                ),
                1,
                int(D),
            ),
        )
        .select("node", "theta")
        .persist()
    )
    src_rows = topd.filter(F.col("node") == source).collect()
    if not src_rows:
        src_theta = [0.0] * int(D)
    else:
        src_theta = list(src_rows[0]["theta"])
    src_arr = F.array(*[F.lit(float(x)) for x in src_theta])
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("theta"), src_arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nearest = (
        topd.withColumn("_dist", dist)
        .orderBy(F.col("_dist").asc(), "node")
        .limit(int(k) + 1)
        .withColumn("_sim", F.lit(1.0) / F.greatest(F.col("_dist"), F.lit(float(eps))))
    )
    rows = nearest.collect()
    max_sim = max((r["_sim"] for r in rows), default=1.0) or 1.0
    out = [
        (r["node"], r["_sim"] / max_sim)
        for r in rows
        if r["node"] != source
    ][: int(k)]
    membership.unpersist()
    topd.unpersist()
    return g.spark.createDataFrame(out, "id long, similarity double").orderBy(
        F.col("similarity").desc(), "id"
    )
