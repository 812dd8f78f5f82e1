"""Link prediction — common-neighbor family as self-joins.

Semantics match ``networkx/algorithms/link_prediction.py``:

- ``jaccard_coefficient`` (``link_prediction.py:114``):
  |Γ(u) ∩ Γ(v)| / |Γ(u) ∪ Γ(v)|; 0 when the union is empty.
- ``resource_allocation_index`` (``link_prediction.py:45``):
  Σ_{w ∈ Γ(u)∩Γ(v)} 1/deg(w).
- ``adamic_adar_index`` (``link_prediction.py:167``): Σ 1/log(deg(w)).
- ``preferential_attachment`` (``link_prediction.py:221``):
  |Γ(u)| · |Γ(v)|.
- ``common_neighbors`` (``networkx/classes/function.py:1064``).

All operate on the undirected simple neighborhood (directed input raises,
matching ``@not_implemented_for("directed")``).

Pair universe: the reference defaults ``ebunch`` to all non-edges — O(n²)
and meaningless at web scale. Here ``pairs=None`` defaults to **candidate
pairs sharing at least one neighbor and not already adjacent** (every pair
any of these scores nonzero on, found by the wedge self-join, i.e. the
shuffle-bounded set); pass an explicit ``pairs`` DataFrame (u, v) for
reference-shaped evaluation.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import local_checkpoint


def _require_undirected(g: SparkGraph, fn: str):
    if g.directed:
        raise ValueError(f"{fn}: not implemented for directed type")


def _ebunch_pairs(g: SparkGraph, pairs, ebunch):
    """Merge the engine's ``pairs`` DataFrame spelling with the
    reference's ``ebunch`` iterable-of-(u, v)-tuples spelling."""
    if ebunch is None:
        return pairs
    if pairs is not None:
        raise ValueError("pass either pairs= or ebunch=, not both")
    return g.spark.createDataFrame(
        [(int(u), int(v)) for u, v in ebunch], "u long, v long"
    )


def _sym(g: SparkGraph) -> DataFrame:
    """Symmetric simple neighbor arcs (id, nbr), self-loops dropped."""
    e = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    return e.select(F.col("src").alias("id"), F.col("dst").alias("nbr")).unionAll(
        e.select(F.col("dst").alias("id"), F.col("src").alias("nbr"))
    )


def _candidate_pairs(sym: DataFrame) -> DataFrame:
    """(u, v), u < v, sharing >= 1 neighbor, not adjacent."""
    a = sym.select(F.col("nbr").alias("w"), F.col("id").alias("u"))
    b = sym.select(F.col("nbr").alias("w"), F.col("id").alias("v"))
    wedges = a.join(b, "w").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    adj = sym.select(
        F.least("id", "nbr").alias("u"), F.greatest("id", "nbr").alias("v")
    ).distinct()
    return wedges.join(adj, ["u", "v"], "left_anti")


def _pair_stats(g: SparkGraph, pairs: Optional[DataFrame]) -> DataFrame:
    """(u, v, cn, du, dv, ra, aa): common-neighbor count plus degree sums
    over the shared neighbors, one wedge join + one aggregation."""
    sym = _sym(g).persist()
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    if pairs is None:
        p = _candidate_pairs(sym)
    else:
        p = pairs.select(
            F.col(pairs.columns[0]).cast("long").alias("u"),
            F.col(pairs.columns[1]).cast("long").alias("v"),
        )
    a = sym.select(F.col("id").alias("u"), F.col("nbr").alias("w"))
    b = sym.select(F.col("id").alias("v"), F.col("nbr").alias("w"))
    shared = (
        p.join(a, "u").join(b, ["v", "w"])  # w adjacent to both u and v
        .join(deg.select(F.col("id").alias("w"), F.col("deg").alias("dw")), "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(1.0 / F.col("dw")).alias("ra"),
            F.sum(1.0 / F.log(F.col("dw"))).alias("aa"),
        )
    )
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    return (
        p.join(shared, ["u", "v"], "left")
        .join(du, "u", "left")
        .join(dv, "v", "left")
        .select(
            "u",
            "v",
            F.coalesce("cn", F.lit(0)).alias("cn"),
            F.coalesce("du", F.lit(0)).alias("du"),
            F.coalesce("dv", F.lit(0)).alias("dv"),
            F.coalesce("ra", F.lit(0.0)).alias("ra"),
            F.coalesce("aa", F.lit(0.0)).alias("aa"),
        )
    )


def common_neighbors(g: SparkGraph, pairs: Optional[DataFrame] = None, ebunch=None) -> DataFrame:
    """(u, v, common_neighbors BIGINT)."""
    _require_undirected(g, "common_neighbors")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    return _pair_stats(g, pairs).select(
        "u", "v", F.col("cn").cast("long").alias("common_neighbors")
    )


def jaccard_coefficient(g: SparkGraph, pairs: Optional[DataFrame] = None, ebunch=None) -> DataFrame:
    """(u, v, jaccard DOUBLE) — |∩| / |∪|, 0 when the union is empty
    (``link_prediction.py:150-153``)."""
    _require_undirected(g, "jaccard_coefficient")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    s = _pair_stats(g, pairs)
    union = F.col("du") + F.col("dv") - F.col("cn")
    return s.select(
        "u",
        "v",
        F.when(union == 0, F.lit(0.0))
        .otherwise(F.col("cn").cast("double") / union)
        .alias("jaccard"),
    )


def resource_allocation_index(
    g: SparkGraph, pairs: Optional[DataFrame] = None, ebunch=None
) -> DataFrame:
    _require_undirected(g, "resource_allocation_index")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    return _pair_stats(g, pairs).select("u", "v", F.col("ra").alias("ra_index"))


def adamic_adar_index(g: SparkGraph, pairs: Optional[DataFrame] = None, ebunch=None) -> DataFrame:
    _require_undirected(g, "adamic_adar_index")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    return _pair_stats(g, pairs).select("u", "v", F.col("aa").alias("aa_index"))


def preferential_attachment(
    g: SparkGraph, pairs: Optional[DataFrame] = None, ebunch=None
) -> DataFrame:
    _require_undirected(g, "preferential_attachment")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    return _pair_stats(g, pairs).select(
        "u", "v", (F.col("du") * F.col("dv")).cast("long").alias("pa")
    )


def dispersion(
    g: SparkGraph,
    pairs: Optional[DataFrame] = None,
    *,
    normalized: bool = True,
    alpha: float = 1.0,
    b: float = 0.0,
    c: float = 0.0,
) -> DataFrame:
    """(u, v, dispersion): ego-network dispersion of v from u
    (``networkx/algorithms/centrality/dispersion.py:9``, Backstrom &
    Kleinberg 2014) for every adjacent ordered pair (or the given
    ``pairs``).

    A pair (s, t) of common neighbors of (u, v) counts toward disp(u, v)
    iff s–t is not an edge and no node w ∉ {u, v} is adjacent to all of
    u, s, t. Relational plan: common-neighbor rows from two arc joins, the
    (s, t) candidates from one self-join per (u, v), the edge condition an
    anti-join, and the witness condition an anti-join against a three-way
    arc join built from the candidates only. Cost is O(Σ CN(u,v)²) over the
    evaluated pairs — the same pair-squared volume the reference's per-ego
    set loops touch; restrict ``pairs`` at scale.
    """
    A = _sym(g).select(F.col("id").alias("src"), F.col("nbr").alias("dst"))
    if pairs is None:
        D = A.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    else:
        D = pairs.select(
            F.col(pairs.columns[0]).cast("long").alias("u"),
            F.col(pairs.columns[1]).cast("long").alias("v"),
        )
    D = D.persist()
    cn = (
        D.join(A.select(F.col("src").alias("u"), F.col("dst").alias("s")), "u")
        .join(A.select(F.col("src").alias("v"), F.col("dst").alias("s")), ["v", "s"])
        .select("u", "v", "s")
    ).persist()
    emb = cn.groupBy("u", "v").agg(F.count(F.lit(1)).alias("emb"))
    cand = (
        cn.alias("x")
        .join(cn.alias("y"), ["u", "v"])
        .filter(F.col("x.s") < F.col("y.s"))
        .select("u", "v", F.col("x.s").alias("s"), F.col("y.s").alias("t"))
    )
    # (s, t) must not be an edge
    cand = cand.join(
        A.select(F.col("src").alias("s"), F.col("dst").alias("t")),
        ["s", "t"],
        "left_anti",
    ).persist()
    # no witness w adjacent to u, s and t (w != v; w != u by simplicity)
    witnesses = (
        cand.join(A.select(F.col("src").alias("s"), F.col("dst").alias("w")), "s")
        .join(A.select(F.col("src").alias("t"), F.col("dst").alias("w")), ["t", "w"])
        .join(A.select(F.col("src").alias("u"), F.col("dst").alias("w")), ["u", "w"])
        .filter(F.col("w") != F.col("v"))
        .select("u", "v", "s", "t")
        .distinct()
    )
    good = cand.join(witnesses, ["u", "v", "s", "t"], "left_anti")
    totals = good.groupBy("u", "v").agg(F.count(F.lit(1)).alias("total"))
    out = (
        D.join(emb, ["u", "v"], "left")
        .join(totals, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.coalesce("emb", F.lit(0)).alias("emb"),
            F.coalesce("total", F.lit(0)).cast("double").alias("total"),
        )
    )
    if normalized:
        val = F.pow(F.col("total") + F.lit(float(b)), F.lit(float(alpha)))
        val = F.when(
            F.col("emb") + F.lit(float(c)) != 0,
            val / (F.col("emb") + F.lit(float(c))),
        ).otherwise(val)
    else:
        val = F.col("total")
    res = local_checkpoint(out.select("u", "v", val.alias("dispersion")))
    D.unpersist()
    cn.unpersist()
    cand.unpersist()
    return res


def _community_df(g: SparkGraph, community) -> DataFrame:
    """(id, com): community labels from an (id, community) DataFrame or a
    node-attribute column name (the reference's ``community=`` node attr,
    ``link_prediction.py:434`` ``_community``)."""
    if isinstance(community, str):
        df = g.node_data(community)
        return df.select("id", F.col(community).alias("com"))
    return community.select(
        F.col(community.columns[0]).cast("long").alias("id"),
        F.col(community.columns[1]).alias("com"),
    )


def _community_pair_stats(g: SparkGraph, community, pairs: Optional[DataFrame]):
    """(u, v, cn, within, ra_within, same): the community-aware wedge
    aggregation shared by the Soundarajan–Hopcroft family — the
    :func:`_pair_stats` join with community labels carried on u, v, and
    each shared neighbor w."""
    sym = _sym(g).persist()
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    com = _community_df(g, community)
    if pairs is None:
        p = _candidate_pairs(sym)
    else:
        p = pairs.select(
            F.col(pairs.columns[0]).cast("long").alias("u"),
            F.col(pairs.columns[1]).cast("long").alias("v"),
        )
    p = (
        p.join(com.select(F.col("id").alias("u"), F.col("com").alias("cu")), "u")
        .join(com.select(F.col("id").alias("v"), F.col("com").alias("cv")), "v")
    )
    a = sym.select(F.col("id").alias("u"), F.col("nbr").alias("w"))
    b = sym.select(F.col("id").alias("v"), F.col("nbr").alias("w"))
    shared = (
        p.join(a, "u")
        .join(b, ["v", "w"])
        .join(deg.select(F.col("id").alias("w"), F.col("deg").alias("dw")), "w")
        .join(com.select(F.col("id").alias("w"), F.col("com").alias("cw")), "w")
        .groupBy("u", "v", "cu", "cv")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(
                F.when(F.col("cw") == F.col("cu"), 1).otherwise(0)
            ).alias("within"),
            F.sum(
                F.when(F.col("cw") == F.col("cu"), 1.0 / F.col("dw")).otherwise(0.0)
            ).alias("ra_within"),
        )
    )
    out = p.join(shared, ["u", "v", "cu", "cv"], "left").select(
        "u",
        "v",
        F.coalesce("cn", F.lit(0)).alias("cn"),
        F.coalesce("within", F.lit(0)).alias("within"),
        F.coalesce("ra_within", F.lit(0.0)).alias("ra_within"),
        (F.col("cu") == F.col("cv")).alias("same"),
    )
    return out


def cn_soundarajan_hopcroft(
    g: SparkGraph, community, pairs: Optional[DataFrame] = None, ebunch=None
) -> DataFrame:
    """(u, v, score): common neighbors plus the same-community bonus —
    ``networkx/algorithms/link_prediction.py:462``. ``community`` is an
    (id, community) DataFrame or a node-attr column name."""
    _require_undirected(g, "cn_soundarajan_hopcroft")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    s = _community_pair_stats(g, community, pairs)
    return s.select(
        "u",
        "v",
        (
            F.col("cn")
            + F.when(F.col("same"), F.col("within")).otherwise(F.lit(0))
        ).cast("long").alias("score"),
    )


def ra_index_soundarajan_hopcroft(
    g: SparkGraph, community, pairs: Optional[DataFrame] = None, ebunch=None
) -> DataFrame:
    """(u, v, score): resource allocation restricted to same-community
    shared neighbors, 0 across communities (``link_prediction.py:524``)."""
    _require_undirected(g, "ra_index_soundarajan_hopcroft")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    s = _community_pair_stats(g, community, pairs)
    return s.select(
        "u",
        "v",
        F.when(F.col("same"), F.col("ra_within")).otherwise(F.lit(0.0)).alias("score"),
    )


def within_inter_cluster(
    g: SparkGraph,
    community,
    pairs: Optional[DataFrame] = None,
    ebunch=None,
    *,
    delta: float = 0.001,
) -> DataFrame:
    """(u, v, score): within-community shared neighbors over
    cross-community ones plus ``delta`` (``link_prediction.py:589``);
    0 when the endpoints' communities differ."""
    _require_undirected(g, "within_inter_cluster")
    if delta <= 0:
        raise ValueError("Delta must be greater than zero")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    s = _community_pair_stats(g, community, pairs)
    return s.select(
        "u",
        "v",
        F.when(
            F.col("same"),
            F.col("within") / ((F.col("cn") - F.col("within")) + F.lit(float(delta))),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
    )


def common_neighbor_centrality(
    g: SparkGraph, pairs: Optional[DataFrame] = None, ebunch=None,
    *, alpha: float = 0.8
) -> DataFrame:
    """(u, v, score): the CCPA score ``α·|CN| + (1−α)·n/d(u, v)``
    (``link_prediction.py:229``). With the default candidate set — the
    non-adjacent pairs sharing ≥1 neighbor — ``d(u, v) = 2`` exactly, so
    the distance term is closed-form and the whole score is one wedge
    aggregation (the reference materializes all-pairs shortest paths).
    Explicit ``pairs`` are supported only for ``alpha=1`` (pure CN), where
    no distance is needed; the reference's arbitrary-ebunch distance walk
    is a per-pair BFS that has no place at scale."""
    _require_undirected(g, "common_neighbor_centrality")
    pairs = _ebunch_pairs(g, pairs, ebunch)
    if alpha == 1:
        st = _pair_stats(g, pairs)
        return st.select(
            "u", "v", F.col("cn").cast("double").alias("score")
        )
    if pairs is not None:
        raise NotImplementedError(
            "common_neighbor_centrality with alpha < 1 supports only the "
            "default candidate set (where d(u, v) = 2 in closed form)"
        )
    n = g.number_of_nodes()
    st = _pair_stats(g, None)
    return st.select(
        "u",
        "v",
        (
            F.lit(float(alpha)) * F.col("cn")
            + F.lit((1.0 - alpha) * n / 2.0)
        ).alias("score"),
    )
