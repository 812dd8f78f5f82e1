"""Semi-supervised node classification: harmonic function and
local-and-global consistency label spreading.

Reference semantics (``networkx/algorithms/node_classification.py:31,109``):

- ``harmonic_function`` (Zhu et al. 2003): F ← P·F + B for ``max_iter``
  rounds with P = D⁻¹·A whose labeled rows are zeroed and B the one-hot
  labels of the labeled nodes (so labeled nodes stay clamped); predict
  argmax class per node. Degrees of 0 are replaced by 1 (reference line
  "Avoid division by 0").
- ``local_and_global_consistency`` (Zhou et al. 2004): F ← α·S·F + (1−α)·B
  with S = D^{-1/2}·A·D^{-1/2}; no clamping.
- Ties at argmax resolve to the lowest class id; class ids are assigned by
  first appearance scanning nodes in id order (the reference's
  ``_get_label_info`` insertion scan).

Spark plan: the scores matrix F is a sparse (id, lbl, score) DataFrame;
one iteration is one arcs⋈scores join + groupBy(id, lbl) sum — the exact
PageRank join shape, with the class dimension riding along as a grouping
key. The propagation arc weights (P or αS) are computed once and cached;
only the score table moves per iteration. State is O(n · classes) rows.

Labels come from a (id, label) DataFrame or from a node attribute column
(SparkGraph's open-schema attrs), mirroring the reference's
``label_name=`` node-attribute contract.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.exceptions import NotImplementedForDirected
from linkgraph.iterutils import SuperstepCache, loop_partitions

__all__ = ["harmonic_function", "local_and_global_consistency"]


def _labeled(g: SparkGraph, labels: Optional[DataFrame], label_attr: str) -> DataFrame:
    """(id, label) for labeled nodes, from a DataFrame or a node attr."""
    if labels is not None:
        return labels.select(
            F.col(labels.columns[0]).cast("long").alias("id"),
            F.col(labels.columns[1]).cast("string").alias("label"),
        )
    if label_attr not in g.vertices.columns:
        raise ValueError(
            f"No node on the input graph is labeled by '{label_attr}'."
        )
    return g.vertices.select(
        "id", F.col(label_attr).cast("string").alias("label")
    ).filter(F.col("label").isNotNull())


def _label_ids(labeled: DataFrame) -> DataFrame:
    """(label, lbl): class ids by first appearance in node-id order —
    the reference's ``_get_label_info`` scan."""
    w = Window.orderBy("first_id")
    return (
        labeled.groupBy("label")
        .agg(F.min("id").alias("first_id"))
        .select("label", (F.row_number().over(w) - 1).alias("lbl"))
    )


def _weighted_sym(g: SparkGraph) -> DataFrame:
    return g.symmetric_edges().select("src", "dst", "weight")


def _spread(
    g: SparkGraph,
    labels: Optional[DataFrame],
    label_attr: str,
    max_iter: int,
    alpha: Optional[float],
) -> DataFrame:
    """Shared fixpoint; ``alpha=None`` = harmonic (clamped), else LGC."""
    if g.directed:
        raise NotImplementedForDirected(
            "node classification: not implemented for directed type"
        )
    labeled = _labeled(g, labels, label_attr)
    if labeled.isEmpty():
        raise ValueError("No node on the input graph is labeled.")
    lids = _label_ids(labeled)
    cap = int(g.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_parts = loop_partitions(g.number_of_edges(), cap)

    sym = _weighted_sym(g)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("d"))
    deg = g.vertices.select("id").join(deg, "id", "left").select(
        "id", F.when(F.col("d").isNull() | (F.col("d") == 0), 1.0).otherwise(F.col("d")).alias("d")
    )
    base = labeled.join(lids, "label").select(
        "id", "lbl", F.lit(1.0 if alpha is None else 1.0 - alpha).alias("score")
    )
    if alpha is None:
        # P = D^-1 A with labeled rows zeroed: drop arcs whose src is labeled
        arcs = (
            sym.join(labeled.select(F.col("id").alias("src")), "src", "left_anti")
            .join(deg.select(F.col("id").alias("src"), "d"), "src")
            .select("src", "dst", (F.col("weight") / F.col("d")).alias("p"))
        )
    else:
        arcs = (
            sym.join(deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src")
            .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
            .select(
                "src",
                "dst",
                (F.lit(alpha) * F.col("weight") / F.sqrt(F.col("ds") * F.col("dd"))).alias("p"),
            )
        )
    with SuperstepCache(g.spark, partitions=n_parts) as cache:
        arcs = cache.pin(arcs.repartition(n_parts, "dst"))
        base = cache.truncate(base)
        scores = base
        for _ in range(max_iter):
            prop = (
                arcs.join(scores.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"), "lbl")
                .agg(F.sum(F.col("p") * F.col("score")).alias("score"))
            )
            nxt = (
                prop.unionByName(base)
                .groupBy("id", "lbl")
                .agg(F.sum("score").alias("score"))
            )
            scores = cache.truncate(nxt, retire=scores if scores is not base else None)
        # argmax per node; ties -> lowest class id; nodes with all-zero /
        # empty rows -> class 0 (np.argmax over a zero row).
        w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("lbl"))
        best = (
            scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "lbl")
        )
        out = (
            g.vertices.select("id")
            .join(best, "id", "left")
            .select("id", F.coalesce("lbl", F.lit(0)).alias("lbl"))
            .join(lids, "lbl")
            .select("id", "label")
        )
        return cache.result(cache.truncate(out))


def harmonic_function(
    g: SparkGraph,
    labels: Optional[DataFrame] = None,
    *,
    label_attr: str = "label",
    max_iter: int = 30,
) -> DataFrame:
    """(id, label): harmonic-function prediction for every node
    (``node_classification.py:31``)."""
    return _spread(g, labels, label_attr, max_iter, None)


def local_and_global_consistency(
    g: SparkGraph,
    labels: Optional[DataFrame] = None,
    *,
    alpha: float = 0.99,
    label_attr: str = "label",
    max_iter: int = 30,
) -> DataFrame:
    """(id, label): local-and-global-consistency prediction
    (``node_classification.py:109``)."""
    return _spread(g, labels, label_attr, max_iter, alpha)
