"""Weisfeiler-Lehman graph hashing.

Semantics match ``networkx/algorithms/graph_hashing.py:73``
(``weisfeiler_lehman_graph_hash``, no node/edge attributes):

- init label: undirected ``str(degree)`` (``graph_hashing.py:31-38``);
  directed ``str(in_degree) + "_" + str(out_degree)``
- per iteration (``:195-205``): new label = blake2b hexdigest of
  ``old_label + "".join(sorted(neighbor_labels))``; directed graphs
  append sorted successor labels then sorted predecessor labels
  (``:50-67``)
- after every iteration the Counter of node hashes is appended (sorted by
  hash) to a running list; the final hash is blake2b of
  ``str(tuple(list))`` (``:217-226``)

The per-iteration aggregation is ``collect_list`` + ``sort_array`` +
``concat`` — a single groupBy shuffle; blake2b (not a Spark builtin) runs
in an Arrow-batched pandas UDF, like the extraction kernel. Exact string
reproduction means the final hex digest equals NetworkX's bit-for-bit.
"""

from __future__ import annotations

from hashlib import blake2b

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, row_count


def _blake_udf(digest_size: int):
    @pandas_udf("string")
    def _h(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: blake2b(x.encode("ascii"), digest_size=digest_size).hexdigest()
        )

    return _h


def weisfeiler_lehman_graph_hash(
    g: SparkGraph, iterations: int = 3, digest_size: int = 16
) -> str:
    """Return the WL hash hex string; equals ``nx.weisfeiler_lehman_graph_hash``
    on the same (attribute-free) graph."""
    spark = g.spark
    h = _blake_udf(digest_size)
    with SuperstepCache(spark) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        if g.directed:
            arcs = cache.pin(g.edges.select("src", "dst"))
            ind = arcs.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("i")
            )
            outd = arcs.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("o")
            )
            labels = (
                vertices.join(ind, "id", "left")
                .join(outd, "id", "left")
                .select(
                    "id",
                    F.concat(
                        F.coalesce("i", F.lit(0)).cast("string"),
                        F.lit("_"),
                        F.coalesce("o", F.lit(0)).cast("string"),
                    ).alias("label"),
                )
            )
        else:
            sym = cache.pin(g.symmetric_edges().select("src", "dst"))
            deg = sym.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("d")
            )
            labels = vertices.join(deg, "id", "left").select(
                "id", F.coalesce("d", F.lit(0)).cast("string").alias("label")
            )
        labels = cache.truncate(labels)

        def nbr_concat(
            arcs_df: DataFrame, out_col: str, key: str, nbr: str, prefix: str = ""
        ) -> DataFrame:
            """(id, <out_col>): concatenation of sorted (prefixed) neighbor
            labels; directed graphs prefix "s_"/"p_" per direction
            (``graph_hashing.py:57,63``)."""
            return (
                arcs_df.join(
                    labels.select(
                        F.col("id").alias(nbr),
                        F.concat(F.lit(prefix), F.col("label")).alias("_nl"),
                    ),
                    nbr,
                )
                .groupBy(F.col(key).alias("id"))
                .agg(
                    F.concat_ws(
                        "", F.sort_array(F.collect_list("_nl"))
                    ).alias(out_col)
                )
            )

        if iterations <= 0:
            raise ValueError("The WL algorithm requires that `iterations` be positive")
        # Degree init is equivalent to the first WL iteration when the graph
        # has no attributes (graph_hashing.py:214-216).
        iterations -= 1

        # The reference hashes str(tuple(sorted per-iteration (label, count)
        # pairs)). To stay bit-compatible WITHOUT an O(n)-row driver collect,
        # the pair histograms stay in DataFrames: each iteration contributes
        # (iteration, label, n) rows; the Python-repr string of the whole
        # tuple is assembled by JVM sort_array/concat_ws aggregations and
        # blake2b'd executor-side — only the final hex digest reaches the
        # driver. (A global sorted histogram is inherent to the definition;
        # the single assembled row is the honest minimum state.)
        pair_tables: list = []
        n_pairs = 0
        for it in range(iterations):
            if g.directed:
                succ = nbr_concat(
                    g.edges.select("src", "dst"), "s", "src", "dst", prefix="s_"
                )
                pred = nbr_concat(
                    g.edges.select("src", "dst"), "p", "dst", "src", prefix="p_"
                )
                agg = (
                    labels.join(succ, "id", "left")
                    .join(pred, "id", "left")
                    .select(
                        "id",
                        F.concat(
                            "label",
                            F.coalesce("s", F.lit("")),
                            F.coalesce("p", F.lit("")),
                        ).alias("raw"),
                    )
                )
            else:
                nb = nbr_concat(sym, "s", "src", "dst")
                agg = labels.join(nb, "id", "left").select(
                    "id",
                    F.concat("label", F.coalesce("s", F.lit(""))).alias("raw"),
                )
            labels = cache.truncate(
                agg.select("id", h(F.col("raw")).alias("label")), retire=labels
            )
            pairs, seen = cache.truncate(
                labels.groupBy("label")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(it).alias("it"), "label", "n"),
                figures=row_count(),
            )
            pair_tables.append(pairs)
            n_pairs += seen["rows"]
        allpairs = pair_tables[0]
        for df in pair_tables[1:]:
            allpairs = allpairs.unionByName(df)
        if n_pairs == 0:
            return blake2b(b"()", digest_size=digest_size).hexdigest()
        # "('<label>', <n>)" is repr((label, n)); string sort of the formatted
        # pair equals Python's tuple sort because "'" precedes every label
        # character (hex digits / '_')
        fmt = F.concat(
            F.lit("('"), F.col("label"), F.lit("', "), F.col("n").cast("string"), F.lit(")")
        )
        per_iter = allpairs.groupBy("it").agg(
            F.concat_ws(", ", F.sort_array(F.collect_list(fmt))).alias("s")
        )
        tail = ",)" if n_pairs == 1 else ")"  # repr of a 1-tuple
        joined = per_iter.agg(
            F.concat(
                F.lit("("),
                F.concat_ws(
                    ", ",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("it", "s"))),
                        lambda x: x["s"],
                    ),
                ),
                F.lit(tail),
            ).alias("raw")
        )
        digest = joined.select(h(F.col("raw")).alias("d")).first()["d"]
        return digest


def weisfeiler_lehman_subgraph_hashes(
    g: SparkGraph, iterations: int = 3, digest_size: int = 16
) -> DataFrame:
    """(id, iteration, subgraph_hash): per-node WL hashes after each
    iteration — ``networkx/algorithms/graph_hashing.py:231``
    ``weisfeiler_lehman_subgraph_hashes`` (attribute-free graphs,
    ``include_initial_labels=False``), in relational long form instead of
    the dict-of-lists. Iteration 1's hash is the hashed degree label (the
    reference's degree-init-equals-first-iteration rule); each later
    iteration hashes ``label + sorted (prefixed) neighbor labels`` exactly
    like the graph hash's rounds, so every value is bit-for-bit the
    reference's."""
    if iterations <= 0:
        raise ValueError("The WL algorithm requires that `iterations` be positive")
    spark = g.spark
    h = _blake_udf(digest_size)
    with SuperstepCache(spark) as cache:
        vertices = cache.pin(g.vertices.select("id"))
        if g.directed:
            arcs = cache.pin(g.edges.select("src", "dst"))
            ind = arcs.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("i"))
            outd = arcs.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("o"))
            labels = (
                vertices.join(ind, "id", "left")
                .join(outd, "id", "left")
                .select(
                    "id",
                    F.concat(
                        F.coalesce("i", F.lit(0)).cast("string"),
                        F.lit("_"),
                        F.coalesce("o", F.lit(0)).cast("string"),
                    ).alias("label"),
                )
            )
            sym = None
        else:
            sym = cache.pin(g.symmetric_edges().select("src", "dst"))
            deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
            labels = vertices.join(deg, "id", "left").select(
                "id", F.coalesce("d", F.lit(0)).cast("string").alias("label")
            )
        labels = cache.truncate(labels)

        def nbr_concat(arcs_df, key, nbr, prefix=""):
            return (
                arcs_df.join(
                    labels.select(
                        F.col("id").alias(nbr),
                        F.concat(F.lit(prefix), F.col("label")).alias("_nl"),
                    ),
                    nbr,
                )
                .groupBy(F.col(key).alias("id"))
                .agg(F.concat_ws("", F.sort_array(F.collect_list("_nl"))).alias("agg"))
            )

        # iteration 1: the hashed degree label (graph_hashing.py:293-296)
        per_iter = [
            labels.select(
                "id", F.lit(1).alias("iteration"), h(F.col("label")).alias("subgraph_hash")
            )
        ]
        for it in range(2, iterations + 1):
            if g.directed:
                succ = nbr_concat(g.edges.select("src", "dst"), "src", "dst", "s_")
                pred = nbr_concat(g.edges.select("src", "dst"), "dst", "src", "p_")
                raw = (
                    labels.join(succ.withColumnRenamed("agg", "s"), "id", "left")
                    .join(pred.withColumnRenamed("agg", "p"), "id", "left")
                    .select(
                        "id",
                        F.concat(
                            "label",
                            F.coalesce("s", F.lit("")),
                            F.coalesce("p", F.lit("")),
                        ).alias("raw"),
                    )
                )
            else:
                nb = nbr_concat(sym, "src", "dst")
                raw = labels.join(nb, "id", "left").select(
                    "id", F.concat("label", F.coalesce("agg", F.lit(""))).alias("raw")
                )
            labels = cache.truncate(raw.select("id", h(F.col("raw")).alias("label")))
            per_iter.append(
                labels.select(
                    "id",
                    F.lit(it).alias("iteration"),
                    F.col("label").alias("subgraph_hash"),
                )
            )
        out = per_iter[0]
        for df in per_iter[1:]:
            out = out.unionByName(df)
        return cache.result(cache.truncate(out))
