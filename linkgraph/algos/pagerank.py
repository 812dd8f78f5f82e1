"""Distributed PageRank — damped power iteration as DataFrame join + agg.

Semantics match the reference's scipy kernel
(``networkx/algorithms/link_analysis/pagerank_alg.py:358-498``) exactly:

- right-stochastic normalization ``A = Q @ A`` where ``Q = diag(1/S)`` and
  ``S`` is the per-row weight sum; rows with ``S == 0`` become zero rows,
  i.e. **dangling** (``pagerank_alg.py:477-481, 489``)
- ``x_{k+1} = alpha * (x_k @ A + danglesum * dangling_weights) + (1-alpha) * p``
  (``pagerank_alg.py:491-493``)
- init ``x_0 = 1/N`` or normalized ``nstart`` (``:468-472``)
- personalization normalized, ``ZeroDivisionError`` on zero sum (``:475-481``)
- L1 convergence ``err < N * tol`` (``:495-496``)
- ``PowerIterationFailedConvergence`` after ``max_iter`` (``:498``)
- undirected input symmetrized (``pagerank_alg.py:128`` via
  ``to_scipy_sparse_array``); multigraph parallel edges summed
  (``convert_matrix.py:649-656`` — handled at SparkGraph construction)

Scale design (the 100 TB story):

- The normalized edge table is computed **once**, hash-partitioned by ``src``
  and persisted; every iteration re-joins the (N-row) rank vector against it,
  so the big side never re-shuffles after the first materialization.
- The per-iteration ``groupBy(dst)`` runs with map-side partial aggregation
  (Spark HashAggregate partial → final), which bounds hub-key (power-law
  in-degree) reduce skew to ≤ one row per map task per key. On top of that,
  ``hub_salt`` enables an explicit two-phase salted aggregation
  (``groupBy(dst, pmod(hash(src), s))`` → ``groupBy(dst)``) for clusters
  where a single final-agg partition would still be hot.
- Dangling mass is a scalar per iteration, exactly the reference's closed
  form — never a dense N×N correction. It is observed on the job that
  materializes the previous iterate (an in-plan aggregation where that
  iterate is not materialized).
- The rank vector carries the per-node base columns and its previous rank,
  so each iteration's L1 error is observed on the one job that
  materializes it.
- Lineage is truncated every iteration (localCheckpoint) or re-rooted at a
  parquet snapshot via :class:`linkgraph.state.CheckpointStore`, which also
  provides mid-run resume with per-iteration convergence metrics.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import SparkGraph
from linkgraph.iterutils import SuperstepCache, loop_partitions
from linkgraph.state import CheckpointStore
from linkgraph.exceptions import PowerIterationFailedConvergence

__all__ = ["pagerank", "top_pagerank", "PowerIterationFailedConvergence"]


def _node_vector(g: SparkGraph, spec, name: str) -> DataFrame:
    """Normalize a {id: value} dict or an (id, value) DataFrame to a
    DataFrame (id, <name>) summing to 1. Missing nodes get 0, matching
    ``personalization.get(n, 0)`` (``pagerank_alg.py:476, 486``)."""
    if isinstance(spec, dict):
        rows = [(int(k), float(v)) for k, v in spec.items()]
        df = g.spark.createDataFrame(rows, ["id", name])
    else:
        df = spec.select(
            F.col(spec.columns[0]).cast("long").alias("id"),
            F.col(spec.columns[1]).cast("double").alias(name),
        )
    total = df.agg(F.sum(name)).first()[0]
    if total is None or total == 0:
        raise ZeroDivisionError(f"sum of {name} values is zero")
    return df.withColumn(name, F.col(name) / F.lit(float(total)))


def pagerank(
    g: SparkGraph,
    alpha: float = 0.85,
    personalization: Optional[Union[dict, DataFrame]] = None,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    nstart: Optional[Union[dict, DataFrame]] = None,
    weight: "Optional[str]" = "weight",
    dangling: Optional[Union[dict, DataFrame]] = None,
    *,
    hub_salt: int = 0,
    checkpoint_store: Optional[CheckpointStore] = None,
    resume: bool = False,
    fixed_iter: Optional[int] = None,
    check_interval: int = 4,
) -> DataFrame:
    """Return DataFrame ``(id BIGINT, rank DOUBLE)``; ranks sum to 1.

    Raises :class:`PowerIterationFailedConvergence` like the reference
    (``pagerank_alg.py:498``) and ``ZeroDivisionError`` on an all-zero
    personalization vector (``pagerank_alg.py:478``).

    ``fixed_iter=k`` runs exactly k power iterations with no convergence
    test — the deterministic workload used by the SQL-unrolled oracle and
    the benchmark (identical work every run regardless of float noise).

    ``check_interval=B`` chains B lazy iterations between materializations
    in ``fixed_iter`` mode (driver round-trips amortize B-fold); in
    convergence mode the L1 error is evaluated after every iteration,
    exactly the reference's stopping rule.

    The call runs under the shared superstep runtime
    (:class:`linkgraph.iterutils.SuperstepCache`): AQE off, shuffled-hash
    joins, and — because the edge table is pinned hash-partitioned on
    ``src`` — no automatic broadcast joins in the iterations, so the
    rank-vector joins run as shuffle joins against the co-partitioned
    cached edge table and after the first iteration only the contribution
    ``groupBy(dst)`` shuffle moves data — the plan shape that survives a
    100x scale-up (a broadcast rank vector would not). The caller's conf is
    restored on exit.
    """
    if fixed_iter is not None:
        max_iter = fixed_iter
    spark = g.spark
    # Loop layout: the graph/session partition setting is a CAP (it encodes
    # the cluster size); the actual count is sized by arc volume so a small
    # graph on a wide session doesn't pay hundreds of near-empty tasks per
    # iteration (measured 3x on 634k edges at local[32]). The loop runs with
    # the same shuffle.partitions as the pinned edge layout — if they
    # differed, the rank join's required partitioning would not match it
    # and Catalyst would re-shuffle the edge table every iteration.
    cap_parts = g.num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    m_raw = g.edges.count()
    num_parts = loop_partitions(
        m_raw if g.directed else 2 * m_raw, cap_parts, rows_per_partition=40_000
    )
    with SuperstepCache(spark, partitions=num_parts, store=checkpoint_store) as loop:
        vertices = loop.pin(g.vertices.select("id"))
        n = vertices.count()
        if n == 0:
            return spark.createDataFrame([], "id long, rank double")

        # --- one-time edge prep: stochastic normalization --------------- #
        # (stochastic_graph semantics, networkx/generators/stochastic.py:17)
        # ``weight`` follows the reference kwarg: None counts every edge as
        # 1 (unweighted walk), any other value resolves per
        # resolve_weight_column (column name / SQL expression / Column).
        from linkgraph.graph import resolve_weight_column

        adj = g.symmetric_edges()
        if weight is None:
            adj = adj.select("src", "dst", F.lit(1.0).alias("weight"))
        elif weight != "weight" or "weight" not in adj.columns:
            adj = adj.select(
                "src", "dst", resolve_weight_column(adj, weight).alias("weight")
            )
        out_w = adj.groupBy("src").agg(F.sum("weight").alias("out_w"))
        norm = (
            adj.join(out_w, "src")
            .filter(F.col("out_w") != 0)
            .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p_edge"))
        )
        # Hash-partition by src once and pin: every iteration's rank join
        # then reuses this layout (only the small rank side shuffles).
        A_t = loop.pin(norm, "src")
        edge_count = A_t.count()

        # Dangling nodes: zero out-weight rows of A (pagerank_alg.py:489).
        # Flagged on the per-node base table, whose columns the rank vector
        # carries from superstep to superstep: the rank join, the dangling
        # mass and the L1 error then need no join against it.
        nondangling = out_w.filter(F.col("out_w") != 0).select(
            F.col("src").alias("id"), F.lit(True).alias("_nd")
        )
        base = vertices.join(nondangling, "id", "left").select(
            "id", F.col("_nd").isNull().alias("is_dang")
        )
        n_dangling = base.filter("is_dang").count()

        # --- per-node constant vectors p (teleport) and dw (dangling) --- #
        uniform = personalization is None and dangling is None
        if not uniform:
            p_df = (
                _node_vector(g, personalization, "p")
                if personalization is not None
                else vertices.withColumn("p", F.lit(1.0 / n))
            )
            dw_df = (
                _node_vector(g, dangling, "dw")
                if dangling is not None
                else p_df.select("id", F.col("p").alias("dw"))
            )
            base = (
                base.join(p_df, "id", "left")
                .join(dw_df, "id", "left")
                .select(
                    "id",
                    "is_dang",
                    F.coalesce("p", F.lit(0.0)).alias("p"),
                    F.coalesce("dw", F.lit(0.0)).alias("dw"),
                )
            )
        base = loop.pin(base)
        base.count()

        # --- initial vector ---------------------------------------------- #
        start_iter, x = loop.resume() if resume else (0, None)
        if x is None and nstart is not None:
            x = _node_vector(g, nstart, "rank")
        if x is None:
            x = base.withColumn("rank", F.lit(1.0 / n))
        else:
            x = base.join(x.select("id", "rank"), "id", "left").withColumn(
                "rank", F.coalesce("rank", F.lit(0.0))
            )
        x0 = x
        inv_n = 1.0 / n

        def step(xc: DataFrame, ds: Optional[float] = None) -> DataFrame:
            """One lazy power iteration (pagerank_alg.py:491-493), carrying
            ``xc``'s rank as ``prev`` for the L1 error.

            ``ds`` is ``xc``'s dangling mass, observed on the job that
            materialized ``xc``. When ``xc`` was not materialized (the first
            iteration, or inside a ``fixed_iter`` batch) it is a one-row
            in-plan aggregation broadcast into the rank expression instead,
            so any number of iterations can chain lazily.
            """
            # x @ A : join ranks to the pinned edge layout on src, sum into dst.
            contrib_rows = A_t.join(
                xc.select(F.col("id").alias("src"), "rank"), "src"
            ).select("src", "dst", (F.col("rank") * F.col("p_edge")).alias("c"))
            if hub_salt > 1:
                # explicit two-phase salted aggregation for hot dst keys:
                # spread a hub's incoming contributions over `hub_salt`
                # partial keys by the hash of the contributing src, then
                # combine.
                contrib = (
                    contrib_rows.withColumn(
                        "_salt", F.pmod(F.hash("src"), F.lit(hub_salt))
                    )
                    .groupBy("dst", "_salt")
                    .agg(F.sum("c").alias("c"))
                    .groupBy("dst")
                    .agg(F.sum("c").alias("c"))
                )
            else:
                contrib = contrib_rows.groupBy("dst").agg(F.sum("c").alias("c"))

            joined = xc.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            if ds is not None:
                ds_col = F.lit(ds)
            elif n_dangling:
                # danglesum = sum of ranks over dangling nodes (pagerank_alg.py:492)
                ds_df = xc.filter("is_dang").agg(F.sum("rank").alias("_ds"))
                joined = joined.crossJoin(F.broadcast(ds_df))
                ds_col = F.coalesce(F.col("_ds"), F.lit(0.0))
            else:
                ds_col = F.lit(0.0)
            if uniform:
                rank_expr = (
                    F.lit(alpha)
                    * (F.coalesce("c", F.lit(0.0)) + ds_col * F.lit(inv_n))
                    + F.lit((1.0 - alpha) * inv_n)
                )
            else:
                rank_expr = (
                    F.lit(alpha) * (F.coalesce("c", F.lit(0.0)) + ds_col * F.col("dw"))
                    + F.lit(1.0 - alpha) * F.col("p")
                )
            return joined.select(
                *base.columns, rank_expr.alias("rank"), F.col("rank").alias("prev")
            )

        def figures(k_end: int) -> dict:
            return {
                "l1_err": F.sum(F.abs(F.col("rank") - F.col("prev"))),
                "edges_processed": F.lit(edge_count * (k_end - start_iter + 1)),
                "dangling": F.coalesce(
                    F.sum(F.when(F.col("is_dang"), F.col("rank"))), F.lit(0.0)
                ),
            }

        if fixed_iter is not None:
            # Chain `check_interval` lazy iterations per materialization;
            # persisted intermediates keep each step's two or three reads of
            # its input from recomputing subplans exponentially in B.
            B = max(1, check_interval)
            k, ds = start_iter, None
            while k < max_iter:
                steps = min(B, max_iter - k)
                xc, chain = x, []
                for _ in range(steps - 1):
                    xc, ds = step(xc, ds).persist(), None
                    chain.append(xc)
                x_old = x
                k_end = k + steps - 1
                x, seen = loop.commit(step(xc, ds), k_end, figures(k_end))
                ds = seen["dangling"]
                for it in chain:
                    it.unpersist()
                # previous batch's snapshot is dead once the new one is
                # materialized — release, don't pin one per batch
                if x_old is not x0:
                    loop.release(x_old)
                k += steps
            return loop.result(x.select("id", "rank"))

        # Convergence mode: the reference's per-iteration stopping rule
        # (pagerank_alg.py:495-497). One job per iteration: the superstep
        # materialization (localCheckpoint or durable commit — re-roots the
        # logical plan, which otherwise grows 3^k), which also returns the
        # observed L1 error and the dangling mass the next iteration needs.
        ds = None
        for k in range(start_iter, max_iter):
            x_new, seen = loop.commit(step(x, ds), k, figures(k))
            if x is not x0:
                loop.release(x)
            x, ds = x_new, seen["dangling"]
            if seen["l1_err"] < n * tol:
                return loop.result(x.select("id", "rank"))
        raise PowerIterationFailedConvergence(max_iter)


def top_pagerank(g: SparkGraph, k: int = 20, **kwargs) -> DataFrame:
    """Top-k nodes by rank — Catalyst compiles orderBy+limit to
    TakeOrderedAndProject (true distributed top-k, SURVEY.md §2.H)."""
    return pagerank(g, **kwargs).orderBy(F.desc("rank"), "id").limit(k)


def stochastic_graph(g: SparkGraph, *, weight="weight") -> SparkGraph:
    """``networkx/generators/stochastic.py:17`` — right-stochastic copy:
    each out-edge weight divided by the source's out-weight sum (the same
    normalization the pagerank kernel applies inline). Directed graphs
    only, like the reference."""
    if not g.directed:
        raise ValueError("stochastic_graph: directed graphs only")
    from linkgraph.graph import resolve_weight_column

    e = g.edges
    w = resolve_weight_column(e, weight)
    arcs = e.select("src", "dst", w.alias("weight"))
    out_w = arcs.groupBy("src").agg(F.sum("weight").alias("_ow"))
    norm = (
        arcs.join(out_w, "src")
        .select("src", "dst", (F.col("weight") / F.col("_ow")).alias("weight"))
    )
    return SparkGraph(norm, g._vertices, directed=True, coalesce_edges=False)
