"""Matrix-exponential (spectral) measures.

References:
- ``networkx/algorithms/communicability_alg.py:12`` ``communicability``
  (and ``:100`` ``communicability_exp``): C(u, v) = expm(A)_{uv} over the
  0/1 adjacency matrix — the weighted sum of walks of every length,
  Σ_k (A^k)_{uv} / k! (Estrada & Hatano, Phys. Rev. E 77, 036111).
- ``networkx/algorithms/centrality/subgraph_alg.py`` ``subgraph_centrality``
  / ``subgraph_centrality_exp`` (= the DIAGONAL of expm(A); Estrada &
  Rodríguez-Velázquez, Phys. Rev. E 71, 056103) and ``estrada_index``
  (= trace of expm(A)).
- ``networkx/algorithms/centrality/second_order.py`` — driver-gated; see
  :func:`second_order_centrality`.
- ``networkx/algorithms/centrality/subgraph_alg.py``
  ``communicability_betweenness_centrality`` — driver-gated; see below.

The reference runs a DENSE eigendecomposition (``np.linalg.eigh``) — n×n
memory, O(n³) — which has no distributed join form. The engine computes
the same values from the series definition instead: the truncated Taylor
sum Σ_{k≤K} A^k / k!, maintained as a sparse ``(src, dst, term)`` pair
table where each step is ONE equi-join + groupBy-sum keyed on the
frontier column (exactly the ``number_of_walks`` semiring plan,
walks.py:23) with the 1/k scaling folded into the aggregate. Terms are
lineage-truncated per step; the final matrix is one union + groupBy-sum
over the ≤K term tables.

Convergence: ‖A^k/k!‖_max ≤ λ_max^k / k!, which decays super-
exponentially once k > λ_max, so the adaptive stop (max |term| < tol
AND decreasing) bounds the truncation error at entry level by
tol · λ_max/(K − λ_max); the default tol=1e-12 leaves ~1e-11 absolute
error — far inside the 1e-6 parity budget. K grows with the spectral
radius (≈ e·λ_max + a few), NOT with n: on a bounded-degree 100 TB graph
this is a few dozen join rounds. The pair state is O(pairs-within-
components) — inherent to the output itself (the reference returns all
n² values), not to the plan.

Scale note: communicability of a DENSE component is intrinsically an n²
object; like the reference, use it on graphs whose component pair count
fits the cluster, or take ``subgraph_centrality`` (the diagonal slice of
the same loop) when only per-node values are needed.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from linkgraph.exceptions import NetworkXError, NotImplementedForDirected
from linkgraph.graph import SparkGraph, check_driver_limit
from linkgraph.iterutils import SuperstepCache


# Nodes of the dense driver-side matrices.
_SECOND_ORDER_NODES = 1500
_COMMUNICABILITY_NODES = 800

__all__ = [
    "communicability",
    "communicability_exp",
    "subgraph_centrality",
    "subgraph_centrality_exp",
    "estrada_index",
    "second_order_centrality",
    "communicability_betweenness_centrality",
]


def _zero_one_arcs(g: SparkGraph) -> DataFrame:
    """Symmetric 0/1 adjacency arcs (src, dst), parallel edges coalesced —
    the reference's ``A[A != 0] = 1`` (communicability_alg.py:95)."""
    if g.directed:
        raise NotImplementedForDirected(
            "communicability: not implemented for directed type"
        )
    return g.symmetric_edges().select("src", "dst").distinct()


def _expm_pairs(
    g: SparkGraph, tol: float, max_terms: int
) -> DataFrame:
    """(src, dst, comm) = truncated-Taylor expm(A) over the 0/1 adjacency."""
    with SuperstepCache(g.spark) as cache:
        arcs = cache.pin(_zero_one_arcs(g))
        # k = 0: identity; k = 1: A itself.
        terms = [
            g.vertices.select(
                F.col("id").alias("src"),
                F.col("id").alias("dst"),
                F.lit(1.0).alias("term"),
            )
        ]
        cur = cache.truncate(arcs.select("src", "dst", F.lit(1.0).alias("term")))
        prev_max = float("inf")
        k = 1
        while True:
            terms.append(cur)
            if k >= max_terms:
                raise NetworkXError(
                    f"communicability series did not converge in {max_terms} terms"
                )
            k += 1
            # T_k = T_{k-1} · A / k — one join + one keyed sum (A entries are 1).
            nxt, seen = cache.truncate(
                cur.withColumnRenamed("dst", "mid")
                .join(arcs.withColumnRenamed("src", "mid"), "mid")
                .groupBy("src", "dst")
                .agg((F.sum("term") / F.lit(float(k))).alias("term")),
                figures={"m": F.max(F.abs(F.col("term")))},
            )
            cur_max = seen["m"] if seen["m"] is not None else 0.0
            if cur_max < tol and cur_max < prev_max:
                terms.append(nxt)
                break
            prev_max = cur_max
            cur = nxt

        total = (
            reduce(DataFrame.unionByName, terms)
            .groupBy("src", "dst")
            .agg(F.sum("term").alias("comm"))
        )
        return cache.result(cache.truncate(total))


def communicability(
    g: SparkGraph, *, tol: float = 1e-12, max_terms: int = 300
) -> DataFrame:
    """(src, dst, communicability): expm(A)_{uv} for every node pair with a
    walk between them (``communicability_alg.py:12``). The reference
    returns a dense dict-of-dicts including exact zeros for cross-component
    pairs; the relational form drops those structural zeros, like
    ``number_of_walks``."""
    pairs = _expm_pairs(g, tol, max_terms)
    return pairs.select("src", "dst", F.col("comm").alias("communicability"))


def communicability_exp(
    g: SparkGraph, *, tol: float = 1e-12, max_terms: int = 300
) -> DataFrame:
    """``communicability_alg.py:100`` — same values as :func:`communicability`
    (the reference only differs in using Padé expm instead of eigh)."""
    return communicability(g, tol=tol, max_terms=max_terms)


def _spectral_radius(
    g: SparkGraph, arcs: DataFrame, *, tol: float = 1e-12, max_iter: int = 10_000
) -> float:
    """λ_max of the 0/1 adjacency by SHIFTED power iteration on A + I
    (the shift keeps the dominant eigenvalue unique on bipartite graphs,
    where ±λ_max tie on A itself). Distributed: one arc⋈vector join per
    step; the vector is O(n) rows, never n×n."""
    with SuperstepCache(g.spark) as cache:
        x = g.vertices.select(F.col("id"), F.lit(1.0).alias("x"))
        prev_lam = None
        prev = None
        for _ in range(max_iter):
            # y = (A + I) x
            ax = (
                x.withColumnRenamed("id", "mid")
                .join(arcs.withColumnRenamed("src", "mid"), "mid")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("x").alias("ax"))
            )
            y, stats = cache.truncate(
                x.join(ax, "id", "left").select(
                    "id", "x", (F.col("x") + F.coalesce("ax", F.lit(0.0))).alias("y")
                ),
                retire=prev,
                figures={
                    "yy": F.sum(F.col("y") * F.col("y")),
                    "yx": F.sum(F.col("y") * F.col("x")),
                    "xx": F.sum(F.col("x") * F.col("x")),
                },
            )
            lam = stats["yx"] / stats["xx"] - 1.0  # Rayleigh quotient of A
            norm = stats["yy"] ** 0.5
            x = y.select("id", (F.col("y") / F.lit(norm)).alias("x"))
            prev = y
            if prev_lam is not None and abs(lam - prev_lam) < tol:
                break
            prev_lam = lam
    return lam


def subgraph_centrality(
    g: SparkGraph,
    *,
    normalized: bool = False,
    tol: float = 1e-12,
    max_terms: int = 300,
) -> DataFrame:
    """(id, centrality): expm(A)_{uu} — the closed-walk weight of each node
    (``subgraph_alg.py`` ``subgraph_centrality``). ``normalized=True``
    divides by e^{λ_max} (the reference's ``exp(w - w.max())`` shift),
    with λ_max from shifted power iteration."""
    with SuperstepCache(g.spark) as loop:
        pairs = _expm_pairs(g, tol, max_terms)
        diag = pairs.filter(F.col("src") == F.col("dst")).select(
            F.col("src").alias("id"), F.col("comm").alias("centrality")
        )
        if normalized:
            lam = _spectral_radius(g, _zero_one_arcs(g))
            import math

            diag = diag.select(
                "id", (F.col("centrality") / F.lit(math.exp(lam))).alias("centrality")
            )
        out = loop.truncate(diag)
        loop.release(pairs)
        return loop.result(out)


def subgraph_centrality_exp(
    g: SparkGraph, *, tol: float = 1e-12, max_terms: int = 300
) -> DataFrame:
    """``subgraph_alg.py`` ``subgraph_centrality_exp`` — identical values."""
    return subgraph_centrality(g, tol=tol, max_terms=max_terms)


def estrada_index(
    g: SparkGraph, *, tol: float = 1e-12, max_terms: int = 300
) -> float:
    """EE(G) = tr(expm(A)) = Σ_u subgraph_centrality(u)
    (``subgraph_alg.py`` ``estrada_index``)."""
    with SuperstepCache(g.spark) as loop:
        pairs = _expm_pairs(g, tol, max_terms)
        row = (
            pairs.filter(F.col("src") == F.col("dst"))
            .agg(F.sum("comm").alias("ee"))
            .collect()[0]
        )
        loop.release(pairs)
    return float(row["ee"])


def _collect_adjacency(g: SparkGraph, *, weight: Optional[str], limit: int, what: str):
    """Size-guarded driver collection → (ids sorted, dense numpy A)."""
    import numpy as np

    ids = [r["id"] for r in g.vertices.select("id").collect()]
    n = len(ids)
    check_driver_limit(
        n, limit,
        f"{what} is a dense O(n^3) driver-side computation (the reference "
        "pays the same)",
    )
    ids.sort()
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((n, n))
    cols = ["src", "dst"] + ([weight] if weight else [])
    for r in g.symmetric_edges().select(*cols).collect():
        w = float(r[weight]) if weight else 1.0
        A[idx[r["src"]], idx[r["dst"]]] += w
    return ids, A


def second_order_centrality(
    g: SparkGraph,
    *,
    weight: Optional[str] = None,
) -> DataFrame:
    """(id, centrality): standard deviation of Metropolis–Hastings random-
    walk return times (Kermarrec et al., Comput. Commun. 34(5), 2011;
    reference ``centrality/second_order.py``). Lower = more central.

    The analytical form needs one dense (I − Q_i) solve PER NODE — the
    reference is explicitly O(n³) single-machine; there is no join form,
    so this is driver-gated with a size guard, like ``is_chordal``.
    Semantics matched: the walk is balanced by adding self-loops until
    every node's weighted in-degree equals the maximum (eq. 6's unbiased
    walk), then c(i) = sqrt(2·Σ_j M_ji − n(n+1)) with M_:i the expected
    hitting times onto i.
    """
    import numpy as np

    if g.directed:
        raise NotImplementedForDirected(
            "second_order_centrality: not implemented for directed type"
        )
    ids, A = _collect_adjacency(
        g, weight=weight, limit=_SECOND_ORDER_NODES,
        what="second_order_centrality",
    )
    n = len(ids)
    if n == 0:
        raise NetworkXError("Empty graph.")
    if np.any(A < 0):
        raise NetworkXError("Graph has negative edge weights.")
    # connectivity (reference raises on non-connected input): driver BFS
    # over the already-collected dense adjacency — n is guard-bounded.
    seen = np.zeros(n, dtype=bool)
    stack = [0]
    seen[0] = True
    while stack:
        u = stack.pop()
        for v in np.nonzero(A[u])[0]:
            if not seen[v]:
                seen[v] = True
                stack.append(int(v))
    if not seen.all():
        raise NetworkXError("Non connected graph.")
    deg = A.sum(axis=0)  # weighted in-degree of the symmetrized digraph
    # balance: self-loop mass tops every column up to the max in-degree
    np.fill_diagonal(A, A.diagonal() + (deg.max() - deg))
    P = A / A.sum(axis=1)[:, None]
    eye = np.eye(n)
    cent = np.empty(n)
    for i in range(n):
        Q = P.copy()
        Q[:, i] = 0.0
        m = np.linalg.solve(eye - Q, np.ones(n))
        cent[i] = float(np.sqrt(2.0 * m.sum() - n * (n + 1)))
    return g.spark.createDataFrame(
        [(int(v), float(c)) for v, c in zip(ids, cent)],
        "id bigint, centrality double",
    )


def communicability_betweenness_centrality(g: SparkGraph) -> DataFrame:
    """(id, centrality): fraction of all-pair walk weight that routes
    through each node — ω_r = (1/C) Σ_{p≠r≠q} (G_{prq}/G_{pq}) with
    G_{prq} = expm(A)_{pq} − expm(A − E(r))_{pq}, C = (n−1)² − (n−1)
    (Estrada, Higham & Hatano, Physica A 388, 2009; reference
    ``centrality/subgraph_alg.py`` ``communicability_betweenness_centrality``).

    The definition needs a FULL expm per removed node (n dense matrix
    exponentials) — no join form exists; driver-gated with a size guard.
    expm is computed via the symmetric eigendecomposition (numpy eigh),
    matching the reference's scipy path to float precision.
    """
    import numpy as np

    if g.directed:
        raise NotImplementedForDirected(
            "communicability_betweenness_centrality: not implemented for "
            "directed type"
        )

    def _expm_sym(M):
        w, v = np.linalg.eigh(M)
        return (v * np.exp(w)) @ v.T

    ids, A = _collect_adjacency(
        g, weight=None, limit=_COMMUNICABILITY_NODES,
        what="communicability_betweenness_centrality",
    )
    A = (A != 0).astype(float)
    n = len(ids)
    expA = _expm_sym(A)
    # the reference rescales by 1/((n−1)² − (n−1)) only when n > 2
    scale = 1.0 / ((n - 1.0) ** 2 - (n - 1.0)) if n > 2 else 1.0
    out = []
    for r in range(n):
        Ar = A.copy()
        Ar[r, :] = 0.0
        Ar[:, r] = 0.0
        B = expA - _expm_sym(Ar)
        ratio = np.divide(B, expA, out=np.zeros_like(B), where=expA != 0)
        # zero the row/col/diagonal the sum must skip (p ≠ r ≠ q, p ≠ q)
        ratio[r, :] = 0.0
        ratio[:, r] = 0.0
        np.fill_diagonal(ratio, 0.0)
        out.append((int(ids[r]), float(ratio.sum() * scale)))
    return g.spark.createDataFrame(out, "id bigint, centrality double")
