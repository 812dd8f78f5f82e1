"""SciPy-sparse / NumPy-dense bridges — the reference's
``networkx/convert_matrix.py`` surface (``to_scipy_sparse_array:490``,
``from_scipy_sparse_array:777``, ``to_numpy_array:882``,
``from_numpy_array:1121``).

These are DRIVER-SIDE egress/ingress paths by definition (a dense or CSR
matrix lives in one address space), so they are for the small-graph /
test / linear-algebra-interop regime only — guarded by ``max_nodes``, the
same role the reference's "fast path for small graphs" plays
(``pagerank_alg.py:271``). The distributed twin of CSR (per-partition Arrow
blocks) was benchmarked and retired (BENCH_CSR.json; see BASELINE.md).

The core egress is ``to_csr_arrays`` — plain NumPy ``(indptr, indices,
data, ids)`` CSR triplets, the exact memory layout scipy's csr_array wraps
— so the bridge works in environments without SciPy; ``to_scipy_*`` /
``from_scipy_*`` are thin gated wrappers.

Conventions matched:

- node order = ``nodelist`` or ascending node id (the reference uses
  ``list(G)`` insertion order; ascending id is this engine's deterministic
  equivalent, the same rule ``convert_node_labels_to_integers`` uses)
- undirected graphs symmetrize (``convert_matrix.py:697-711``)
- missing edges are 0; parallel edges were already weight-summed at
  construction (``convert_matrix.py:649-656``)
- ``from_*`` treat nonzero entries as edges; an undirected build reads the
  upper triangle + diagonal like ``from_scipy_sparse_array``'s symmetric
  collapse
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from linkgraph.graph import SparkGraph

DEFAULT_MAX_NODES = 2_000_000


def _check_size(n: int, max_nodes: int, what: str) -> None:
    if n > max_nodes:
        raise ValueError(
            f"{what}: {n} nodes exceeds max_nodes={max_nodes}; dense/CSR "
            "egress is a driver-side small-graph path — raise max_nodes "
            "explicitly if the matrix genuinely fits on the driver"
        )


def to_csr_arrays(
    g: SparkGraph,
    nodelist=None,
    *,
    weight: "str | None" = "weight",
    max_nodes: int = DEFAULT_MAX_NODES,
):
    """Return ``(indptr, indices, data, ids)`` NumPy arrays — the CSR of
    the (symmetrized, weight-summed) adjacency in ascending-id (or given
    ``nodelist``) order. ``ids[i]`` is the node id of matrix row i.
    ``weight`` follows the reference's matrix-builder contract: an edge
    column name (missing column → every entry 1), or None for the
    unweighted 0/1 adjacency."""
    import numpy as np

    if nodelist is not None:
        ids = np.asarray([int(v) for v in nodelist], dtype=np.int64)
    else:
        ids = np.asarray(
            [r[0] for r in g.vertices.orderBy("id").collect()], dtype=np.int64
        )
    n = len(ids)
    _check_size(n, max_nodes, "to_csr_arrays")
    idx = {int(v): i for i, v in enumerate(ids)}
    base = g.symmetric_edges() if not g.directed else g.edges
    if weight is None or weight not in base.columns:
        wcol = F.lit(1.0)
    else:
        wcol = F.col(weight).cast("double")
    edges = base.select("src", "dst", wcol.alias("weight"))
    # one driver collect (the egress), then vectorized CSR assembly
    rows, cols, vals = [], [], []
    for r in edges.collect():
        si, di = idx.get(int(r["src"])), idx.get(int(r["dst"]))
        if si is not None and di is not None:
            rows.append(si)
            cols.append(di)
            vals.append(float(r["weight"]))
    rows = np.asarray(rows, dtype=np.int64)
    cols = np.asarray(cols, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    order = np.lexsort((cols, rows))
    rows, cols, vals = rows[order], cols[order], vals[order]
    # collapse duplicates (parallel entries) by summing, like coo.sum_duplicates
    if len(rows):
        key_change = np.concatenate(
            ([True], (rows[1:] != rows[:-1]) | (cols[1:] != cols[:-1]))
        )
        group = np.cumsum(key_change) - 1
        out_vals = np.zeros(group[-1] + 1)
        np.add.at(out_vals, group, vals)
        rows, cols, vals = rows[key_change], cols[key_change], out_vals
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, rows + 1, 1)
    indptr = np.cumsum(indptr)
    return indptr, cols, vals, ids


def to_scipy_sparse_array(
    g: SparkGraph,
    nodelist=None,
    *,
    weight: "str | None" = "weight",
    fmt: str = "csr",
    max_nodes: int = DEFAULT_MAX_NODES,
):
    """``convert_matrix.py:490`` — requires SciPy (gated import)."""
    try:
        import scipy.sparse as sp
    except ImportError as exc:  # pragma: no cover - env without scipy
        raise ImportError(
            "to_scipy_sparse_array requires scipy; use to_csr_arrays for "
            "the dependency-free (indptr, indices, data, ids) form"
        ) from exc
    indptr, indices, data, ids = to_csr_arrays(
        g, nodelist, weight=weight, max_nodes=max_nodes
    )
    n = len(ids)
    return sp.csr_array((data, indices, indptr), shape=(n, n)).asformat(fmt)


def to_numpy_array(
    g: SparkGraph,
    nodelist=None,
    *,
    weight: "str | None" = "weight",
    max_nodes: int = 20_000,
):
    """Dense adjacency (``convert_matrix.py:882``); the tighter default cap
    reflects the O(n²) footprint. SciPy-free."""
    import numpy as np

    indptr, indices, data, ids = to_csr_arrays(
        g, nodelist, weight=weight, max_nodes=max_nodes
    )
    n = len(ids)
    A = np.zeros((n, n))
    for i in range(n):
        A[i, indices[indptr[i]:indptr[i + 1]]] = data[indptr[i]:indptr[i + 1]]
    return A


def from_numpy_array(
    spark: SparkSession, A, *, directed: bool = False
) -> SparkGraph:
    """``convert_matrix.py:1121``: nonzero entries become weighted edges;
    node ids are the matrix indices. Undirected input reads the upper
    triangle + diagonal (the symmetric collapse). SciPy-free."""
    import numpy as np

    A = np.asarray(A)
    n = A.shape[0]
    ii, jj = np.nonzero(A)
    rows = []
    for i, j in zip(ii, jj):
        if not directed and i > j:
            continue
        rows.append((int(i), int(j), float(A[i, j])))
    e = spark.createDataFrame(rows or [], "src long, dst long, weight double")
    v_df = spark.range(n).select(F.col("id").cast("long"))
    return SparkGraph(e, vertices=v_df, directed=directed, coalesce_edges=False)


def from_scipy_sparse_array(
    spark: SparkSession, A, *, directed: bool = False
) -> SparkGraph:
    """``convert_matrix.py:777`` — requires SciPy (gated import)."""
    return from_numpy_array(spark, A.todense(), directed=directed)
