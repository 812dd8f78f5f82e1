"""Layout family — ``networkx/drawing/layout.py`` re-expressed as
DataFrame transforms.

The reference returns ``{node: ndarray}``; the columnar twin is a
DataFrame ``(id, x0, x1, ...)`` — positions are data, so at web scale a
layout IS a vertex-embedding table (the rendering itself stays out of
scope, as SURVEY §2 declares for the drawing package). Deterministic
throughout: hash coins for randomness, rank-by-id for orderings.

- ``random_layout`` — one hash expression per axis, fully distributed.
- ``circular/shell/spiral_layout`` — rank via ``row_number`` over id (one
  range-partitioned sort), then pure trigonometry columns.
- ``spectral_layout`` — the first ``dim`` nontrivial Laplacian
  eigenvectors from the SAME inverse-power/CG kernel the Fiedler module
  uses (``algos/fiedler.py``), with Gram-Schmidt deflation against the
  ones vector and previously extracted axes.
- ``spring_layout`` — Fruchterman-Reingold; the repulsion term is the
  all-pairs join the reference also materializes (its numpy matrix is
  n×n too). O(n² · iterations) by definition — the docstring says to use
  ``spectral_layout`` at scale.
- ``bipartite_layout`` / ``multipartite_layout`` — per-subset columns.
- ``rescale_layout`` — center + max-abs scale, one agg + one projection.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph
from linkgraph.iterutils import local_checkpoint

__all__ = [
    "random_layout",
    "circular_layout",
    "shell_layout",
    "spiral_layout",
    "spectral_layout",
    "spring_layout",
    "fruchterman_reingold_layout",
    "bipartite_layout",
    "multipartite_layout",
    "rescale_layout",
]

_TAU = 2.0 * math.pi


def _ranked(verts: DataFrame) -> DataFrame:
    return verts.select(
        "id", (F.row_number().over(Window.orderBy("id")) - 1).alias("_r")
    )


def random_layout(g: SparkGraph, dim: int = 2, seed: int = 42) -> DataFrame:
    """``layout.py`` ``random_layout`` — uniform [0, 1)^dim."""
    return g.vertices.select(
        "id",
        *[
            (
                F.pmod(F.xxhash64("id", F.lit(int(seed)), F.lit(d)), F.lit(1 << 53))
                / F.lit(float(1 << 53))
            ).alias(f"x{d}")
            for d in range(int(dim))
        ],
    )


def circular_layout(g: SparkGraph, scale: float = 1.0) -> DataFrame:
    """``layout.py`` ``circular_layout`` — nodes evenly on a circle in
    ascending id order (the reference uses insertion order; a column
    store's canonical order is the id)."""
    n = g.number_of_nodes()
    if n == 0:
        return g.vertices.select("id", F.lit(0.0).alias("x0"), F.lit(0.0).alias("x1"))
    if n == 1:
        return g.vertices.select("id", F.lit(0.0).alias("x0"), F.lit(0.0).alias("x1"))
    theta = F.col("_r") * F.lit(_TAU / n)
    return _ranked(g.vertices).select(
        "id",
        (F.cos(theta) * F.lit(float(scale))).alias("x0"),
        (F.sin(theta) * F.lit(float(scale))).alias("x1"),
    )


def shell_layout(
    g: SparkGraph, nlist: Optional[Sequence[Sequence[int]]] = None,
    scale: float = 1.0,
) -> DataFrame:
    """``layout.py`` ``shell_layout`` — concentric circles; ``nlist`` is
    the list of shells (defaults to one shell = circular)."""
    if nlist is None:
        return circular_layout(g, scale=scale)
    rows = []
    nshells = len(nlist)
    for si, shell in enumerate(nlist):
        radius = (si + (0.0 if nshells == 1 else 1.0)) / max(nshells - (0 if nshells == 1 else 0), 1)
        radius = si / max(nshells - 1, 1) if nshells > 1 else 0.0
        shell = [int(x) for x in shell]
        k = len(shell)
        for j, node in enumerate(shell):
            theta = _TAU * j / max(k, 1)
            rows.append(
                (node, radius * math.cos(theta) * float(scale),
                 radius * math.sin(theta) * float(scale))
            )
    pos = g.spark.createDataFrame(rows, "id long, x0 double, x1 double")
    missing = g.vertices.select("id").join(pos.select("id"), "id", "left_anti")
    if missing.limit(1).count() > 0:
        raise NetworkXError("shell_layout: nlist does not cover all nodes")
    return pos


def spiral_layout(
    g: SparkGraph, scale: float = 1.0, resolution: float = 0.35,
    equidistant: bool = False,
) -> DataFrame:
    """``layout.py`` ``spiral_layout`` — Archimedean spiral by id rank."""
    ranked = _ranked(g.vertices)
    if equidistant:
        theta = F.lit(float(resolution)) * F.sqrt(F.col("_r").cast("double")) * 2.0
        r = F.sqrt(F.col("_r").cast("double"))
    else:
        theta = F.lit(float(resolution)) * F.col("_r").cast("double")
        r = F.col("_r").cast("double")
    pos = ranked.select(
        "id",
        (r * F.cos(theta)).alias("x0"),
        (r * F.sin(theta)).alias("x1"),
    )
    return rescale_layout(pos, scale=scale)


def _deflated_eigvec(g, against: "list[DataFrame]", seed: int,
                     tol: float, max_iter: int, weight=None) -> DataFrame:
    """One more nontrivial Laplacian eigenvector: inverse power iteration
    (the fiedler CG kernel) orthogonalized against the given unit vectors
    and the ones vector each step. ``weight`` selects the Laplacian's
    edge weights (None → the blessed weight column, the reference
    spectral_layout default)."""
    from linkgraph.algos.currentflow import _batched_cg_diag
    from linkgraph.graph import resolve_weight_column

    spark = g.spark
    wcol = resolve_weight_column(g.edges, weight)
    base = (
        g.symmetric_edges()
        .select("src", "dst", F.abs(wcol).alias("c"))
        .filter((F.col("c") > 0) & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.sum("c").alias("c"))
        .persist()
    )
    verts = g.vertices.select("id").persist()
    diag = base.groupBy(F.col("src").alias("id")).agg(F.sum("c").alias("d"))
    diag = verts.join(diag, "id", "left").select(
        "id", F.coalesce("d", F.lit(0.0)).alias("d")
    )

    def orthonormalize(df):
        # remove the mean (the ones direction) and each prior axis
        mu = df.agg(F.avg("v")).first()[0] or 0.0
        out = df.select("id", (F.col("v") - F.lit(float(mu))).alias("v"))
        for vec in against:
            dot = (
                out.join(vec.select("id", F.col("v").alias("w")), "id")
                .agg(F.sum(F.col("v") * F.col("w")))
                .first()[0]
                or 0.0
            )
            out = (
                out.join(vec.select("id", F.col("v").alias("w")), "id")
                .select("id", (F.col("v") - F.lit(float(dot)) * F.col("w")).alias("v"))
            )
        nrm = out.agg(F.sqrt(F.sum(F.col("v") * F.col("v")))).first()[0]
        if not nrm:
            raise NetworkXError("spectral_layout iteration degenerated")
        return out.select("id", (F.col("v") / F.lit(float(nrm))).alias("v"))

    x = verts.select(
        "id",
        (F.xxhash64("id", F.lit(int(seed))).cast("double") / F.lit(2.0**63)).alias("v"),
    )
    x = orthonormalize(x).persist()
    lam_prev = None
    for _ in range(max_iter):
        rhs = x.select(F.lit(0).alias("s"), "id", F.col("v").alias("b"))
        sol = _batched_cg_diag(
            spark, verts, base, diag, rhs, tol=min(tol, 1e-10), max_iter=5000
        )
        y = sol.select("id", F.col("x").alias("v"))
        dots = (
            y.join(x.select("id", F.col("v").alias("xv")), "id")
            .agg(
                F.sum(F.col("v") * F.col("xv")).alias("yx"),
                F.sum(F.col("v") * F.col("v")).alias("yy"),
            )
            .first()
        )
        lam = float(dots["yx"]) / float(dots["yy"])
        nxt = orthonormalize(y).persist()
        x.unpersist()
        x = nxt
        if lam_prev is not None and abs(lam - lam_prev) <= tol * max(abs(lam), 1e-30):
            break
        lam_prev = lam
    base.unpersist()
    verts.unpersist()
    # deterministic sign: smallest id non-negative
    head = x.orderBy("id").limit(1).first()["v"]
    if head < 0:
        x = x.select("id", (-F.col("v")).alias("v"))
    return local_checkpoint(x)


def spectral_layout(
    g: SparkGraph, dim: int = 2, *, tol: float = 1e-8, max_iter: int = 100,
    seed: int = 42, scale: float = 1.0, weight: "Optional[str]" = "weight",
) -> DataFrame:
    """``layout.py`` ``spectral_layout`` — coordinates from the first
    ``dim`` nontrivial Laplacian eigenvectors (same subspace the
    reference's dense ``eigh`` uses; the basis may differ by rotation or
    sign, which is layout-equivalent)."""
    if g.directed:
        g = g.to_undirected()
    axes: "list[DataFrame]" = []
    for d in range(int(dim)):
        axes.append(
            _deflated_eigvec(g, axes, seed=seed + 17 * d, tol=tol,
                             max_iter=max_iter, weight=weight)
        )
    pos = g.vertices.select("id")
    for d, vec in enumerate(axes):
        pos = pos.join(vec.select("id", F.col("v").alias(f"x{d}")), "id")
    return rescale_layout(pos, scale=scale)


def spring_layout(
    g: SparkGraph,
    k: Optional[float] = None,
    iterations: int = 50,
    seed: int = 42,
    scale: float = 1.0,
    pos: Optional[DataFrame] = None,
    weight: "Optional[str]" = "weight",
) -> DataFrame:
    """``layout.py`` ``spring_layout`` (Fruchterman-Reingold). The
    repulsion term is an all-pairs join per iteration — the reference's
    dense numpy path materializes the same n×n matrix, so the cost class
    matches; at web scale use ``spectral_layout`` (CG solves, no n²).
    Deterministic per seed. ``weight`` scales each edge's attraction like
    the reference's adjacency entries (None → every edge 1)."""
    n = g.number_of_nodes()
    if n == 0:
        return g.vertices.select("id", F.lit(0.0).alias("x0"), F.lit(0.0).alias("x1"))
    if k is None:
        k = 1.0 / math.sqrt(n)
    p = pos if pos is not None else random_layout(g, dim=2, seed=seed)
    p = p.select("id", F.col("x0").cast("double"), F.col("x1").cast("double"))
    base = g.symmetric_edges() if not g.directed else g.edges
    if weight is None or weight not in base.columns:
        wsel = F.lit(1.0).alias("_w")
    else:
        wsel = F.col(weight).cast("double").alias("_w")
    half = base.select("src", "dst", wsel)
    if g.directed:
        half = half.unionByName(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "_w"
            )
        )
    t = 0.1
    dt = t / (int(iterations) + 1)
    from linkgraph.iterutils import SuperstepCache

    with SuperstepCache(g.spark) as cache:
        arcs = cache.pin(half.groupBy("src", "dst").agg(F.max("_w").alias("_w")))
        p = cache.truncate(p)
        eps = 1e-9
        for _ in range(int(iterations)):
            a = p
            b = p.select(
                F.col("id").alias("jid"),
                F.col("x0").alias("jx0"),
                F.col("x1").alias("jx1"),
            )
            pair = a.join(b, F.col("id") != F.col("jid"))
            dx = F.col("x0") - F.col("jx0")
            dy = F.col("x1") - F.col("jx1")
            dist = F.greatest(F.sqrt(dx * dx + dy * dy), F.lit(eps))
            rep = pair.groupBy("id").agg(
                F.sum(dx / dist * (F.lit(k * k) / dist)).alias("fx"),
                F.sum(dy / dist * (F.lit(k * k) / dist)).alias("fy"),
            )
            att_pair = (
                arcs.join(a.withColumnRenamed("id", "src"), "src")
                .join(
                    b.withColumnRenamed("jid", "dst"),
                    "dst",
                )
            )
            adx = F.col("x0") - F.col("jx0")
            ady = F.col("x1") - F.col("jx1")
            adist = F.greatest(F.sqrt(adx * adx + ady * ady), F.lit(eps))
            att = att_pair.groupBy(F.col("src").alias("id")).agg(
                F.sum(-adx / adist * (F.col("_w") * adist * adist / F.lit(k))).alias("ax"),
                F.sum(-ady / adist * (F.col("_w") * adist * adist / F.lit(k))).alias("ay"),
            )
            disp = (
                p.join(rep, "id", "left")
                .join(att, "id", "left")
                .select(
                    "id", "x0", "x1",
                    (F.coalesce("fx", F.lit(0.0)) + F.coalesce("ax", F.lit(0.0))).alias("dx"),
                    (F.coalesce("fy", F.lit(0.0)) + F.coalesce("ay", F.lit(0.0))).alias("dy"),
                )
            )
            dlen = F.greatest(
                F.sqrt(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")),
                F.lit(eps),
            )
            step = F.least(dlen, F.lit(t))
            p = cache.truncate(
                disp.select(
                    "id",
                    (F.col("x0") + F.col("dx") / dlen * step).alias("x0"),
                    (F.col("x1") + F.col("dy") / dlen * step).alias("x1"),
                ),
                retire=p,
            )
            t -= dt
        return cache.result(cache.truncate(rescale_layout(p, scale=scale)))


fruchterman_reingold_layout = spring_layout


def bipartite_layout(
    g: SparkGraph, nodes, align: str = "vertical", scale: float = 1.0,
    aspect_ratio: float = 4.0 / 3.0,
) -> DataFrame:
    """``layout.py`` ``bipartite_layout`` — ``nodes`` (one side) in the
    left column, the rest in the right."""
    if isinstance(nodes, DataFrame):
        left = nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
    else:
        left = g.spark.createDataFrame([(int(x),) for x in nodes], "id long")
    verts = g.vertices.select("id")
    tagged = verts.join(left.withColumn("_l", F.lit(1)), "id", "left").select(
        "id", F.coalesce("_l", F.lit(0)).alias("_l")
    )
    w = Window.partitionBy("_l").orderBy("id")
    cnt = Window.partitionBy("_l")
    pos = tagged.select(
        "id",
        "_l",
        (F.row_number().over(w) - 1).alias("_r"),
        F.count(F.lit(1)).over(cnt).alias("_n"),
    ).select(
        "id",
        F.when(F.col("_l") == 1, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("x0"),
        (
            (F.col("_r") - (F.col("_n") - 1) / 2.0)
            / F.greatest(F.col("_n"), F.lit(1))
            * F.lit(2.0 * float(aspect_ratio))
        ).alias("x1"),
    )
    if align == "horizontal":
        pos = pos.select("id", F.col("x1").alias("x0"), F.col("x0").alias("x1"))
    return rescale_layout(pos, scale=scale)


def multipartite_layout(
    g: SparkGraph, subset_key: str = "subset", align: str = "vertical",
    scale: float = 1.0,
) -> DataFrame:
    """``layout.py`` ``multipartite_layout`` — one column per value of the
    ``subset_key`` vertex attribute column."""
    if subset_key not in g.vertices.columns:
        raise NetworkXError(f"multipartite_layout: no vertex column {subset_key!r}")
    verts = g.vertices.select("id", F.col(subset_key).alias("_s"))
    w = Window.partitionBy("_s").orderBy("id")
    cnt = Window.partitionBy("_s")
    layer = Window.orderBy("_s")
    pos = verts.select(
        "id",
        F.dense_rank().over(layer).alias("_li"),
        (F.row_number().over(w) - 1).alias("_r"),
        F.count(F.lit(1)).over(cnt).alias("_n"),
    ).select(
        "id",
        (F.col("_li") - 1).cast("double").alias("x0"),
        (F.col("_r") - (F.col("_n") - 1) / 2.0).cast("double").alias("x1"),
    )
    if align == "horizontal":
        pos = pos.select("id", F.col("x1").alias("x0"), F.col("x0").alias("x1"))
    return rescale_layout(pos, scale=scale)


def rescale_layout(pos: DataFrame, scale: float = 1.0) -> DataFrame:
    """``layout.py`` ``rescale_layout`` — translate to the centroid, then
    scale so the largest coordinate magnitude equals ``scale``."""
    axes = [c for c in pos.columns if c != "id"]
    means = pos.agg(*[F.avg(c).alias(c) for c in axes]).first()
    centered = pos.select(
        "id", *[(F.col(c) - F.lit(float(means[c] or 0.0))).alias(c) for c in axes]
    )
    lim = centered.agg(
        F.greatest(*[F.max(F.abs(F.col(c))) for c in axes]).alias("m")
    ).first()["m"]
    if not lim:
        return centered
    s = float(scale) / float(lim)
    return centered.select(
        "id", *[(F.col(c) * F.lit(s)).alias(c) for c in axes]
    )


def rescale_layout_dict(pos: dict, scale: float = 1.0) -> dict:
    """``layout.py`` ``rescale_layout_dict`` — the dict-form twin of
    :func:`rescale_layout` for driver-side position dicts."""
    import numpy as np

    if not pos:
        return {}
    keys = list(pos)
    arr = np.array([pos[k] for k in keys], dtype=float)
    arr = arr - arr.mean(axis=0)
    lim = np.abs(arr).max()
    if lim > 0:
        arr = arr * (float(scale) / lim)
    return {k: arr[i] for i, k in enumerate(keys)}


def bfs_layout(g, start, *, align: str = "vertical", scale: float = 1.0):
    """``layout.py`` ``bfs_layout`` — nodes positioned by BFS layer from
    ``start``: one axis indexes the layer, the other spreads the layer's
    members. The layer structure is the distributed BFS; only the
    positions DataFrame (n rows, like every layout) is produced. Raises
    when the graph is not fully reachable from ``start``, matching the
    reference."""
    from pyspark.sql import Window

    from linkgraph.algos.setops import bfs_layers
    from linkgraph.exceptions import NetworkXError

    layers = bfs_layers(g, [start])
    n = g.vertices.count()
    if layers.count() != n:
        raise NetworkXError(
            "bfs_layout didn't include all nodes. Perhaps use input graph:\n"
            "        G.subgraph(nx.node_connected_component(G, start))"
        )
    w = Window.partitionBy("layer").orderBy("id")
    cnt = Window.partitionBy("layer")
    pos = layers.select(
        "id",
        F.col("layer").cast("double").alias("_main"),
        (
            (F.row_number().over(w) - 1)
            - (F.count(F.lit(1)).over(cnt) - 1) / 2.0
        ).alias("_cross"),
    )
    if align == "vertical":
        out = pos.select("id", F.col("_main").alias("x"), F.col("_cross").alias("y"))
    else:
        out = pos.select("id", F.col("_cross").alias("x"), F.col("_main").alias("y"))
    return rescale_layout(out, scale=scale)


def combinatorial_embedding_to_pos(embedding, fully_triangulate: bool = False):
    """``planar_drawing.py`` ``combinatorial_embedding_to_pos`` — node
    positions from a planar embedding. The reference draws on an integer
    grid via canonical orderings; this engine produces Tutte barycentric
    coordinates instead (pin the embedding's outer face to a convex
    polygon, every interior node at the average of its neighbors —
    Tutte 1963: a planar straight-line drawing for 3-connected planar
    graphs, a well-formed drawing otherwise). Returns {node: (x, y)}."""
    import math

    import numpy as np

    adj = embedding.adj
    nodes = sorted(adj)
    if not nodes:
        return {}
    outer = embedding.outer_face()
    if len(outer) < 3:
        # degenerate (tree / edge): circular fallback
        k = len(nodes)
        return {
            v: (math.cos(2 * math.pi * i / k), math.sin(2 * math.pi * i / k))
            for i, v in enumerate(nodes)
        }
    pos = {}
    kf = len(outer)
    for i, v in enumerate(outer):
        ang = 2 * math.pi * i / kf
        pos[v] = (math.cos(ang), math.sin(ang))
    interior = [v for v in nodes if v not in pos]
    if interior:
        idx = {v: i for i, v in enumerate(interior)}
        n_i = len(interior)
        A = np.zeros((n_i, n_i))
        bx = np.zeros(n_i)
        by = np.zeros(n_i)
        for v in interior:
            i = idx[v]
            nbrs = adj[v]
            A[i, i] = max(len(nbrs), 1)
            for w in nbrs:
                if w in idx:
                    A[i, idx[w]] -= 1.0
                else:
                    bx[i] += pos[w][0]
                    by[i] += pos[w][1]
        try:
            xs = np.linalg.solve(A, bx)
            ys = np.linalg.solve(A, by)
        except np.linalg.LinAlgError:
            xs = np.linalg.lstsq(A, bx, rcond=None)[0]
            ys = np.linalg.lstsq(A, by, rcond=None)[0]
        for v in interior:
            pos[v] = (float(xs[idx[v]]), float(ys[idx[v]]))
    return pos


def planar_layout(g, scale: float = 1.0):
    """``layout.py`` ``planar_layout`` — positions from the planarity
    certificate (:func:`check_planarity` + Tutte coordinates); raises
    when the graph is not planar, like the reference. Returns the
    engine's standard positions DataFrame (id, x, y)."""
    from linkgraph.algos.planarity import check_planarity
    from linkgraph.exceptions import NetworkXError

    ok, emb = check_planarity(g)
    if not ok:
        raise NetworkXError("G is not planar.")
    pos = combinatorial_embedding_to_pos(emb)
    rows = [(int(v), float(x), float(y)) for v, (x, y) in pos.items()]
    out = g.spark.createDataFrame(rows or [], "id long, x double, y double")
    return rescale_layout(out, scale=scale)


def _collect_positions_input(g, max_nodes=20000):
    from linkgraph.exceptions import NetworkXError

    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    if len(ids) > max_nodes:
        raise NetworkXError(f"layout is dense numerics; {len(ids)} > {max_nodes}")
    base = g.symmetric_edges() if not g.directed else g.edges
    edges = [
        (r["src"], r["dst"]) for r in base.select("src", "dst").collect()
    ]
    return ids, edges


def _pos_df(g, ids, arr):
    rows = [
        (int(v), float(arr[i][0]), float(arr[i][1]))
        for i, v in enumerate(ids)
    ]
    return g.spark.createDataFrame(rows or [], "id long, x double, y double")


def kamada_kawai_layout(
    g, dist=None, pos: Optional[DataFrame] = None, weight="weight",
    scale: float = 1.0, dim: int = 2, max_iter: int = 500,
) -> DataFrame:
    """``layout.py`` ``kamada_kawai_layout`` — minimize the Kamada-Kawai
    stress ``Σ_{i<j} (|x_i − x_j|/d_ij − 1)²`` over graph-theoretic
    distances. Distances come from the DISTRIBUTED all-pairs BFS kernel;
    the optimization itself is the reference's dense numerics (SciPy
    L-BFGS there, gradient descent with adaptive step here) — a driver
    stage over an n×n cost, size-guarded like every layout/linalg
    bridge."""
    import numpy as np

    from linkgraph.algos.paths import all_pairs_shortest_path_length

    ids, edges = _collect_positions_input(g)
    n = len(ids)
    if n == 0:
        return g.spark.createDataFrame([], "id long, x double, y double")
    if n == 1:
        return _pos_df(g, ids, [[0.0, 0.0]])
    idx = {v: i for i, v in enumerate(ids)}
    D = np.full((n, n), float(n))  # disconnected pairs: large distance
    np.fill_diagonal(D, 0.0)
    if dist is not None:
        for u, row in dist.items():
            for v, d in row.items():
                D[idx[u], idx[v]] = d
    else:
        for r in all_pairs_shortest_path_length(g).collect():
            D[idx[r["source"]], idx[r["id"]]] = float(r["distance"])
    D = np.maximum(D, D.T)
    np.fill_diagonal(D, 1.0)  # avoid /0; diagonal is masked below
    if pos is not None:
        X = np.zeros((n, 2))
        for r in pos.collect():
            X[idx[r["id"]]] = (r[1], r[2])
    else:
        rng = np.random.RandomState(42)
        X = rng.rand(n, 2) * 2 - 1
    mask = ~np.eye(n, dtype=bool)
    invD = 1.0 / D
    step = 0.1
    prev_stress = None
    for _ in range(int(max_iter)):
        diff = X[:, None, :] - X[None, :, :]
        dist_e = np.sqrt((diff ** 2).sum(axis=2))
        dist_e[~mask] = 1.0
        ratio = dist_e * invD
        stress = float((((ratio - 1.0) ** 2)[mask]).sum()) / 2
        coef = 2.0 * (ratio - 1.0) * invD / dist_e
        coef[~mask] = 0.0
        grad = (coef[:, :, None] * diff).sum(axis=1)
        if prev_stress is not None and abs(prev_stress - stress) < 1e-9:
            break
        if prev_stress is not None and stress > prev_stress:
            step *= 0.5
        prev_stress = stress
        gnorm = np.linalg.norm(grad)
        if gnorm < 1e-12:
            break
        X = X - step * grad / max(gnorm / n, 1.0)
    out = _pos_df(g, ids, X)
    return rescale_layout(out, scale=scale)


def arf_layout(
    g, pos: Optional[DataFrame] = None, scaling: float = 1.0,
    a: float = 1.1, etol: float = 1e-6, dt: float = 1e-3,
    max_iter: int = 1000, seed: int = 42,
) -> DataFrame:
    """``layout.py`` ``arf_layout`` (attractive-repulsive forces, Geipel
    2007) — the reference's exact update: node j moves by
    ``Σ_i (K_ij − ρ/|p_i − p_j|)(p_i − p_j)·dt`` with spring constant a
    on (directed) edge orientations and ρ = scaling·√N constant-magnitude
    repulsion. Driver numerics, size-guarded."""
    import numpy as np

    from linkgraph.exceptions import NetworkXError

    if a <= 1:
        raise NetworkXError("The parameter a should be larger than 1")
    ids, edges = _collect_positions_input(g)
    n = len(ids)
    if n == 0:
        return g.spark.createDataFrame([], "id long, x double, y double")
    idx = {v: i for i, v in enumerate(ids)}
    K = np.ones((n, n)) - np.eye(n)
    for u, v in edges:
        if u != v:
            K[idx[u], idx[v]] = float(a)
    rng = np.random.RandomState(int(seed))
    if pos is not None:
        X = np.zeros((n, 2))
        for r in pos.collect():
            X[idx[r[0]]] = (r[1], r[2])
    else:
        X = rng.rand(n, 2)
    rho = float(scaling) * np.sqrt(n)
    err = etol + 1
    it = 0
    while err > etol:
        diff = X[:, None, :] - X[None, :, :]
        A = np.linalg.norm(diff, axis=-1)[..., None]
        with np.errstate(divide="ignore", invalid="ignore"):
            change = K[..., None] * diff - rho / A * diff
        change = np.nansum(change, axis=0)
        X = X + change * dt
        err = np.linalg.norm(change, axis=-1).sum()
        if it > int(max_iter):
            break
        it += 1
    return _pos_df(g, ids, X)


def forceatlas2_layout(
    g, pos: Optional[DataFrame] = None, *, max_iter: int = 100,
    jitter_tolerance: float = 1.0, scaling_ratio: float = 2.0,
    gravity: float = 1.0, strong_gravity: bool = False,
    dissuade_hubs: bool = False, linlog: bool = False, seed: int = 42,
    weight: "Optional[str]" = None,
) -> DataFrame:
    """``layout.py`` ``forceatlas2_layout`` (Jacomy et al. 2014) —
    degree-weighted repulsion ``k_r (d_u+1)(d_v+1)/r`` against edge
    attraction (log form under ``linlog``, out-degree damped under
    ``dissuade_hubs``), plus gravity. ``weight`` names the edge column
    scaling each attraction entry (the reference default None = 1).
    Driver numerics with the adaptive global speed of the paper;
    size-guarded."""
    import numpy as np

    ids, edges = _collect_positions_input(g)
    n = len(ids)
    if n == 0:
        return g.spark.createDataFrame([], "id long, x double, y double")
    idx = {v: i for i, v in enumerate(ids)}
    ew = {}
    if weight is not None and weight in g.edges.columns:
        for r in g.edges.select("src", "dst", F.col(weight).cast("double")).collect():
            ew[(r[0], r[1])] = float(r[2] if r[2] is not None else 1.0)
    A = np.zeros((n, n))
    for u, v in edges:
        if u != v:
            wv = ew.get((u, v), ew.get((v, u), 1.0))
            A[idx[u], idx[v]] = wv
            A[idx[v], idx[u]] = wv
    deg = A.sum(axis=1)
    rng = np.random.RandomState(int(seed))
    if pos is not None:
        X = np.zeros((n, 2))
        for r in pos.collect():
            X[idx[r[0]]] = (r[1], r[2])
    else:
        X = rng.rand(n, 2) * 2 - 1
    mass = deg + 1.0
    speed = 1.0
    speed_efficiency = 1.0
    swing_prev = None
    for _ in range(int(max_iter)):
        diff = X[:, None, :] - X[None, :, :]
        dist = np.sqrt((diff ** 2).sum(axis=2))
        np.fill_diagonal(dist, 1.0)
        # repulsion
        rep_c = float(scaling_ratio) * np.outer(mass, mass) / dist ** 2
        np.fill_diagonal(rep_c, 0.0)
        F_total = (rep_c[:, :, None] * diff / dist[:, :, None]).sum(axis=1)
        # attraction over edges
        att = A.copy()
        if linlog:
            w = np.log1p(dist)
            att = att * w / np.maximum(dist, 1e-9)
        if dissuade_hubs:
            att = att / mass[:, None]
        F_total += -(att[:, :, None] * diff).sum(axis=1)
        # gravity toward origin
        norms = np.sqrt((X ** 2).sum(axis=1))
        norms = np.maximum(norms, 1e-9)
        if strong_gravity:
            F_total += -float(gravity) * mass[:, None] * X
        else:
            F_total += -float(gravity) * mass[:, None] * X / norms[:, None]
        fnorm = np.sqrt((F_total ** 2).sum(axis=1))
        swing = np.abs(fnorm - (swing_prev if swing_prev is not None else fnorm))
        traction = (fnorm + (swing_prev if swing_prev is not None else fnorm)) / 2
        global_swing = float((mass * swing).sum()) + 1e-9
        global_traction = float((mass * traction).sum()) + 1e-9
        target = jitter_tolerance * global_traction / global_swing
        speed = min(speed * 1.5 if target > 1 else speed * 0.7, 10.0)
        factor = speed / (1.0 + speed * np.sqrt(swing + 1e-9))
        X = X + F_total * factor[:, None]
        swing_prev = fnorm
        if float(fnorm.mean()) < 1e-6:
            break
    return _pos_df(g, ids, X)
