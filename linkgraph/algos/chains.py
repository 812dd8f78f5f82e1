"""Chain decomposition and prefix trees.

Reference: ``networkx/algorithms/chains.py:9`` ``chain_decomposition``
(Schmidt 2013) and ``networkx/generators/trees.py`` ``prefix_tree``.

``chain_decomposition`` is DFS-rooted — the same inherently sequential
dependence as the DFS family (SURVEY §2.I), so it runs driver-gated under
the same size guard, sharing the collected-adjacency helper with
``algos/dfs.py``. The decomposition certifies 2-edge-connectivity: the
edges in no chain are exactly the bridges, and the distributed
random-cancellation bridge kernel (``algos/bridges.py``) remains the
scale path — the parity tests pin the two against each other.

``prefix_tree`` is genuinely relational: every path prefix is a node, so
the trie is ``explode(prefixes) → distinct → dense ids → parent join`` —
four distributed steps, no driver state, any number of input paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import SparkGraph

# Arcs the chain decomposition's DFS collects onto the driver.
_DRIVER_ARCS = 5_000_000

__all__ = ["chain_decomposition", "prefix_tree"]

NIL = -1


def chain_decomposition(g: SparkGraph, root=None) -> "list[list[tuple[int, int]]]":
    """The Schmidt chain decomposition (``chains.py:9``): a list of chains,
    each a list of edges; every non-bridge edge appears in exactly one
    chain. Deterministic: DFS visits sorted neighbors, back edges are
    processed in DFS-number order."""
    if g.directed:
        raise ValueError("chain_decomposition is defined on undirected graphs")
    from linkgraph.algos.dfs import _driver_adjacency

    adj, nodes = _driver_adjacency(g, _DRIVER_ARCS)
    roots = [int(root)] if root is not None else nodes
    visited_dfs = set()
    dfs_num = {}
    parent = {}
    order = []
    back_edges = []
    for r in roots:
        if r in visited_dfs or r not in adj and root is None and r not in nodes:
            continue
        if r in visited_dfs:
            continue
        stack = [(r, None)]
        while stack:
            u, p = stack.pop()
            if u in visited_dfs:
                continue
            visited_dfs.add(u)
            dfs_num[u] = len(order)
            order.append(u)
            parent[u] = p
            for w in sorted(adj.get(u, ()), reverse=True):
                if w not in visited_dfs:
                    stack.append((w, u))
        if root is not None:
            break
    # back edges: (u, v) with dfs_num[u] < dfs_num[v], v not a child of u
    for u in order:
        for w in sorted(adj.get(u, ())):
            if w in dfs_num and dfs_num[w] > dfs_num[u] and parent.get(w) != u:
                back_edges.append((u, w))
    back_edges.sort(key=lambda e: (dfs_num[e[0]], dfs_num[e[1]]))

    chain_visited = set()
    chains = []
    for u, w in back_edges:
        chain = [(u, w)]
        chain_visited.add(u)
        x = w
        while x not in chain_visited:
            chain_visited.add(x)
            chain.append((x, parent[x]))
            x = parent[x]
        chains.append(chain)
    return chains


def prefix_tree(spark, paths) -> "tuple[SparkGraph, DataFrame]":
    """(tree, nodes): the trie of the given paths
    (``generators/trees.py`` ``prefix_tree``): root id 0 (source null),
    one node per distinct prefix, every full path closed with the NIL
    node (id -1), like the reference.

    ``paths`` is a list of sequences or a DataFrame with an array column.
    ``nodes`` is ``(id, source)``; node ids are dense and deterministic
    (prefixes ordered by (length, content)); the reference numbers by
    insertion order — the same tree up to relabeling, which the parity
    test checks by comparing the recovered path sets.
    """
    if isinstance(paths, DataFrame):
        pdf = paths.select(F.col(paths.columns[0]).alias("path"))
    else:
        rows = [([str(x) for x in p],) for p in paths]
        pdf = spark.createDataFrame(rows, "path array<string>")
    pdf = pdf.persist()
    # every proper+full prefix of every path, with its parent prefix
    prefixes = (
        pdf.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("path")),
                    lambda i: F.slice("path", F.lit(1), i),
                )
            ).alias("pfx")
        )
        .distinct()
    )
    keyed = prefixes.select(
        "pfx",
        F.to_json(F.struct(F.col("pfx"))).alias("k"),
        F.size("pfx").alias("ln"),
    )
    ids = keyed.select(
        "pfx",
        "ln",
        F.dense_rank().over(Window.orderBy("ln", "k")).cast("long").alias("id"),
    ).persist()
    nodes = ids.select(
        "id", F.element_at("pfx", -1).alias("source")
    ).unionByName(
        spark.createDataFrame([(0, None), (NIL, None)], "id long, source string")
    )
    parent_of = ids.select(
        F.expr("slice(pfx, 1, ln - 1)").alias("ppfx"), F.col("id").alias("child")
    )
    edges = (
        parent_of.join(
            ids.select(F.col("pfx").alias("ppfx"), F.col("id").alias("pid")),
            "ppfx",
            "left",
        )
        .select(
            F.coalesce("pid", F.lit(0)).alias("src"), F.col("child").alias("dst")
        )
    )
    # close every full path with NIL
    leaf_edges = (
        pdf.join(
            ids.select(F.col("pfx").alias("path"), F.col("id").alias("src")),
            "path",
        )
        .select("src", F.lit(NIL).cast("long").alias("dst"))
        .distinct()
    )
    g = SparkGraph(
        edges.unionByName(leaf_edges),
        nodes.select("id"),
        directed=True,
        coalesce_edges=False,
    )
    pdf.unpersist()
    return g, nodes


def prefix_tree_recursive(spark, paths):
    """``generators/trees.py`` ``prefix_tree_recursive`` — the
    reference's recursive twin of ``prefix_tree`` (same trie); both map
    to the same distributed prefix construction here."""
    return prefix_tree(spark, paths)
