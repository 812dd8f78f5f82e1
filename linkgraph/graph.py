"""SparkGraph — the distributed edge-table graph model.

Replaces the reference's dict-of-dict-of-dict adjacency
(``networkx/classes/graph.py:233-247``) with two DataFrames:

- ``vertices(id BIGINT, ...attrs)`` — the node dictionary; ``id`` is the key.
- ``edges(src BIGINT, dst BIGINT, weight DOUBLE)`` — one row per edge.

Conventions (mirroring the reference where semantics demand):

- **Directed** graphs store each arc once (``DiGraph._succ``/``_pred`` are not
  duplicated; the reverse direction is a ``groupBy(dst)`` instead of a
  pre-built index — Spark shuffles instead of double-storing,
  cf. ``networkx/classes/digraph.py:330-332``).
- **Undirected** graphs are stored canonically (``src <= dst``, deduped) and
  symmetrized on demand, exactly as ``to_scipy_sparse_array`` symmetrizes at
  conversion time (``networkx/convert_matrix.py:697-711``).
- **Parallel (multigraph) edges** coalesce by summing weights, matching
  ``networkx/convert_matrix.py:649-656``.
- Self-loops are kept in storage; algorithms that ignore them (e.g. triangle
  counting, ``networkx/algorithms/cluster.py:61``) filter them out themselves.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("weight", DoubleType(), True),
    ]
)

VERTEX_SCHEMA = StructType([StructField("id", LongType(), False)])


def local_frame(spark: SparkSession, rows: Sequence, schema: StructType) -> DataFrame:
    """A DataFrame over driver-side ``rows`` that every later scan reads
    in the JVM alone.

    ``spark.createDataFrame(rows, schema)`` makes the same rows and
    partitions, but its plan re-pickles them through a Python worker task
    per partition on EVERY scan (an identity ``map`` that only converts
    the parallelized batches' serializer), and a graph built from a list
    is scanned by every superstep that reads it. The parallelized batches
    are already pickled lists, which the JVM unpickles directly; a
    ``groupBy().count()`` over 8 such rows measured ~1.4 s through the
    Python tasks vs ~0.35 s without them (local[4], 8 partitions). Rows
    must already match ``schema`` (they are not verified)."""
    sc = spark.sparkContext
    batches = sc.parallelize([schema.toInternal(r) for r in rows])
    jrdd = sc._jvm.SerDeUtil.pythonToJava(batches._jrdd, True)
    jdf = spark._jsparkSession.applySchemaToPythonRDD(
        sc._jvm.SerDeUtil.toJavaArray(jrdd).rdd(), schema.json()
    )
    return DataFrame(jdf, spark)


def check_driver_limit(n: int, limit: int, what: str, hint: str = "") -> None:
    """Raise :class:`~linkgraph.exceptions.DriverLimitExceeded` when a
    driver kernel's input of ``n`` rows is over its ``limit``. ``what``
    names the kernel; ``hint`` names the distributed call to use instead,
    where there is one."""
    if n > limit:
        from linkgraph.exceptions import DriverLimitExceeded

        raise DriverLimitExceeded(
            f"{what}: {n} rows exceed the driver limit of {limit}."
            + (f" {hint}" if hint else "")
        )


def driver_rows(df: DataFrame, limit: int, what: str, hint: str = "") -> list:
    """The rows of ``df``, collected onto the driver for a sequential
    kernel: ``df`` is counted first and nothing is collected when the count
    is over ``limit`` (:func:`check_driver_limit`)."""
    check_driver_limit(df.count(), limit, what, hint)
    return df.collect()


class SparkGraph:
    """A graph as a pair of DataFrames.

    Parameters
    ----------
    edges : DataFrame with columns ``src``, ``dst`` and optionally ``weight``.
    vertices : optional DataFrame with column ``id`` (plus attribute columns).
        If omitted, the vertex set is derived lazily from edge endpoints
        (implicit node creation, like ``add_edges_from`` creating missing
        nodes, ``networkx/classes/graph.py:986``).
    directed : bool. Undirected graphs are canonicalized on construction.
    coalesce_edges : if True (default), duplicate (src, dst) rows are merged
        by summing weights (multigraph → weighted simple graph semantics of
        ``networkx/convert_matrix.py:649-656``). Set False when the caller
        guarantees uniqueness (skips a shuffle).
    """

    def __init__(
        self,
        edges: DataFrame,
        vertices: Optional[DataFrame] = None,
        *,
        directed: bool = True,
        coalesce_edges: bool = True,
        num_partitions: Optional[int] = None,
    ):
        self.directed = directed
        self.spark = edges.sparkSession
        self.num_partitions = num_partitions

        e = edges
        if "weight" not in e.columns:
            e = e.withColumn("weight", F.lit(1.0))
        # Open-schema edge attributes (the reference's per-edge attr dict,
        # ``networkx/classes/graph.py:917-985``, as typed columns per
        # SURVEY §1.6): every column beyond (src, dst, weight) rides along.
        extras = [c for c in e.columns if c not in ("src", "dst", "weight")]
        e = e.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
            *extras,
        )
        if not directed:
            # Canonical single-row storage: src <= dst (reference stores the
            # attr dict once, shared by _adj[u][v] and _adj[v][u]).
            e = e.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
                "weight",
                *extras,
            )
        if coalesce_edges:
            # parallel edges: weights sum (convert_matrix.py:649-656);
            # other attrs keep the max — deterministic under distribution,
            # unlike the reference's insertion-order dict overwrite.
            e = e.groupBy("src", "dst").agg(
                F.sum("weight").alias("weight"),
                *[F.max(c).alias(c) for c in extras],
            )
        if num_partitions:
            e = e.repartition(num_partitions, "src")
        self.edges = e

        if vertices is not None:
            self._vertices = vertices.withColumn("id", F.col("id").cast("long"))
        else:
            self._vertices = None

    # ------------------------------------------------------------------ #
    # vertex / edge access
    # ------------------------------------------------------------------ #

    @property
    def vertices(self) -> DataFrame:
        """Vertex DataFrame; derived from edge endpoints when not supplied."""
        if self._vertices is None:
            self._vertices = (
                self.edges.select(F.col("src").alias("id"))
                .unionAll(self.edges.select(F.col("dst").alias("id")))
                .distinct()
            )
        return self._vertices

    @property
    def edge_attr_names(self) -> "list[str]":
        """Names of edge attribute columns beyond (src, dst, weight)."""
        return [c for c in self.edges.columns if c not in ("src", "dst", "weight")]

    @property
    def node_attr_names(self) -> "list[str]":
        """Names of vertex attribute columns beyond id."""
        return [c for c in self.vertices.columns if c != "id"]

    def edge_data(self, attr: str, default=None) -> DataFrame:
        """(src, dst, <attr>) with missing values filled by ``default`` —
        the ``G.edges.data(attr, default=)`` projection
        (``networkx/classes/reportviews.py:118``)."""
        col = (
            F.coalesce(F.col(attr), F.lit(default))
            if default is not None
            else F.col(attr)
        )
        return self.edges.select("src", "dst", col.alias(attr))

    def node_data(self, attr: str, default=None) -> DataFrame:
        """(id, <attr>) with missing values filled by ``default`` —
        ``G.nodes.data(attr, default=)``."""
        col = (
            F.coalesce(F.col(attr), F.lit(default))
            if default is not None
            else F.col(attr)
        )
        return self.vertices.select("id", col.alias(attr))

    def with_node_attrs(self, attrs: DataFrame) -> "SparkGraph":
        """New graph whose vertices carry the columns of ``attrs`` (joined
        on its first column as the node id; left join keeps every vertex) —
        ``nx.set_node_attributes`` (``networkx/classes/function.py:648``)."""
        a = attrs.withColumnRenamed(attrs.columns[0], "id").withColumn(
            "id", F.col("id").cast("long")
        )
        v = self.vertices.join(a, "id", "left")
        return SparkGraph(
            self.edges, v, directed=self.directed, coalesce_edges=False,
            num_partitions=self.num_partitions,
        )

    def with_edge_attrs(self, attrs: DataFrame) -> "SparkGraph":
        """New graph whose edges carry the columns of ``attrs`` (joined on
        its first two columns as (src, dst), canonicalized to this graph's
        orientation) — ``nx.set_edge_attributes``
        (``networkx/classes/function.py:763``)."""
        u, v = attrs.columns[0], attrs.columns[1]
        a = attrs.select(
            F.col(u).cast("long").alias("src"),
            F.col(v).cast("long").alias("dst"),
            *[c for c in attrs.columns[2:]],
        )
        if not self.directed:
            a = a.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
                *[c for c in a.columns[2:]],
            )
        e = self.edges.join(a, ["src", "dst"], "left")
        return SparkGraph(
            e, self._vertices, directed=self.directed, coalesce_edges=False,
            num_partitions=self.num_partitions,
        )

    def symmetric_edges(self) -> DataFrame:
        """Both-direction arc view (src, dst, weight, *attrs).

        For an undirected graph this is the union of the canonical rows and
        their swaps (self-loops not duplicated) — the same symmetrization
        ``to_scipy_sparse_array`` applies (``convert_matrix.py:697-711``).
        For a directed graph it is the arcs as stored.
        """
        if self.directed:
            return self.edges
        e = self.edges
        extras = self.edge_attr_names
        return e.unionAll(
            e.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight",
                *extras,
            )
        )

    def undirected_view(self) -> "SparkGraph":
        """This graph with directions dropped (``Graph.to_undirected``,
        ``networkx/classes/graph.py:1737``)."""
        if not self.directed:
            return self
        return SparkGraph(self.edges, self._vertices, directed=False)

    def reverse(self) -> "SparkGraph":
        """Arc-reversed graph (``networkx/algorithms/operators/unary.py:45``)."""
        if not self.directed:
            return self
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight",
            *self.edge_attr_names,
        )
        return SparkGraph(rev, self._vertices, directed=True, coalesce_edges=False)

    def to_directed(self) -> "SparkGraph":
        """Directed version: each undirected edge becomes two opposite arcs
        (``Graph.to_directed``, ``networkx/classes/graph.py:1678`` — "two
        directed edges pointing in opposite directions"). Self-loops become
        one arc. Directed input returns a copy (DataFrames are immutable, so
        the copy is free)."""
        if self.directed:
            return self.copy()
        return SparkGraph(
            self.symmetric_edges(),
            self._vertices,
            directed=True,
            coalesce_edges=False,
        )

    def to_undirected(self) -> "SparkGraph":
        """``Graph.to_undirected`` (``networkx/classes/graph.py:1737``):
        reciprocal arc pairs collapse to one edge; like the reference's
        dict overwrite (not the scipy sum), the canonicalized duplicate
        rows keep ONE weight (max of the pair, deterministic) rather than
        summing."""
        if not self.directed:
            return self.copy()
        canon = self.edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
            *self.edge_attr_names,
        ).groupBy("src", "dst").agg(
            F.max("weight").alias("weight"),
            *[F.max(c).alias(c) for c in self.edge_attr_names],
        )
        return SparkGraph(
            canon, self._vertices, directed=False, coalesce_edges=False
        )

    def copy(self) -> "SparkGraph":
        """Independent graph over the same data (``Graph.copy``,
        ``networkx/classes/graph.py:1590``). DataFrames are immutable, so
        this shares them — semantically a deep copy at zero cost."""
        g = SparkGraph(
            self.edges,
            self._vertices,
            directed=self.directed,
            coalesce_edges=False,
            num_partitions=self.num_partitions,
        )
        return g

    def update(
        self,
        edges: Optional[DataFrame] = None,
        nodes: Optional[DataFrame] = None,
    ) -> "SparkGraph":
        """New graph with ``edges``/``nodes`` added (``Graph.update``,
        ``networkx/classes/graph.py:1118``; ours returns instead of
        mutating). Duplicate (src, dst) keep the NEW weight, matching the
        reference's attr-dict overwrite."""
        e = self.edges
        if edges is not None:
            new_e = edges
            if "weight" not in new_e.columns:
                new_e = new_e.withColumn("weight", F.lit(1.0))
            new_e = new_e.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
                F.col("weight").cast("double").alias("weight"),
            )
            if not self.directed:
                new_e = new_e.select(
                    F.least("src", "dst").alias("src"),
                    F.greatest("src", "dst").alias("dst"),
                    "weight",
                )
            new_e = new_e.groupBy("src", "dst").agg(
                F.max("weight").alias("weight")
            )
            e = (
                e.join(new_e.select("src", "dst"), ["src", "dst"], "left_anti")
                .unionByName(new_e, allowMissingColumns=True)
            )
        v = self._vertices
        if nodes is not None or (edges is not None and v is not None):
            # explicit vertex set: old vertices ∪ new nodes ∪ new edge
            # endpoints (add_edges_from creates missing nodes, graph.py:986)
            v = self.vertices.select("id")
            if nodes is not None:
                v = v.unionByName(
                    nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
                )
            if edges is not None:
                v = v.unionByName(e.select(F.col("src").alias("id"))).unionByName(
                    e.select(F.col("dst").alias("id"))
                )
            v = v.distinct()
        return SparkGraph(e, v, directed=self.directed, coalesce_edges=False)

    def clear(self) -> "SparkGraph":
        """Empty graph of the same directedness (``Graph.clear``,
        ``networkx/classes/graph.py:1258``; returns new, does not mutate)."""
        return SparkGraph(
            self.spark.createDataFrame([], EDGE_SCHEMA),
            self.spark.createDataFrame([], VERTEX_SCHEMA),
            directed=self.directed,
            coalesce_edges=False,
        )

    # ------------------------------------------------------------------ #
    # scalar stats
    # ------------------------------------------------------------------ #

    def is_multigraph(self) -> bool:
        """False — parallel edges coalesce here; SparkMultiGraph keeps them
        (``Graph.is_multigraph``, ``networkx/classes/graph.py:1812``)."""
        return False

    def number_of_nodes(self) -> int:
        return self.vertices.count()

    def number_of_edges(self) -> int:
        return self.edges.count()

    def number_of_selfloops(self) -> int:
        """``networkx/classes/function.py:1361``."""
        return self.edges.filter(F.col("src") == F.col("dst")).count()

    def density(self) -> float:
        """``networkx/classes/function.py:106``: m/(n(n-1)) directed,
        2m/(n(n-1)) undirected."""
        n = self.number_of_nodes()
        m = self.number_of_edges()
        if n <= 1:
            return 0.0
        d = m / (n * (n - 1))
        return d if self.directed else 2 * d

    # ------------------------------------------------------------------ #
    # subgraph / mutation analogs (DataFrames are immutable: every op
    # returns a new SparkGraph; "copy is free")
    # ------------------------------------------------------------------ #

    def subgraph(self, node_ids: DataFrame) -> "SparkGraph":
        """Induced subgraph (``networkx/classes/graph.py:1794``) via two
        semi-joins; the id set is broadcast when small enough for Catalyst/AQE
        to decide."""
        ids = node_ids.select(F.col(node_ids.columns[0]).cast("long").alias("id"))
        e = (
            self.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        v = self.vertices.join(ids, "id", "left_semi")
        return SparkGraph(e, v, directed=self.directed, coalesce_edges=False)

    def remove_nodes(self, node_ids: DataFrame) -> "SparkGraph":
        """``Graph.remove_nodes_from`` (``graph.py:703``) — anti-join on both
        endpoints."""
        ids = node_ids.select(F.col(node_ids.columns[0]).cast("long").alias("id"))
        e = (
            self.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
        v = self.vertices.join(ids, "id", "left_anti")
        return SparkGraph(e, v, directed=self.directed, coalesce_edges=False)

    def _canon_pairs(self, pairs: DataFrame) -> DataFrame:
        """Normalize a 2-column pair DataFrame to this graph's storage
        orientation (canonical src<=dst for undirected)."""
        p = pairs.select(
            F.col(pairs.columns[0]).cast("long").alias("src"),
            F.col(pairs.columns[1]).cast("long").alias("dst"),
        )
        if not self.directed:
            p = p.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
        return p

    def add_edges(self, edges: DataFrame) -> "SparkGraph":
        """``Graph.add_edges_from`` (``networkx/classes/graph.py:986``):
        returns a new graph with the edges added; endpoints missing from
        the vertex set are created; an existing (src, dst) edge's weight is
        OVERWRITTEN by the new value (the reference updates the attr dict)."""
        e_new = edges
        if "weight" not in e_new.columns:
            e_new = e_new.select(
                F.col(e_new.columns[0]).alias("src"), F.col(e_new.columns[1]).alias("dst")
            ).withColumn("weight", F.lit(1.0))
        new_extras = [c for c in e_new.columns if c not in ("src", "dst", "weight")]
        e_new = e_new.select(
            F.col("src").cast("long"), F.col("dst").cast("long"),
            F.col("weight").cast("double"), *new_extras,
        )
        if not self.directed:
            e_new = e_new.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
                "weight", *new_extras,
            )
        kept = self.edges.join(
            e_new.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        v = None
        if self._vertices is not None:
            new_ids = (
                e_new.select(F.col("src").alias("id"))
                .unionAll(e_new.select(F.col("dst").alias("id")))
                .distinct()
            )
            v = self._vertices.select("id").unionByName(new_ids).distinct()
        return SparkGraph(
            kept.unionByName(e_new, allowMissingColumns=True),
            v, directed=self.directed, coalesce_edges=False,
        )

    def remove_edges(self, pairs: DataFrame) -> "SparkGraph":
        """``Graph.remove_edges_from`` (``graph.py:1118``): drop the listed
        edges (nodes stay, like the reference) — one anti-join."""
        p = self._canon_pairs(pairs)
        e = self.edges.join(p, ["src", "dst"], "left_anti")
        return SparkGraph(
            e, self.vertices, directed=self.directed, coalesce_edges=False
        )

    def edge_subgraph(self, pairs: DataFrame) -> "SparkGraph":
        """``Graph.edge_subgraph`` (``graph.py:1878``): the subgraph of the
        listed edges; its node set is the endpoints of those edges."""
        p = self._canon_pairs(pairs)
        e = self.edges.join(p, ["src", "dst"], "left_semi")
        v = (
            e.select(F.col("src").alias("id"))
            .unionAll(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        return SparkGraph(e, v, directed=self.directed, coalesce_edges=False)

    def subgraph_view(self, node_filter=None, edge_filter=None) -> "SparkGraph":
        """``networkx/classes/graphviews.py:31`` ``subgraph_view``: the graph
        restricted to nodes passing ``node_filter`` and edges passing
        ``edge_filter`` — both Spark Column predicates (node filter over the
        vertex table's columns; edge filter over src/dst/weight). DataFrames
        are lazy, so this IS a view: nothing materializes until an action."""
        v = self.vertices
        if node_filter is not None:
            v = v.filter(node_filter)
        e = self.edges
        if edge_filter is not None:
            e = e.filter(edge_filter)
        if node_filter is not None:
            ids = v.select("id")
            e = e.join(ids.withColumnRenamed("id", "src"), "src", "left_semi").join(
                ids.withColumnRenamed("id", "dst"), "dst", "left_semi"
            )
        return SparkGraph(e, v, directed=self.directed, coalesce_edges=False)

    def restricted_view(self, nodes: DataFrame, edge_pairs: DataFrame) -> "SparkGraph":
        """``networkx/classes/function.py:466`` ``restricted_view``: the
        graph with the listed nodes AND edges hidden."""
        without_nodes = self.remove_nodes(nodes)
        return without_nodes.remove_edges(edge_pairs)

    def selfloop_edges(self) -> DataFrame:
        return self.edges.filter(F.col("src") == F.col("dst"))

    def isolates(self) -> DataFrame:
        """Nodes with no incident edges (``networkx/algorithms/isolate.py``)."""
        endpoints = (
            self.edges.select(F.col("src").alias("id"))
            .unionAll(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return self.vertices.join(endpoints, "id", "left_anti")

    def persist(self) -> "SparkGraph":
        self.edges = self.edges.persist()
        return self


# ---------------------------------------------------------------------- #
# constructors (the `convert.to_networkx_graph` dispatcher analog,
# `networkx/convert.py:34`)
# ---------------------------------------------------------------------- #


def from_edgelist(
    spark: SparkSession,
    edges: Iterable[Sequence],
    *,
    directed: bool = False,
    num_partitions: Optional[int] = None,
) -> SparkGraph:
    """Build from a Python iterable of (u, v) or (u, v, weight) tuples with
    integer node ids (``networkx/convert.py:479`` ``from_edgelist``)."""
    rows = []
    for t in edges:
        if len(t) == 2:
            rows.append((int(t[0]), int(t[1]), 1.0))
        else:
            rows.append((int(t[0]), int(t[1]), float(t[2])))
    df = local_frame(spark, rows, EDGE_SCHEMA)
    return SparkGraph(df, directed=directed, num_partitions=num_partitions)


def from_nx(spark: SparkSession, G, *, num_partitions: Optional[int] = None):
    """Parity-test bridge from a NetworkX graph with *integer* node labels
    (``networkx/convert_matrix.py:312`` ``from_pandas_edgelist`` analog).

    Returns (SparkGraph, vertices DataFrame). Isolated nodes are preserved by
    passing the explicit vertex set.
    """
    edge_rows = [
        (int(u), int(v), float(d.get("weight", 1.0))) for u, v, d in G.edges(data=True)
    ]
    vert_rows = [(int(n),) for n in G.nodes()]
    edf = local_frame(spark, edge_rows, EDGE_SCHEMA)
    vdf = local_frame(spark, vert_rows, VERTEX_SCHEMA)
    return SparkGraph(
        edf,
        vdf,
        directed=G.is_directed(),
        num_partitions=num_partitions,
    )


def convert_node_labels_to_integers(g: SparkGraph) -> "tuple[SparkGraph, DataFrame]":
    """Compact, contiguous 0..n-1 ids in ascending order of the old ids
    (``networkx/relabel.py:227`` with the default ``ordering="default"``
    replaced by the deterministic sorted order — the only order that is
    reproducible under distribution).

    Returns (relabeled graph, mapping DataFrame (old_id, new_id)).

    Scale: a global ``row_number`` window would funnel every row through one
    task; instead the ids are range-partitioned by ``sort`` and indexed with
    ``zipWithIndex`` (one small count-per-partition job + a fully parallel
    map), so no single-partition exchange appears anywhere in the plan.
    """
    sorted_ids = g.vertices.select("id").sort("id")
    mapping = sorted_ids.rdd.map(lambda r: r[0]).zipWithIndex().toDF(
        ["id", "new_id"]
    )
    mapping = mapping.select(
        F.col("id").cast("long"), F.col("new_id").cast("long")
    )
    relabeled = relabel_nodes(g, mapping, check_complete=False, merge=False)
    return relabeled, mapping.select(F.col("id").alias("old_id"), "new_id")


def relabel_nodes(
    g: SparkGraph,
    mapping,
    *,
    check_complete: bool = True,
    merge: bool = True,
) -> SparkGraph:
    """Relabel nodes by an arbitrary mapping (``networkx/relabel.py:9``
    with ``copy=True`` — DataFrames are immutable so copy is the only mode).

    ``mapping`` is a ``{old_id: new_id}`` dict or a two-column DataFrame
    ``(id, new_id)``. As in the reference, ids absent from the mapping keep
    their label, and distinct old nodes mapping to one new label are merged
    (their edges coalesce; parallel edges sum weights, the multigraph
    collapse of ``convert_matrix.py:649-656``).

    ``check_complete=False`` skips the keep-own-label outer join when the
    caller guarantees the mapping covers every vertex (saves one join);
    ``merge=False`` skips the parallel-edge coalesce when the mapping is
    known injective (saves a shuffle).
    """
    if isinstance(mapping, dict):
        rows = [(int(k), int(v)) for k, v in mapping.items()]
        mdf = g.spark.createDataFrame(rows, "id long, new_id long")
    else:
        mdf = mapping.select(
            F.col(mapping.columns[0]).cast("long").alias("id"),
            F.col(mapping.columns[1]).cast("long").alias("new_id"),
        )
    if check_complete:
        # partial mappings keep unmapped ids (relabel.py:133: m.get(n, n))
        full = g.vertices.select("id").join(mdf, "id", "left").select(
            "id", F.coalesce("new_id", F.col("id")).alias("new_id")
        )
    else:
        full = mdf
    e = (
        g.edges.join(
            full.select(F.col("id").alias("src"), F.col("new_id").alias("ns")),
            "src",
        )
        .join(
            full.select(F.col("id").alias("dst"), F.col("new_id").alias("nd")),
            "dst",
        )
        .select(
            F.col("ns").alias("src"), F.col("nd").alias("dst"), "weight",
            *[c for c in g.edges.columns if c not in ("src", "dst", "weight")],
        )
    )
    v = full.select(F.col("new_id").alias("id"))
    if merge:
        v = v.distinct()
    # merged labels can create parallel edges: coalesce like the reference's
    # multigraph collapse
    return SparkGraph(e, v, directed=g.directed, coalesce_edges=merge)


def resolve_weight_column(edges: DataFrame, weight):
    """The Spark twin of the reference's ``weight=callable (u, v, d) ->
    float`` adapter (``shortest_paths/weighted.py:41-79``): derive the
    per-edge weight from the edge ROW rather than a fixed column.

    ``weight`` may be:

    - ``None`` or ``True`` — the blessed ``weight`` column;
    - a column name present on the edge table;
    - any other string — parsed as a SQL expression over the edge row
      (e.g. ``"weight * 2 + 1"`` or ``"greatest(weight, capacity)"``);
    - a pyspark ``Column`` — used as-is.

    The expression evaluates per edge inside the JVM (whole-stage
    codegen) — the vectorized analog of the reference calling a Python
    function once per edge, with none of the per-row interpreter cost.
    Returns a double Column.
    """
    from pyspark.sql import Column

    if weight is None or weight is True:
        return F.col("weight").cast("double")
    if isinstance(weight, Column):
        return weight.cast("double")
    if isinstance(weight, str):
        if weight in edges.columns:
            return F.col(weight).cast("double")
        return F.expr(weight).cast("double")
    raise TypeError(
        f"weight must be None, a column name, a SQL expression string, or "
        f"a Column; got {type(weight).__name__}"
    )
