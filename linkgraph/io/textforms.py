"""parse_* / generate_* text forms of every line-based format
(``networkx/readwrite/{edgelist, adjlist, gml, graphml, pajek, gexf}.py``).

The reference pairs each ``read_X(path)`` with ``parse_X(lines)`` and each
``write_X(path)`` with ``generate_X(G)`` (a line generator). The columnar
engine's scale path is the path-based pair (distributed text read/write);
these twins exist for API parity and driver-side interop, implemented as
temp-file round-trips through the SAME distributed readers/writers — one
code path, no drift between the two forms.
"""

from __future__ import annotations

import atexit
import os
import tempfile
from typing import Iterable, List

from pyspark.sql import SparkSession

from linkgraph.graph import SparkGraph

__all__ = [
    "parse_edgelist",
    "generate_edgelist",
    "write_weighted_edgelist",
    "parse_adjlist",
    "generate_adjlist",
    "parse_gml",
    "generate_gml",
    "parse_graphml",
    "generate_graphml",
    "write_graphml_xml",
    "write_graphml_lxml",
    "parse_pajek",
    "generate_pajek",
    "generate_gexf",
    "read_multiline_adjlist",
    "write_multiline_adjlist",
    "parse_multiline_adjlist",
    "generate_multiline_adjlist",
]


def _lines_to_graph(spark, lines, reader, **kw) -> SparkGraph:
    if isinstance(lines, str):
        lines = lines.splitlines()
    # the distributed readers are lazy: keep the dir until interpreter exit
    tmp = tempfile.TemporaryDirectory(prefix="lg_parse_")
    atexit.register(tmp.cleanup)
    p = os.path.join(tmp.name, "input.txt")
    with open(p, "w") as f:
        f.write("\n".join(str(x).rstrip("\n") for x in lines))
    return reader(spark, p, **kw)


def _graph_to_lines(g: SparkGraph, writer, **kw) -> List[str]:
    with tempfile.TemporaryDirectory(prefix="lg_generate_") as tmp:
        p = os.path.join(tmp, "out")
        writer(g, p, **kw)
        lines: List[str] = []
        if os.path.isdir(p):
            for part in sorted(os.listdir(p)):
                if part.startswith("part-") or part.endswith(".txt"):
                    with open(os.path.join(p, part)) as f:
                        lines.extend(f.read().splitlines())
        else:
            with open(p) as f:
                lines = f.read().splitlines()
        return lines


# ---- edgelist -------------------------------------------------------- #

def parse_edgelist(spark: SparkSession, lines, **kw) -> SparkGraph:
    from linkgraph.io.edgelist import read_edgelist

    return _lines_to_graph(spark, lines, read_edgelist, **kw)


def generate_edgelist(g: SparkGraph, *, data: bool = True) -> List[str]:
    from linkgraph.io.edgelist import write_edgelist

    return _graph_to_lines(g, write_edgelist, data=data)


def write_weighted_edgelist(g: SparkGraph, path: str) -> None:
    """``edgelist.py`` ``write_weighted_edgelist`` — u v w lines."""
    from linkgraph.io.edgelist import write_edgelist

    write_edgelist(g, path, data=True)


# ---- adjlist --------------------------------------------------------- #

def parse_adjlist(spark: SparkSession, lines, **kw) -> SparkGraph:
    from linkgraph.io.adjlist import read_adjlist

    return _lines_to_graph(spark, lines, read_adjlist, **kw)


def generate_adjlist(g: SparkGraph) -> List[str]:
    from linkgraph.io.adjlist import write_adjlist

    return _graph_to_lines(g, write_adjlist)


# ---- gml / graphml / pajek / gexf ------------------------------------ #

def parse_gml(spark: SparkSession, lines, **kw) -> SparkGraph:
    from linkgraph.io.gml import read_gml

    return _lines_to_graph(spark, lines, read_gml, **kw)


def generate_gml(g: SparkGraph) -> List[str]:
    from linkgraph.io.gml import write_gml

    return _graph_to_lines(g, write_gml)


def parse_graphml(spark: SparkSession, lines, **kw) -> SparkGraph:
    from linkgraph.io.graphml import read_graphml

    return _lines_to_graph(spark, lines, read_graphml, **kw)


def generate_graphml(g: SparkGraph) -> List[str]:
    from linkgraph.io.graphml import write_graphml

    return _graph_to_lines(g, write_graphml)


def write_graphml_xml(g: SparkGraph, path: str, **kw) -> None:
    """``graphml.py`` alias — the engine has exactly one GraphML writer."""
    from linkgraph.io.graphml import write_graphml

    write_graphml(g, path, **kw)


write_graphml_lxml = write_graphml_xml


def parse_pajek(spark: SparkSession, lines, **kw) -> SparkGraph:
    from linkgraph.io.pajek import read_pajek

    return _lines_to_graph(spark, lines, read_pajek, **kw)


def generate_pajek(g: SparkGraph) -> List[str]:
    from linkgraph.io.pajek import write_pajek

    return _graph_to_lines(g, write_pajek)


def generate_gexf(g: SparkGraph) -> List[str]:
    from linkgraph.io.gexf import write_gexf

    return _graph_to_lines(g, write_gexf)


# ---- multiline adjlist (new format) ----------------------------------- #

def write_multiline_adjlist(g: SparkGraph, path: str) -> None:
    """``adjlist` multiline form (``multiline_adjlist.py:56``): per source,
    one ``u d`` header line then d neighbor lines. Built as a distributed
    text write (header + exploded neighbor lines, ordered per source)."""
    from pyspark.sql import functions as F

    nbrs = g.edges.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("ns")
    )
    lines = nbrs.select(
        F.concat_ws(
            "\n",
            F.concat_ws(" ", F.col("src").cast("string"),
                        F.size("ns").cast("string")),
            F.concat_ws("\n", F.transform("ns", lambda x: x.cast("string"))),
        ).alias("value"),
        F.col("src").alias("_o"),
    )
    isolated = (
        g.vertices.select("id")
        .join(nbrs.select(F.col("src").alias("id")), "id", "left_anti")
        .select(
            F.concat_ws(" ", F.col("id").cast("string"), F.lit("0")).alias("value"),
            F.col("id").alias("_o"),
        )
    )
    (
        lines.unionByName(isolated)
        .orderBy("_o")
        .select("value")
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def read_multiline_adjlist(
    spark: SparkSession, path: str, *, directed: bool = False, comments: str = "#"
) -> SparkGraph:
    """Reader for the multiline form. The header/neighbor alternation is a
    sequential grammar, so lines are parsed driver-side (the format is an
    interop surface; parquet/edgelist are the scale paths)."""
    text = spark.read.text(path).collect()
    rows = [r["value"] for r in text]
    edges = []
    nodes = []
    i = 0
    while i < len(rows):
        line = rows[i].split(comments)[0].strip()
        i += 1
        if not line:
            continue
        parts = line.split()
        u, d = int(parts[0]), int(parts[1])
        nodes.append(u)
        for _ in range(d):
            v = int(rows[i].split(comments)[0].strip().split()[0])
            nodes.append(v)
            edges.append((u, v, 1.0))
            i += 1
    e = spark.createDataFrame(
        edges or [], "src long, dst long, weight double"
    )
    v = spark.createDataFrame([(n,) for n in sorted(set(nodes))], "id long")
    return SparkGraph(e, v, directed=directed, coalesce_edges=True)


def parse_multiline_adjlist(spark: SparkSession, lines, **kw) -> SparkGraph:
    return _lines_to_graph(spark, lines, read_multiline_adjlist, **kw)


def generate_multiline_adjlist(g: SparkGraph) -> List[str]:
    return _graph_to_lines(g, write_multiline_adjlist)
