"""graph6 interchange format (McKay's ASCII encoding for small simple
undirected graphs).

Reference: ``networkx/readwrite/graph6.py`` (``from_graph6_bytes:23``,
``to_graph6_bytes:107``, ``read_graph6:160``, ``write_graph6:219``) and the
published format spec (B. D. McKay, "Description of graph6 and sparse6
encodings").

graph6 is an O(n²)-bit driver-side interchange format by construction —
the payload IS the dense upper triangle — so encode/decode run on the
driver under a size guard (the reference is likewise in-memory); the
resulting graph is a normal distributed :class:`SparkGraph`. Byte-for-byte
compatible with the reference in both directions (pinned in tests).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, check_driver_limit

__all__ = [
    "from_graph6_bytes",
    "to_graph6_bytes",
    "read_graph6",
    "write_graph6",
]

_HEADER = b">>graph6<<"


# Nodes of the dense upper triangle to_graph6_bytes encodes.
_DRIVER_NODES = 100_000


def _decode_n(data: list[int]) -> tuple[int, list[int]]:
    """Decode N(n) — 1, 4, or 8 bytes of (value + 63)."""
    if data[0] <= 62:
        return data[0], data[1:]
    if data[1] <= 62:
        return (data[1] << 12) + (data[2] << 6) + data[3], data[4:]
    return (
        (data[2] << 30)
        + (data[3] << 24)
        + (data[4] << 18)
        + (data[5] << 12)
        + (data[6] << 6)
        + data[7],
        data[8:],
    )


def _encode_n(n: int) -> bytes:
    if n < 0:
        raise NetworkXError("graph6: n must be >= 0")
    if n <= 62:
        return bytes([n + 63])
    if n <= 258047:
        return bytes([126, (n >> 12) + 63, ((n >> 6) & 63) + 63, (n & 63) + 63])
    if n <= 68719476735:
        return bytes(
            [126, 126]
            + [((n >> s) & 63) + 63 for s in (30, 24, 18, 12, 6, 0)]
        )
    raise NetworkXError("graph6: n too large (max 68719476735)")


def from_graph6_bytes(spark: SparkSession, data) -> SparkGraph:
    """Decode one graph6 line (``graph6.py:23``) into a
    :class:`SparkGraph` on nodes 0..n-1."""
    if isinstance(data, str):
        data = data.encode("ascii")
    data = data.strip()
    if data.startswith(_HEADER):
        data = data[len(_HEADER):]
    vals = [b - 63 for b in data]
    if any(v < 0 or v > 63 for v in vals if v != 63):  # 126-63=63 allowed
        raise NetworkXError("each input character must be in range(63, 127)")
    n, bits6 = _decode_n(vals)
    need = n * (n - 1) // 2
    bits = []
    for v in bits6:
        for s in (5, 4, 3, 2, 1, 0):
            bits.append((v >> s) & 1)
    if len(bits) < need:
        raise NetworkXError("graph6: truncated data")
    edges = []
    k = 0
    for j in range(1, n):
        for i in range(j):
            if bits[k]:
                edges.append((i, j))
            k += 1
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    return SparkGraph(
        e,
        vertices=spark.range(n).select(F.col("id").cast("long")),
        directed=False,
        coalesce_edges=False,
    )


def to_graph6_bytes(
    g: SparkGraph,
    *,
    header: bool = True,
) -> bytes:
    """Encode an undirected simple graph (``graph6.py:107``): nodes are
    relabeled to 0..n-1 in ascending id order, like the reference's
    ``sorted(G)`` convention. The payload is the dense upper triangle —
    O(n²) bits by format definition, hence the size guard."""
    if g.directed:
        raise NetworkXError("graph6: not defined for directed graphs")
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    n = len(ids)
    check_driver_limit(n, _DRIVER_NODES, "graph6 is a dense O(n^2)-bit format")
    idx = {v: i for i, v in enumerate(ids)}
    present = set()
    for r in g.edges.select("src", "dst").collect():
        a, b = idx[r["src"]], idx[r["dst"]]
        if a != b:
            present.add((min(a, b), max(a, b)))
    bits = []
    for j in range(1, n):
        for i in range(j):
            bits.append(1 if (i, j) in present else 0)
    while len(bits) % 6:
        bits.append(0)
    payload = bytes(
        sum(bit << (5 - s) for s, bit in enumerate(bits[k : k + 6])) + 63
        for k in range(0, len(bits), 6)
    )
    out = _encode_n(n) + payload
    return (_HEADER if header else b"") + out + b"\n"


def read_graph6(spark: SparkSession, path: str) -> "SparkGraph | list[SparkGraph]":
    """``graph6.py:160`` — one graph per non-empty line; a single graph is
    returned bare, several as a list, like the reference."""
    graphs = []
    with open(path, "rb") as fh:
        for line in fh:
            line = line.strip()
            if line:
                graphs.append(from_graph6_bytes(spark, line))
    if not graphs:
        raise NetworkXError(f"no graph6 data in {path}")
    return graphs[0] if len(graphs) == 1 else graphs


def write_graph6(g: SparkGraph, path: str, *, header: bool = True) -> None:
    """``graph6.py:219``."""
    with open(path, "wb") as fh:
        fh.write(to_graph6_bytes(g, header=header))
