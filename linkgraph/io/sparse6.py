"""sparse6 interchange format (McKay's ASCII encoding for sparse
undirected multigraphs).

Reference: ``networkx/readwrite/sparse6.py`` (``from_sparse6_bytes:23``,
``to_sparse6_bytes``, ``read_sparse6``, ``write_sparse6``) and the
published spec (B. D. McKay, "Description of graph6 and sparse6
encodings"): ``:`` prefix, N(n) as in graph6, then a bit stream of
(1+k)-bit groups ``b x`` with k = bits(n−1); decoding tracks a current
vertex v — ``b=1`` increments v, ``x > v`` jumps v to x, otherwise the
group emits edge {x, v}. Loops and parallel edges are representable
(hence multigraph semantics in the reference; the engine's SparkGraph
keeps them as rows with ``coalesce_edges=False``).

Driver-gated like graph6 — the format is a small-graph interchange, the
resulting graph is a normal distributed :class:`SparkGraph`. Byte parity
with the reference encoder pinned in tests, including the spec's
power-of-two padding corner case.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from linkgraph.exceptions import NetworkXError
from linkgraph.graph import SparkGraph, driver_rows
from linkgraph.io.graph6 import _decode_n, _encode_n

__all__ = [
    "from_sparse6_bytes",
    "to_sparse6_bytes",
    "read_sparse6",
    "write_sparse6",
]

_HEADER = b">>sparse6<<"


# Edges to_sparse6_bytes walks on the driver.
_DRIVER_EDGES = 5_000_000


def from_sparse6_bytes(spark: SparkSession, data) -> SparkGraph:
    """Decode one sparse6 line into a :class:`SparkGraph` on 0..n-1."""
    if isinstance(data, str):
        data = data.encode("ascii")
    data = data.strip()
    if data.startswith(_HEADER):
        data = data[len(_HEADER):]
    if not data.startswith(b":"):
        raise NetworkXError("Expected leading colon in sparse6")
    vals = [b - 63 for b in data[1:]]
    if any(v < 0 or v > 63 for v in vals):
        raise NetworkXError("each input character must be in range(63, 127)")
    n, rest = _decode_n(vals)
    k = max((n - 1).bit_length(), 1)
    bits = []
    for v6 in rest:
        for s in (5, 4, 3, 2, 1, 0):
            bits.append((v6 >> s) & 1)

    edges = []
    v = 0
    i = 0
    while i + k < len(bits) + 1 and i + 1 + k <= len(bits):
        b = bits[i]
        x = 0
        for j in range(k):
            x = (x << 1) | bits[i + 1 + j]
        i += 1 + k
        if b:
            v += 1
        if v >= n or x >= n:
            break
        if x > v:
            v = x
        else:
            edges.append((x, v))
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    return SparkGraph(
        e,
        vertices=spark.range(n).select(F.col("id").cast("long")),
        directed=False,
        coalesce_edges=False,
    )


def to_sparse6_bytes(
    g: SparkGraph,
    *,
    header: bool = True,
) -> bytes:
    """Encode per the spec's canonical edge walk: edges sorted by
    (max endpoint, min endpoint); ``b=1`` advances the current vertex by
    one, a jump writes the new vertex as its own group. Includes the
    spec's padding rule (pad with 1-bits; when k < 6, n = 2^k, the pad
    would swallow a full group, and the last group referenced n-2, a
    single 0-bit is inserted first so the padding cannot decode as a
    phantom edge)."""
    if g.directed:
        raise NetworkXError("sparse6: not defined for directed graphs")
    ids = sorted(r["id"] for r in g.vertices.select("id").collect())
    n = len(ids)
    rows = driver_rows(
        g.edges.select("src", "dst"), _DRIVER_EDGES,
        "sparse6 encode is a sequential walk",
    )
    idx = {u: i for i, u in enumerate(ids)}
    pairs = sorted(
        (max(idx[r["src"]], idx[r["dst"]]), min(idx[r["src"]], idx[r["dst"]]))
        for r in rows
    )
    k = max((n - 1).bit_length(), 1)

    bits = []

    def put(x, width):
        for s in range(width - 1, -1, -1):
            bits.append((x >> s) & 1)

    v = 0
    for w, u in pairs:
        if w == v:
            bits.append(0)
            put(u, k)
        elif w == v + 1:
            v += 1
            bits.append(1)
            put(u, k)
        else:
            v = w
            bits.append(1)
            put(w, k)
            bits.append(0)
            put(u, k)
    if k < 6 and n == (1 << k) and ((-len(bits)) % 6) >= k and v < n - 1:
        bits.append(0)
    while len(bits) % 6:
        bits.append(1)
    payload = bytes(
        sum(bit << (5 - s) for s, bit in enumerate(bits[j : j + 6])) + 63
        for j in range(0, len(bits), 6)
    )
    out = b":" + _encode_n(n) + payload
    return (_HEADER if header else b"") + out + b"\n"


def read_sparse6(spark: SparkSession, path: str):
    """One graph per non-empty line; single graph returned bare."""
    graphs = []
    with open(path, "rb") as fh:
        for line in fh:
            line = line.strip()
            if line:
                graphs.append(from_sparse6_bytes(spark, line))
    if not graphs:
        raise NetworkXError(f"no sparse6 data in {path}")
    return graphs[0] if len(graphs) == 1 else graphs


def write_sparse6(g: SparkGraph, path: str, *, header: bool = True) -> None:
    with open(path, "wb") as fh:
        fh.write(to_sparse6_bytes(g, header=header))
