"""The one driver guard: sequential kernels collect through
``linkgraph.graph.driver_rows``, whose limit is a private module constant
and not a keyword of any public call."""

import ast
import pathlib

import networkx as nx
import pytest

from linkgraph.exceptions import DriverLimitExceeded, NetworkXError
from linkgraph.graph import driver_rows, from_nx

_GUARD_KEYWORDS = ("max_driver_edges", "max_driver_nodes")


def test_no_public_call_takes_a_guard_keyword():
    """No public function or class under ``linkgraph/`` has a parameter
    named ``max_driver_edges`` or ``max_driver_nodes``: each driver kernel
    keeps its limit in a private module constant."""
    root = pathlib.Path(__file__).resolve().parent.parent / "linkgraph"
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                fns = [
                    n for n in node.body
                    if isinstance(n, ast.FunctionDef) and n.name == "__init__"
                ]
                name = node.name
            elif isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                fns, name = [node], node.name
            else:
                continue
            for fn in fns:
                a = fn.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg in _GUARD_KEYWORDS:
                        found.append(f"{path.relative_to(root.parent)}:{name}")
    assert not found, found


def test_driver_rows_collects_within_the_limit(spark):
    g = from_nx(spark, nx.path_graph(4))
    rows = driver_rows(g.edges.select("src", "dst"), 3, "probe")
    assert sorted((r["src"], r["dst"]) for r in rows) == [(0, 1), (1, 2), (2, 3)]


def test_driver_rows_refuses_past_the_limit(spark):
    """One error type, both a ``ValueError`` and a ``NetworkXError``,
    naming the kernel, the count, the limit and the hint."""
    g = from_nx(spark, nx.path_graph(4))
    with pytest.raises(DriverLimitExceeded) as err:
        driver_rows(g.edges, 2, "probe kernel", "Use the distributed call.")
    assert isinstance(err.value, ValueError)
    assert isinstance(err.value, NetworkXError)
    msg = str(err.value)
    assert "probe kernel" in msg and "3 rows" in msg and "limit of 2" in msg
    assert msg.endswith("Use the distributed call.")
