"""Shared exception types mirroring the reference's error surface.

The hierarchy is a 1:1 mirror of ``networkx/exception.py`` so that user
code written against the reference (``except nx.NetworkXException``,
``except nx.NetworkXNoPath`` ...) ports by changing only the import:

- :class:`NetworkXException` — base (``networkx/exception.py:13``).
- :class:`NetworkXError` — semantic errors (``:19``), e.g. 2-coloring a
  non-bipartite graph.
- :class:`NetworkXPointlessConcept` — ill-defined on the null graph
  (``:25``).
- :class:`NetworkXAlgorithmError` — unexpected algorithm termination
  (``:43``).
- :class:`NetworkXUnfeasible` — no feasible solution exists (``:49``).
- :class:`NetworkXNoPath` — no path between requested nodes (``:57``).
- :class:`NetworkXNoCycle` — no cycle where one was requested (``:65``).
- :class:`HasACycle` — a cycle was found where none may exist (``:73``).
- :class:`NetworkXUnbounded` — optimization problem is unbounded
  (``:79``).
- :class:`NetworkXNotImplemented` — algorithm not implemented for the
  given graph type (``:86``); :class:`NotImplementedForDirected` is the
  engine's narrower subclass raised by undirected-only algorithms
  (triangles/clustering, label propagation, k-truss), standing in for
  ``@not_implemented_for("directed")``
  (``networkx/utils/decorators.py:60``).
- :class:`NodeNotFound` — a requested node is not in the graph (``:92``).
- :class:`AmbiguousSolution` — intermediate result is internally
  inconsistent / not unique, e.g. bipartite ``sets`` of a disconnected
  graph (``:98``).
- :class:`ExceededMaxIterations` — loop exceeded its iteration bound
  (``:108``); :class:`PowerIterationFailedConvergence` (``:117``) is its
  subclass raised by the iterative fixpoint algorithms (pagerank, hits,
  eigenvector/katz centrality, simrank).
- :class:`NotATree` — tree decoding of a non-tree
  (``networkx/algorithms/tree/coding.py:18``; lives here so the whole
  error surface is one import).
- :class:`DriverLimitExceeded` — the engine's own: a driver kernel's input
  is larger than the rows it may collect onto the driver (no reference
  counterpart; it is both a :class:`NetworkXError` and a ``ValueError``).
"""

from __future__ import annotations

__all__ = [
    "NetworkXException",
    "NetworkXError",
    "NetworkXPointlessConcept",
    "NetworkXAlgorithmError",
    "NetworkXUnfeasible",
    "NetworkXNoPath",
    "NetworkXNoCycle",
    "HasACycle",
    "NetworkXUnbounded",
    "NetworkXNotImplemented",
    "NotImplementedForDirected",
    "NodeNotFound",
    "AmbiguousSolution",
    "ExceededMaxIterations",
    "PowerIterationFailedConvergence",
    "NotATree",
    "DriverLimitExceeded",
]


class NetworkXException(Exception):
    """Base class for the engine's graph-semantics exceptions."""


class NetworkXError(NetworkXException):
    """Semantic error, e.g. 2-coloring a non-bipartite graph."""


class NetworkXPointlessConcept(NetworkXException):
    """Raised when a concept is ill-defined on the (near-)null graph."""


class NetworkXAlgorithmError(NetworkXException):
    """Unexpected termination of an algorithm."""


class NetworkXUnfeasible(NetworkXAlgorithmError):
    """The problem instance has no feasible solution."""


class NetworkXNoPath(NetworkXUnfeasible):
    """No path exists between the requested nodes."""


class NetworkXNoCycle(NetworkXUnfeasible):
    """No cycle exists where one was requested."""


class HasACycle(NetworkXException):
    """A cycle was found where none was expected (e.g. DAG input)."""


class NetworkXUnbounded(NetworkXAlgorithmError):
    """The optimization problem is unbounded (e.g. negative cost cycle)."""


class NetworkXNotImplemented(NetworkXException):
    """The algorithm is not implemented for this graph type."""


class NotImplementedForDirected(NetworkXNotImplemented):
    """Raised by undirected-only algorithms given a directed graph."""


class NodeNotFound(NetworkXException):
    """A requested node is not present in the graph."""


class AmbiguousSolution(NetworkXUnfeasible):
    """The intermediate result is not unique (e.g. bipartite sets of a
    disconnected graph)."""


class ExceededMaxIterations(NetworkXException):
    """An iterative loop exceeded its iteration bound."""


class PowerIterationFailedConvergence(ExceededMaxIterations):
    """Power iteration failed to converge within ``max_iter`` iterations."""

    def __init__(self, num_iterations: int, *args, **kwargs):
        self.num_iterations = num_iterations
        super().__init__(
            f"power iteration failed to converge within {num_iterations} iterations"
        )


class NotATree(NetworkXException):
    """The graph handed to a tree-coding routine is not a tree."""


class DriverLimitExceeded(NetworkXError, ValueError):
    """A driver kernel's input has more rows than it may collect onto the
    driver (:func:`linkgraph.graph.driver_rows`). Both a
    :class:`NetworkXError` and a ``ValueError``, so ``except`` clauses
    written for either catch it."""
