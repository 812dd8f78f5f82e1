"""Bounded simple_cycles parity vs the reference (`cycles.py:106`)."""

from __future__ import annotations

import networkx as nx
import pytest

from linkgraph.graph import from_nx
from linkgraph.algos.cycles import simple_cycles


def _canon(cycle):
    """Min-first rotation; for the direction, prefer the smaller second
    element — one unique tuple per cycle regardless of traversal."""
    cycle = list(cycle)
    if len(cycle) == 1:
        return (cycle[0],)
    i = cycle.index(min(cycle))
    fwd = tuple(cycle[i:] + cycle[:i])
    rev = tuple([fwd[0]] + list(reversed(fwd[1:])))
    return min(fwd, rev)


def _nx_cycles(G, k):
    return {_canon(c) for c in nx.simple_cycles(G, length_bound=k)}


def _got(df):
    return {_canon(r["cycle"]) for r in df.collect()}


def test_directed_cycles_match_nx(spark):
    G = nx.gnp_random_graph(10, 0.25, seed=8, directed=True)
    g = from_nx(spark, G)
    for k in (2, 3, 4, 5):
        assert _got(simple_cycles(g, k)) == _nx_cycles(G, k), k


def test_undirected_cycles_match_nx(spark):
    G = nx.gnp_random_graph(10, 0.3, seed=5)
    g = from_nx(spark, G)
    for k in (3, 4, 5):
        assert _got(simple_cycles(g, k)) == _nx_cycles(G, k), k


def test_self_loop_cycle(spark):
    G = nx.DiGraph([(1, 1), (1, 2), (2, 1)])
    g = from_nx(spark, G)
    got = _got(simple_cycles(g, 3))
    assert (1,) in got and (1, 2) in got


def test_ring_has_single_cycle(spark):
    G = nx.cycle_graph(6)
    g = from_nx(spark, G)
    got = _got(simple_cycles(g, 6))
    assert got == {_canon(list(range(6)))}
    # bound below the girth finds nothing
    assert _got(simple_cycles(g, 5)) == set()


def test_length_bound_required(spark):
    G = nx.cycle_graph(4)
    g = from_nx(spark, G)
    with pytest.raises(ValueError):
        simple_cycles(g, 0)


def test_eulerian_circuit_parity(spark):
    """Circuit validity invariants + edge-multiset equality vs reference
    fixtures (euler.py:90). Any valid Euler circuit is correct output; the
    engine's is deterministic (ascending-neighbor Hierholzer)."""
    import networkx as nx
    from linkgraph.graph import from_nx
    from linkgraph.algos.cycles import eulerian_circuit, eulerian_path

    for G in [nx.cycle_graph(7), nx.complete_graph(5),
              nx.DiGraph([(0, 1), (1, 2), (2, 0), (0, 3), (3, 0)])]:
        g = from_nx(spark, G)
        rows = sorted(
            eulerian_circuit(g).collect(), key=lambda r: r["order"]
        )
        assert len(rows) == (
            G.number_of_edges() if G.is_directed() else G.number_of_edges()
        )
        # consecutive edges chain and the walk closes
        for a, b in zip(rows, rows[1:]):
            assert a["dst"] == b["src"]
        assert rows[0]["src"] == rows[-1]["dst"] == min(G.nodes())
        # every edge used exactly once
        if G.is_directed():
            assert sorted((r["src"], r["dst"]) for r in rows) == sorted(G.edges())
        else:
            assert sorted(
                (min(r["src"], r["dst"]), max(r["src"], r["dst"])) for r in rows
            ) == sorted((min(u, v), max(u, v)) for u, v in G.edges())


def test_eulerian_path_and_guards(spark, monkeypatch):
    import networkx as nx
    import pytest
    from linkgraph.graph import from_nx
    from linkgraph.algos.cycles import eulerian_circuit, eulerian_path

    # path graph: Euler path exists (two odd nodes), circuit does not
    G = nx.path_graph(5)
    g = from_nx(spark, G)
    with pytest.raises(ValueError, match="not Eulerian"):
        eulerian_circuit(g)
    rows = sorted(eulerian_path(g).collect(), key=lambda r: r["order"])
    assert [(r["src"], r["dst"]) for r in rows] == [(0, 1), (1, 2), (2, 3), (3, 4)]
    with pytest.raises(ValueError, match="no Eulerian paths"):
        eulerian_path(from_nx(spark, nx.star_graph(3)))
    from linkgraph.algos import cycles

    monkeypatch.setattr(cycles, "_WALK_ARCS", 2)
    with pytest.raises(ValueError, match="driver limit"):
        eulerian_circuit(from_nx(spark, nx.cycle_graph(9)))


def _canon_cycles(cycles, directed):
    out = []
    for c in cycles:
        c = list(c)
        if len(c) == 1:
            out.append((c[0],))
            continue
        i = c.index(min(c))
        rot = c[i:] + c[:i]
        if not directed and len(rot) >= 3 and rot[1] > rot[-1]:
            rot = [rot[0]] + rot[1:][::-1]
        out.append(tuple(rot))
    return sorted(out)


def test_unbounded_simple_cycles_parity(spark):
    """Unbounded enumeration (Johnson / rooted DFS) vs the reference."""
    import networkx as nx
    from linkgraph.graph import from_nx
    from linkgraph.algos.cycles import simple_cycles

    for G in [
        nx.gnp_random_graph(10, 0.25, seed=2, directed=True),
        nx.gnp_random_graph(12, 0.3, seed=8, directed=True),
        nx.gnp_random_graph(9, 0.3, seed=4),
        nx.house_graph(),
        nx.DiGraph([(0, 1), (1, 0), (1, 2), (2, 1), (0, 0)]),
    ]:
        g = from_nx(spark, G)
        got = _canon_cycles(
            [r["cycle"] for r in simple_cycles(g).collect()], G.is_directed()
        )
        want = _canon_cycles(list(nx.simple_cycles(G)), G.is_directed())
        assert got == want, f"mismatch on {G}"


def test_unbounded_simple_cycles_guard(spark, monkeypatch):
    import networkx as nx
    import pytest
    from linkgraph.graph import from_nx
    from linkgraph.algos.cycles import simple_cycles

    from linkgraph.algos import cycles

    g = from_nx(spark, nx.cycle_graph(9))
    monkeypatch.setattr(cycles, "_DRIVER_ARCS", 2)
    with pytest.raises(ValueError, match="driver limit"):
        simple_cycles(g)
