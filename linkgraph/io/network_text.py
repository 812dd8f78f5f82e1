"""Network-text rendering — the reference's human-readable forest format.

Reference: ``networkx/readwrite/text.py`` — ``generate_network_text`` /
``write_network_text`` (the "network text" notation of networkx #5602: a
DFS forest with L-style tree edges, back-edge suffixes, and ellipses for
already-drawn nodes).

Rendering is a driver-side DFS over the collected adjacency (a text
drawing IS a driver artifact), size-guarded like every driver bridge;
neighbor order is ascending id — the engine's canonical order — where the
reference uses adjacency insertion order.
"""

from __future__ import annotations

import sys
from collections import defaultdict

from linkgraph.graph import SparkGraph, driver_rows

__all__ = ["generate_network_text", "write_network_text"]


_GLYPHS = {
    # (directed, ascii_only) -> glyph dict
    (False, False): dict(
        empty="╙", newtree_last="╙── ", newtree_mid="╟── ",
        endof_forest="    ", within_forest="╎   ", within_tree="│   ",
        last="└── ", mid="├── ", backedge="─", vertical_edge="│",
    ),
    (True, False): dict(
        empty="╙", newtree_last="╙── ", newtree_mid="╟── ",
        endof_forest="    ", within_forest="╎   ", within_tree="│   ",
        last="└─╼ ", mid="├─╼ ", backedge="╾", vertical_edge="╽",
    ),
    (False, True): dict(
        empty="+", newtree_last="+-- ", newtree_mid="+-- ",
        endof_forest="    ", within_forest=":   ", within_tree="|   ",
        last="L-- ", mid="|-- ", backedge="-", vertical_edge="|",
    ),
    (True, True): dict(
        empty="+", newtree_last="+-- ", newtree_mid="+-- ",
        endof_forest="    ", within_forest=":   ", within_tree="|   ",
        last="L-> ", mid="|-> ", backedge="<-", vertical_edge="!",
    ),
}

_ELLIPSIS = object()


# Edges generate_network_text collects onto the driver.
_DRIVER_EDGES = 1_000_000


def _collect(g: SparkGraph):
    rows = driver_rows(
        g.edges.select("src", "dst"), _DRIVER_EDGES, "generate_network_text"
    )
    nodes = sorted(r["id"] for r in g.vertices.select("id").collect())
    succ = {v: [] for v in nodes}
    pred = {v: [] for v in nodes}
    for r in rows:
        u, v = r["src"], r["dst"]
        if g.directed:
            succ[u].append(v)
            pred[v].append(u)
        else:
            if u == v:
                succ[u].append(v)
                pred[u].append(v)
            else:
                succ[u].append(v)
                succ[v].append(u)
                pred[u].append(v)
                pred[v].append(u)
    for v in nodes:
        succ[v].sort()
        pred[v].sort()
    return nodes, succ, pred


def _sources(g: SparkGraph, nodes, succ, pred):
    """One start node per (strongly) connected part, minimum (in-)degree
    first — the reference's `_find_sources` with the engine's
    deterministic tie-break (smallest id)."""
    if g.directed:
        from linkgraph.algos.strongly_connected import (
            strongly_connected_components,
        )

        comp = {
            r["id"]: r["component"]
            for r in strongly_connected_components(g).collect()
        }
        members = defaultdict(list)
        for v in nodes:
            members[comp[v]].append(v)
        # source SCCs: no incoming arc from another SCC
        incoming = set()
        for v in nodes:
            for u in pred[v]:
                if comp[u] != comp[v]:
                    incoming.add(comp[v])
        out = []
        for c in sorted(members):
            if c not in incoming:
                out.append(min(members[c], key=lambda n: (len(pred[n]), n)))
        return out
    from linkgraph.algos.components import connected_components

    comp = {r["id"]: r["component"] for r in connected_components(g).collect()}
    members = defaultdict(list)
    for v in nodes:
        members[comp[v]].append(v)
    srcs = [
        min(ms, key=lambda n: (len(succ[n]), n)) for ms in members.values()
    ]
    return sorted(srcs, key=lambda n: (len(succ[n]), n))


def generate_network_text(
    g: SparkGraph,
    with_labels=True,
    sources=None,
    max_depth=None,
    ascii_only: bool = False,
    vertical_chains: bool = False,
):
    """``text.py:73`` ``generate_network_text`` — yield the lines of the
    DFS-forest drawing. ``with_labels`` may name a vertex column used as
    the printed label."""
    glyphs = _GLYPHS[(bool(g.directed), bool(ascii_only))]
    labels = None
    if isinstance(with_labels, str) or with_labels is True:
        attr = with_labels if isinstance(with_labels, str) else "label"
        if attr in g.vertices.columns:
            labels = {
                r["id"]: r[attr]
                for r in g.vertices.select("id", attr).collect()
                if r[attr] is not None
            }

    nodes, succ, pred = _collect(g)
    if max_depth == 0:
        yield glyphs["empty"] + " ..."
        return
    if not nodes:
        yield glyphs["empty"]
        return
    if sources is None:
        sources = _sources(g, nodes, succ, pred)

    def name(n):
        if labels is not None and n in labels:
            return str(labels[n])
        return str(n)

    last_idx = len(sources) - 1
    stack = [
        (None, node, [], idx == last_idx, False)
        for idx, node in enumerate(sources)
    ][::-1]
    skipped = defaultdict(int)
    seen = set()
    while stack:
        parent, node, indents, islast, vertical = stack.pop()
        if node is not _ELLIPSIS:
            skip = node in seen
            if skip:
                skipped[parent] += 1
            if islast and skipped[parent] and parent is not None:
                stack.append((node, _ELLIPSIS, indents, True, False))
                stack.append((parent, node, indents, False, vertical))
                continue
            if skip:
                continue
            seen.add(node)
        if not indents:
            if islast:
                vertical = False
                this_prefix = indents + [glyphs["newtree_last"]]
                next_prefix = indents + [glyphs["endof_forest"]]
            else:
                this_prefix = indents + [glyphs["newtree_mid"]]
                next_prefix = indents + [glyphs["within_forest"]]
        elif vertical:
            this_prefix = indents
            next_prefix = indents
        else:
            if islast:
                this_prefix = indents + [glyphs["last"]]
                next_prefix = indents + [glyphs["endof_forest"]]
            else:
                this_prefix = indents + [glyphs["mid"]]
                next_prefix = indents + [glyphs["within_tree"]]
        if node is _ELLIPSIS:
            label = " ..."
            suffix = ""
            children = []
        else:
            label = name(node)
            if g.directed:
                children = list(succ[node])
                handled = {parent}
            else:
                children = [c for c in succ[node] if c not in seen]
                handled = set(children) | {parent}
            if max_depth is not None and len(indents) == max_depth - 1:
                if children:
                    children = [_ELLIPSIS]
                handled = {parent}
            others = [p for p in pred[node] if p not in handled]
            if others:
                suffix = " ".join(
                    ["", glyphs["backedge"], ", ".join(name(p) for p in others)]
                )
            else:
                suffix = ""
        if vertical:
            yield "".join(this_prefix + [glyphs["vertical_edge"]])
        yield "".join(this_prefix + [label, suffix])
        if vertical_chains and node is not _ELLIPSIS:
            if g.directed:
                nkids = len(set(children))
            else:
                nkids = len(set(children) - {parent})
            next_vertical = nkids == 1
        else:
            next_vertical = False
        for idx, child in enumerate(children[::-1]):
            stack.append((node, child, next_prefix, idx == 0, next_vertical))


def write_network_text(
    g: SparkGraph,
    path=None,
    with_labels=True,
    sources=None,
    max_depth=None,
    ascii_only: bool = False,
    end: str = "\n",
    vertical_chains: bool = False,
) -> None:
    """``text.py:423`` ``write_network_text`` — print (default stdout), a
    file path, or call ``path`` per line when it is callable, like the
    reference's ``open_file``/callable contract."""
    lines = generate_network_text(
        g,
        with_labels=with_labels,
        sources=sources,
        max_depth=max_depth,
        ascii_only=ascii_only,
        vertical_chains=vertical_chains,
    )
    if callable(path):
        for line in lines:
            path(line + end)
        return
    if path is None:
        for line in lines:
            sys.stdout.write(line + end)
        return
    with open(path, "w") as f:
        for line in lines:
            f.write(line + end)
