"""Seeded benchmark inputs, generated without Spark and without linkgraph.

The benchmark's inputs must not move when the system under test changes, so
the crawl is drawn here rather than by ``linkgraph.io.pages.synthesize_pages``.
The shape is the same: page ``i`` links to ``1..max_links`` targets drawn
from an exp-inverse power law over page ids (low ids are in-degree hubs), and
a share of links leave the crawl (they must be dropped by the in-crawl
semi-join). The generator also returns the ground-truth edge list, keyed by
url, so the reference check never reads the system's own extraction.
"""

from __future__ import annotations

import os
from collections import Counter
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
EXTERNAL_SHARE = 0.1  # share of links that leave the crawl
N_FILES = 8  # parquet files per crawl
_WORDS = (
    "the quick brown fox jumps over lazy dog web page crawl index rank "
    "link graph spark data engine query node edge host"
).split()


def page_url(i: int, n_hosts: int, seed: int) -> str:
    return f"https://host{(i * 7919 + seed) % n_hosts}.example/s{seed}/p/{i}"


def write_pages(
    path: str,
    n_pages: int,
    seed: int,
    *,
    structure_seed: int,
    max_links: int = 12,
    archives: tuple = (0, 0),
) -> Counter:
    """Write the crawl as ``N_FILES`` parquet files under ``path``.

    ``structure_seed`` draws the link structure; ``seed`` names the pages
    (host and path), which changes every node id the engine derives from
    the url, and with it partition placement, coloring order and label
    tie-breaks. The work per call (PageRank iterations, CC rounds) stays
    the same for every ``seed``.

    ``archives=(count, length)`` appends ``count`` paginated archives, each
    ``length`` pages that link only to the next one: long chains, which set
    the number of min-label CC rounds (64 archives of 12 pages: 5 rounds on
    each of 40 id orders tried, where the hub crawl alone takes 3 or 4).

    Returns the in-crawl link multiset ``{(src_url, dst_url): count}``; the
    engine sums parallel links into the edge weight, so the count is the
    reference weight.
    """
    rng = np.random.default_rng(structure_seed)
    n_hosts = max(1, n_pages // 50)
    n_archive, archive_len = archives
    total = n_pages + n_archive * archive_len
    links = Counter()
    rows = {k: [] for k in PAGES_SCHEMA.names}
    t0 = datetime(2024, 1, 1)
    k = rng.integers(1, max_links + 1, size=n_pages)
    for i in range(total):
        if i < n_pages:
            u = rng.random(int(k[i]))
            t = np.minimum(np.floor(np.exp(u * np.log(max(n_pages, 2)))).astype(np.int64) - 1, n_pages - 1)
            t = np.where(t == i, (t + 1) % n_pages, t).tolist()
            external = (rng.random(int(k[i])) < EXTERNAL_SHARE).tolist()
        else:
            t = [i + 1] if (i - n_pages) % archive_len < archive_len - 1 else []
            external = [False] * len(t)
        src = page_url(i, n_hosts, seed)
        anchors = []
        for j, (tt, ext) in enumerate(zip(t, external)):
            if ext:
                href = f"https://ext{tt}.example/out/{i}-{j}"
            else:
                href = page_url(tt, n_hosts, seed)
                links[(src, href)] += 1
            anchors.append(f'<a href="{href}">l{j}</a> ')
        words = " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), size=6))
        rows["url"].append(src)
        rows["warc_ts"].append(t0 + timedelta(seconds=i))
        rows["html"].append(
            (
                f"<html><head><title>p{i}</title><script>var x={i};</script></head>"
                f"<body><p>{words}</p>{''.join(anchors)}</body></html>"
            ).encode()
        )
        rows["text"].append(f"p{i} {words}")
        rows["lang"].append("de" if i % 10 == 0 else "en")
    table = pa.Table.from_pydict(rows, schema=PAGES_SCHEMA)
    os.makedirs(path, exist_ok=True)
    step = -(-total // N_FILES)
    for f in range(N_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"))
    return links


def write_chains(path: str, n_chains: int, chain_len: int, seed: int) -> list[tuple[int, int]]:
    """Undirected paths with seed-drawn ids: a high-diameter graph whose
    connected components need several min-label rounds (64 chains of 6
    nodes: 4 rounds on each of 40 seeds tried). Returns the edges."""
    rng = np.random.default_rng(seed + 1)
    ids = rng.choice(1 << 40, size=n_chains * chain_len, replace=False).reshape(n_chains, chain_len)
    src = ids[:, :-1].ravel()
    dst = ids[:, 1:].ravel()
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())}),
        os.path.join(path, "part-000.parquet"),
    )
    return list(zip(src.tolist(), dst.tolist()))
