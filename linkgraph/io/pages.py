"""The pages table: synthesis, scan, and pages→edges extraction.

This is the engine's primary **scan** (SURVEY.md §2.A last row): a
Common-Crawl-style table ``pages(url STRING, warc_ts TIMESTAMP, html BINARY,
text STRING, lang STRING)`` (BASELINE.json:15) is turned into the
``vertices``/``edges`` DataFrames of :class:`linkgraph.graph.SparkGraph`.

Production shape: ``spark.read.table("iceberg.crawl.pages")`` partitioned by
crawl date — Iceberg gives partition pruning and snapshot isolation; this
sandbox has no Iceberg runtime, so scans read parquet with the same schema
(identical DataFrame lineage downstream).

Design points for 100 TB:

- Extraction is a **vectorized Arrow UDF** (``mapInPandas``): html batches
  cross the JVM↔Python boundary as Arrow buffers once; the regex kernels run
  per-batch, never per-row Python (BASELINE.json:15 bans per-row UDFs).
- Node ids are ``xxhash64(url)`` — stable, stateless, computable on both
  sides of any shuffle, so edge extraction never needs a global dictionary
  join for the src side; the dst side resolves against the url dictionary
  with a (bucketable) semi/inner join to keep only in-crawl targets.
- The synthetic crawl draws link targets from a discrete power law, so a
  few hub pages receive a large share of in-links — the skew shape hub-salt
  and AQE handling are tested against.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from linkgraph.graph import SparkGraph
from linkgraph.io import extract as X

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

_WORDS = np.array(
    "the quick brown fox jumps over lazy dog web page crawl index rank "
    "link graph spark data engine query node edge host".split()
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic per-row hash (SplitMix64 finalizer): the synthetic crawl
    must not depend on partitioning, so all randomness derives from row id."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _u01(x: np.ndarray, salt: int) -> np.ndarray:
    return _splitmix64(x ^ np.uint64(salt)).astype(np.float64) / 2.0**64


def page_url(i: int, n_hosts: int) -> str:
    return f"https://host{i % n_hosts}.example/p/{i}"


def synthesize_pages(
    spark: SparkSession,
    n_pages: int,
    *,
    n_hosts: Optional[int] = None,
    seed: int = 42,
    max_links: int = 12,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Deterministic synthetic crawl (FIXTURES.md §1): page ``i`` links to
    ``k_i`` targets drawn from an exp-inverse power law over page ids, so
    low ids are hubs (the ``barabasi_albert`` in-degree shape,
    ``networkx/generators/random_graphs.py:661``). Fully reproducible from
    ``(n_pages, n_hosts, seed, max_links)`` regardless of parallelism."""
    n_hosts = n_hosts or max(1, n_pages // 50)
    base = spark.range(0, n_pages, numPartitions=num_partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.uint64)
            n = len(ids)
            k = (1 + (_splitmix64(ids ^ np.uint64(seed)) % np.uint64(max_links))).astype(
                np.int64
            )
            # body text: 6 deterministic words per page
            widx = np.stack(
                [_splitmix64(ids ^ np.uint64(seed + 100 + j)) % len(_WORDS) for j in range(6)],
                axis=1,
            )
            body = [" ".join(_WORDS[row]) for row in widx]
            hosts = (ids % np.uint64(n_hosts)).astype(np.int64)
            urls = [f"https://host{h}.example/p/{i}" for h, i in zip(hosts, ids)]
            htmls = []
            for r in range(n):
                i = int(ids[r])
                # power-law targets: t = floor(exp(u * ln(n_pages))) - 1
                js = np.arange(int(k[r]), dtype=np.uint64)
                u = _u01((np.uint64(i) << np.uint64(20)) ^ js, seed * 31 + 7)
                t = np.minimum(
                    np.floor(np.exp(u * np.log(max(n_pages, 2)))).astype(np.int64) - 1,
                    n_pages - 1,
                )
                t = np.where(t == i, (t + 1) % n_pages, t)  # no self-links
                anchors = "".join(
                    f'<a href="{page_url(int(tt), n_hosts)}">l{idx}</a> '
                    for idx, tt in enumerate(t)
                )
                htmls.append(
                    (
                        f"<html><head><title>p{i}</title>"
                        f"<script>var x={i};</script></head>"
                        f"<body><p>{body[r]}</p>{anchors}</body></html>"
                    ).encode("utf-8")
                )
            html_s = pd.Series(htmls, dtype=object)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": pd.to_datetime(
                        ids.astype(np.int64) + 1_700_000_000, unit="s"
                    ),
                    "html": html_s,
                    # text column = reference extraction, so the invariant
                    # "distributed extraction == stored text" is testable.
                    "text": X.extract_text_series(html_s),
                    "lang": np.where(ids % np.uint64(10) == 0, "de", "en"),
                }
            )

    return base.mapInPandas(gen, PAGES_SCHEMA)


# ---------------------------------------------------------------------- #
# scan: pages → text / hrefs / edges
# ---------------------------------------------------------------------- #

_EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("text", StringType(), True),
        StructField("hrefs", ArrayType(StringType()), True),
    ]
)


def extract_pages(pages: DataFrame) -> DataFrame:
    """(url, text, hrefs) via one Arrow-batched pass over html.

    Column pruning matters: only (url, html) are read from the scan —
    verify with ``.explain`` that ReadSchema is 2 columns.
    """
    src = pages.select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "text": X.extract_text_series(pdf["html"]),
                    "hrefs": X.extract_hrefs_series(pdf["html"]),
                }
            )

    return src.mapInPandas(run, _EXTRACT_SCHEMA)


_HREFS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("hrefs", ArrayType(StringType()), True),
    ]
)


def _extract_hrefs(pages: DataFrame) -> DataFrame:
    """(url, hrefs) via one Arrow-batched pass over html: the edge build's
    projection of :func:`extract_pages`, which skips the text kernel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"url": pdf["url"], "hrefs": X.extract_hrefs_series(pdf["html"])}
            )

    return pages.select("url", "html").mapInPandas(run, _HREFS_SCHEMA)


def pages_to_edges(pages: DataFrame, *, in_crawl_only: bool = True) -> DataFrame:
    """Edge DataFrame (src, dst, weight) with ids = ``xxhash64(url)``.

    Parallel links from one page to one target coalesce at SparkGraph
    construction (weights summed, ``convert_matrix.py:649-656``). With
    ``in_crawl_only`` the dst side is semi-joined against the crawl's own
    url set (dangling out-of-crawl targets dropped; in-crawl dangling pages
    — no out-links — remain and are PageRank's dangling mass). Without it
    every micro-batch maps on its own, which is what the streaming ingest
    (:func:`linkgraph.streaming.edges_stream`) runs."""
    ext = _extract_hrefs(pages)
    raw = ext.select(
        F.xxhash64("url").alias("src"),
        F.explode("hrefs").alias("href"),
    ).select("src", F.xxhash64("href").alias("dst"))
    if in_crawl_only:
        ids = pages.select(F.xxhash64("url").alias("dst"))
        raw = raw.join(ids, "dst", "left_semi")
    return raw.select("src", "dst", F.lit(1.0).alias("weight"))


def page_vertices(pages: DataFrame) -> DataFrame:
    """(id, url) dictionary; id = xxhash64(url)."""
    return pages.select(F.xxhash64("url").alias("id"), "url")


def build_link_graph(
    pages: DataFrame, *, num_partitions: Optional[int] = None
) -> SparkGraph:
    """pages table → directed SparkGraph (the M1 pipeline)."""
    return SparkGraph(
        pages_to_edges(pages),
        page_vertices(pages),
        directed=True,
        num_partitions=num_partitions,
    )
