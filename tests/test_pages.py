"""Pages scan: byte-identical extraction invariant + link-graph build.

BASELINE.json:15: per-row invariant vs the reference is byte-identical
extracted text per url; extraction must be vectorized Arrow UDFs.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from linkgraph.io import extract as X
from linkgraph.io.pages import (
    synthesize_pages,
    extract_pages,
    pages_to_edges,
    build_link_graph,
)
from linkgraph.algos.pagerank import pagerank


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, 300, seed=42).persist()


def test_deterministic_regardless_of_parallelism(spark):
    a = synthesize_pages(spark, 120, seed=42, num_partitions=1)
    b = synthesize_pages(spark, 120, seed=42, num_partitions=7)
    pa = a.orderBy("url").toPandas()
    pb = b.orderBy("url").toPandas()
    assert pa["url"].tolist() == pb["url"].tolist()
    assert pa["text"].tolist() == pb["text"].tolist()
    assert [bytes(x) for x in pa["html"]] == [bytes(x) for x in pb["html"]]


def test_text_invariant_byte_identical(pages):
    """Distributed Arrow-UDF extraction == stored text == single-node
    reference extraction, byte-for-byte, for every url."""
    ext = extract_pages(pages).withColumnRenamed("text", "ext_text")
    joined = pages.join(ext, "url").select("url", "html", "text", "ext_text")
    rows = joined.collect()
    assert len(rows) == 300
    for r in rows:
        assert r["ext_text"] == r["text"], r["url"]
        # single-node reference path on the raw bytes
        assert X.extract_text(bytes(r["html"])) == r["text"], r["url"]
        assert r["ext_text"].encode("utf-8") == r["text"].encode("utf-8")


def test_vectorized_twin_equals_scalar_kernel():
    html = [
        b'<html><body><a href="https://a/1">x</a><p>hi   there</p></body></html>',
        b"<html><script>ignore me</script><b>bold</b></html>",
        b"plain text no tags",
        b'<a href="u1"><a href="u2"><a href="u1">',
        "\xe9 unicode str not bytes".encode(),
    ]
    s = pd.Series(html, dtype=object)
    assert X.extract_text_series(s).tolist() == [X.extract_text(h) for h in html]
    assert X.extract_hrefs_series(s).tolist() == [X.extract_hrefs(h) for h in html]


def test_edges_resolve_in_crawl(spark, pages):
    edges = pages_to_edges(pages)
    n_edges = edges.count()
    assert n_edges > 300  # several links per page survive
    # every endpoint is a crawl page
    ids = pages.select(F.xxhash64("url").alias("id"))
    assert edges.join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti").count() == 0
    assert edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti").count() == 0


def test_hub_skew_present(spark, pages):
    """Power-law target draw → top page takes a large share of in-links."""
    edges = pages_to_edges(pages)
    indeg = edges.groupBy("dst").count().orderBy(F.desc("count"))
    top = indeg.first()["count"]
    total = edges.count()
    assert top > total / 50  # a genuine hub


def test_end_to_end_pagerank_over_crawl(spark, pages):
    g = build_link_graph(pages)
    ranks = pagerank(g, max_iter=100)
    s = ranks.agg(F.sum("rank")).first()[0]
    assert s == pytest.approx(1.0, abs=1e-9)
    assert ranks.count() == 300


def test_column_pruning_reaches_scan(spark, tmp_path, pages):
    """The extraction and the edge build read only (url, html) — no scan
    of either plan reads text, warc_ts or lang (ReadSchema check)."""
    path = str(tmp_path / "pages.parquet")
    pages.write.mode("overwrite").parquet(path)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for project in (extract_pages, pages_to_edges):
        explained = (
            project(spark.read.parquet(path))
            ._jdf.queryExecution()
            .explainString(mode)
        )
        read_schema = [l for l in explained.splitlines() if "ReadSchema" in l]
        assert read_schema, project.__name__
        for line in read_schema:
            for col in ("text", "warc_ts", "lang"):
                assert col not in line, (project.__name__, line)
