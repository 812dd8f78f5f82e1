"""Streaming ingest: continuous crawl append → edge-delta batches.

The reference has no streaming surface (SURVEY.md §2.K) — its graph is a
fully materialized in-memory object. The engine's streaming story is
therefore *ingest only*: new pages land in the crawl table continuously;
Structured Streaming turns each micro-batch into href-edge deltas with the
same Arrow-UDF extraction as the batch scan, exactly-once via the stream
checkpoint; the iterative algorithms then run as batch supersteps over the
accumulated edge table (optionally resuming from their own
:class:`linkgraph.state.CheckpointStore` snapshots).

At scale the source/sink are Iceberg tables (snapshot-isolated appends);
this sandbox uses parquet directories with the same DataFrame lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from linkgraph.io.pages import PAGES_SCHEMA, pages_to_edges


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming scan of the pages table (schema BASELINE.json:15)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def edges_stream(pages: DataFrame) -> DataFrame:
    """Streaming pages → (src, dst, weight) href edges.

    Same extraction kernel as the batch path (vectorized Arrow UDF); node
    ids are xxhash64(url) so no stateful dictionary join is needed —
    every micro-batch is independently transformable (pure map), which is
    what makes the stream restartable from the sink checkpoint alone.
    In-crawl filtering (dropping targets never seen in the crawl) is a
    join against a growing dictionary, so it runs downstream in batch.
    """
    return pages_to_edges(pages, in_crawl_only=False)


def start_edge_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
):
    """Run the pages→edges stream into a parquet edge sink.

    ``available_now=True`` processes everything currently in ``input_dir``
    then stops (the test/backfill trigger); otherwise it is a continuous
    micro-batch stream. Exactly-once: the sink commit log lives in
    ``checkpoint_dir``, so restarted jobs never duplicate a batch.
    """
    edges = edges_stream(read_pages_stream(spark, input_dir))
    writer = (
        edges.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_available(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    """Synchronous backfill: drain everything currently available."""
    q = start_edge_ingest(
        spark, input_dir, output_dir, checkpoint_dir, available_now=True
    )
    q.awaitTermination()
