"""Superstep checkpoint store — resumable iterative state.

The north rule requires every iteration's state (ranks/labels DataFrames) to
be checkpointed with per-partition lineage and convergence metrics so a run
can resume mid-iteration. In production this is an Iceberg table (atomic
snapshot commits, partition-level manifests); this sandbox has no Iceberg
runtime jar, so the store writes **parquet snapshots + a JSON manifest per
iteration** with the same contract:

- ``<root>/<name>/iter=<k>/data/part-*.parquet``  — the state DataFrame
- ``<root>/<name>/iter=<k>/_MANIFEST.json``  — metrics (iteration, l1_err,
  changed, edges_processed, wall_ms and any other figure the loop
  observed), schema, per-partition row counts (the lineage record),
  written once, **after** the parquet commit, so a complete manifest
  implies a complete snapshot (poor-man's atomicity).

The convergence figures come from the job that writes the snapshot
(``DataFrame.observe``, attached by
:meth:`linkgraph.iterutils.SuperstepCache.commit`), so they are known when
the manifest is written. Checkpointing also truncates Spark lineage: each
superstep's plan is re-rooted at a parquet scan, which is what keeps
100-iteration PageRank from exponential plan growth (SURVEY.md §4 risk 1).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    """Parquet-backed superstep state with resume support.

    Loops commit through :class:`linkgraph.iterutils.SuperstepCache`
    (``SuperstepCache(spark, store=store)``), which observes each
    superstep's figures on the write job and resumes from
    :meth:`latest_iteration`.
    """

    def __init__(self, root: str, name: str, spark: Optional[SparkSession] = None):
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)
        self.spark = spark

    # -------------------------------------------------------------- #

    def _iter_dir(self, k: int) -> str:
        return os.path.join(self.dir, f"iter={k:05d}")

    def _manifest_path(self, k: int) -> str:
        return os.path.join(self._iter_dir(k), "_MANIFEST.json")

    def latest_iteration(self) -> int:
        """Highest iteration with a complete (manifest-present) snapshot."""
        best = -1
        if not os.path.isdir(self.dir):
            return best
        for entry in os.listdir(self.dir):
            if entry.startswith("iter="):
                k = int(entry.split("=")[1])
                if os.path.exists(self._manifest_path(k)):
                    best = max(best, k)
        return best

    def commit(
        self,
        df: DataFrame,
        iteration: int,
        figures: Callable[[], dict] = dict,
        started: Optional[float] = None,
    ) -> DataFrame:
        """Write ``df`` as snapshot ``iteration``, then its manifest, and
        return the snapshot re-read with the schema just written (no
        schema-inference job). ``figures()`` is called after the write, so
        it may return figures observed on the write job. ``wall_ms`` runs
        from ``started`` (``time.monotonic()``; default: this call) and
        ``commit_wall_ms`` from this call, both to the manifest."""
        t0 = time.monotonic()
        data_path = os.path.join(self._iter_dir(iteration), "data")
        df.write.mode("overwrite").parquet(data_path)
        reread = df.sparkSession.read.schema(df.schema).parquet(data_path)
        # Per-partition lineage from the parquet FOOTERS (file metadata) —
        # zero data scanned, mirroring how an Iceberg manifest carries
        # per-file row counts. (A groupBy(input_file_name) would re-read the
        # whole snapshot once per superstep — doubling checkpoint cost.)
        import pyarrow.parquet as pq

        part_counts = []
        for fname in sorted(os.listdir(data_path)):
            if fname.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(data_path, fname)).metadata
                part_counts.append({"file": fname, "rows": meta.num_rows})
        metrics = {
            "iteration": iteration,
            **dict.fromkeys(("l1_err", "changed", "edges_processed")),
            **figures(),
        }
        now = time.monotonic()
        metrics["wall_ms"] = int((now - (t0 if started is None else started)) * 1000)
        manifest = {
            "metrics": metrics,
            "schema": reread.schema.jsonValue(),
            "partitions": part_counts,
            "committed_unix_ms": int(time.time() * 1000),
            "commit_wall_ms": int((now - t0) * 1000),
        }
        tmp = self._manifest_path(iteration) + ".tmp"
        with open(tmp, "w") as f:
            # default=str: exact text for observed decimals (edge hashes)
            json.dump(manifest, f, indent=1, default=str)
        os.replace(tmp, self._manifest_path(iteration))
        return reread

    def load(self, k: int, spark: Optional[SparkSession] = None) -> DataFrame:
        spark = spark or self.spark
        if spark is None:
            raise ValueError("need a SparkSession to load a checkpoint")
        return spark.read.parquet(os.path.join(self._iter_dir(k), "data"))

    def manifest(self, k: int) -> dict:
        with open(self._manifest_path(k)) as f:
            return json.load(f)

    def metrics_history(self) -> list[dict]:
        out = []
        for k in range(self.latest_iteration() + 1):
            p = self._manifest_path(k)
            if os.path.exists(p):
                out.append(self.manifest(k)["metrics"])
        return out
