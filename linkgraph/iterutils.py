"""The superstep runtime shared by iterative DataFrame loops.

Iterative Spark has one classic failure mode (SURVEY.md §4 risk 1): each
superstep's plan embeds the previous superstep's plan several times (a rank
vector is joined, aggregated and diffed), so the logical tree grows by a
branching factor per iteration and Catalyst analysis goes exponential after
a few dozen supersteps. ``persist()`` does not help — it caches data but
leaves the logical plan intact. ``localCheckpoint(eager=True)`` re-roots the
plan at an RDD scan (measured ~0.6 s/superstep fixed cost on local[4] vs
2-7 s for the lazy variant under AQE), but pins its RDD in
``SparkContext.persistentRdds`` with no public release API, which leaks
executor storage until the JVM OOMs on long runs (observed at ~90
iterations on a 1 GiB driver).

:class:`SuperstepCache` owns everything a loop shares, so the algorithms
carry none of it themselves. Used as a context manager it:

- sets the loop conf on entry and restores the caller's values on exit,
  also when the loop raises: AQE off (the loop's shapes are static, and AQE
  splits every superstep into one job per stage), shuffled-hash joins
  instead of sort-merge (no per-superstep re-sort of the pinned tables),
  runtime bloom filters off (their search is superlinear in join count),
  and ``spark.sql.shuffle.partitions`` when the loop was sized;
- pins the loop's constant tables (:meth:`SuperstepCache.pin`); a table
  hash-partitioned on its join key also turns automatic broadcasts off
  from the first superstep on, as they would bypass that layout;
- truncates lineage per superstep (:meth:`~SuperstepCache.truncate`), or
  commits it to a :class:`linkgraph.state.CheckpointStore` when the loop
  was given one (:meth:`~SuperstepCache.commit`), and reads it back from the
  store's latest manifest (:meth:`~SuperstepCache.resume`). ``truncate``
  and ``commit`` attach the superstep's convergence figures (aggregate
  Columns) with ``DataFrame.observe`` and return their values from the one
  job that checkpoints or durably writes the state, so a loop needs no side
  job to decide whether to stop; there is no lazy variant;
- on exit unpersists every pinned table and releases every snapshot it
  made, except the snapshots the loop's :meth:`~SuperstepCache.result`
  reads. The caller releases those with :meth:`~SuperstepCache.release`.

Every snapshot the library makes, in a loop or by a one-off
:func:`local_checkpoint`, is marked by name on its RDD; ``release`` frees
only marked snapshots, so releasing a result never frees a snapshot the
caller's own input graph reads.

Every loop in the library opens it with ``with``; outside ``with`` it is
only meant for releasing a returned result,
``SuperstepCache(spark).release(result)``.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


# Target shuffle-partition payload for iterative loops. Small relative to
# executor memory on purpose: the loops re-shuffle the same state dozens of
# times, so per-task fixed costs (scheduling, block-manager traffic, codegen
# dispatch) dominate long before memory pressure does. On a real cluster the
# session's shuffle.partitions (sized to the cluster) stays the CAP — the
# volume heuristic only shrinks below it for small inputs. The right payload
# depends on per-row work: LPA/Louvain/CC rounds (one cheap agg per row) are
# fastest near 250k rows/partition, while PageRank/HITS rounds (edge join +
# hash agg + dangling branch per row) starve parallelism there — measured
# local[32] optimum ~40k rows/partition on a 634k-edge crawl (11.4s vs 17.9s
# at 250k and 16.6s at thread-count partitions for 10 iterations).
ROWS_PER_PARTITION = 250_000


def loop_partitions(
    n_rows: int, cap: int, rows_per_partition: int = ROWS_PER_PARTITION
) -> int:
    """Shuffle-partition count for an iterative loop over ``n_rows`` state
    rows: one partition per ``rows_per_partition`` rows, at least 1, never
    above ``cap`` (the session/graph setting, which encodes cluster size)."""
    return max(1, min(int(cap), int(n_rows) // int(rows_per_partition) + 1))


def _strip_origin_stats(df: DataFrame) -> DataFrame:
    """Rebuild a checkpointed DataFrame's ``LogicalRDD`` without the origin
    statistics/constraints Spark captures from the plan that produced it.

    ``Dataset.localCheckpoint`` copies the originating plan's estimated
    ``Statistics`` into the new ``LogicalRDD`` (``originStats``). Join size
    estimation multiplies children's ``sizeInBytes``, so in an iterative
    loop that re-checkpoints a state table derived from the previous
    checkpoint via k self-references, the captured BigInt's *bit length*
    grows by ~k× per superstep. Catalyst then does multi-megabit BigInteger
    arithmetic on every later planning pass — measured as per-round cost
    doubling (×2.4) in the Louvain level loop while plan text, task counts
    and row counts stayed constant. Dropping the origin stats resets the
    leaf to the default ``sizeInBytes`` (conservative: too big to
    auto-broadcast, which is what the loops want anyway) and keeps every
    superstep's planning cost flat.

    Best-effort: if the plan isn't a plain ``LogicalRDD`` (or internals
    move), the input is returned unchanged.
    """
    try:
        spark = df.sparkSession
        jvm = spark._jvm
        lr = df._jdf.queryExecution().analyzed()
        if lr.getClass().getName() != "org.apache.spark.sql.execution.LogicalRDD":
            return df
        none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        logical_rdd = getattr(
            getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$"
        )
        new_plan = logical_rdd.apply(
            lr.output(),
            lr.rdd(),
            lr.outputPartitioning(),
            lr.outputOrdering(),
            lr.isStreaming(),
            lr.stream(),
            spark._jsparkSession,
            none,
            none,
        )
        dataset = getattr(
            getattr(jvm.org.apache.spark.sql.classic, "Dataset$"), "MODULE$"
        )
        return DataFrame(dataset.ofRows(spark._jsparkSession, new_plan), spark)
    except Exception:
        return df


# The loop conf every superstep runtime sets on entry (module docstring).
LOOP_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
}
_BROADCAST = "spark.sql.autoBroadcastJoinThreshold"
_PARTITIONS = "spark.sql.shuffle.partitions"


def _observed(df: DataFrame, figures: Optional[dict]):
    """``df`` with ``figures`` (name -> aggregate Column; literals allowed)
    attached by ``DataFrame.observe``, and a function returning their values
    once the first action on the frame has run."""
    if not figures:
        return df, dict
    obs = Observation()
    return df.observe(obs, *[c.alias(k) for k, c in figures.items()]), lambda: obs.get


def row_count() -> dict:
    """The figure ``rows``: a superstep's row count, for ``figures=``."""
    return {"rows": F.count(F.lit(1))}


# The name :func:`local_checkpoint` gives the RDD behind each snapshot the
# library makes; release frees no RDD without it. The mark lives on the RDD,
# so it goes with its SparkContext (RDD ids restart in a new one).
_SNAPSHOT_NAME = "linkgraph.snapshot"


def _snapshot_rdds(df: DataFrame) -> list:
    """The RDDs behind every ``LogicalRDD`` leaf of ``df``'s plan — the
    local-checkpoint snapshots (and any other RDD scans) it reads."""
    rdds = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getName() == "org.apache.spark.sql.execution.LogicalRDD":
            rdds.append(leaf.rdd())
    return rdds


def _snapshot_rdd_ids(df: DataFrame) -> set:
    """Ids of the RDDs of :func:`_snapshot_rdds`."""
    return {rdd.id() for rdd in _snapshot_rdds(df)}


def _snapshots_made(dfs) -> set:
    """Ids of the library snapshots (:func:`local_checkpoint`) read by a
    DataFrame or a list of them (None entries skipped)."""
    if isinstance(dfs, DataFrame):
        dfs = [dfs]
    ids = set()
    for d in dfs:
        if d is not None:
            ids |= {
                rdd.id() for rdd in _snapshot_rdds(d)
                if rdd.name() == _SNAPSHOT_NAME
            }
    return ids


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, marked as a library snapshot so
    that :meth:`SuperstepCache.release` frees it with the result that
    reads it."""
    out = df.localCheckpoint(eager=True)
    for rdd in _snapshot_rdds(out):
        rdd.setName(_SNAPSHOT_NAME)
    return out


class SuperstepCache:
    """The superstep runtime of one iterative loop (see module docstring).

    ``partitions`` sizes the loop's shuffles (see :func:`loop_partitions`);
    ``store`` makes :meth:`commit` durable and :meth:`resume` possible.
    """

    def __init__(
        self,
        spark: SparkSession,
        partitions: Optional[int] = None,
        store=None,
    ):
        self.spark = spark
        self.partitions = partitions
        self.store = store
        self._saved: dict = {}
        self._pinned: list = []
        self._snapshots: set = set()
        self._result = None
        self._keyed = False
        self._jsc_sc = None
        self._t0 = time.monotonic()

    def __enter__(self) -> "SuperstepCache":
        conf = self.spark.conf
        self._saved = {k: conf.get(k) for k in (*LOOP_CONF, _BROADCAST, _PARTITIONS)}
        for k, v in LOOP_CONF.items():
            conf.set(k, v)
        if self.partitions is not None:
            conf.set(_PARTITIONS, str(self.partitions))
        self._t0 = time.monotonic()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            for df in self._pinned:
                df.unpersist()
            keep = set()
            if exc_type is None and self._result is not None:
                keep = _snapshots_made(self._result)
            self._unpersist(self._snapshots - keep)
        finally:
            for k, v in self._saved.items():
                self.spark.conf.set(k, v)

    def pin(self, df: DataFrame, key: Optional[str] = None) -> DataFrame:
        """Persist a table the loop reads every superstep; unpersisted on
        exit. With ``key`` it is first hash-partitioned on ``key`` into the
        loop's partitions, and from the first superstep on automatic
        broadcasts are off, so every join on ``key`` reuses that layout
        (only the small side shuffles) instead of broadcasting around it.
        The one-time set-up before it still broadcasts its small sides:
        forcing shuffle joins there cost durable PageRank on a 200-page
        crawl ~1.8 of ~5 CPU-s per call (local[4] on 4 vCPUs)."""
        if key is not None:
            df = df.repartition(self.partitions, key)
            self._keyed = True
        df = df.persist()
        self._pinned.append(df)
        self._t0 = time.monotonic()
        return df

    def result(self, dfs):
        """Mark ``dfs`` (a DataFrame, or a list of them: a graph's edges
        and vertices) as what the loop returns: the snapshots they read
        survive the exit (release them with :meth:`release` once done)."""
        self._result = dfs
        return dfs

    def resume(self) -> "tuple[int, Optional[DataFrame]]":
        """``(start iteration, state)`` from the store's latest complete
        snapshot; ``(0, None)`` when there is no store or no snapshot."""
        k = self.store.latest_iteration() if self.store is not None else -1
        if k < 0:
            return 0, None
        return k + 1, self.store.load(k, self.spark)

    def commit(
        self, df: DataFrame, iteration: int, figures: Optional[dict] = None
    ) -> "tuple[DataFrame, dict]":
        """Superstep ``iteration``'s state and its observed ``figures``
        (see :meth:`truncate`), from the one job that materializes it. With
        a store that job is the durable write, and the manifest records the
        iteration, the figures and ``wall_ms``: the time since the loop's
        previous commit, last :meth:`pin` or entry, whichever came last.
        Without a store it is :meth:`truncate`."""
        if self.store is None:
            out, seen = self.truncate(df, figures=figures or {})
        else:
            self._superstep_conf()
            df, observed = _observed(df, figures)
            out = self.store.commit(df, iteration, observed, started=self._t0)
            seen = observed()
        self._t0 = time.monotonic()
        return out, seen

    def truncate(
        self,
        df: DataFrame,
        retire: Optional[DataFrame] = None,
        figures: Optional[dict] = None,
    ):
        """Checkpoint ``df``; optionally release a PREVIOUS truncate result
        the caller guarantees nothing will read again. Passing ``retire``
        caps the loop's pinned-RDD footprint at the live generations instead
        of growing by one snapshot per superstep (the leak documented
        above). With ``figures`` (name -> aggregate Column over ``df``,
        literals allowed) returns ``(snapshot, {name: value})``, the values
        observed on the checkpoint's own job."""
        self._superstep_conf()
        df, observed = _observed(df, figures)
        # The checkpoint pins its RDD before its job runs; should the job
        # raise, no snapshot carries that RDD's id, so every RDD pinned
        # since this mark is unpersisted before the error propagates.
        mark = self._sc().newRddId()
        try:
            out = _strip_origin_stats(local_checkpoint(df))
        except Exception:
            pinned = self.spark.sparkContext._jsc.getPersistentRDDs()
            self._unpersist([rid for rid in pinned.keySet() if rid > mark])
            raise
        self._snapshots |= _snapshot_rdd_ids(out)
        if retire is not None:
            self.release(retire)
        return out if figures is None else (out, observed())

    def release(self, dfs) -> None:
        """Unpersist the executor-pinned RDDs behind every library snapshot
        the given DataFrames read (``SparkContext.persistentRdds`` has no
        public release API; the ids come off the plans' ``LogicalRDD``
        leaves). Snapshots the library did not make, such as the caller's
        own ``localCheckpoint`` frames under an input graph, stay. A no-op
        for frames that read no library snapshot. The released snapshots
        must never be read again — their blocks are gone."""
        self._unpersist(_snapshots_made(dfs))

    def _sc(self):
        if self._jsc_sc is None:
            self._jsc_sc = self.spark.sparkContext._jsc.sc()
        return self._jsc_sc

    def _superstep_conf(self) -> None:
        if self._keyed:
            self.spark.conf.set(_BROADCAST, "-1")

    def _unpersist(self, rdd_ids) -> None:
        pinned = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in rdd_ids:
            jrdd = pinned.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
