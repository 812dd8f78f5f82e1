"""Check ``eventlog.parse`` on a tiny ``local[1]`` run.

Runs a few jobs under two job groups (and some untagged ones) with the event
log on, then compares the parser's per-group job and task counts with what
Spark's status tracker reported while the application was live. Run from
the root of a checkout::

    python3 perfbench/selftest_eventlog.py

Exits 0 when every count matches.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path.insert(0, HERE)
    import eventlog
    from pyspark import SparkContext
    from pyspark.sql import SparkSession, functions as F

    work = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "eventlog"))
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        df = spark.range(0, 5000, numPartitions=4)
        live = {}
        for group, reps in (("g.scan", 2), ("g.shuffle", 3)):
            sc.setJobGroup(group, group)
            for _ in range(reps):
                df.count()
                df.groupBy((F.col("id") % 7).alias("k")).count().collect()
            sc._jsc.clearJobGroup()
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                for sid in tracker.getJobInfo(j).stageIds:
                    info = tracker.getStageInfo(sid)
                    tasks += info.numCompletedTasks if info is not None else 0
            live[group] = (len(jobs), tasks)
        df.count()  # untagged: must not be attributed to any group
    finally:
        spark.stop()
        gw = SparkContext._gateway
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=30)
    try:
        (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
        with open(log) as f:
            parsed = eventlog.parse(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ok = set(parsed) == set(live)
    for group, (jobs, tasks) in sorted(live.items()):
        got = parsed.get(group)
        match = got is not None and (got.jobs, got.tasks) == (jobs, tasks)
        ok &= match
        print(
            f"{group}: status tracker jobs={jobs} tasks={tasks}; "
            f"event log jobs={got and got.jobs} tasks={got and got.tasks} "
            f"{'ok' if match else 'MISMATCH'}"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
