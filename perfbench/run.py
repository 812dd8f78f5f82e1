"""linkgraph benchmark: seeded crawl workloads on ``local[4]``.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload crawl-rank --seed 1 --seconds 15 --trace 0

Each workload is a closed loop with one client: the benchmark issues one
public ``linkgraph`` call at a time and repeats the workload's sequence of
calls (a *pass*) until ``--seconds`` have been spent measuring. A metric is
the median of its per-pass values. Every call's output is checked against
networkx after the timed region; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` spends half the
time on untraced passes, starts a new JVM with the event log on and the same
warm-up, spends the other half on traced passes, and reports the per-layer
metrics read from the event log plus the tracing overhead. See
``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

PROCESS_START = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
SLOTS = 4
LAYERS = ("io.pages", "algos.pagerank", "algos.components", "algos.triangles", "algos.lpa")
LAYER_FIELDS = (
    "wall_s", "jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "driver_s", "slot_util", "task_skew",
)


@dataclass(frozen=True)
class Workload:
    pages: int  # crawl size
    structure_seed: int  # link structure; --seed only renames the pages
    max_links: int
    archives: tuple  # (count, length) of paginated-archive chains in the crawl
    steps: tuple  # calls of one pass, in order
    pr_tol: float
    chains: tuple = (0, 0)  # (count, length) of the high-diameter graph


WORKLOADS = {
    # Volume: a hub-skewed crawl of about 137k in-crawl edges, enough for
    # PageRank's loop to fill all four partitions (one per 40k arcs).
    # PageRank converges in 6 iterations and CC in 5 rounds (set by the
    # archive chains for every id order); task time is the largest share of
    # build, CC and triangles, so kernel and partitioning changes show here.
    "crawl-rank": Workload(
        pages=24000, structure_seed=6, max_links=12, archives=(64, 12),
        steps=("build", "pagerank", "cc_crawl", "triangles"), pr_tol=1e-6,
    ),
    # Fixed cost per superstep, in memory and durable: LPA runs one
    # superstep per color class (3), PageRank commits every iteration to a
    # CheckpointStore, crashes half-way and resumes (8 iterations), and CC
    # commits each of its 4 min-label rounds on long chains.
    "crawl-supersteps": Workload(
        pages=200, structure_seed=3, max_links=1, archives=(0, 0),
        steps=("build", "lpa", "pagerank_durable", "cc_chains_durable"), pr_tol=3e-4,
        chains=(64, 6),
    ),
}
WARMUP_PAGES = 100


# ---------------------------------------------------------------------- #
# /proc probes: load evidence and resource high-water marks
# ---------------------------------------------------------------------- #


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# The host's cores do not run at one speed: as co-tenants come and go, the
# same pass took about 1.8 times the CPU time in one hour that it took in the
# next, and a fixed Python loop slowed by about as much; within a slow hour
# the loop's speed also swings by up to 2x from one second to the next.
# Every time metric is therefore scaled to the speed this loop had on the
# reference machine when its host was quiet, with the loop timed all through
# the run (see NOTES.md, "Host speed").
PROBE_LOOPS = 100_000
PROBE_PERIOD_S = 0.1
PROBE_REF_S = 0.00435


class HostProbe:
    """A thread that times ``PROBE_LOOPS`` iterations of a Python loop every
    ``PROBE_PERIOD_S`` (a few percent of one core) while the run goes on."""

    def __init__(self):
        self.samples: list = []
        self.cpu_s = 0.0  # CPU time the loop has used, left out of each call's time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="host-probe", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(PROBE_PERIOD_S):
            t0 = time.thread_time()
            x = 0
            for i in range(PROBE_LOOPS):
                x += i * i
            dt = time.thread_time() - t0
            self.samples.append(dt)
            self.cpu_s += dt

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def loop_s(self, start: int = 0, end: int | None = None) -> float:
        """Mean time of the loop over ``samples[start:end]`` (over the whole
        run when that span holds fewer than 5): the host's speed then."""
        span = self.samples[start:end]
        return statistics.mean(span if len(span) >= 5 else self.samples)


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _process_tree(root: int) -> dict[int, int]:
    """``{pid: CPU ticks}`` (user + system, reaped children included) of
    ``root`` and every process below it: the benchmark, the JVM, the Python
    workers."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return tree


def _cpu_s() -> float:
    """CPU seconds this process and its descendants have used. Time the
    hypervisor steals from the VM is not charged to processes."""
    return sum(_process_tree(os.getpid()).values()) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Call:
    name: str
    layer: str
    wall_s: float
    cpu_s: float
    load1: float
    probe_s: float  # HostProbe.loop_s() across the call
    steal_pct: float
    iowait_pct: float
    pinned_rdds: int
    storage_mb: float


@dataclass
class Pass:
    idx: int
    calls: list = field(default_factory=list)
    outputs: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    state: dict = field(default_factory=dict)

    def layer_wall(self, layer) -> float:
        return sum(c.wall_s for c in self.calls if c.layer == layer)


class Bench:
    """One benchmark process: inputs, the Spark session, and the passes."""

    def __init__(self, args, root: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.spark = None
        self.jvm_pid = None
        self.setup: dict = {}
        self.passes: list = []
        self.probe = HostProbe()

    # -- inputs ------------------------------------------------------ #

    def make_inputs(self) -> None:
        import gen

        self.pages_path = os.path.join(self.work, "pages")
        self.links = gen.write_pages(
            self.pages_path, self.wl.pages, self.args.seed,
            structure_seed=self.wl.structure_seed, max_links=self.wl.max_links,
            archives=self.wl.archives,
        )
        self.warm_path = os.path.join(self.work, "warm")
        gen.write_pages(self.warm_path, WARMUP_PAGES, self.args.seed, structure_seed=0)
        self.chain_edges = None
        if self.wl.chains[0]:
            self.chains_path = os.path.join(self.work, "chains")
            self.chain_edges = gen.write_chains(self.chains_path, *self.wl.chains, self.args.seed)

    # -- session ----------------------------------------------------- #

    def start_session(self, event_log: bool) -> None:
        from pyspark.sql import SparkSession

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        b = (
            SparkSession.builder.master(f"local[{SLOTS}]")
            .appName("linkgraph-perfbench")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.shuffle.partitions", str(SLOTS))
            .config("spark.default.parallelism", str(SLOTS))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            # Serial GC: no GC worker threads that spin while a stolen vCPU
            # holds them up. C1 only: under C2 the compiler threads used more
            # than half of a pass's CPU time, and how much they compile
            # depends on timing, so it swung with the host (NOTES.md).
            # No perf-data file, which the JVM would keep in /tmp.
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={self.tmp} -Xmn512m -Xms2g -XX:+UseSerialGC"
                " -XX:TieredStopAtLevel=1 -XX:-UsePerfData",
            )
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        )
        if event_log:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
                .config("spark.eventLog.dir", "file://" + self.event_dir)
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop the SparkContext and the gateway JVM, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        started = set(_process_tree(os.getpid())) - {os.getpid()}
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # Python workers are the JVM's children; wait until they are gone too.
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(map(_alive, started)):
            time.sleep(0.1)

    def warm_up(self) -> None:
        """A cold build of the 100-page warm-up crawl; its caches dropped."""
        from linkgraph.io.pages import build_link_graph

        build_link_graph(self.spark.read.parquet(self.warm_path), num_partitions=SLOTS).edges.count()
        self.clear_caches()

    def set_up(self) -> None:
        """Process start → SparkSession up, linkgraph imported, warm-up pass
        run. Input generation is excluded."""
        n0 = len(self.probe.samples)
        t0 = time.monotonic()
        self.start_session(event_log=False)
        t1 = time.monotonic()
        import linkgraph  # noqa: F401

        t2 = time.monotonic()
        self.warm_up()
        t3 = time.monotonic()
        self.setup = {
            "setup_s": self.pre_s + (t3 - t0),
            "setup_cpu_s": _cpu_s() - self.probe.cpu_s - self.untimed_cpu_s,
            "session.start_s": t1 - t0,
            "session.import_s": t2 - t1,
            "session.warmup_s": t3 - t2,
            "probe_s": self.probe.loop_s(n0, len(self.probe.samples)),
        }

    def clear_caches(self) -> None:
        """Drop every cached DataFrame and pinned RDD so the next build misses
        Spark's CacheManager (a second identical build is otherwise a cache
        lookup, not a build)."""
        self.spark.catalog.clearCache()
        jsc = self.spark.sparkContext._jsc
        rdds = jsc.getPersistentRDDs()
        for rid in list(rdds.keys()):
            rdds.get(rid).unpersist(True)
        if not self.spark._jsparkSession.sharedState().cacheManager().isEmpty():
            raise RuntimeError("CacheManager still holds a plan before a cold build")

    # -- one timed call ---------------------------------------------- #

    def call(self, p: Pass, name: str, layer: str, fn):
        """Run ``fn`` as one timed call of ``layer``, tagged with a job group
        so the event log can attribute its jobs and tasks."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{layer}@{p.idx}", name)
        load = _loadavg()
        c0 = _cpu_times()
        cpu0 = _cpu_s() - self.probe.cpu_s
        n0 = len(self.probe.samples)
        t0 = time.monotonic()
        try:
            out = fn()
        finally:
            wall = time.monotonic() - t0
            cpu = _cpu_s() - self.probe.cpu_s - cpu0
            c1 = _cpu_times()
            sc._jsc.clearJobGroup()
            d = [b - a for a, b in zip(c0, c1)]
            tot = max(1, sum(d))
            storage = sum(
                i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
            )
            p.calls.append(
                Call(
                    name, layer, wall, cpu, load,
                    self.probe.loop_s(n0, len(self.probe.samples)),
                    100.0 * d[7] / tot if len(d) > 7 else 0.0,
                    100.0 * d[4] / tot,
                    int(sc._jsc.getPersistentRDDs().size()),
                    storage / (1 << 20),
                )
            )
        return out

    # -- one pass ---------------------------------------------------- #

    def run_pass(self, idx: int) -> Pass:
        """One pass: the workload's calls in order, each output kept for the
        reference check. A call that raises is counted and the pass goes on."""
        from linkgraph.algos.components import connected_components
        from linkgraph.algos.lpa import label_propagation_communities
        from linkgraph.algos.pagerank import pagerank
        from linkgraph.algos.triangles import triangles
        from linkgraph.exceptions import PowerIterationFailedConvergence
        from linkgraph.graph import SparkGraph
        from linkgraph.io.pages import build_link_graph
        from linkgraph.state import CheckpointStore

        spark, tol = self.spark, self.wl.pr_tol
        self.clear_caches()
        p = Pass(idx)
        ckpt = os.path.join(self.work, "ckpt", f"pass{idx}")
        g = None

        def collect(name, layer, fn, key, column):
            pdf = self.call(p, name, layer, lambda: fn().toPandas())
            p.outputs[key] = dict(zip(pdf["id"].tolist(), pdf[column].tolist()))

        def build():
            gr = build_link_graph(spark.read.parquet(self.pages_path), num_partitions=SLOTS)
            gr.edges = gr.edges.persist()
            gr.edges.count()
            return gr

        def crash(store):
            half = max(1, self.pr_iterations // 2)
            try:
                pagerank(g, tol=tol, max_iter=half, checkpoint_store=store)
            except PowerIterationFailedConvergence:
                return
            raise RuntimeError(f"pagerank converged within max_iter={half}")

        for step in self.wl.steps:
            try:
                if step == "build":
                    g = self.call(p, "build", "io.pages", build)
                    p.outputs["edges"] = g.edges.select("src", "dst", "weight").toPandas()
                elif step == "pagerank":
                    collect("pagerank", "algos.pagerank", lambda: pagerank(g, tol=tol), "pagerank", "rank")
                elif step == "pagerank_durable":
                    store = CheckpointStore(ckpt, "pagerank", spark)
                    self.call(p, "pagerank_crash", "algos.pagerank", lambda: crash(store))
                    collect("pagerank_resume", "algos.pagerank",
                            lambda: pagerank(g, tol=tol, checkpoint_store=store, resume=True),
                            "pagerank", "rank")
                elif step == "cc_crawl":
                    collect("cc", "algos.components",
                            lambda: connected_components(g.undirected_view()), "cc_crawl", "component")
                elif step == "cc_chains_durable":
                    store = CheckpointStore(ckpt, "components", spark)
                    chains = SparkGraph(spark.read.parquet(self.chains_path), directed=False)
                    collect("cc", "algos.components",
                            lambda: connected_components(chains, checkpoint_store=store),
                            "cc_chains", "component")
                elif step == "triangles":
                    collect("triangles", "algos.triangles",
                            lambda: triangles(g.undirected_view()), "triangles", "triangles")
                elif step == "lpa":
                    collect("lpa", "algos.lpa",
                            lambda: label_propagation_communities(g.undirected_view(), coloring="reference"),
                            "lpa", "label")
            except Exception as exc:  # boundary: record, count as failed, go on
                p.errors.append(f"{step}: {type(exc).__name__}: {exc}")
        if os.path.isdir(ckpt):
            p.state = _store_stats(ckpt)
            shutil.rmtree(ckpt, ignore_errors=True)
        if g is not None:
            g.edges.unpersist()
        return p

    def run_passes(self, seconds: float) -> list:
        """Passes until ``seconds`` are spent; never start one that would end
        past the window (judged by the previous pass), and run at least one."""
        passes = []
        t0 = time.monotonic()
        while True:
            ts = time.monotonic()
            passes.append(self.run_pass(len(self.passes)))
            self.passes.append(passes[-1])
            last = time.monotonic() - ts
            if time.monotonic() - t0 + last > seconds:
                return passes

    # -- reference ---------------------------------------------------- #

    def counts(self) -> None:
        """Node ids as Spark's ``xxhash64(url)`` gives them (computed here,
        not by the system), the reference edge list in those ids, and the
        PageRank iterations the reference rule takes."""
        import oracle
        from pyspark.sql import functions as F

        pdf = self.spark.read.parquet(self.pages_path).select(
            F.xxhash64("url").alias("id"), "url").toPandas()
        self.ids = dict(zip(pdf["url"], pdf["id"].tolist()))
        self.ref_links = {(self.ids[s], self.ids[d]): w for (s, d), w in self.links.items()}
        self.ref_graph = oracle.crawl_digraph(list(self.ids.values()), self.ref_links)
        self.pr_iterations = oracle.pagerank_iterations(self.ref_graph, self.wl.pr_tol)

    def cc_rounds(self) -> int:
        """Rounds the min-label CC loop takes on the workload's CC input."""
        import oracle

        edges = self.ref_links if "cc_crawl" in self.wl.steps else self.chain_edges
        return oracle.star_rounds({(min(e), max(e)) for e in edges})

    def reference(self) -> None:
        """Reference results from networkx."""
        import networkx as nx

        import oracle

        self.ref_undirected = oracle.undirected(self.ref_graph)
        self.ref = {}
        steps = set(self.wl.steps)
        self.ref["pagerank"] = oracle.pagerank(self.ref_graph, tol=self.wl.pr_tol)
        if "cc_crawl" in steps:
            self.ref["cc_crawl"] = oracle.components(self.ref_undirected)
        if "cc_chains_durable" in steps:
            ch = nx.Graph()
            ch.add_edges_from(self.chain_edges)
            self.ref["cc_chains"] = oracle.components(ch)
        if "triangles" in steps:
            self.ref["triangles"] = nx.triangles(self.ref_undirected)
        if "lpa" in steps:
            self.ref["lpa"] = oracle.lpa(self.ref_undirected)

    def check(self, p: Pass) -> list:
        """Names of the outputs of ``p`` that do not match the reference."""
        import oracle

        bad = []
        for key, got in p.outputs.items():
            if key == "edges":
                pairs = zip(got["src"].tolist(), got["dst"].tolist())
                ok = len(got) == len(self.ref_links) and dict(
                    zip(pairs, got["weight"].tolist())
                ) == self.ref_links
            elif key == "pagerank":
                ok = oracle.ranks_match(got, self.ref[key])
            elif key in ("cc_crawl", "cc_chains", "lpa"):
                ok = oracle.partition(got) == self.ref[key]
            elif key == "triangles":
                ok = got == self.ref[key]
            if not ok:
                bad.append(key)
        return bad


def _store_stats(root: str) -> dict:
    commits, commit_ms, size = 0, 0, 0
    for m in glob.glob(os.path.join(root, "*", "iter=*", "_MANIFEST.json")):
        with open(m) as f:
            commit_ms += json.load(f)["commit_wall_ms"]
        commits += 1
    rounds = len(glob.glob(os.path.join(root, "components", "iter=*", "_MANIFEST.json")))
    for dirpath, _, files in os.walk(root):
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return {"commits": commits, "commit_s": commit_ms / 1e3, "bytes_mb": size / (1 << 20), "cc_rounds": rounds}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _per_pass(passes: list, pick, attr: str) -> float:
    """Median over passes of the summed ``attr`` of the calls ``pick`` keeps."""
    return _median([sum(getattr(c, attr) for c in p.calls if pick(c)) for p in passes])


# End-to-end metrics on the result line; ``end_to_end`` computes more, which
# are printed but not gated because they spread too much on a shared host.
GATED = ("setup_s", "build_cpu_s", "pagerank_meps", "cc_cpu_s", "workload_cpu_s", "peak_rss_mb")


def end_to_end(b: Bench, passes: list) -> dict:
    """End-to-end metrics. Per-step times are CPU seconds the engine spends
    (driver, JVM and Python workers), which stay steadier on a shared host
    than wall times. Each call's time is scaled by the share of the host's
    CPU time that was not stolen across it: co-tenants that steal time also
    slow the threads they share cores with, and the scaled times spread less.
    Every time is then scaled to the reference host speed by the probe
    (``PROBE_REF_S`` over the probe's mean time across that call, or across
    set-up). NOTES.md has the data."""

    def scaled(pick, attr):
        return _median([
            sum(
                getattr(c, attr) * (1 - c.steal_pct / 100) * PROBE_REF_S / c.probe_s
                for c in p.calls
                if pick(c)
            )
            for p in passes
        ])

    setup_speed = PROBE_REF_S / b.setup["probe_s"]
    m = {
        "setup_s": (setup_speed * b.setup["setup_s"], "s"),
        "setup_cpu_s": (setup_speed * b.setup["setup_cpu_s"], "s"),
        "build_cpu_s": (scaled(lambda c: c.layer == "io.pages", "cpu_s"), "s"),
        "pagerank_cpu_s": (scaled(lambda c: c.layer == "algos.pagerank", "cpu_s"), "s"),
        "cc_cpu_s": (scaled(lambda c: c.layer == "algos.components", "cpu_s"), "s"),
        "workload_cpu_s": (scaled(lambda c: True, "cpu_s"), "s"),
        "workload_wall_s": (scaled(lambda c: True, "wall_s"), "s"),
    }
    m["pagerank_meps"] = (
        len(b.ref_links) * b.pr_iterations / m["pagerank_cpu_s"][0] / 1e6, "Medges/cpu_s"
    )
    m["peak_rss_mb"] = (b.peak_rss_mb, "MB")
    m["host_probe_s"] = (b.probe.loop_s(), "s")
    return m


WALL_TIMES = {
    "build_s": {"build"},
    "pagerank_s": {"pagerank", "pagerank_crash", "pagerank_resume"},
    "resume_s": {"pagerank_resume"},
    "cc_s": {"cc"},
    "triangles_s": {"triangles"},
    "lpa_s": {"lpa"},
}


def wall_times(passes: list) -> dict:
    """Wall time of each step the workload has, median over passes; printed
    beside the result line, and per layer in traced runs."""
    ran = {c.name for p in passes for c in p.calls}
    m = {
        key: (_per_pass(passes, lambda c, n=names: c.name in n, "wall_s"), "s")
        for key, names in WALL_TIMES.items()
        if names & ran
    }
    m["workload_s"] = (_per_pass(passes, lambda c: True, "wall_s"), "s")
    return m


def per_layer(b: Bench, traced: list, untraced: list) -> dict:
    """Per-layer metrics of the traced passes (median over them), read from
    the event log, plus the tracing overhead against ``untraced``."""
    import eventlog

    (log,) = glob.glob(os.path.join(b.event_dir, "*"))
    with open(log) as f:
        groups = eventlog.parse(f)
    out = {}
    for layer in LAYERS:
        per_pass = [
            eventlog.layer_metrics(groups[key], p.layer_wall(layer), SLOTS)
            for p in traced
            if (key := f"{layer}@{p.idx}") in groups
        ]
        for fld in LAYER_FIELDS:
            out[f"{layer}.{fld}"] = _median([d[fld] for d in per_pass])
    out["algos.pagerank.iterations"] = b.pr_iterations
    durable = [p.state for p in traced if p.state]
    out["algos.components.rounds"] = (
        _median([s["cc_rounds"] for s in durable]) if durable else b.cc_rounds()
    )
    calls = [c for p in traced for c in p.calls]
    out["iterutils.pinned_rdds"] = max(c.pinned_rdds for c in calls)
    out["iterutils.storage_mb"] = max(c.storage_mb for c in calls)
    for k in ("commits", "commit_s", "bytes_mb"):
        out[f"state.{k}"] = _median([s[k] for s in durable]) if durable else 0
    out["session.start_s"] = b.setup["session.start_s"]
    out["session.warmup_s"] = b.setup["session.warmup_s"]
    out["trace.untraced_workload_s"] = _per_pass(untraced, lambda c: True, "wall_s")
    out["trace.traced_workload_s"] = _per_pass(traced, lambda c: True, "wall_s")
    out["trace.overhead_s"] = out["trace.traced_workload_s"] - out["trace.untraced_workload_s"]
    return out


PER_LAYER_UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
    "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "driver_s": "s", "slot_util": "ratio", "task_skew": "ratio", "iterations": "count",
    "rounds": "count", "pinned_rdds": "count", "storage_mb": "MB", "commits": "count",
    "commit_s": "s", "bytes_mb": "MB", "start_s": "s", "warmup_s": "s",
    "untraced_workload_s": "s", "traced_workload_s": "s", "overhead_s": "s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "linkgraph", "__init__.py")):
        print("perfbench: run from a checkout that contains linkgraph/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))

    b = Bench(args, root)
    shutil.rmtree(b.work, ignore_errors=True)
    os.makedirs(b.tmp)
    os.environ["TMPDIR"] = b.tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    try:
        return _run(b, args)
    finally:
        b.probe.stop()
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(b.work))  # only if no other run uses it
        except OSError:
            pass


def _run(b: Bench, args) -> int:
    b.pre_s = time.monotonic() - PROCESS_START
    cpu0 = _cpu_s()
    b.make_inputs()
    b.untimed_cpu_s = _cpu_s() - cpu0
    b.probe.start()
    b.set_up()
    b.counts()

    if args.trace:
        untraced = b.run_passes(args.seconds / 2)
        # A new JVM and the same warm-up, so the traced passes start with the
        # JIT history the untraced ones had (JIT code outlives spark.stop()).
        b.stop()
        b.start_session(event_log=True)
        b.warm_up()
        traced = b.run_passes(args.seconds / 2)
        b.spark.stop()  # flushes the event log
    else:
        untraced = b.run_passes(args.seconds)
    b.peak_rss_mb = (
        _vm_hwm_kb(b.jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    ) / 1024.0
    b.probe.stop()

    b.reference()
    attempted = failed = 0
    for p in b.passes:
        bad = b.check(p)
        attempted += len(p.calls)
        failed += len(p.errors) + len(bad)
        for e in p.errors:
            print(f"pass {p.idx}: error {e}")
        for k in bad:
            print(f"pass {p.idx}: {k} does not match the reference")

    e2e = end_to_end(b, untraced)
    session = {k: (v, "s") for k, v in b.setup.items() if k.startswith("session.")}
    for name, (val, unit) in {**e2e, **session, **wall_times(untraced)}.items():
        print(f"{args.workload} {name} = {val:.4f} {unit}")
    print(f"{args.workload} ops_failed = {failed}/{attempted}")
    for p in b.passes:
        for c in p.calls:
            print(
                f"pass {p.idx} {c.name:16s} {c.wall_s:8.3f} s cpu={c.cpu_s:7.2f} s  load1={c.load1:.2f} "
                f"steal={c.steal_pct:.1f}% iowait={c.iowait_pct:.1f}% probe={c.probe_s * 1e3:.2f}ms "
                f"pinned_rdds={c.pinned_rdds} storage_mb={c.storage_mb:.2f}"
            )
    if args.trace:
        pl = per_layer(b, traced, untraced)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k.rsplit(".", 1)[1]]} for k, v in pl.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
