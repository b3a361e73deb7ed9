"""End-to-end and per-layer benchmark of the cpx_etl_spark engine.

    python3 perfbench/run.py --workload etl_surface --seed 1 --seconds 20 --trace 0

One run is one fresh driver process on ``local[N]`` (N = min(2, cores))
over the corpus in ``perfbench/data/sf0.01``. It starts the session,
builds the workload's declared standing indexes, makes an untimed first
call of every query (lazy index builds land here), then runs timed
passes as a closed loop with one client: each query in turn, forced
with a ``noop`` write, in an order the seed permutes, until
``--seconds`` have been measured; the first of them is a warm-up the
medians leave out. Afterwards it checks each query's last
output against its DuckDB oracle's digest (``oracles.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, and writes
the spans to ``.perfbench/traces/``. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
DEFAULT_DATA = os.path.join(HERE, "data", "sf0.01")
CLK_TCK = os.sysconf("SC_CLK_TCK")
# Two task threads on a 4-vCPU host. With four, a task thread, its Python
# worker and the driver's own threads outnumbered the cores, and an
# index_serve pass took 4.3-6.9 s, 15-30% apart within one run; with two it
# took 3.1-3.9 s, a few percent apart. Neither workload keeps two cores busy.
LOCAL_CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
MICRO_DOCS = 2000
MIN_PASSES = 2
RETAINED_JOBS = 100  # jobs and stages each
RETAINED_EXECUTIONS = 10
# No hsperfdata file in the system /tmp. C1 only: in a JVM under a minute
# old, C2 compiled on 1-7 s of CPU per index_serve pass next to the busy
# cores, so the timed passes raced the compiler; C1 alone uses under 1 s.
JVM_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
HEAP_MAX_GCS = 16


def boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name: [0] is the
    state, [1] the parent pid, [11:15] user, system and reaped children's
    CPU ticks, [19] the start time in ticks since boot."""
    with open(path, encoding="ascii", errors="replace") as fh:
        raw = fh.read()
    return raw[raw.rindex(")") + 2:].split()


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, int]]]:
    """ppid -> child pids, and pid -> (state, CPU ticks of the process
    plus its reaped children), from /proc."""
    kids: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            f = _stat(f"/proc/{entry.name}/stat")
        except OSError:
            continue
        pid = int(entry.name)
        kids.setdefault(int(f[1]), []).append(pid)
        info[pid] = (f[0], sum(int(x) for x in f[11:15]))
    return kids, info


def process_tree() -> tuple[list[int], float]:
    """This process and its descendants (the JVM and its Python
    workers), and their total CPU seconds."""
    kids, info = _proc_table()
    tree, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(kids.get(pid, ()))
    return tree, sum(info[p][1] for p in tree if p in info) / CLK_TCK


class JitCpu:
    """CPU seconds the JVM's JIT compiler threads have used. HotSpot starts
    and stops compiler threads as its queue grows and shrinks, so the last
    reading of every thread is kept and ``sample`` runs after each query
    call, before an idle thread can exit."""

    def __init__(self, pid: int):
        self.pid = pid
        self.is_compiler: dict[str, bool] = {}
        self.ticks: dict[str, int] = {}

    def sample(self) -> float:
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                if tid not in self.is_compiler:
                    with open(f"/proc/{self.pid}/task/{tid}/comm", encoding="ascii") as fh:
                        self.is_compiler[tid] = fh.read().startswith(
                            ("C1 CompilerThre", "C2 CompilerThre"))
                if self.is_compiler[tid]:
                    f = _stat(f"/proc/{self.pid}/task/{tid}/stat")
                    self.ticks[tid] = int(f[11]) + int(f[12])
            except OSError:  # the thread exited
                continue
        return sum(self.ticks.values()) / CLK_TCK


def process_start_boot_s() -> float:
    return int(_stat("/proc/self/stat")[19]) / CLK_TCK


def summary(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it, and the sample count."""
    n = len(values)
    out = f"median {statistics.median(values):.6g}"
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")[round(p * 10) - 1]
            return f"{out}, p{p:g} {q:.6g} (n={n})"
    return f"{out} (n={n}; too few samples for a tail percentile)"


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def isolate(run_dir: str) -> None:
    """Point every scratch and cache location at this run's own
    directory, so no index cache or spill survives between runs, and let
    the Python workers import the program."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_INDEX_MATERIALIZE", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        CPX_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # the JVMs' hsperfdata files would go to the system /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


class Bench:
    def __init__(self, args, workload):
        self.args = args
        self.workload = workload
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.last_dfs: dict[str, object] = {}
        self.extra: dict[str, tuple[float, str]] = {}

    # -- helpers -------------------------------------------------------
    def resolve(self) -> None:
        if self.tracer:
            self.tracer.resolve()

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}", file=sys.stderr)

    def call(self, name: str, traced: bool, **attrs):
        """One query call: build the DataFrame, force it with a noop
        write. Returns (DataFrame or None, wall seconds)."""
        self.attempted += 1
        fn = self.queries[name]
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("query", query=name, **attrs):
                    with self.tracer.span("queries.construct"):
                        df = fn(self.spark, self.sf_dir)
                    with self.tracer.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with self.tracer.span("spark.action"):
                        df.write.format("noop").mode("overwrite").save()
            else:
                df = fn(self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failing query is counted, the run goes on
            self.fail(f"{name} raised:\n{traceback.format_exc()}")
            return None, time.perf_counter() - t0
        return df, time.perf_counter() - t0

    def heap_live_mb(self) -> float:
        """JVM heap in use after full GCs, once the outputs are checked and
        released. Each GC lets Spark's cleaner thread drop broadcasts and
        shuffles that only the next GC can free, so the reading falls over
        several GCs (170 -> 100 -> 87 -> 71 MB on etl_surface); collect
        until it has held for three GCs."""
        self.last_dfs.clear()
        gc.collect()  # drop py4j references first so the JVM can free them
        bean = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings: list[float] = []
        while len(readings) < HEAP_MAX_GCS:
            bean.gc()
            readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
            if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 0.5:
                break
            time.sleep(0.5)
        return readings[-1]

    def block_store_mb(self) -> float:
        status = self.spark._jsc.sc().getExecutorMemoryStatus()
        it, used = status.values().iterator(), 0
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        return used / 2**20

    # -- phases --------------------------------------------------------
    def start_session(self) -> None:
        from cpx_etl_spark.session import get_spark

        cores = min(LOCAL_CORES, os.cpu_count() or 1)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "cpx-etl-perfbench", master=f"local[{cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JVM_OPTIONS}"
                ),
                "spark.ui.showConsoleProgress": "false",
                # Cap the status store Spark keeps for jobs, stages and SQL
                # executions, so that it is full after about three passes
                # and heap_live_mb does not grow with the number of passes
                # a run fits in. The tracer reads job groups from
                # it after every set-up call and every pass, and none of
                # them runs half as many jobs as it keeps.
                "spark.ui.retainedJobs": str(RETAINED_JOBS),
                "spark.ui.retainedStages": str(RETAINED_JOBS),
                "spark.sql.ui.retainedExecutions": str(RETAINED_EXECUTIONS),
            },
        )
        self.session_s = time.perf_counter() - t0
        self.gateway = self.spark.sparkContext._gateway
        self.jit = JitCpu(self.gateway.proc.pid)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark.sparkContext,
                                 f"{self.args.workload}-{self.args.seed}-{os.getpid()}")
            self.tracer.add("session.start", t0, t0 + self.session_s)

    def set_up(self) -> None:
        from cpx_etl_spark.queries import load_registry

        self.queries, _ = load_registry()
        self.sf_dir = self.args.data
        t0 = time.perf_counter()
        for target in self.workload.builders:
            module, fn = target.split(":")
            with self.span("setup.index_build", builder=fn):
                getattr(importlib.import_module(module), fn)(self.spark, self.sf_dir)
            self.resolve()
        self.index_build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for name in self.order():
            with self.span("setup.cold_call", query=name):
                self.call(name, traced=False)
            self.resolve()
        self.cold_call_s = time.perf_counter() - t0

    def order(self) -> list[str]:
        names = list(self.workload.queries)
        self.rng.shuffle(names)
        return names

    def timed_passes(self) -> list[dict]:
        """Closed loop, one client: whole passes until --seconds are
        measured, and at least ``MIN_PASSES``. The deadline is checked only
        between passes, so every pass is complete. With tracing, untraced
        and traced passes alternate, starting untraced."""
        need = MIN_PASSES + 2 if self.tracer else MIN_PASSES
        passes: list[dict] = []
        deadline = time.perf_counter() + self.args.seconds
        while len(passes) < need or time.perf_counter() < deadline:
            traced = bool(self.tracer) and len(passes) % 2 == 1
            passes.append(self.one_pass(len(passes), traced))
        return passes

    def cpu_s(self) -> float:
        """CPU seconds of the driver, the JVM and its Python workers, less
        the JIT compiler's: in a JVM this young, compilation is warm-up
        whose amount per pass differs from run to run."""
        return process_tree()[1] - self.jit.sample()

    def layer_spans(self):
        from cpx_etl_spark.plans import mapping, pipeline, views
        from cpx_etl_spark.sources import registry
        from spans import layer_spans

        return layer_spans(self.tracer, [
            ("sources.load", registry, "load_table"),
            ("plans.compile", mapping, "apply_mapping"),
            ("plans.compile", views.ViewCatalog, "apply_view"),
            ("plans.compile", pipeline, "compile_pipeline"),
        ])

    def one_pass(self, k: int, traced: bool) -> dict:
        times: dict[str, float] = {}
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        with self.layer_spans() if traced else nullcontext():
            for name in self.order():
                df, times[name] = self.call(name, traced, **({"pass": k} if traced else {}))
                self.jit.sample()
                if df is not None:
                    self.last_dfs[name] = df
        wall = time.perf_counter() - t0
        out = {"k": k, "traced": traced, "wall_s": wall, "cpu_s": self.cpu_s() - cpu0,
               "times": times}
        if self.tracer:
            self.tracer.resolve()
            out["block_store_mb"] = self.block_store_mb()
        return out

    def verify(self) -> None:
        """Compare each query's last output with its oracle digest."""
        from oracles import digest, load_digests

        scale = os.path.basename(os.path.normpath(self.sf_dir))
        expected = load_digests().get(scale, {})
        for name in self.workload.queries:
            want = expected.get(name)
            df = self.last_dfs.get(name)
            if want is None or df is None:
                self.fail(f"{name}: no oracle digest for {scale}" if want is None
                          else f"{name}: no output to check")
                continue
            try:
                pdf = df.toPandas()
            except Exception:
                self.fail(f"{name} raised while collecting:\n{traceback.format_exc()}")
                continue
            got = digest(pdf)
            if got != want["sha256"]:
                self.fail(f"{name}: output differs from its oracle "
                          f"({len(pdf)} rows, oracle {want['rows']})")

    def micro(self) -> dict[str, float]:
        """Driver-side costs measured the same way on every workload: the
        plans layer's share of building q_pipeline_e2e and
        q_transform_mapping (no action), and the per-row cost of the XSLT
        chain q_xsl_execute runs and of the badgerfish element
        conversion, over fixed orders. Each is the median of three."""
        import xml.etree.ElementTree as ET

        import pyarrow.parquet as pq

        from cpx_etl_spark.functions.xslt import compile_stylesheet, xslt_pipeline
        from cpx_etl_spark.plans.xsl_chain import load_stylesheet_chain
        from cpx_etl_spark.queries.etl import _write_xsl_exec_control
        from cpx_etl_spark.sources.xml_badgerfish import element_to_badgerfish

        orders = pq.read_table(
            os.path.join(self.sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"],
        ).slice(0, MICRO_DOCS).to_pylist()
        docs = [
            f'<order id="{o["o_orderkey"]}"><f n="status">{o["o_orderstatus"]}</f>'
            f'<f n="pri">{o["o_orderpriority"]}</f>'
            f'<f n="cents">{math.floor(o["o_totalprice"] * 100)}</f></order>'
            for o in orders
        ]
        chain = load_stylesheet_chain(_write_xsl_exec_control())
        elems = [ET.fromstring(d) for d in docs]
        plans, xslt, bf = [], [], []
        for _ in range(3):
            with self.layer_spans(), self.tracer.span("plans.build") as build:
                for name in ("q_pipeline_e2e", "q_transform_mapping"):
                    self.queries[name](self.spark, self.sf_dir)
            plans.append(sum(s["end"] - s["start"] for s in self.tracer.spans
                             if s["parent"] == build["id"] and s["name"] == "plans.compile"))
            with self.tracer.span("functions.xslt", rows=len(docs)) as s:
                fns = [compile_stylesheet(src) for src in chain]
                for d in docs:
                    xslt_pipeline(d, fns)
            xslt.append((s["end"] - s["start"]) / len(docs) * 1e6)
            with self.tracer.span("sources.xml_badgerfish", rows=len(elems)) as s:
                for e in elems:
                    element_to_badgerfish(e)
            bf.append((s["end"] - s["start"]) / len(elems) * 1e6)
        self.tracer.resolve()
        return {"plans.compile_s": statistics.median(plans),
                "functions.xslt_row_us": statistics.median(xslt),
                "sources.xml_badgerfish_row_us": statistics.median(bf)}

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started have exited."""
        tree, _ = process_tree()
        proc = getattr(getattr(self, "gateway", None), "proc", None)
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        if getattr(self, "gateway", None) is not None:
            self.gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        others = set(tree) - {os.getpid()}
        deadline = time.monotonic() + 30
        while others and time.monotonic() < deadline:
            _, info = _proc_table()
            others = {p for p in others if p in info and info[p][0] != "Z"}
            time.sleep(0.1)
        for pid in others:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- the run -------------------------------------------------------
    def run(self) -> dict:
        start_boot = process_start_boot_s()
        try:
            self.start_session()
            self.set_up()
            setup_s = boot_clock() - start_boot
            passes = self.timed_passes()
            self.verify()
            heap = self.heap_live_mb()
            micro = self.micro() if self.tracer else {}
        finally:
            self.stop()
        return self.metrics(passes, setup_s, heap, micro)

    def metrics(self, passes, setup_s, heap, micro) -> dict:
        # Pass 0 follows the cold calls and is still warming up; the
        # medians are over the untraced passes after it.
        plain = [p for p in passes if not p["traced"] and p["k"] > 0]
        per_query = {q: [p["times"][q] for p in plain] for q in self.workload.queries}
        self.report = {
            "pass_s": [p["wall_s"] for p in plain],
            "query_s": [t for ts in per_query.values() for t in ts],
            "pass_cpu_s": [p["cpu_s"] for p in plain],
            "per_query": per_query,
        }
        if not self.tracer:
            # CPU seconds per pass scale with the host's speed as wall
            # time does, and did not repeat within a tenth across runs;
            # CPU per wall second of the same pass did. pass_cpu_s =
            # pass_s * pass_cores, so gating both bounds CPU per pass.
            self.extra = {"pass_cpu_s": (statistics.median(self.report["pass_cpu_s"]), "s")}
            return {
                "pass_s": (statistics.median(self.report["pass_s"]), "s"),
                "query_geomean_s": (geomean([statistics.median(ts) for ts in per_query.values()]), "s"),
                "pass_cores": (statistics.median(p["cpu_s"] / p["wall_s"] for p in plain), "cores"),
                "setup_s": (setup_s, "s"),
                "heap_live_mb": (heap, "MB"),
            }
        return self.layer_metrics(passes, micro)

    def layer_metrics(self, passes, micro) -> dict:
        spans = self.tracer.finished()
        by_id = {s["id"]: s for s in spans}

        def outermost(s: dict) -> bool:
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == s["name"]:
                    return False
                p = by_id[p]["parent"]
            return True

        def pass_of(s: dict):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
            return s.get("pass")

        traced = [p for p in passes if p["traced"]]
        rows = {p["k"]: {} for p in traced}
        for s in spans:
            k = pass_of(s)
            if k not in rows:
                continue
            row = rows[k]
            name = s["name"]
            if name == "sources.load" and outermost(s):
                row["sources.load_s"] = row.get("sources.load_s", 0.0) + s["dur_s"]
            if name == "sources.load":
                row["load_jobs"] = row.get("load_jobs", 0) + s["jobs"]
            if name in ("queries.construct", "spark.plan", "spark.action"):
                row[f"{name}_s"] = row.get(f"{name}_s", 0.0) + s["dur_s"]
            if name in ("queries.construct", "spark.action"):
                row[f"{name}_jobs"] = row.get(f"{name}_jobs", 0) + s["incl_jobs"]
            if name == "spark.action":
                row["stages"] = row.get("stages", 0) + s["incl_stages"]
                row["tasks"] = row.get("tasks", 0) + s["incl_tasks"]
            if name == "query":
                row["unaccounted_s"] = row.get("unaccounted_s", 0.0) + s["self_s"]

        def med(key: str) -> float:
            return statistics.median(rows[p["k"]].get(key, 0) for p in traced)

        plain_pass = statistics.median(self.report["pass_s"])
        traced_pass = statistics.median(p["wall_s"] for p in traced)
        self.write_trace(spans)
        # Printed, not declared: no index builds on some workloads, and a
        # difference or a remainder that sits near 0.
        self.extra = {
            "setup.index_build_s": (self.index_build_s, "s"),
            "trace.overhead_s": (traced_pass - plain_pass, "s"),
            "trace.unaccounted_s": (med("unaccounted_s"), "s"),
        }
        return {
            "session.start_s": (self.session_s, "s"),
            "setup.cold_call_s": (self.cold_call_s, "s"),
            "sources.load_s": (med("sources.load_s"), "s"),
            "sources.load_jobs": (med("load_jobs"), "count"),
            "plans.compile_s": (micro["plans.compile_s"], "s"),
            "functions.xslt_row_us": (micro["functions.xslt_row_us"], "us"),
            "sources.xml_badgerfish_row_us": (micro["sources.xml_badgerfish_row_us"], "us"),
            "queries.construct_s": (med("queries.construct_s"), "s"),
            "queries.construct_jobs": (med("queries.construct_jobs"), "count"),
            "spark.plan_s": (med("spark.plan_s"), "s"),
            "spark.action_s": (med("spark.action_s"), "s"),
            "spark.action_jobs": (med("spark.action_jobs"), "count"),
            "spark.stages": (med("stages"), "count"),
            "spark.tasks": (med("tasks"), "count"),
            "spark.block_store_mb": (statistics.median(p["block_store_mb"] for p in traced), "MB"),
            "trace.pass_s": (traced_pass, "s"),
        }

    def write_trace(self, spans: list[dict]) -> None:
        d = os.path.join(OUT_DIR, "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.tracer.run_id, "spans": spans}, fh, indent=0)
        print(f"trace: {os.path.relpath(path, ROOT)} ({len(spans)} spans)")


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="corpus directory (default: perfbench/data/sf0.01)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    if not os.path.isfile(os.path.join(ROOT, "cpx_etl_spark", "session.py")):
        print(f"perfbench: the program (cpx_etl_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(args.data):
        print(f"perfbench: no corpus at {args.data}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT_DIR)
    try:
        isolate(run_dir)
        bench = Bench(args, WORKLOADS[args.workload])
        metrics = bench.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(bench.report['pass_s'])} untraced passes after the warm-up pass: "
          f"{', '.join(f'{t:.3f}' for t in bench.report['pass_s'])} s")
    print(f"  set-up: session {bench.session_s:.3f} s, index builds {bench.index_build_s:.3f} s, "
          f"cold calls {bench.cold_call_s:.3f} s")
    for q, ts in bench.report["per_query"].items():
        print(f"  {q}: {', '.join(f'{t:.3f}' for t in ts)} s")
    for key in ("pass_s", "query_s", "pass_cpu_s"):
        if bench.report[key]:
            print(f"  {key} samples: {summary(bench.report[key])} s")
    for name, (value, unit) in {**metrics, **bench.extra}.items():
        print(f"  {name}: {value:.6g} {unit}")
    print(f"  error_rate: {bench.failed / bench.attempted:.6g} ratio "
          f"({bench.failed} failed of {bench.attempted} calls)")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
