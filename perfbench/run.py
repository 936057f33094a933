"""imc-spark benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload traclus_full --seed 42 \
        --seconds 1 --trace 0

Starts a Spark session sized to the box and, meanwhile, makes the
workload's inputs and the references its checks use from the seed
(set-up), then times passes
over the workload's ops until --seconds have passed, at least one. The
first pass runs in a fresh JVM, as every spark-submit run of the pipeline
does. Afterwards every output is checked; each op and each check counts
as one operation. The last stdout line is one JSON object {"correct",
"attempted", "failed", "metrics"}: the end-to-end metrics with --trace 0,
the per-layer metrics of the traced passes with --trace 1. perfbench/README.md
lists the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# two task threads: every op here is bound by per-job overhead, and on a
# shared 4-core box four task threads plus the JIT, GC and Python workers
# oversubscribe the cores and make timings swing run to run
MAX_CORES = 2


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, which takes the Python
    workers down with it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()      # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def start_spark(cores: int, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName("imc-perfbench")
         .config("spark.driver.memory", "2g")
         # C1 only: in a one-minute driver, C2 compilation was ~40% of
         # all CPU seconds (45 of 120 s) and varied from run to run; with
         # C1 the pass was no slower and cpu_s is the work itself
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData "
                 f"-XX:TieredStopAtLevel=1")
         .config("spark.local.dir", f"{WORK}/spark-local")
         .config("spark.sql.warehouse.dir", f"{WORK}/warehouse")
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{event_log}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat fields from field 3 (state) on: field n is [n-3]."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def proc_tree(root: int) -> list[int]:
    """`root` and every live process under it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(d))[1]),
                                    []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and every process under it,
    counting exited workers through their parents' cutime/cstime."""
    ticks = 0
    for pid in proc_tree(root):
        try:
            ticks += sum(int(x) for x in _stat_fields(pid)[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak over time of the summed resident memory of the driver JVM and
    every process under it (the Python workers), sampled from /proc by a
    background thread while a `with` block runs."""

    PERIOD_S = 0.2

    def __init__(self, root: int):
        self.root = root
        self.page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss_mb(self) -> float:
        pages = 0
        for pid in proc_tree(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return pages * self.page_kb / 1024

    def _run(self):
        while not self._stop.wait(self.PERIOD_S):
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())

    def __enter__(self):
        self.peak_mb = self._tree_rss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self._tree_rss_mb())


class Runner:
    """Runs a workload's passes and checks, counting operations."""

    def __init__(self, wl, tracer=None):
        self.wl, self.tracer = wl, tracer
        self.attempted = 0
        self.failed = 0
        self.roots = []          # the traced passes' root spans
        self.op_s: dict[str, list[float]] = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}", file=sys.stderr)

    def _span(self, name: str, kind: str):
        return self.tracer.span(name, kind) if self.tracer else nullcontext()

    def sink(self, key: str, df):
        """Write an op's result to parquet, as the pipeline writes every
        stage, and return the written table."""
        path = os.path.join(self.wl.out, key)
        with self._span(key, "exec"):
            df.write.mode("overwrite").parquet(path)
        return self.wl.spark.read.parquet(path)

    def run_pass(self) -> float:
        """Every op once, into an empty output directory. Returns wall
        seconds."""
        self.wl.reset()
        t0 = time.perf_counter()
        with self._span("pass", "pass") as root:
            for op in self.wl.ops():
                self.attempted += 1
                t_op = time.perf_counter()
                try:
                    with self._span(op.key, "op"):
                        op.run(self.sink)
                except Exception:
                    self._fail(f"{op.key} raised\n" + traceback.format_exc())
                    continue
                self.op_s.setdefault(op.key, []).append(
                    time.perf_counter() - t_op)
        if root is not None:
            self.roots.append(root)
        return time.perf_counter() - t0

    def run_checks(self) -> None:
        for name, check in self.wl.checks():
            self.attempted += 1
            try:
                ok = check()
            except Exception:
                self._fail(f"check '{name}' raised\n" + traceback.format_exc())
                continue
            if not ok:
                self._fail(f"check '{name}' failed")


def layer_metrics(runner: Runner, event_log: str, rows_out: dict) -> dict:
    """Every per-layer metric: each traced pass's figures, medians over
    the passes; metrics of layers the workload does not run read 0."""
    from perfbench.trace import parse_event_log
    from perfbench.workloads import layer_names

    tracer = runner.tracer
    groups = parse_event_log(event_log)
    scopes = {op.key: op.scope for op in runner.wl.ops()}
    passes = [tracer.figures(groups, root, scopes) for root in runner.roots]
    layer = {}
    for name in layer_names():
        if name.endswith(".rows_out"):
            layer[name] = rows_out.get(name[:-len(".rows_out")], 0)
        else:
            layer[name] = statistics.median(p.get(name, 0.0) for p in passes)
    layer["trace.overhead_s"] = tracer.overhead_s / len(passes)
    join_s = sum(layer[f"joins.{fn}.{p}_s"]
                 for fn in ("eps_join", "tile_assignments")
                 for p in ("build", "write"))
    rows = (layer["joins.eps_join.rows_out"]
            + layer["joins.tile_assignments.rows_out"])
    layer["joins.headline_rows_per_s"] = rows / join_s if join_s else 0.0
    return layer


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count" if name.endswith(("jobs", "tasks", "rows_out")) else "ratio"


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "imc", "pipeline.py")):
        print(f"perfbench: no imc package under {ROOT}; run from a full "
              f"checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Python workers import imc from the checkout and keep temp files in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    # no /tmp/hsperfdata files from the launcher or driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    event_log = os.path.join(WORK, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)

    cores = min(MAX_CORES, os.cpu_count() or 1)
    wl = WORKLOADS[args.workload](WORK, args.seed)
    phases = {}

    def prepare():
        t = time.perf_counter()
        wl.prepare()
        phases["inputs+references"] = time.perf_counter() - t

    # inputs and references are made while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        prep = pool.submit(prepare)
        t = time.perf_counter()
        spark = start_spark(cores, event_log)
        phases["spark"] = time.perf_counter() - t
        try:
            prep.result()
        except BaseException:
            stop_spark(spark)
            raise
    try:
        wl.load(spark)
        setup_s = time.perf_counter() - t_start

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer
            tracer = Tracer(spark)
            wl.wrap(tracer)
        runner = Runner(wl, tracer)
        jvm = spark.sparkContext._gateway.proc.pid
        walls = []
        cpu0 = tree_cpu_s(jvm) + time.thread_time()
        t0 = time.perf_counter()
        try:
            with RssSampler(jvm) as rss:
                while not walls or time.perf_counter() - t0 < args.seconds:
                    walls.append(runner.run_pass())
        finally:
            if tracer:
                tracer.unwrap()
        cpu_s = (tree_cpu_s(jvm) + time.thread_time() - cpu0) / len(walls)
        wall_s = statistics.median(walls)
        runner.run_checks()
        if args.trace:
            try:
                rows_out = wl.rows_out()
            except Exception:     # a failed op, already counted
                rows_out = {}
            stop_spark(spark)    # flushes the event log
            metrics = layer_metrics(runner, event_log, rows_out)
            metrics["pass.peak_rss_mb"] = rss.peak_mb
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in metrics.items()}
        else:
            metrics = {
                "cpu_s": {"value": cpu_s, "unit": "s"},
                "rows_per_cpu_s": {"value": wl.input_rows / cpu_s,
                                   "unit": "1/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        if spark.sparkContext._jsc is not None:
            stop_spark(spark)
    shutil.rmtree(WORK, ignore_errors=True)

    ratio = runner.failed / max(runner.attempted, 1)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} wall_s = {wall_s:.6g} s ; peak_rss_mb = "
          f"{rss.peak_mb:.6g} MB")
    print(f"{args.workload} setup: " + ", ".join(
        f"{k} {v:.2f} s" for k, v in phases.items()))
    print(f"{args.workload} passes: " + ", ".join(f"{w:.2f} s" for w in walls)
          + "; per op (median): " + ", ".join(
              f"{k} {statistics.median(v):.2f} s"
              for k, v in runner.op_s.items()))
    print(f"{args.workload} ops_failed_ratio = {ratio:.6g} "
          f"({runner.failed}/{runner.attempted})")
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
