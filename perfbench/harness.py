"""Process environment, Spark set-up, spans and layer timers.

Everything here measures the engine from outside: sessions come from
``session.get_spark``, layer time from wrappers around the layers' public
functions, job attribution from job descriptions and the Spark event log.
"""

from __future__ import annotations

import ctypes
import functools
import glob
import json
import os
import platform
import signal
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
TMP = os.path.join(WORK, "tmp")
CORES = len(os.sched_getaffinity(0))
HEAP = "4g"


def prepare_env() -> None:
    """Pin the engine to this box before pyspark is imported: local[nproc],
    a heap that fits a 16 GB machine, scratch space inside the checkout."""
    for d in (CACHE, TMP):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {HEAP} "
        f"--driver-java-options '-Djava.io.tmpdir={TMP} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Spans:
    """Named wall-clock intervals (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.items.append(rec)

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"run": header}) + "\n")
            for rec in sorted(self.items, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


class LoadAvg:
    """1-minute load average at start, max and end of the run, and the share
    of CPU time the hypervisor took from this machine meanwhile (steal), so
    a slow run on a busy host shows as such."""

    def __init__(self):
        self.start = os.getloadavg()[0]
        self.max = self.start
        self._cpu0 = _cpu_times()

    def sample(self) -> None:
        self.max = max(self.max, os.getloadavg()[0])

    def record(self) -> dict:
        self.sample()
        cpu = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        return {"start": self.start, "max": self.max, "end": os.getloadavg()[0],
                "cpu_steal_frac": cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else None}


def _cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user, nice, system, idle, iowait,
    irq, softirq, steal, ...); empty where there is no /proc."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


class LayerTimer:
    """Wraps a layer's public functions and sums their wall time per layer.

    Every module-level name bound to a wrapped function is patched, so a
    caller that imported the function by name is timed too. Only the
    outermost call of a layer is timed, so a layer function calling another
    is not counted twice; a pipeline calling ``tables.load`` counts toward
    both layers. Installed only for traced runs and removed after."""

    PACKAGE = "gmall_flink_realtime4_spark"

    def __init__(self):
        self.seconds: dict[str, float] = {}
        self._depth: dict[str, int] = {}
        self._undo: list[tuple[object, str, object]] = []

    def _timed(self, fn, layer: str):
        @functools.wraps(fn)
        def timed(*a, **k):
            depth = self._depth.get(layer, 0)
            self._depth[layer] = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                self._depth[layer] = depth
                if depth == 0:
                    self.seconds[layer] = (self.seconds.get(layer, 0.0)
                                           + time.perf_counter() - t0)
        return timed

    def wrap(self, module, names, layer: str) -> None:
        for name in names:
            fn = getattr(module, name)
            timed = self._timed(fn, layer)
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not mod_name.startswith(self.PACKAGE):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is fn:
                        setattr(mod, attr, timed)
                        self._undo.append((mod, attr, fn))

    def install_engine_layers(self) -> None:
        """``tables.load`` and every public pipeline builder."""
        from gmall_flink_realtime4_spark import tables
        from gmall_flink_realtime4_spark.pipelines import (
            dim_app, dwd_base_log, dwd_trade, dws,
        )

        self.wrap(tables, ["load"], "tables")
        for mod in (dim_app, dwd_base_log, dwd_trade, dws):
            self.wrap(mod, _public_functions(mod), "pipelines")

    def remove(self) -> None:
        for module, name, fn in reversed(self._undo):
            setattr(module, name, fn)
        self._undo.clear()


def _public_functions(mod) -> list[str]:
    return [
        n for n, v in vars(mod).items()
        if callable(v) and not n.startswith("_")
        and getattr(v, "__module__", None) == mod.__name__
    ]


class Sessions:
    """Session lifecycle: cold start, in-JVM restarts, event-log toggling.

    The event log is switched through JVM system properties, which every
    new SparkConf reads, so every session still comes from ``get_spark``."""

    EVENT_LOG_KEYS = ("spark.eventLog.enabled", "spark.eventLog.dir",
                      "spark.eventLog.compress", "spark.eventLog.rolling.enabled")

    def __init__(self, spans: Spans):
        self.spans = spans
        self.spark = None
        self.event_log_dir: str | None = None

    def start(self, master: str | None = None, event_log_dir: str | None = None):
        from gmall_flink_realtime4_spark.session import get_spark

        if self.spark is not None:
            self.stop()
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
        with self.spans.span("session.start"):
            if self.spark is None and _jvm() is not None:
                values = (("true", f"file:{event_log_dir}", "false", "false")
                          if event_log_dir else (None,) * 4)
                system = _jvm().java.lang.System
                for key, value in zip(self.EVENT_LOG_KEYS, values):
                    (system.setProperty(key, value) if value
                     else system.clearProperty(key))
            elif event_log_dir:
                raise RuntimeError("the first session of a run has no event log")
            self.spark = get_spark("perfbench", master=master)
        self.event_log_dir = event_log_dir
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            with self.spans.span("session.stop"):
                self.spark.stop()
            self.spark = None

    def event_log_file(self) -> str:
        files = sorted(glob.glob(os.path.join(self.event_log_dir, "*")),
                       key=os.path.getmtime)
        return files[-1]

    def jvm_rss_peak_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def _jvm():
    from pyspark import SparkContext

    return SparkContext._jvm


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so
    the Python workers a stopped JVM leaves behind become its children and
    ``end_children`` can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def end_children(grace_s: float = 30.0) -> None:
    """Stop every process this run started and wait until each has ended.

    The Spark gateway JVM exits when its stdin closes; the Python workers it
    started exit with it. Whatever is still running after ``grace_s`` gets
    SIGTERM, and SIGKILL ten seconds later. Every child is reaped, so none
    is left behind, not even as a zombie."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gateway = SparkContext and SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    if SparkContext is not None:
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline and signals:
            sig = signals.pop(0)
            for child in _descendants(os.getpid()):
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


def _descendants(root: int) -> list[int]:
    """Pids of every live process under ``root``, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def warmup(spark, data_dir: str) -> None:
    """Workload-neutral warm-up: a scan and a shuffle aggregate with a
    broadcast join. Query-specific paths warm in the untimed check pass."""
    import pyspark.sql.functions as F

    li = spark.read.parquet(f"{data_dir}/lineitem.parquet")
    nat = spark.read.parquet(f"{data_dir}/nation.parquet")
    (li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q"))
       .join(F.broadcast(nat), F.col("l_suppkey") % 25 == F.col("n_nationkey"))
       .count())


def set_up(sessions: Sessions, data_dir: str, process_start: float,
           excluded_s: float) -> dict:
    """``setup_s``: process start until the session is ready and the
    untimed warm-up is done, less the cached input generation and oracle
    answers (``excluded_s``)."""
    with sessions.spans.span("setup"):
        t0 = time.perf_counter()
        spark = sessions.start()
        t1 = time.perf_counter()
        with sessions.spans.span("session.warmup"):
            warmup(spark, data_dir)
        t2 = time.perf_counter()
    return {
        "setup_s": time.time() - process_start - excluded_s,
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }


def run_record(spark, seed: int, load: LoadAvg, workload: str) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "cores": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(),
        "loadavg_1m": load.record(),
    }


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def new_run_dir(workload: str, seed: int) -> tuple[str, str]:
    run_id = f"{workload}-s{seed}-{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:6]}"
    path = os.path.join(WORK, "runs", run_id)
    os.makedirs(path, exist_ok=True)
    return run_id, path


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], q: float = 0.99,
                    beyond: int = 10) -> tuple[float, float]:
    """(value, percentile used): ``q`` if at least ``beyond`` samples lie
    past it, else the highest percentile that has that many."""
    n = len(values)
    if n and n * (1 - q) < beyond:
        q = max(0.5, 1 - beyond / n)
    return percentile(values, q), q
