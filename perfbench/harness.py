"""Measurement plumbing shared by the workloads: the Spark session sized to
the machine, a scratch directory inside the checkout, process-tree peak
RSS and CPU time, Spark stage counters, order statistics and the span
tracer."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def machine_cores() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """Per-process scratch tree under the checkout; removed on close."""

    def __init__(self, name: str):
        self.path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)  # only when no other run is using it


def start_session(work: WorkDir, cores: int):
    """``local[cores]`` with shuffle partitions = cores, a 3 GB Spark
    driver heap on huge pages and every Spark/JVM scratch path (local
    dirs, tmpdir, warehouse) under ``work``; the session config itself is
    the library's ``build_session``."""
    from fluent_plugin_geoip_spark.session import build_session
    local, tmp = work.sub("spark-local"), work.sub("tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # the launcher reads these when it forks the JVMs (SPARK_LOCAL_DIRS
    # overrides spark.local.dir, so an inherited value must not win);
    # JAVA_TOOL_OPTIONS also reaches the short-lived launcher JVM, which
    # would otherwise write its perf data under the system temp dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    spark = build_session(
        master=f"local[{cores}]", cores=cores, app_name="perfbench",
        **{"spark.driver.memory": "3g",
           # a fixed, pre-touched heap on transparent huge pages: no run
           # pays for, or varies with, heap growth and first-touch page
           # faults. Measured on a 4-vCPU VM, 3 processes each way: with
           # 4 KiB pages the warm runs kept getting faster for 20-30 s
           # (3.8 s -> 2.6 s) and the first set-up took 12.5-18.4 s; with
           # huge pages the runs stayed within about +-10% of each other
           # from the second one and the first set-up took 11.6-11.7 s.
           # The compiler threads stay alive, so tree_cpu_s can tell the
           # JIT's CPU time from the program's.
           "spark.driver.extraJavaOptions":
               "-Xms3g -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages "
               "-XX:-UseDynamicNumberOfCompilerThreads",
           "spark.local.dir": local,
           "spark.sql.warehouse.dir": work.sub("warehouse"),
           "spark.ui.enabled": "false",
           "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_session(spark, cores: int):
    """New SparkContext with ``cores`` threads on the same JVM."""
    from pyspark.sql import SparkSession
    conf = spark.sparkContext.getConf()
    spark.stop()
    b = SparkSession.builder.master(f"local[{cores}]")
    for k, v in conf.getAll():
        if k not in ("spark.master", "spark.app.id", "spark.driver.port",
                     "spark.app.startTime"):
            b = b.config(k, v)
    b = b.config("spark.sql.shuffle.partitions", str(cores))
    new = b.getOrCreate()
    new.sparkContext.setLogLevel("ERROR")
    return new


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    with contextlib.suppress(Exception):
        spark.stop()
    if gateway is None:
        return
    with contextlib.suppress(Exception):
        gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# memory and CPU time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stat_fields(path: str) -> list[str]:
    """The fields of a ``stat`` file after the command name, which may
    contain spaces: index 11..14 are utime, stime, cutime, cstime."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _jit_ticks(pid: int) -> int:
    """CPU time of the JIT compiler threads of ``pid`` (HotSpot names
    them ``C1 CompilerThreadN`` / ``C2 CompilerThreadN``)."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
        except OSError:
            continue
        total += sum(int(x) for x in
                     _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
    return total


def _tree(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


_SPEED_PROBE = r"""
import select, sys, time, zlib
samples = []
while not select.select([sys.stdin], [], [], 0.05)[0]:
    c0 = time.thread_time()
    acc = 0
    for i in range(2000):
        acc ^= zlib.crc32(str(i * 7919).encode())
    samples.append((time.monotonic(), time.thread_time() - c0))
print(" ".join(f"{t}:{c}" for t, c in samples))
"""


class SpeedProbe:
    """A process that, every 50 ms, times a fixed ~1 ms pure-Python loop
    on the CPU clock of its thread (2% of one CPU). Waiting for a CPU is not in that
    clock, so it reads how fast the host runs code at that moment: the
    host is shared, and the same work takes up to a third more CPU time
    from one minute to the next, for the pipeline and the loop alike.
    :meth:`stop` ends the process, waits for it and returns its
    (monotonic time, CPU seconds) samples."""

    def __init__(self):
        import subprocess
        import sys
        self.proc = subprocess.Popen(
            [sys.executable, "-c", _SPEED_PROBE], stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, text=True)

    def stop(self) -> list[tuple[float, float]]:
        try:
            out, _ = self.proc.communicate(timeout=30)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
        return [tuple(map(float, x.split(":"))) for x in out.split()]


def tree_cpu_s(exclude: int = -1) -> tuple[float, float]:
    """(CPU seconds, JIT compiler CPU seconds), user plus system, of this
    process and its live descendants but ``exclude`` (the speed probe,
    which has no children): the JVM and its Python workers, each with the
    children it has reaped. Time a thread waits for a CPU, or that the
    hypervisor gives to other guests, is not in it. The JIT share is
    counted by live thread, so the session keeps its compiler threads
    alive (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    tree = [p for p in _tree(os.getpid(), _children_map()) if p != exclude]
    hz = os.sysconf("SC_CLK_TCK")
    return (sum(sum(int(x) for x in _stat_fields(f"/proc/{p}/stat")[11:15])
                for p in tree) / hz,
            sum(_jit_ticks(p) for p in tree) / hz)


def tree_peak_rss_mb() -> float:
    """Sum of the peak RSS (``VmHWM``) of this process and its live
    descendants (the JVM and its Python workers), read once from /proc: no
    sampling thread runs while the pipeline does. An upper bound on the
    tree's simultaneous peak."""
    return sum(_peak_rss_kb(p) for p in _tree(os.getpid(), _children_map())) \
        / 1024.0


# ---------------------------------------------------------------------------
# statistics


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if not values:
        return (float("nan"),) * 3
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[p - 1]


def summary(values: list[float]) -> dict:
    q1, med, q3 = quartiles(values)
    return {"n": len(values), "q1": q1, "median": med, "q3": q3}


# ---------------------------------------------------------------------------
# Spark stage counters


class StageMeter:
    """Sums task counts, shuffle writes, spills, JVM GC time and task CPU
    time over the stages that completed since :meth:`mark`, read from the
    Spark driver's status store (the same numbers the Spark UI shows)."""

    def __init__(self, spark):
        self.spark = spark
        self._last = -1

    def _stages(self):
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        return store.stageList(None, False, False, no_quantiles, None)

    @staticmethod
    def _newest_first(seq) -> range:
        """Indices of the status store's stage list, newest stage first
        (the list is sorted by stage id)."""
        n = seq.size()
        if n > 1 and seq.apply(0).stageId() < seq.apply(n - 1).stageId():
            return range(n - 1, -1, -1)
        return range(n)

    def mark(self) -> None:
        seq = self._stages()
        idx = self._newest_first(seq)
        self._last = seq.apply(idx[0]).stageId() if idx else -1

    def delta(self) -> dict:
        out = {"tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "gc_s": 0.0, "task_cpu_s": 0.0}
        seq = self._stages()
        for i in self._newest_first(seq):
            s = seq.apply(i)
            if s.stageId() <= self._last:
                break
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["task_cpu_s"] += (s.executorCpuTime()
                                  + s.executorDeserializeCpuTime()) / 1e9
        return out


def persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


# ---------------------------------------------------------------------------
# tracing


class Tracer:
    """In-memory spans (name, start, end, parent, run id) recorded around
    calls into the library. Disabled tracers record nothing; ``wrap``
    replaces a module or class attribute with a span-recording shim until
    :meth:`unwrap_all`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = 0
        self._local = threading.local()
        self._wrapped: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {"id": 0, "name": name, "run": self.run_id,
               "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def shim(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        shim.__wrapped__ = orig
        setattr(owner, attr, shim)
        self._wrapped.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._wrapped:
            owner, attr, orig = self._wrapped.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str, run: int | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (run is None or s["run"] == run)]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children of one span never overlap: they run on
        the span's own thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) \
                    + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       **extra}, f, indent=1)
