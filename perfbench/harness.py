"""Run-time plumbing shared by every workload: the sized Spark session,
the per-run work directory, peak RSS from /proc, plan
assertions and the small statistics the metrics are made of.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
the per-run directory (inputs, payloads, checkpoints, event log, Spark
local dirs, temp files) is removed when the run ends; ``cache/`` keeps
the compiled C kernel between runs, so only the first run in a checkout
pays the compile (recorded as ``compile_cache_cold``).
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

WORK_ROOT = ".perfbench_work"


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; the maximum (percentile 100) when there are
    fewer than eleven samples."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return float(s[-1]), 100
    # largest whole percentile p with n - ceil(p/100 * n) >= 10
    p = max(p for p in range(1, 100) if n - math.ceil(p * n / 100) >= 10)
    return float(s[math.ceil(p * n / 100) - 1]), p


class Env:
    """The checkout, the run's directories and the process environment
    the JVM and its Python workers inherit."""

    def __init__(self, root: str, tag: str):
        self.root = os.path.abspath(root)
        base = os.path.join(self.root, WORK_ROOT)
        self.cache = os.path.join(base, "cache")
        self.run_dir = os.path.join(base, f"{tag}-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        for d in (self.cache, self.tmp):
            os.makedirs(d, exist_ok=True)
        # qfspark.ckernel caches its .so under $XDG_CACHE_HOME/qfspark
        qf_cache = os.path.join(self.cache, "qfspark")
        self.compile_cache_cold = not (
            os.path.isdir(qf_cache)
            and any(n.endswith(".so") for n in os.listdir(qf_cache)))
        path = os.environ.get("PYTHONPATH", "")
        os.environ.update({
            # Python workers import qfspark from the checkout, whatever
            # the working directory they are started in
            "PYTHONPATH": self.root + (os.pathsep + path if path else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "XDG_CACHE_HOME": self.cache,
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "local"),
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
            # glibc keeps freed memory in the process instead of handing
            # it back to the kernel: on a VM that reports free pages to
            # its host, memory handed back costs host page faults when it
            # is touched again, at a price set by the host's load
            "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
            "MALLOC_TRIM_THRESHOLD_": str(1 << 40),
        })
        tempfile.tempdir = self.tmp
        if self.root not in sys.path:
            sys.path.insert(0, self.root)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fresh_dir(self, *parts: str) -> str:
        d = self.path(*parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def box() -> dict:
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal")).split()[1])
    return {"nproc": nproc, "ram_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version()}


def start_session(env: Env, nproc: int, ram_gb: float, event_log: bool):
    from pyspark.sql import SparkSession

    driver_gb = max(2, min(6, int(ram_gb // 4)))
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_gb}g")
        # a heap sized and touched during set-up: the timed ops then pay
        # no page faults for it, and its resident size does not depend on
        # when the collector chose to grow it. The parallel collector
        # runs no threads beside the tasks between its pauses; on a
        # 4-core VM, with G1's concurrent threads on the same cores,
        # 6M-row builds took ~20% longer and their op-to-op spread was
        # ~9% instead of ~7%
        .config("spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={nproc} -Xms{driver_gb}g"
                " -XX:+AlwaysPreTouch -XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.default.parallelism", str(2 * nproc))
        .config("spark.local.dir", env.path("local"))
        .config("spark.sql.warehouse.dir", env.path("warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if event_log:
        d = env.fresh_dir("eventlog")
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + d)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def versions(spark) -> dict:
    import numpy
    import pyarrow

    from qfspark import ckernel

    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "kernel_path": "C" if ckernel.get_kernel() is not None else "numpy",
    }


# -- plan assertions -----------------------------------------------------------

class PlanLog:
    """Physical plans of the SQL executions Spark finished, read from the
    session's SQL status store (kept with the UI off). ``mark()`` then
    ``since()`` returns the plans of the executions an op ran."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._mark = 0

    def _executions(self):
        self.jsc.listenerBus().waitUntilEmpty()
        return self.store.executionsList()

    def mark(self) -> None:
        self._mark = self._executions().size()

    def since(self) -> list[str]:
        ex = self._executions()
        return [ex.apply(i).physicalPlanDescription()
                for i in range(self._mark, ex.size())]


def plan_has(plans, node: str) -> bool:
    return any(node in p for p in plans)


# -- peak RSS of the JVM and its Python workers ------------------------------

def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of the run over a block: the Python workers' peak RSS
    plus the driver JVM's peak RSS outside its heap (``peak_mb``), and,
    apart, the JVM's peak heap in use in the survivor and old pools
    (``heap_peak_mb``).

    Entering resets each process's RSS high-water mark
    (``/proc/<pid>/clear_refs``) and the heap pools' peaks; leaving reads
    ``VmHWM`` per process and the pools' peak usage. The driver heap is
    touched in full during set-up, so the JVM's own ``VmHWM`` always
    holds the whole configured heap: its committed size is taken out.
    The heap's peak use is kept apart because the collector's timing,
    not the program, sets most of it. Python workers started inside the
    block count from their start."""

    def __init__(self, spark):
        self.pid = spark.sparkContext._gateway.proc.pid
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.heap = mf.getMemoryMXBean()
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().name() == "HEAP"
                      and "Eden" not in p.getName()]
        self.peak_mb = self.heap_peak_mb = 0.0
        self.parts = {}

    def __enter__(self):
        for pid in _tree(self.pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # exited meanwhile
        for p in self.pools:
            p.resetPeakUsage()
        return self

    def __exit__(self, *exc):
        pids = _tree(self.pid)
        jvm = _status_kb(self.pid, "VmHWM:") / 1024.0
        committed = self.heap.getHeapMemoryUsage().getCommitted() / 2**20
        self.parts = {
            "workers_mb": sum(_status_kb(p, "VmHWM:") for p in pids
                              if p != self.pid) / 1024.0,
            "jvm_off_heap_mb": jvm - committed,
        }
        self.peak_mb = sum(self.parts.values())
        self.heap_peak_mb = sum(p.getPeakUsage().getUsed()
                                for p in self.pools) / 2**20


def now() -> float:
    return time.perf_counter()
