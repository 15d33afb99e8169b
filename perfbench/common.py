"""Shared pieces of the benchmark worker: the Spark session, the host
fingerprint, peak RSS, the CPU clock and the percentile helper."""

from __future__ import annotations

import math
import os
import platform
import subprocess
import time
from dataclasses import dataclass

from spans import Tracer

# One client on this many local threads; the single-core baseline of
# cdc_serve uses local[1].
CORES = 4
DRIVER_MEM = "1g"


@dataclass
class Ctx:
    work: str  # scratch directory of this run, inside the checkout
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    event_log_dir: str | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def build(ctx: Ctx, cores: int = CORES):
    """The engine's own ``build_session``; a traced run adds Spark's
    event log. Returns (session, seconds taken to start it and run a
    first job)."""
    from ml_data_pipeline_spark.session import build_session

    # The initial heap is the maximum: left to grow, the heap's size
    # follows G1's reaction to GC time, and peak RSS swung by a quarter
    # between runs of the same code.
    extra = {
        "spark.local.dir": ctx.path("spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}"
        ),
    }
    if ctx.trace:
        ctx.event_log_dir = ctx.path("eventlog")
        os.makedirs(ctx.event_log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    t0 = time.monotonic()
    spark = build_session(
        app_name=f"perfbench-local{cores}", cores=cores, extra_conf=extra
    )
    spark.range(1).count()
    return spark, time.monotonic() - t0


def more(start: float, done: int, budget: float) -> bool:
    """Whether a phase that began at ``start`` and has done ``done``
    units of work should start another within ``budget`` seconds: the
    first always; after that, only one that at the pace so far would
    end within the budget. The number of units then flips between runs
    only where a unit takes about half the budget; with "start while
    time is left" it flipped where a unit takes about all of it, which
    is where a query pass on the 4-vCPU VM sat for --seconds 10."""
    if done == 0:
        return True
    elapsed = time.monotonic() - start
    return elapsed + elapsed / done <= budget


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples above it
    in a sample of ``n`` (0 when the sample is too small)."""
    if n < 20:
        return 0
    return int(math.floor(100.0 * (n - 10) / n))


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident set of this driver Python plus its JVM, in MB."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm) if jvm else 0)
    return kb / 1024.0


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file, or None when
    the process or thread has gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


class CpuClock:
    """CPU time of the engine's work, in seconds: user plus system time
    of every process in this process's session — the worker's Python,
    its JVM (all threads, exited ones included) and Spark's Python
    daemon and workers — and of their children that have exited, less
    the time of the JVM's JIT compiler threads. Time the hypervisor
    gives to other guests is not charged to a process, so it is not in
    it. JIT compilation is the JVM warming up, not work the engine does
    per operation: in a measured query pass it is about as much CPU as
    the queries themselves, and varies from run to run with when the
    compiler gets to which method."""

    def __init__(self, jvm: int | None):
        self.jvm = jvm
        self.sid = os.getsid(0)
        self.hz = os.sysconf("SC_CLK_TCK")
        # (tid, start time) -> ticks; a compiler thread that has exited
        # keeps its last reading, which the JVM's own total still holds.
        self.jit: dict[tuple[str, str], int] = {}

    def __call__(self) -> float:
        ticks = 0
        for name in os.listdir("/proc"):
            st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
            if st and int(st[1][3]) == self.sid:
                ticks += sum(int(x) for x in st[1][11:15])
        if self.jvm:
            try:
                tids = os.listdir(f"/proc/{self.jvm}/task")
            except OSError:
                tids = []
            for tid in tids:
                st = _stat(f"/proc/{self.jvm}/task/{tid}/stat")
                if st and st[0].startswith(("C1 Compiler", "C2 Compiler")):
                    self.jit[(tid, st[1][19])] = int(st[1][11]) + int(st[1][12])
        return (ticks - sum(self.jit.values())) / self.hz


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def fingerprint(seed: int, ticks_at_start: tuple[int, int]) -> dict:
    import pyspark

    steal, total = cpu_ticks()
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {
        "nproc": os.cpu_count(),
        "cores_used": CORES,
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
        "seed": seed,
        # CPU time the hypervisor gave to other guests during the run
        "cpu_steal_pct": 100.0 * (steal - ticks_at_start[0]) / max(1, total - ticks_at_start[1]),
    }
