"""Session, timing loop and host stamps shared by every workload.

Load model: one closed-loop client. The next op is issued only after the
previous one (and its output check) has returned, so a slow engine gets
less load, never a growing queue.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

# warm-up stops once an op sets no new low by more than WARM_GAIN (latency
# stopped falling), or after WARM_MAX_OPS ops. The first op of a session
# costs 2-4x a warm one (JIT, codegen, Python workers) and the next ones
# are still falling, so a single warm-up op is not enough; the cap is a
# count, not a time, so every run's window starts at the same point of
# the warm-up curve, and it keeps one run, JVM start included, near a
# minute.
WARM_GAIN = 0.05
WARM_MAX_OPS = 3
# first-half vs second-half median disagreement that marks a run unsteady
DRIFT_LIMIT = 0.10


def build_spark(work_dir: str, cores: int, event_log_dir: Optional[str] = None):
    """One local Spark session whose scratch files all stay in work_dir."""
    from pyspark.sql import SparkSession

    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        # a fixed-size heap under the throughput collector: no heap resizing
        # decisions that move peak RSS from run to run, and no concurrent
        # G1 work competing with the task threads on a small host
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", "-Xms1g -XX:+UseParallelGC")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # uncompressed, unrolled: one plain JSON-lines file the stdlib
        # parser in tracing.py can read (Spark 4 defaults to zstd + rolling)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------ host stamps --

def read_cpu_times() -> List[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(before: List[int], after: List[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return 100.0 * delta[7] / total if total > 0 else 0.0


def cpu_probe_s() -> float:
    """Fixed pure-Python CPU work; its time shows how much CPU the host
    granted. Recorded beside the metrics, never used to correct them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc ^= (i * 2654435761) & 0xFFFFFFFF
    return time.perf_counter() - t0


def vm_hwm_mb(pid: str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> str:
    return str(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------- timing loop --

def tail_percentile(n: int) -> Optional[int]:
    """Highest whole percentile with at least 10 samples beyond it."""
    for p in range(99, 0, -1):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def percentile(values: List[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


@dataclass
class Loop:
    """Closed-loop driver: warm-up until steady, then a timed window.

    ``op(i)`` runs one operation on a freshly built plan and returns None
    when its output check passed, or a message describing the mismatch.
    Exceptions count as failed ops; messages and tracebacks are kept in
    ``errors``.
    """

    op: Callable[[int], Optional[str]]
    errors: List[str] = field(default_factory=list)
    n_ops: int = 0

    def run_once(self) -> Tuple[float, bool]:
        i = self.n_ops
        self.n_ops += 1
        t0 = time.perf_counter()
        try:
            msg = self.op(i)
        except Exception:  # a failing op is counted, the loop keeps going
            msg = traceback.format_exc()
        dt = time.perf_counter() - t0
        if msg:
            self.errors.append(f"op {i}: {msg}")
        return dt, not msg

    def warm_up(self) -> List[float]:
        lat = [self.run_once()[0]]
        while len(lat) < WARM_MAX_OPS:
            lat.append(self.run_once()[0])
            if lat[-1] >= (1.0 - WARM_GAIN) * min(lat[:-1]):
                break
        return lat

    def window(self, seconds: float, min_ops: int):
        """Timed window of at least ``min_ops`` ops; returns (latencies,
        window seconds)."""
        lat: List[float] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(lat) < min_ops:
            lat.append(self.run_once()[0])
        return lat, time.perf_counter() - t0


def summarize(lat: List[float], rows_per_op: int, window_s: float) -> Dict[str, float]:
    """End-to-end metrics of one window plus the drift self-check."""
    half = len(lat) // 2
    drift = statistics.median(lat[half:]) / statistics.median(lat[:half]) - 1.0
    p = tail_percentile(len(lat))
    return {
        "rows_per_s": rows_per_op * len(lat) / window_s,
        "latency_p50_s": statistics.median(lat),
        # below 11 samples no percentile has 10 beyond it: the maximum
        "latency_tail_s": percentile(lat, p) if p else max(lat),
        "tail_percentile": p or 100,
        "samples": len(lat),
        "drift": drift,
        "steady": abs(drift) <= DRIFT_LIMIT,
    }
