"""Shared pieces: the timed loop, latency statistics, memory, Spark."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time


class Run:
    """What one workload run produced: the closed-loop samples plus the
    numbers each workload computes itself."""

    def __init__(self) -> None:
        self.latencies_ms: dict = {}   # op kind -> [ms]
        self.by_tracing: dict = {}     # traced run: True/False -> [ms]
        # kinds are query shapes of fixed, different cost: summarize
        # per shape (see shape_p50 / shape_tail)
        self.by_shape = False
        self.attempted = 0
        self.failed = 0
        self.setup_s: list = []        # each repeated set-up
        self.setup_once_s = 0.0        # set-up paid once (JVM start)
        self.wall_s = 0.0
        self.metrics: dict = {}        # extra end-to-end numbers
        self.layers: dict = {}         # per-layer numbers (traced run)
        self.info: dict = {}           # printed, not gated

    def record(self, kind: str, ms: float, ok: bool, traced=None) -> None:
        self.latencies_ms.setdefault(kind, []).append(ms)
        if traced is not None:
            self.by_tracing.setdefault(traced, []).append(ms)
        self.attempted += 1
        if not ok:
            self.failed += 1

    def all_ms(self) -> list:
        return [v for vs in self.latencies_ms.values() for v in vs]


def closed_loop(seconds: float, op, block: int = 1) -> float:
    """Call ``op(i)`` back to back until ``seconds`` have passed; each
    call starts only after the previous one returned. The loop stops
    only after a whole number of ``block`` ops, so a run of shapes that
    come in blocks holds every shape equally often. Returns wall s."""
    t0 = time.perf_counter()
    i = 0
    while i % block or time.perf_counter() - t0 < seconds:
        op(i)
        i += 1
    return time.perf_counter() - t0


def tail(values: list):
    """(value, percentile, samples beyond it): the highest percentile
    that still has ten samples beyond it, i.e. the 11th-largest value.
    With fewer than 21 values it falls back to the median."""
    n = len(values)
    beyond = min(10, (n - 1) // 2)
    return sorted(values)[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def p50(values: list) -> float:
    return statistics.median(values)


def shape_p50(by_kind: dict) -> float:
    """Mean over shapes of each shape's median. With several query
    shapes of different cost a pooled median sits on the boundary
    between two shapes' clusters and jumps with the mix."""
    return statistics.fmean(p50(v) for v in by_kind.values())


def shape_tail(by_kind: dict) -> float:
    """The pooled tail of each op's latency relative to its shape's
    median, scaled by ``shape_p50``: how far the slow ops stray."""
    rel = [x / p50(v) for v in by_kind.values() for x in v]
    return tail(rel)[0] * shape_p50(by_kind)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid=None) -> float:
    """Peak resident set of this process plus the JVM, in MiB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


def jvm_heap_live_mb(spark) -> float:
    """JVM heap still in use after a full GC, in MiB: what the run left
    live. (The JVM's resident size is fixed by its pre-touched heap.)"""
    mx = spark._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()  # noqa: SLF001
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / (1 << 20)


def dir_listing(root: str) -> dict:
    """{path: bytes} of the files under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def spark_session(work: str, event_log: bool):
    """A fresh ``local[k]`` session whose scratch space stays under
    ``work``; k = min(4, nproc - 1) leaves a core for the benchmark's
    driver, the remote and the JVM's own threads. Reuses the JVM if one
    is running."""
    from pyspark.sql import SparkSession

    k = max(1, min(4, (os.cpu_count() or 1) - 1))
    tmp = os.path.join(work, "spark")
    os.makedirs(tmp, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{k}]")
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(k))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "1g")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
         # the whole heap committed and touched up front: the JVM's
         # resident size then does not depend on when GC ran. No perf
         # data file: it would be written to /tmp, outside the checkout
         .config("spark.driver.extraJavaOptions",
                 f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
         .config("spark.pyspark.python", sys.executable))
    if event_log:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", logs))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid():
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(30)
            except Exception:  # noqa: BLE001 — make sure it is gone
                proc.kill()
                proc.wait()
