"""Shared plumbing of the benchmark: host health, process CPU and memory
of the Spark JVM and its Python workers, the Spark session, and the
forcing helper every timed operation ends with."""

from __future__ import annotations

import os
import threading
import time

STEAL_HEAVY_PCT = 8.0
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------ host health


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def spin_rate(seconds: float = 0.25) -> float:
    """Single-thread spin rate in million loop steps per second."""
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(10000):
            x += 1
    return x / (time.perf_counter() - t0) / 1e6


class HostHealth:
    """CPU steal share over the whole run, spin rate and load average
    before and after it."""

    def __init__(self):
        self.stat0 = cpu_times()
        self.spin_before = spin_rate()
        self.load_before = os.getloadavg()

    def finish(self, attempted: int, failed: int) -> dict:
        spin_after = spin_rate()
        d = [b - a for a, b in zip(self.stat0, cpu_times())]
        steal = 100.0 * d[7] / max(1, sum(d)) if len(d) > 7 else 0.0
        return {
            "steal_pct": round(steal, 3),
            "heavy_steal": steal > STEAL_HEAVY_PCT,
            "spin_mops_before": round(self.spin_before, 2),
            "spin_mops_after": round(spin_after, 2),
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "attempted": attempted,
            "failed": failed,
        }


# ------------------------------------------------------ process accounting


def _rss_pages(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1])
    except OSError:
        return 0


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu jiffies including reaped children) of a pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    return int(fields[1]), sum(int(fields[i]) for i in (11, 12, 13, 14))


class ProcessTree:
    """The driver process, the Spark JVM and every descendant of the JVM
    (the pyspark daemon and its Python workers)."""

    def __init__(self, jvm_pid: int):
        self.roots = {os.getpid(), jvm_pid}
        self.jvm_pid = jvm_pid

    def snapshot(self) -> dict[int, int]:
        """pid -> cpu jiffies of every process in the tree."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        keep = set(p for p in self.roots if p in stats)
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if pid not in keep and ppid in keep and ppid != os.getpid():
                    keep.add(pid)
                    grew = True
        return {p: stats[p][1] for p in keep}

    @staticmethod
    def cpu_seconds(before: dict, after: dict) -> float:
        return sum(c - before.get(p, 0) for p, c in after.items()) / _CLK


class PeakRss:
    """Samples the tree's summed resident memory on a thread; `peak_mb`
    is the largest sum seen between start() and stop(). The process set
    is rescanned once a second, and only their statm files in between,
    so the sampler itself stays cheap."""

    def __init__(self, tree: ProcessTree, period: float = 0.1, rescan: int = 10):
        self.tree, self.period, self.rescan = tree, period, rescan
        self.peak_mb = 0.0
        self.peak_parts: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        i, pids = 0, []
        while True:
            if i % self.rescan == 0:
                pids = list(self.tree.snapshot())
            i += 1
            sizes = {p: _rss_pages(p) * _PAGE / 1e6 for p in pids}
            if sum(sizes.values()) > self.peak_mb:
                self.peak_mb, self.peak_parts = sum(sizes.values()), sizes
            if self._stop.wait(self.period):
                return

    def start(self):
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


# ------------------------------------------------------------ Spark session


def local_cores() -> int:
    return min(3, len(os.sched_getaffinity(0)))


def start_session(work_dir: str, heap: str):
    """A local[n] session (n <= cores) whose scratch files stay in
    `work_dir`. The first call launches the JVM; later calls after
    `spark.stop()` reuse it."""
    from kmertools_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = local_cores()
    os.environ["SPARK_DRIVER_MEM"] = heap
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=max(n, 8),
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            # a fixed-size heap, so resident memory does not follow the
            # moment at which the collector chose to grow it
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def shutdown_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def force_cols(df) -> int:
    """Force every output column: xxhash64 over all columns, folded with
    bit_xor into one row (a count() would let Catalyst prune projected
    UDF or window columns). Returns the fold, which is order-free."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("__h")).agg(F.expr("bit_xor(__h)")).first()
    return int(row[0] or 0)


def force(result):
    """What a timed operation leaves to compare: the force_cols fold of a
    DataFrame, or, for an operation that wrote its output itself, the
    fingerprint it returned."""
    from pyspark.sql import DataFrame

    return force_cols(result) if isinstance(result, DataFrame) else result
