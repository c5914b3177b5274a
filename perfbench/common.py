"""Shared plumbing: the run's private directories, the Spark session, host
readings (load, memory, GC) and the tail-percentile rule."""

from __future__ import annotations

import math
import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` start time),
    so ``setup_s`` includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat, counted after the comm field
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RunDirs:
    """Fresh per-run directories inside the checkout: Spark local dir, temp
    dir, warehouses, generated inputs and the event log. Removed on close,
    so no run inherits state from an earlier one."""

    def __init__(self, workload: str, seed: int):
        self.base = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.base, ignore_errors=True)
        for sub in ("tmp", "local", "data", "eventlog", "sql-warehouse"):
            os.makedirs(os.path.join(self.base, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(dirs: RunDirs, trace: bool):
    """The engine's own session factory at ``SPARK_GRAFT_CPUS`` = the CPUs
    this process may use, with every file the JVM and the Python workers
    write kept under ``dirs``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # The engine's own heap setting, at 2 GB rather than its 8 GB default:
    # on a 4-CPU, 15 GB host shared with other work, the default heap grew
    # a run to 5.6-8.4 GB proportional set size (README, "Driver heap").
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = dirs.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("local")
    # no JVM performance-data files in /tmp, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from moisturizer_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs.path("local"),
        "spark.sql.warehouse.dir": dirs.path("sql-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs.path('tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait until it and every other child process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while _children().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _children().get(os.getpid(), []):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def gc_ms(spark) -> int:
    """Cumulative GC milliseconds of the driver JVM (in local mode it is
    also the executor)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a slow run with a high share was slowed by its neighbours."""
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb() -> float:
    """Proportional set size of this process and all its descendants (the
    gateway JVM and the Python workers): memory shared by forked workers is
    counted once."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        total_kb += _pss_kb(pid)
    return total_kb / 1024.0


class PeakMemory:
    """Samples :func:`tree_pss_mb` every ``interval`` seconds on a daemon
    thread; :meth:`stop` returns the highest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, tree_pss_mb())

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        return max(self.peak, tree_pss_mb())


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it.

    With ``n`` samples sorted ascending, the value at index ``n - 11`` has
    exactly ten larger-ranked samples after it; it is reported as the
    ``floor(100 * (n - 10) / n)``-th percentile. Fewer than 11 samples have
    no such percentile (returns None)."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    return {"value": ordered[n - 11], "percentile": math.floor(100 * (n - 10) / n),
            "samples": n}
