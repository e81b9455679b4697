"""Host facts, the host-health probe, the peak RSS of this process tree,
and the lifetime of the one Spark session a benchmark process owns."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import tempfile
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def spark_resources() -> tuple:
    """(cores, driver memory) that fit this host: local[N] with N at most
    the usable CPUs and 4, and a driver heap of at most a quarter of RAM
    and 2 GiB."""
    cores = min(4, len(os.sched_getaffinity(0)))
    mem_mb = min(2048, _meminfo_kib("MemTotal") // 1024 // 4)
    return cores, f"{mem_mb}m"


def host_facts(master: str, driver_memory: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": _meminfo_kib("MemTotal") / 2**20,
        "spark_master": master,
        "driver_memory": driver_memory,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
    }


def _burn() -> int:
    s = 0
    for i in range(2_000_000):
        s += i % 7
    return s


def _best_of(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def probe_health() -> dict:
    """Memory-copy bandwidth and a fixed single-thread CPU burn, the two
    axes bench.py's probe gates on, at a tenth of its size so a probe
    before and after each run costs well under a second. The thresholds
    are bench.py's, scaled the same way."""
    a = np.ones(8 << 20)  # 64 MiB
    gbps = a.nbytes / 2**30 / _best_of(a.copy)
    burn = _best_of(_burn)
    return {"mem_gbps": gbps, "burn_s": burn, "healthy": gbps >= 2.0 and burn <= 0.2}


# --- process tree -------------------------------------------------------------


def descendants(pid: int) -> list:
    """Pids of every live process below ``pid``."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss(pid: int) -> dict:
    """RSS bytes of ``pid`` and each descendant, summed per command name."""
    out: dict = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue  # exited while sampling
        out[comm] = out.get(comm, 0) + rss
    return out


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    driver, the JVM and the Python workers) on a background thread while
    the ``with`` block runs; ``peak`` holds the largest sample in bytes and
    ``breakdown`` that sample per command name."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.breakdown: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_comm = tree_rss(os.getpid())
        if sum(by_comm.values()) > self.peak:
            self.peak = sum(by_comm.values())
            self.breakdown = by_comm

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# --- Spark session --------------------------------------------------------------


def start_spark(work: str, root: str, cores: int, driver_memory: str):
    """A local[cores] session whose scratch files all stay under ``work``,
    and whose Python workers can import the library from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("contractbench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end its JVM and wait until every process it
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Python workers outlive the JVM by a moment; once orphaned they are
    # no longer our children, so wait on their /proc entries
    alive = _wait_gone(kids, timeout)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(alive, 10.0)


def _wait_gone(pids: list, timeout: float) -> list:
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive
