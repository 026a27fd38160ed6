"""Process environment, Spark session lifetime and memory sampling."""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import subprocess
import sys
import threading
import time


def cores() -> int:
    """The cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Environment for the Spark JVM, its Python workers and the benchmark's
    child processes; must run before pyspark starts the JVM.

    - ``SPARK_GRAFT_CPUS`` (the engine's ``local[N]`` width) from ``nproc``;
    - the repo root on ``PYTHONPATH``, so Python workers import the engine;
    - Spark scratch, Python and JVM temp files under ``work``, so a run
      writes nothing outside its checkout;
    - a 2 GB driver heap, small beside a shared host's memory.
    """
    import tempfile

    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for sub, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        path = os.path.join(work, sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData"]))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def start_spark():
    from sequin_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM; its Python workers end when
    its pipes close (:func:`end_processes` waits for them)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (a Python
    worker whose JVM ended first, say), so :func:`end_processes` can wait
    for them instead of leaving them to init."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def end_processes(grace: float = 30.0) -> None:
    """Stop every process this one started and wait for each to end.

    multiprocessing's resource tracker (started by any ``spawn`` child)
    otherwise lives until this process has exited, and it ignores SIGTERM:
    close its pipe and wait for it.  Then give every other descendant
    ``grace`` seconds to end, terminate and kill what is left, and reap
    every child, orphans adopted through :func:`adopt_orphans` included."""
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None:
        tracker._resource_tracker._stop()
    deadline = time.time() + grace
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        while time.time() < deadline:
            _reap()
            left = _descendants(os.getpid())[1:]
            if not left:
                return
            time.sleep(0.1)
        if sig is None:
            raise RuntimeError(f"processes {left} did not end")
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:  # ended since it was listed
                pass
        deadline = time.time() + 10


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def describe(spark) -> dict:
    import pyarrow

    sc = spark.sparkContext
    java = sc._jvm.java.lang.System.getProperty("java.version")
    return {
        "cores": cores(),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": java,
        "python": platform.python_version(),
    }


def _descendants(root_pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid ..." — comm may hold spaces
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [root_pid], [root_pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    Spark JVM, its Python workers, the benchmark's children): the sum of
    each process's own peak (VmHWM), sampled twice a second."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        for pid in _descendants(os.getpid()):
            kb = _peak_rss_kb(pid)
            if kb > self.peaks.get(pid, 0):
                self.peaks[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return sum(self.peaks.values()) / 1024.0


def sentinel_s(spark, root: str) -> float:
    """``bench.py``'s fixed-work kernel, timed once; explains host drift
    and is never used to rescale a metric."""
    if root not in sys.path:
        sys.path.insert(0, root)
    import bench

    return bench.sentinel_kernel(spark)
