"""The benchmark's Spark session factory, run header and memory sampler.

Every resource setting is derived from the host: ``local[nproc]``, a
driver heap capped well below physical RAM, and a fixed shuffle
partition count. The Spark event log is switched on only for traced
runs. All scratch files (Spark local dirs, the event log, temp files)
live under one run directory inside the checkout, which the benchmark
deletes when it ends.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory_mb() -> int:
    """A quarter of physical RAM, between 1 GiB and 2 GiB.

    Local mode runs driver and executors in one JVM, so this is the only
    heap. The cap keeps the benchmark small on a shared host.
    """
    quarter = physical_ram_bytes() // 4 // (1 << 20)
    return max(1024, min(2048, quarter))


def shuffle_partitions() -> int:
    return 2 * host_cpus()


def prepare_process_env(repo_root: str, run_dir: str) -> None:
    """Set the environment the JVM and Python workers inherit.

    Workers must import the library and the benchmark's modules no matter
    where the command was launched from, and temp files must stay inside
    the checkout.
    """
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [repo_root, os.path.join(repo_root, "perfbench")]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    os.environ["TMPDIR"] = tmp
    # An inherited SPARK_LOCAL_DIRS would override spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def build_spark(run_dir: str, event_log_dir: str | None):
    """Start (or restart) the benchmark's SparkSession."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    b = (
        SparkSession.builder.master(f"local[{host_cpus()}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        # No hsperfdata file in the system temp directory.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions()))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and the JVM behind it, and wait for the JVM to exit.

    ``SparkSession.stop`` leaves the gateway JVM running until the Python
    process exits; it exits on its own once its stdin pipe closes.
    """
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_header(spark, workload: str, seed: int, data_dir: str, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "data_dir": data_dir,
        "nproc": host_cpus(),
        "driver_memory_mb": driver_memory_mb(),
        "shuffle_partitions": shuffle_partitions(),
        "spark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name may hold spaces; fields resume after ')'.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` and all its descendants (the JVM and its workers)."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """One thread sampling the process tree's RSS; ``peak_mb`` is the max."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_mb = 0.0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self._interval)

    def reset(self) -> None:
        self.peak_mb = 0.0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Block until every process this one started has exited."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not _children_map().get(os.getpid()):
            return
        time.sleep(0.1)
