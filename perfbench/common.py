"""Shared harness pieces: host sizing, the Spark session, the process-tree
RSS monitor, timing helpers and the result line."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from typing import Dict, List

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class HarnessError(RuntimeError):
    """The harness cannot measure here (no /proc data, a failed child)."""


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fp:
        for line in fp:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise HarnessError("MemAvailable missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the free memory, capped at 2 GiB (both workloads
    peak well below it) and floored at 1 GiB, in 512 MiB steps so a
    small drift in free memory does not change the heap size."""
    quarter = mem_available_mb() // 4
    return max(1024, min(2048, quarter // 512 * 512))


def median(xs: List[float]) -> float:
    return float(statistics.median(xs))


class Workdir:
    """Everything the run writes lives under <checkout>/.perfbench_work/
    <pid>; removed on exit."""

    def __init__(self) -> None:
        self.root = os.path.join(REPO, ".perfbench_work", str(os.getpid()))
        os.makedirs(self.root)
        self.tmp = self.path("tmp")
        # Python's tempfile, py4j's gateway handshake and the Python
        # workers all follow TMPDIR
        os.environ["TMPDIR"] = self.tmp

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:
            pass


def start_spark(cores: int, work: Workdir):
    """One driver on local[cores]. The event-log settings only take
    effect when the traced run attaches its listener: one uncompressed
    file, so the parser needs no codec."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from pyspark.sql import SparkSession
    heap = driver_memory_mb()
    # the whole heap is committed up front so peak RSS does not depend
    # on when the JVM decides to grow it
    java_opts = f"-Xms{heap}m -Djava.io.tmpdir={work.tmp} -XX:-UsePerfData"
    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{heap}m")
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.sql.shuffle.partitions", str(max(8, cores)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", work.path("spark-local"))
         .config("spark.sql.warehouse.dir", work.path("warehouse"))
         .config("spark.eventLog.compress", "false")
         .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the
    JVM exits when its stdin (a pipe from this process) closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def versions(spark) -> Dict[str, str]:
    jvm = spark.sparkContext._jvm
    return {"spark": spark.version,
            "java": str(jvm.System.getProperty("java.version")),
            "python": platform.python_version()}


class RssMonitor:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers it forks), sampled every
    100 ms on a daemon thread. Each process counts its proportional
    share (Pss), so pages a forked worker shares with its parent count
    once, not once per worker."""

    PERIOD_S = 0.1

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssMonitor":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0

    @staticmethod
    def _pss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fp:
            for line in fp:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        return 0

    def _tree_kb(self) -> int:
        children: Dict[int, List[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fp:
                    stat = fp.read()
            except OSError:
                continue  # the process exited between listdir and open
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                total += self._pss_kb(pid)
            except OSError:
                continue  # exited while the tree was walked
            todo.extend(children.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.PERIOD_S)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run_child(args: List[str], timeout_s: float) -> dict:
    """Run this harness again in a fresh interpreter (a second Spark
    context in one process is not a clean measurement) and return its
    result line."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "run.py")] + args,
        capture_output=True, text=True, timeout=timeout_s, cwd=REPO)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise HarnessError(f"child {args} exited {out.returncode}: "
                           f"{out.stderr[-2000:]}")
    return json.loads(lines[-1])


class Clock:
    """Wall-clock timestamps on the time.time() axis, which is the
    axis Spark's event log uses."""

    def __init__(self) -> None:
        self.ticks: List[float] = []

    def __call__(self) -> float:
        t = time.time()
        self.ticks.append(t)
        return t
