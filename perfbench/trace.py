"""Tracing for the --trace 1 run: driver-side spans around the
program's public calls, and a parser that turns Spark's event log into
per-window job/stage/task counters.

The spans wrap the calls from outside the program (the wrappers live in
this file and are removed again by Tracer.close); nothing inside the
program is changed."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Set, Tuple

# plan nodes that cross into Python workers
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "BatchEvalPython", "MapInArrow", "PythonMapInArrow",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "FlatMapGroupsInPandasWithState")
PY_ROWS_IN = "rows sent to Python workers"
PY_BYTES_IN = "data sent to Python workers"
PY_BYTES_OUT = "data returned from Python workers"
# Python nodes report no input row count; it is the output row count
# of the nearest descendant that keeps one
ROW_COUNTS = ("number of output rows", "records read")


@dataclass
class Span:
    name: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records a span per call of each wrapped function."""

    def __init__(self) -> None:
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._undo: List[Tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                span = Span(name, t0, time.time())
                with self._lock:
                    self.spans.append(span)

        setattr(owner, attr, classmethod(timed) if is_cm else timed)
        self._undo.append((owner, attr, raw))

    def install(self) -> "Tracer":
        from larbin_spark.operators import bloomfilter, sequence
        from larbin_spark.plans.round import RoundRunner
        from larbin_spark.plans.state import CrawlState
        self.wrap(RoundRunner, "run_round", "plans.run_round")
        self.wrap(RoundRunner, "seed", "plans.seed")
        self.wrap(CrawlState, "save", "sources.save")
        self.wrap(CrawlState, "load", "sources.load")
        self.wrap(sequence, "assign_global_seq",
                  "operators.assign_global_seq")
        self.wrap(bloomfilter, "bloom_build", "operators.bloom_build")
        return self

    def close(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()

    def __enter__(self) -> "Tracer":
        return self.install()

    def __exit__(self, *exc) -> None:
        self.close()

    def select(self, name: str, t0: float = float("-inf"),
               t1: float = float("inf")) -> List[Span]:
        with self._lock:
            return [s for s in self.spans
                    if s.name == name and s.start >= t0 and s.end <= t1]


# ---- Spark event log ---------------------------------------------------

@contextlib.contextmanager
def event_log(spark, directory: str):
    """Write Spark's event log into `directory` while the block runs.

    The listener is attached to the running context rather than
    configured at start-up, so the same session measures the untraced
    baseline first. EventLoggingListener is Spark-internal (reachable
    through py4j); it reads spark.eventLog.compress/rolling.enabled from
    the session conf, which start_spark sets."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId, none, jvm.java.net.URI("file://" + directory),
        jsc.conf(), sc._jsc.hadoopConfiguration())
    listener.start()
    jsc.addSparkListener(listener)
    try:
        yield
    finally:
        jsc.removeSparkListener(listener)
        listener.stop()


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    accums: Dict[int, int]


@dataclass
class ParsedLog:
    job_submit: Dict[int, float] = field(default_factory=dict)
    job_stages: Dict[int, List[int]] = field(default_factory=dict)
    stages_done: Set[int] = field(default_factory=set)
    tasks: List[Task] = field(default_factory=list)
    python_accums: Dict[int, str] = field(default_factory=dict)


def _rows_metric(info: dict) -> Optional[int]:
    """Accumulator id of the row count that feeds `info`'s output."""
    while True:
        for m in info.get("metrics", []):
            if m["name"] in ROW_COUNTS:
                return int(m["accumulatorId"])
        children = info.get("children", [])
        if len(children) != 1:
            return None
        info = children[0]


def _walk_plan(info: dict, out: Dict[int, str]) -> None:
    if info.get("nodeName") in PYTHON_NODES:
        for m in info.get("metrics", []):
            if m["name"] in (PY_BYTES_IN, PY_BYTES_OUT):
                out[int(m["accumulatorId"])] = m["name"]
        for child in info.get("children", []):
            rows = _rows_metric(child)
            if rows is not None:
                out[rows] = PY_ROWS_IN
    for child in info.get("children", []):
        _walk_plan(child, out)


def _task(ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    accums = {}
    for a in info.get("Accumulables", []):
        try:
            accums[int(a["ID"])] = int(a["Update"])
        except (KeyError, TypeError, ValueError):
            continue  # non-numeric accumulators (e.g. Python's)
    return Task(
        stage=int(ev["Stage ID"]),
        launch=info["Launch Time"] / 1000.0,
        finish=info["Finish Time"] / 1000.0,
        failed=bool(info.get("Failed")) or
        ev.get("Task End Reason", {}).get("Reason") != "Success",
        run_s=m.get("Executor Run Time", 0) / 1000.0,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_write_b=int(sw.get("Shuffle Bytes Written", 0)),
        shuffle_read_b=int(sr.get("Remote Bytes Read", 0))
        + int(sr.get("Local Bytes Read", 0)),
        spill_b=int(m.get("Memory Bytes Spilled", 0))
        + int(m.get("Disk Bytes Spilled", 0)),
        accums=accums)


def parse_event_log(path: str) -> ParsedLog:
    """Read one event log (uncompressed JSON lines)."""
    log = ParsedLog()
    with open(path) as fp:
        for line in fp:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = int(ev["Job ID"])
                log.job_submit[jid] = ev["Submission Time"] / 1000.0
                log.job_stages[jid] = [int(s) for s in ev["Stage IDs"]]
            elif kind == "SparkListenerStageCompleted":
                log.stages_done.add(int(ev["Stage Info"]["Stage ID"]))
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task(ev))
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _walk_plan(ev["sparkPlanInfo"], log.python_accums)
    return log


def find_event_log(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, "
                           f"found {names}")
    return os.path.join(directory, names[0])


def _union_seconds(intervals: List[Tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class WindowStats:
    wall_s: float
    jobs: int
    stages: int
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_mb: float
    shuffle_read_mb: float
    spill_mb: float
    covered_s: float  # time with at least one task running
    skew: float       # max/median task run time, heaviest shuffle stage
    py_rows_in: int
    py_mb_in: float
    py_mb_out: float


def window_stats(log: ParsedLog, t0: float, t1: float) -> WindowStats:
    """Counters for the jobs submitted in [t0, t1] and their tasks."""
    jobs = [j for j, t in log.job_submit.items() if t0 <= t <= t1]
    stage_ids = {s for j in jobs for s in log.job_stages[j]}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    by_stage: Dict[int, List[Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    skew, heaviest = 1.0, -1.0
    for ts in by_stage.values():
        if len(ts) < 2 or not any(t.shuffle_read_b for t in ts):
            continue
        load = sum(t.run_s for t in ts)
        if load > heaviest:
            med = statistics.median(t.run_s for t in ts)
            heaviest = load
            skew = max(t.run_s for t in ts) / med if med > 0 else 1.0
    py: Dict[str, int] = {PY_ROWS_IN: 0, PY_BYTES_IN: 0, PY_BYTES_OUT: 0}
    for t in tasks:
        for aid, v in t.accums.items():
            name = log.python_accums.get(aid)
            if name:
                py[name] += v
    mb = 1024.0 * 1024.0
    return WindowStats(
        wall_s=t1 - t0,
        jobs=len(jobs),
        stages=sum(1 for s in stage_ids if s in log.stages_done),
        tasks=len(tasks),
        failed_tasks=sum(t.failed for t in tasks),
        run_s=sum(t.run_s for t in tasks),
        cpu_s=sum(t.cpu_s for t in tasks),
        gc_s=sum(t.gc_s for t in tasks),
        shuffle_write_mb=sum(t.shuffle_write_b for t in tasks) / mb,
        shuffle_read_mb=sum(t.shuffle_read_b for t in tasks) / mb,
        spill_mb=sum(t.spill_b for t in tasks) / mb,
        covered_s=_union_seconds(
            [(max(t.launch, t0), min(t.finish, t1)) for t in tasks
             if t.finish > t0 and t.launch < t1]),
        skew=skew,
        py_rows_in=py[PY_ROWS_IN],
        py_mb_in=py[PY_BYTES_IN] / mb,
        py_mb_out=py[PY_BYTES_OUT] / mb)


def spark_metrics(ws: WindowStats, n_ops: int, cores: int) -> Dict[str, float]:
    """The spark.* and functions.* per-layer metrics, per operation."""
    return {
        "spark.jobs": ws.jobs / n_ops,
        "spark.stages": ws.stages / n_ops,
        "spark.tasks": ws.tasks / n_ops,
        "spark.failed_tasks": ws.failed_tasks / n_ops,
        "spark.executor_run_s": ws.run_s / n_ops,
        "spark.executor_cpu_s": ws.cpu_s / n_ops,
        "spark.gc_s": ws.gc_s / n_ops,
        "spark.shuffle_write_mb": ws.shuffle_write_mb / n_ops,
        "spark.shuffle_read_mb": ws.shuffle_read_mb / n_ops,
        "spark.spill_mb": ws.spill_mb / n_ops,
        "spark.executor_busy_frac": ws.run_s / (ws.wall_s * cores),
        "spark.task_skew_max_over_median": ws.skew,
        "functions.python_rows_in": ws.py_rows_in / n_ops,
        "functions.python_mb_in": ws.py_mb_in / n_ops,
        "functions.python_mb_out": ws.py_mb_out / n_ops,
    }


def rate(fn, units: float, repeats: int = 3) -> float:
    """units per second of fn(), single process, median of repeats."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return units / statistics.median(times)


def span_median(spans: List[Span]) -> float:
    return statistics.median(s.seconds for s in spans) if spans else 0.0


def span_total(spans: List[Span]) -> float:
    return sum(s.seconds for s in spans)
