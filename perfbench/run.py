#!/usr/bin/env python3
"""Frontier benchmark: one closed-loop batch workload per run.

    python3 perfbench/run.py --workload frontier_sched --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer ones
(see perfbench/README.md). Inputs come from --seed only; every timed
operation's output is checked against a single-process reference.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from typing import Dict, List, Optional, Tuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, crawl, frontier, metrics, trace  # noqa: E402
from perfbench.common import median  # noqa: E402

WORKLOADS = ("frontier_sched", "crawl_bulk")
SETUP_REPEATS = 3     # input generation + write, median reported
FRONTIER_WARMUP = 2   # untimed passes: JIT, Python workers, codegen
MIN_PASSES = 2
RESUME_REPEATS = 3
CHILD_TIMEOUT_S = 120

# an operation: (start, end, output) on the time.time() axis
Op = Tuple[float, float, object]


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}",
          file=sys.stderr)


def _setup_inputs(make, seed: int, work: common.Workdir):
    """make(seed, dir) -> (inputs, gen_s, write_s), SETUP_REPEATS times;
    returns the last inputs, its directory and median timings."""
    runs = [make(seed, work.path("inputs", str(i)))
            for i in range(SETUP_REPEATS)]
    return (runs[-1][0], work.path("inputs", str(SETUP_REPEATS - 1)),
            median([g + w for _, g, w in runs]),
            median([g for _, g, _w in runs]), median([w for *_, w in runs]))


class FrontierSched:
    def __init__(self, spark, args, work, tracer) -> None:
        self.spark, self.seed, self.seconds = spark, args.seed, args.seconds
        (self.inp, _dir, self.inputs_s, self.gen_s,
         self.write_s) = _setup_inputs(frontier.make_inputs, args.seed, work)
        t0 = time.perf_counter()
        for _ in range(FRONTIER_WARMUP):
            frontier.schedule(spark, self.inp)
        frontier.rebuild_filter(spark, self.inp)
        self.warm_s = time.perf_counter() - t0
        self.want: Optional[Tuple[int, int]] = None
        self.check_s = 0.0
        self.resumes: List[float] = []

    def measure(self) -> List[Op]:
        passes: List[Op] = []
        begin = time.time()
        while len(passes) < MIN_PASSES or time.time() - begin < self.seconds:
            t0 = time.time()
            try:
                res = frontier.schedule(self.spark, self.inp)
            except Exception:
                _log_failure("scheduling pass")
                res = None
            passes.append((t0, time.time(), res))
        self.resumes = []
        for _ in range(RESUME_REPEATS):
            t0 = time.time()
            frontier.rebuild_filter(self.spark, self.inp)
            self.resumes.append(time.time() - t0)
        return passes

    def check(self, ops: List[Op]) -> List[Op]:
        if self.want is None:
            t0 = time.perf_counter()
            self.want = frontier.reference(self.inp)
            bad = frontier.spot_check_keys(self.inp, self.seed)
            self.check_s = time.perf_counter() - t0
            if bad:
                print(f"perfbench: {bad} sampled keys differ from the "
                      "pure-Python kernels", file=sys.stderr)
                self.want = (-1, -1)  # fails every pass
        for _a, _b, res in ops:
            if res != self.want:
                print(f"perfbench: pass gave {res}, reference {self.want}",
                      file=sys.stderr)
        return [op for op in ops if op[2] == self.want]

    def e2e(self, ok: List[Op]) -> Dict[str, float]:
        round_s = median([b - a for a, b, _ in ok])
        return {"urls_per_s": frontier.N_URLS / round_s,
                "pages_per_s": self.want[0] / round_s,
                "round_s": round_s,
                "resume_s": median(self.resumes)}

    def layer(self, ok: List[Op], tracer: trace.Tracer) -> Dict[str, float]:
        spans = tracer.select("operators.bloom_build", ok[0][0], ok[-1][1])
        out = {"operators.bloom_build_s": trace.span_median(spans)}
        out.update(frontier.bloom_stats(self.spark, self.inp))
        out.update(frontier.url_kernel_rates(self.inp.urls))
        return out

    def rounds(self, ok: List[Op]) -> List[Tuple[float, float]]:
        return []


class CrawlBulk:
    def __init__(self, spark, args, work, tracer) -> None:
        self.spark, self.seconds, self.work = spark, args.seconds, work
        (self.web, web_dir, self.inputs_s, self.gen_s,
         self.write_s) = _setup_inputs(crawl.make_web, args.seed, work)
        self.dims = crawl.dims(spark, web_dir)
        self.warm_root = os.path.join(work.root, "snap", "warm")
        if tracer is not None:
            tracer.install()  # RoundRunner.seed runs only here
        t0 = time.perf_counter()
        try:
            self.warm = crawl.warm_up(spark, self.web, self.dims,
                                      self.warm_root)
        finally:
            if tracer is not None:
                tracer.close()
        self.warm_s = time.perf_counter() - t0
        self.want: Optional[dict] = None
        self.check_s = 0.0
        self.copies = 0

    def measure(self) -> List[Op]:
        """Timed crawls from copies of the warm-up snapshot; the output
        of each is (state, round windows, snapshot root)."""
        reps: List[Op] = []
        begin = time.time()
        while not reps or time.time() - begin < self.seconds:
            self.copies += 1
            clock = common.Clock()
            root = os.path.join(self.work.root, "snap", f"run{self.copies}")
            try:
                st, t0, t1 = crawl.timed_crawl(
                    self.spark, self.web, self.dims, self.warm_root, root,
                    clock)
                out = (st, crawl.round_walls(clock.ticks, t1), root)
            except Exception:
                _log_failure("crawl")
                t0, t1, out = time.time(), time.time(), None
            reps.append((t0, t1, out))
        return reps

    def check(self, ops: List[Op]) -> List[Op]:
        """Keeps the crawls that match the oracle; their output becomes
        (state, round windows, root, results, curation rows)."""
        if self.want is None:
            t0 = time.perf_counter()
            self.want = crawl.oracle(self.web, 1 + crawl.TIMED_ROUNDS)
            self.check_s = time.perf_counter() - t0
            self.warm_res, self.warm_cur = crawl.collect(self.warm)
        ok = []
        for t0, t1, out in ops:
            if out is None:
                continue
            res, cur = crawl.collect(out[0])
            bad = crawl.mismatches(res, self.want, cur)
            if bad:
                print(f"perfbench: crawl differs from the oracle in {bad}",
                      file=sys.stderr)
                continue
            ok.append((t0, t1, out + (res, cur)))
        return ok

    def e2e(self, ok: List[Op]) -> Dict[str, float]:
        pages, urls, walls = [], [], []
        for _t0, _t1, (_st, rounds, _root, res, _cur) in ok:
            crawl_s = sum(b - a for a, b in rounds)
            pages.append((res["pages_ok"] - self.warm_res["pages_ok"])
                         / crawl_s)
            urls.append((len(res["seen"]) - len(self.warm_res["seen"]))
                        / crawl_s)
            walls.extend(b - a for a, b in rounds)
        return {"urls_per_s": median(urls), "pages_per_s": median(pages),
                "round_s": median(walls),
                "resume_s": median([t1 - t0 for t0, t1, _ in ok])}

    def rounds(self, ok: List[Op]) -> List[Tuple[float, float]]:
        return [w for _a, _b, out in ok for w in out[1]]

    def layer(self, ok: List[Op], tracer: trace.Tracer) -> Dict[str, float]:
        import pandas as pd
        begin, end, n = ok[0][0], ok[-1][1], len(ok)
        st, _rounds, root, res, cur = ok[-1][2]
        counts = crawl.round_counts(
            st, list(range(1, 1 + crawl.TIMED_ROUNDS)))
        new_urls = len(res["seen"]) - len(self.warm_res["seen"])

        def per_op(name):
            return trace.span_total(tracer.select(name, begin, end)) / n

        def calls(name):
            return len(tracer.select(name, begin, end)) / n

        mb, files = crawl.snapshot_size(root)
        out = {
            "plans.run_round_s": trace.span_median(
                tracer.select("plans.run_round", begin, end)),
            "plans.seed_s": trace.span_total(tracer.select("plans.seed")),
            "plans.fetch_ok_frac": counts["success"] / counts["scheduled"],
            "plans.link_seen_frac":
                counts["url_dup"] / (counts["url_dup"] + new_urls),
            "sources.save_s": per_op("sources.save"),
            "sources.save_calls": calls("sources.save"),
            "sources.load_s": per_op("sources.load"),
            "sources.load_calls": calls("sources.load"),
            "sources.snapshot_mb": mb,
            "sources.snapshot_files": files,
            "operators.assign_global_seq_s":
                per_op("operators.assign_global_seq"),
            "operators.assign_global_seq_calls":
                calls("operators.assign_global_seq"),
            "pipeline.curation_rows": cur - self.warm_cur,
        }
        out.update(frontier.url_kernel_rates(
            pd.Series([d["doc_id"] for d in self.web["documents"]])))
        out.update(crawl.kernel_rates(self.web))
        return out


def _round_layer(log, rounds) -> Dict[str, float]:
    per = [trace.window_stats(log, a, b) for a, b in rounds]
    if not per:
        return {}
    return {"plans.jobs_per_round": median([w.jobs for w in per]),
            "plans.stages_per_round": median([w.stages for w in per]),
            "plans.tasks_per_round": median([w.tasks for w in per]),
            "plans.executor_idle_s_per_round":
                median([w.wall_s - w.covered_s for w in per])}


def _scale_eff(args, urls_per_s: float) -> float:
    """Throughput at local[cores] over local[1], divided by cores; the
    local[1] pass runs in a fresh interpreter on the same inputs."""
    one = common.run_child(
        ["--workload", args.workload, "--seed", str(args.seed),
         "--seconds", "1", "--trace", "0", "--cores", "1"], CHILD_TIMEOUT_S)
    return urls_per_s / one["metrics"]["urls_per_s"]["value"] / args.cores


def run(args) -> Tuple[dict, dict]:
    work = common.Workdir()
    try:
        monitor = common.RssMonitor().start()
        tracer = trace.Tracer() if args.trace else None
        t0 = time.perf_counter()
        spark = common.start_spark(args.cores, work)
        session_s = time.perf_counter() - t0
        try:
            host = {"cores": args.cores, "host_cores": common.host_cores(),
                    "mem_available_mb": common.mem_available_mb(),
                    "driver_memory_mb": common.driver_memory_mb(),
                    **common.versions(spark)}
            kind = FrontierSched if args.workload == "frontier_sched" \
                else CrawlBulk
            wl = kind(spark, args, work, tracer)
            ops = wl.measure()
            if args.trace:
                # the traced measurement sits between two untraced ones,
                # so JVM warm-up drift does not read as tracing overhead
                events = work.path("events")
                with trace.event_log(spark, events), tracer:
                    traced = wl.measure()
                ops += wl.measure()
            ok = wl.check(ops)
            if args.trace:
                traced_ok = wl.check(traced)
                layer = wl.layer(traced_ok, tracer) if traced_ok else {}
        finally:
            common.stop_spark(spark)
        attempted, failed = len(ops), len(ops) - len(ok)
        if not args.trace:
            e2e = wl.e2e(ok) if ok else {}
            e2e["setup_s"] = session_s + wl.inputs_s + wl.warm_s
            e2e["peak_rss_mb"] = monitor.stop()
            values = {k: (e2e.get(k, float("nan")), u)
                      for k, u in metrics.END_TO_END.items()}
        else:
            monitor.stop()
            attempted += len(traced)
            failed += len(traced) - len(traced_ok)
            values = {k: (0.0, u) for k, u in metrics.PER_LAYER.items()}
            if ok and traced_ok:
                log = trace.parse_event_log(trace.find_event_log(events))
                base, e2e = wl.e2e(ok), wl.e2e(traced_ok)
                layer.update(trace.spark_metrics(
                    trace.window_stats(log, traced_ok[0][0],
                                       traced_ok[-1][1]),
                    len(traced_ok), args.cores))
                layer.update(_round_layer(log, wl.rounds(traced_ok)))
                layer.update({
                    "fixtures.gen_s": wl.gen_s,
                    "fixtures.write_s": wl.write_s,
                    "oracle.check_s": wl.check_s,
                    "trace.overhead_frac":
                        e2e["round_s"] / base["round_s"] - 1.0})
                if args.workload == "frontier_sched":
                    layer["spark.scale_eff_1to4"] = _scale_eff(
                        args, base["urls_per_s"])
                for k, v in layer.items():
                    values[k] = (v, metrics.PER_LAYER[k])
    finally:
        work.close()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: common.metric(v, u) for k, (v, u) in values.items()},
    }
    return host, result


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=common.host_cores(),
                    help="local[N] parallelism (default: all cores)")
    args = ap.parse_args(argv)
    if args.seconds <= 0 or args.cores < 1:
        ap.error("--seconds and --cores must be positive")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(common.REPO, "larbin_spark")):
        print(f"perfbench: no larbin_spark package under {common.REPO}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    host, result = run(args)
    if result["attempted"] == result["failed"]:
        print("perfbench: every operation failed", file=sys.stderr)
        return 1
    print("host " + json.dumps(host, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
