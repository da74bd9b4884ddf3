"""Tests of the benchmark harness itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from perfbench import crawl, frontier, metrics, run, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_event_log_parser_on_canned_log():
    log = trace.parse_event_log(os.path.join(HERE, "eventlog_sample.jsonl"))
    ws = trace.window_stats(log, 99.0, 150.0)
    assert (ws.jobs, ws.stages, ws.tasks, ws.failed_tasks) == (1, 2, 5, 1)
    assert ws.run_s == pytest.approx(6.0)
    assert ws.cpu_s == pytest.approx(4.1)
    assert ws.gc_s == pytest.approx(0.035)
    assert ws.shuffle_write_mb == pytest.approx(2.0)
    assert ws.shuffle_read_mb == pytest.approx(2.5)
    assert ws.spill_mb == pytest.approx(2.0)
    # two overlapping map tasks, then the reduce tasks: 2 s + 2 s
    assert ws.covered_s == pytest.approx(4.0)
    # the only shuffle-reading stage: task times 0.5, 0.5, 2.0
    assert ws.skew == pytest.approx(4.0)
    # rows in = the Range below the MapInPandas node
    assert ws.py_rows_in == 1000
    assert ws.py_mb_in == pytest.approx(2.0)
    assert ws.py_mb_out == pytest.approx(1.0)
    later = trace.window_stats(log, 150.0, 300.0)
    assert (later.jobs, later.stages, later.tasks) == (1, 1, 1)
    per_op = trace.spark_metrics(ws, n_ops=2, cores=4)
    assert per_op["spark.tasks"] == 2.5
    assert per_op["spark.executor_busy_frac"] == pytest.approx(6.0 / (51 * 4))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        return json.load(fp)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_match_benchmark_json():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == \
        metrics.PER_LAYER
    names = (list(e2e) + [m["name"] for m in b["per_layer"]]
             + [w["name"] for w in b["workloads"]])
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]), m
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for p in b["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p))


def _crawl_result():
    return {"rounds": 2, "ordering": [(0, 0, "http://a/"), (1, 1, "http://a/x")],
            "seen": [3, 7, 9], "errors": {"success": 2},
            "fetch_log": [(1, "http://b/", "err40X"), (0, "http://c/", "noDNS")],
            "emitted": [(0, 0, "http://a/")], "cookies": [(0, None)],
            "tags": [(0, 0)], "pages_ok": 2}


def test_crawl_check_accepts_oracle_result():
    want = _crawl_result()
    got = _crawl_result()
    got["fetch_log"] = list(reversed(got["fetch_log"]))  # order-free
    assert crawl.mismatches(got, want, curation_rows=2) == []


@pytest.mark.parametrize("field,perturb", [
    ("ordering", lambda r: r["ordering"].reverse()),
    ("seen", lambda r: r["seen"].pop()),
    ("errors", lambda r: r["errors"].update(success=3)),
    ("fetch_log", lambda r: r["fetch_log"].pop()),
    ("emitted", lambda r: r["emitted"].clear()),
    ("pages_ok", lambda r: r.update(pages_ok=3)),
])
def test_crawl_check_rejects_perturbed_result(field, perturb):
    got = _crawl_result()
    perturb(got)
    assert field in crawl.mismatches(got, _crawl_result(), curation_rows=2)


def test_crawl_check_rejects_missing_curation_rows():
    assert crawl.mismatches(_crawl_result(), _crawl_result(),
                            curation_rows=1) == ["curation_rows"]


def test_frontier_reference_semantics():
    # slot 1: 70 distinct keys (site cap keeps 64); key 5 repeats later
    # (first wins); key 6 is already seen; slot 2 one key
    n = 70
    keys = pd.DataFrame({
        "bucket": list(range(n)) + [5, 1000],
        "slot_id": [1] * n + [2, 2],
        "qseq": list(range(n + 2))})
    inp = frontier.Inputs("", "", pd.Series([], dtype=object), keys,
                          np.array([6]), 1024)
    count, digest = frontier.reference(inp)
    kept = [b for b in range(n) if b != 6][:frontier.SITE_CAP]
    assert count == frontier.SITE_CAP + 1
    # slots 1 and 2 share no ip bucket: prn restarts per slot
    assert digest == sum(b * (i + 1) for i, b in enumerate(kept)) + 1000


class _Owner:
    @classmethod
    def make(cls, x):
        return x + 1

    def work(self, x):
        return x * 2


def test_tracer_wraps_and_restores():
    tracer = trace.Tracer()
    make, work = _Owner.__dict__["make"], _Owner.__dict__["work"]
    tracer.wrap(_Owner, "make", "t.make")
    tracer.wrap(_Owner, "work", "t.work")
    assert _Owner.make(1) == 2 and _Owner().work(3) == 6
    assert [s.name for s in tracer.spans] == ["t.make", "t.work"]
    assert all(s.end >= s.start for s in tracer.spans)
    tracer.close()
    assert _Owner.__dict__["make"] is make
    assert _Owner.__dict__["work"] is work
