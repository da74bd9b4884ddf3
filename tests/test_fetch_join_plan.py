"""Plan-level guard for the phase-E fetch join: the documents dim
must never be a broadcast side (it is the largest table at crawl
scale); only the bounded scheduled batch may be broadcast. Checks the
physical plan of the production pages checkpoint (RoundRunner
.plan_probe["E_pages"], captured from a real round), with
auto-broadcast disabled so every BroadcastExchange in the plan comes
from an explicit hint. The left-outer half (a scheduled URL with no
document row becomes an err40X page) is the slim page-verdict frame's
left join after that checkpoint; the crawl parity tests pin it against
the oracle's fetch log. The page rows that go on (E_links, E_curation)
read that verdict through one inner broadcast join, with no union and
no outer join.

The same round's link chain (E_links, E_survivors) must cross into
Python once: the extract mapInPandas also applies filter1 and emits
the slot and seen-bucket keys, so none of the per-key UDFs may
reappear as a separate Arrow evaluation over the link stream. Phases
B and C cross once too, in the per-slot pass (B_routed), and are
numbered by one window over its checkpoint (BC_seq); the uncapped
phase-D schedule (D_sched) joins nothing."""

import contextlib
import io
import os
import re

import pytest

from larbin_spark.config import CrawlConfig
from larbin_spark.pipeline.rowsigs import CURATION_SIG_NAMES
from larbin_spark.plans.round import RoundRunner
from larbin_spark.plans.state import CrawlState


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _broadcast_inputs(plan: str):
    """Input column lists of every BroadcastExchange node (formatted
    explain details: '(N) BroadcastExchange' then 'Input [k]: [...]')."""
    out = []
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if b.startswith("BroadcastExchange"):
            m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
            out.append(m.group(1) if m else "")
    return out


@pytest.fixture(scope="module")
def plan_probe(spark, fixture_dir, seeds):
    """Plan probe of one production round, curate=True (the full
    product shape, so the pages checkpoint would carry signature
    columns if curation leaked into it). Auto-broadcast stays off
    while the module's tests explain the captured frames."""
    dims = {n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        runner = RoundRunner(spark, CrawlConfig(curate=True), dims)
        runner.plan_probe = {}
        st = runner.seed(CrawlState.empty(spark), list(seeds))
        runner.run_round(st, 0)
        yield runner.plan_probe
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fetch_join_never_broadcasts_documents(plan_probe):
    pages = plan_probe["E_pages"]
    plan = _formatted_plan(pages)
    bc = _broadcast_inputs(plan)
    # the fetched batch is the one explicit broadcast
    assert len(bc) >= 1, plan
    assert any("transfer_seq" in inputs for inputs in bc), bc
    for inputs in bc:
        assert "spans" not in inputs, inputs
        assert "doc_id" not in inputs, inputs
    assert "CartesianProduct" not in plan
    # the signatures are computed by the curation finalize pass,
    # never in the pages checkpoint
    leaked = [c for c in pages.columns
              if c.startswith("_cur_") or c == "_ctext"
              or c in CURATION_SIG_NAMES]
    assert not leaked, leaked


def test_round_python_crossings(plan_probe):
    """Phases B and C are one per-slot pandas pass with the slot key
    computed JVM-side, and the link stream's robots gate is a JVM
    regex: no pandas UDF evaluates over either, and no round probe
    names the two UDFs these replaced."""
    routed = _formatted_plan(plan_probe["B_routed"])
    assert len(re.findall(r"FlatMapGroupsInPandas[^\n(]*\(\d+\)",
                          routed)) == 1, routed
    assert "ArrowEvalPython" not in routed, routed
    assert "ArrowEvalPython" not in _formatted_plan(plan_probe["E_links"])
    for stage, df in plan_probe.items():
        plan = _formatted_plan(df)
        for udf in ("site_hash_udf", "robots_allowed_udf"):
            assert udf not in plan, (stage, udf)


def test_link_chain_crosses_python_once(plan_probe):
    links_plan = _formatted_plan(plan_probe["E_links"])
    # tree lines only ('MapInPandas (12)'; details print '(12) ...')
    assert len(re.findall(r"MapInPandas[^\n(]*\(\d+\)", links_plan)) == 1, \
        links_plan
    for stage in ("E_links", "E_survivors"):
        plan = _formatted_plan(plan_probe[stage])
        for udf in ("filter1_udf", "site_hash_udf", "url_bucket_udf"):
            assert udf not in plan, (stage, udf)


def _tree_lines(plan: str, node: str):
    """Tree lines of `node` ('+- BroadcastHashJoin Inner BuildRight
    (8)'); the details section prints '(8) BroadcastHashJoin'."""
    return re.findall(rf"{node}[^\n(]*\(\d+\)", plan)


def test_pages_read_one_verdict(plan_probe):
    """Phase E decides each page's class once, in the slim verdict
    checkpoint: the page rows that go on to link extraction and
    curation are the pages checkpoint inner-joined to a broadcast of
    its success/redirect verdicts. No miss union and no second
    (outer) dup-verdict join may reappear on either path."""
    for stage in ("E_links", "E_curation"):
        plan = _formatted_plan(plan_probe[stage])
        assert not _tree_lines(plan, "Union"), (stage, plan)
        assert not _tree_lines(plan, "BroadcastHashJoin LeftOuter"), \
            (stage, plan)
        assert len(_tree_lines(plan, "BroadcastHashJoin Inner")) == 1, \
            (stage, plan)
        # final_error exists only in the verdict; the pages
        # checkpoint keeps just the pre-dup page_class
        assert "final_error" in plan, (stage, plan)
    assert "final_error" not in plan_probe["E_pages"].columns


def test_bc_numbering_is_one_window(plan_probe):
    """Phases B and C are numbered by one running count over the
    per-slot pass checkpoint: the numbering plan holds exactly one
    Window, reads the checkpoint and never re-runs the pandas pass."""
    plan = _formatted_plan(plan_probe["BC_seq"])
    assert len(_tree_lines(plan, "Window")) == 1, plan
    assert _tree_lines(plan, "Scan ExistingRDD"), plan
    assert not _tree_lines(plan, "FlatMapGroupsInPandas"), plan


def test_uncapped_schedule_has_no_join(plan_probe):
    """Phase D's politeness windows read the ip queue alone: no
    per-bucket state table is joined on, and the uncapped schedule
    has no cap join either."""
    plan = _formatted_plan(plan_probe["D_sched"])
    assert _tree_lines(plan, "Window"), plan
    assert not _tree_lines(plan, r"\w*Join"), plan
