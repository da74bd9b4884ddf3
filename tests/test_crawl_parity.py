"""THE acceptance gate (BASELINE.md): the Spark pipeline must produce
the exact (round, seq, url) fetch ordering, final seen bucket set,
error taxonomy and fetch log of the oracle (the executable spec of
the reference's queue discipline), plus per-row span-sequence
equality on every emitted document."""

import os

import pytest
from pyspark.sql import functions as F

from larbin_spark.config import CrawlConfig
from larbin_spark.fixtures.webgen import to_oracle_inputs
from larbin_spark.oracle.simulator import CrawlOracle
from larbin_spark.plans.crawl import collect_results, run_crawl

ROUNDS = int(os.environ.get("SPARK_GRAFT_PARITY_ROUNDS", "8"))


@pytest.fixture(scope="module")
def dims(spark, fixture_dir):
    return {n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}


def oracle_run(fixture_web, seeds, cfg, max_rounds):
    docs, hosts, robots, _ = to_oracle_inputs(fixture_web)
    o = CrawlOracle(cfg, docs, hosts, robots)
    return o.run(list(seeds), max_rounds=max_rounds)


@pytest.fixture(scope="module")
def spark_result(spark, dims, seeds):
    cfg = CrawlConfig()
    st = run_crawl(spark, cfg, dims, list(seeds), max_rounds=ROUNDS)
    return collect_results(st), st


@pytest.fixture(scope="module")
def oracle_result(fixture_web, seeds):
    return oracle_run(fixture_web, seeds, CrawlConfig(), ROUNDS)


def test_fetch_ordering_exact(spark_result, oracle_result):
    sres, _ = spark_result
    assert sres["ordering"] == oracle_result["ordering"]


def test_seen_set_exact(spark_result, oracle_result):
    sres, _ = spark_result
    # multiset equality: each bucket exactly once in the seen table
    assert sorted(sres["seen"]) == sorted(oracle_result["seen"])


def test_error_taxonomy_exact(spark_result, oracle_result):
    """FetchError taxonomy parity (types.h:108-127). 16/17 values are
    exercised across the parity suites; the one NOT modeled is
    `earlyStop` (types.h:117), fed by mid-transfer teardown
    (fetch_pipe.cxx:167,201; file.cxx:571-576): a join-based fetch
    has no partial-transfer state to tear down — an absent document
    is the err40X branch, a slow one is `timeout`. There is no
    observable crawl state the reference reaches through earlyStop
    that this engine cannot reach through those two."""
    sres, _ = spark_result
    assert sres["errors"] == oracle_result["errors"]


def test_fetch_log_exact(spark_result, oracle_result):
    sres, _ = spark_result
    assert sorted(sres["fetch_log"]) == sorted(
        (r, u, e) for r, u, e in oracle_result["fetch_log"])


def test_emitted_documents_match(spark_result, oracle_result):
    sres, _ = spark_result
    assert sres["emitted"] == oracle_result["emitted"]


def test_span_sequence_equality(spark_result, spark, fixture_dir):
    """Per-row invariant (BASELINE input_hint): every emitted document
    preserves span-sequence equality (kind, text, media_ref, order)
    vs the fixture."""
    _, st = spark_result
    fixture_docs = spark.read.parquet(
        os.path.join(fixture_dir, "documents.parquet")).select(
        "doc_id", F.col("spans").alias("expected_spans"))
    joined = st.tables["docs_out"].join(fixture_docs, "doc_id")
    assert joined.count() == st.tables["docs_out"].count()
    mismatched = joined.filter(
        F.to_json(F.col("spans")) != F.to_json(F.col("expected_spans")))
    assert mismatched.count() == 0


def test_metrics_lineage_populated(spark_result):
    _, st = spark_result
    rows = st.metrics.groupBy("error").agg(F.sum("n").alias("n")).collect()
    assert {r["error"] for r in rows} >= {"success"}
    parts = st.metrics.select("partition_id").distinct().count()
    assert parts >= 1


def test_timeout_taxonomy_nonvacuous(oracle_result):
    """The fixture must actually exercise the timeout FetchError
    (types.h:114): slow servers exist and get scheduled within the
    parity horizon, so the taxonomy comparison above isn't vacuous."""
    errs = {e for _, _, e in oracle_result["fetch_log"]}
    assert "timeout" in errs


def test_inflight_counter_matches_slot_table(spark_result):
    """The sequencer's RAM-budget input (`ram_used`) is derived from
    the incrementally-maintained n_site_fifo + n_ip_queue counters
    instead of a per-round sum(nburls) aggregation job — this pins the
    invariant the substitution relies on, and every other counter the
    slot-pass counts feed against the table it mirrors."""
    _res, st = spark_result
    c = st.counters
    nburls = st.slots.agg(
        F.coalesce(F.sum("nburls"), F.lit(0))).collect()[0][0]
    assert int(nburls) == c["n_site_fifo"] + c["n_ip_queue"]
    by_queue = {r["queue"]: r["count"]
                for r in st.queues.groupBy("queue").count().collect()}
    for q in ("priority", "priority_wait", "disk", "disk_wait"):
        assert c[f"n_{q}"] == by_queue.get(q, 0), q
    assert c["n_site_fifo"] == st.site_fifo.count()
    assert c["n_ip_queue"] == st.ip_queue.count()
    # not vacuous: the crawl stops with URLs still queued and waiting
    # for their ip bucket
    assert sum(by_queue.values()) > 0 and c["n_ip_queue"] > 0
    max_seq = st.ip_queue.agg(F.max("transfer_seq")).collect()[0][0]
    assert c["transfer_seq_next"] > max_seq
