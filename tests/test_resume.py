"""O-16: exact checkpoint/resume. Kill after round k, resume from the
snapshot store, final results identical to an uninterrupted run."""

import os

import pytest

from larbin_spark.config import CrawlConfig
from larbin_spark.plans.crawl import collect_results, run_crawl
from larbin_spark.sources.catalog import SnapshotStore

ROUNDS = int(os.environ.get("SPARK_GRAFT_RESUME_ROUNDS", "6"))


@pytest.fixture(scope="module")
def dims(spark, fixture_dir):
    return {n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}


def test_resume_exact(spark, dims, seeds, tmp_path):
    cfg = CrawlConfig()
    # uninterrupted reference run
    st_full = run_crawl(spark, cfg, dims, list(seeds), max_rounds=ROUNDS)
    full = collect_results(st_full)

    # interrupted run: stop at k, then resume from the store
    k = ROUNDS // 2
    store = SnapshotStore(str(tmp_path / "snaps"))
    run_crawl(spark, cfg, dims, list(seeds), max_rounds=k, store=store)
    assert store.latest() == k
    st_res = run_crawl(spark, cfg, dims, list(seeds), max_rounds=ROUNDS,
                       store=store, resume=True)
    resumed = collect_results(st_res)

    assert resumed["ordering"] == full["ordering"]
    assert resumed["seen"] == full["seen"]
    assert resumed["errors"] == full["errors"]
    assert sorted(resumed["fetch_log"]) == sorted(full["fetch_log"])


def test_snapshot_prune_keeps_resume(spark, dims, seeds, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps2"))
    run_crawl(spark, CrawlConfig(), dims, list(seeds), max_rounds=3,
              store=store, keep_snapshots=2)
    # expired SNAPSHOTS (manifests) are gone; data dirs referenced by
    # a kept snapshot's delta chain survive (Iceberg expire-snapshots
    # vs orphan-file distinction, catalog.py:prune)
    with_manifest = [
        e for e in os.listdir(store.root) if e.startswith("round=")
        and os.path.exists(os.path.join(store.root, e, "manifest.json"))]
    assert len(with_manifest) <= 2
    assert store.latest() == 3
    # the latest snapshot is loadable
    from larbin_spark.plans.state import CrawlState
    st = CrawlState.load(spark, store, store.latest())
    assert st.counters["round"] == 3


def test_limit_time_stops_crawl(spark, dims, seeds):
    """limitTime analogue (limit_time.cxx:30-48): the wall-clock
    budget stops the crawl at the next round boundary. An injected
    clock that advances 1s per reading makes the stop deterministic:
    budget 3s -> exactly 2 rounds run."""
    ticks = iter(range(1000))

    def fake_clock():
        return float(next(ticks))

    cfg = CrawlConfig(limit_time_sec=3)
    st = run_crawl(spark, cfg, dims, list(seeds), clock=fake_clock)
    # t_start=0; checks at t=1 (<3, round 0), t=2 (<3, round 1),
    # t=3 (>=3, stop)
    assert st.counters["round"] == 2


def test_snapshot_every_same_results(spark, dims, seeds, tmp_path):
    """snapshot_every K>1 (periodic durable commits, the reference's
    saveInterval model) changes only WHEN state becomes durable,
    never what the crawl computes: results match the every-round
    cadence exactly, the store holds only boundary rounds, and the
    trailing partial window is committed at exit so the returned
    state is resumable."""
    full = collect_results(
        run_crawl(spark, CrawlConfig(), dims, list(seeds), max_rounds=5))

    store = SnapshotStore(str(tmp_path / "snaps3"))
    cfg = CrawlConfig(snapshot_every=3)
    st = run_crawl(spark, cfg, dims, list(seeds), max_rounds=5,
                   store=store)
    periodic = collect_results(st)

    assert periodic["ordering"] == full["ordering"]
    assert periodic["seen"] == full["seen"]
    assert periodic["errors"] == full["errors"]
    assert sorted(periodic["fetch_log"]) == sorted(full["fetch_log"])
    # 5 rounds at cadence 3: boundary commit at 3, trailing commit at 5
    assert store.latest() == 5
    # periodic commits must still be DELTA-append: the round-5 chain
    # composes the bootstrap full write + the two periodic deltas, not
    # a full rewrite per commit (the O(delta) property of
    # catalog.py's manifest composition, preserved across K>1)
    assert store.table_rounds(5, "ordering") == [0, 3, 5]
    st_res = run_crawl(spark, cfg, dims, list(seeds), max_rounds=5,
                       store=store, resume=True)
    assert collect_results(st_res)["ordering"] == full["ordering"]


def test_write_behind_commit_matches_oracle_across_compaction_and_prune(
        spark, dims, seeds, fixture_web, tmp_path, monkeypatch):
    """The write-behind commit changes only WHEN the snapshot write
    happens, never what the crawl computes or what resume sees: the
    crawl matches the oracle exactly. Stress the bookkeeping the
    overlap relies on: tiny COMPACT_EVERY forces multiple mid-crawl
    compactions (synchronous boundaries reading plans based on the
    last reload's files), tiny RELOAD_ROUNDS exercises the periodic
    parquet rebase, keep_snapshots=2 lets prune expire data dirs while
    the in-memory lazy plans are still alive, and collect_results at
    the end reads every table through the exit rebase."""
    from larbin_spark.fixtures.webgen import to_oracle_inputs
    from larbin_spark.oracle.simulator import CrawlOracle
    from larbin_spark.plans import crawl as crawlmod
    from larbin_spark.plans import state as statemod
    monkeypatch.setattr(crawlmod, "RELOAD_ROUNDS", 5)
    monkeypatch.setattr(crawlmod, "COMPACT_EVERY", 4)
    monkeypatch.setattr(statemod, "COMPACT_EVERY", 4)

    docs, hosts, robots, _ = to_oracle_inputs(fixture_web)
    want = CrawlOracle(CrawlConfig(), docs, hosts, robots).run(
        list(seeds), max_rounds=9)
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = run_crawl(spark, CrawlConfig(), dims, list(seeds), max_rounds=9,
                   store=store, keep_snapshots=2)
    got = collect_results(st)

    assert got["ordering"] == want["ordering"]
    assert sorted(got["seen"]) == sorted(want["seen"])
    assert got["errors"] == want["errors"]
    assert sorted(got["fetch_log"]) == sorted(want["fetch_log"])
    assert got["emitted"] == want["emitted"]
    # every in-flight save was joined before return: the store's
    # latest snapshot is the final round and is loadable (resumable)
    assert store.latest() == 9
    from larbin_spark.plans.state import CrawlState
    st2 = CrawlState.load(spark, store, 9)
    assert st2.counters["round"] == 9
