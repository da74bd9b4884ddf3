"""O-16: exact checkpoint/resume. Kill after round k, resume from the
snapshot store, final results identical to an uninterrupted run."""

import os
import signal
import subprocess
import sys
import textwrap

import pytest

from larbin_spark.config import CrawlConfig
from larbin_spark.plans.crawl import collect_results, run_crawl
from larbin_spark.sources.catalog import SnapshotStore

ROUNDS = int(os.environ.get("SPARK_GRAFT_RESUME_ROUNDS", "6"))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    compactions (rebase boundaries whose save reads plans based on
    the last reload's files), tiny RELOAD_ROUNDS exercises the periodic
    parquet rebase, keep_snapshots=2 lets prune expire data dirs while
    the in-memory lazy plans are still alive, and collect_results at
    the end reads every table through the exit rebase."""
    from larbin_spark.fixtures.webgen import to_oracle_inputs
    from larbin_spark.oracle.simulator import CrawlOracle
    from larbin_spark.plans import crawl as crawlmod
    from larbin_spark.plans import state as statemod
    monkeypatch.setattr(crawlmod, "RELOAD_ROUNDS", 5)
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


def test_resume_after_kill_mid_commit(spark, dims, seeds, fixture_dir,
                                      fixture_web, tmp_path):
    """A crawl killed while a write-behind save is half written resumes
    to the oracle's digests. The child crawls into a store and
    SIGKILLs itself right after one table's write of round 3's save,
    while the next round computes on its main thread: round 3 never
    commits, so resume starts from round 2 and redoes round 3's save
    over the torn data dir."""
    from larbin_spark.fixtures.webgen import to_oracle_inputs
    from larbin_spark.oracle.simulator import CrawlOracle

    rounds = 6  # the child dies in round 3's save
    root = str(tmp_path / "snaps")
    script = textwrap.dedent(f"""
        import os, signal, sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .appName("kill-mid-commit")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("OFF")
        from larbin_spark.config import CrawlConfig
        from larbin_spark.plans.crawl import run_crawl
        from larbin_spark.sources.catalog import SnapshotStore

        write_table = SnapshotStore.write_table

        def write_then_die(self, rnd, name, df, *args, **kwargs):
            write_table(self, rnd, name, df, *args, **kwargs)
            if rnd == 3 and name == "seen":
                os.kill(os.getpid(), signal.SIGKILL)

        SnapshotStore.write_table = write_then_die
        dims = {{n: spark.read.parquet(os.path.join({fixture_dir!r},
                                                    n + ".parquet"))
                 for n in ("documents", "hosts", "robots")}}
        run_crawl(spark, CrawlConfig(), dims, {list(seeds)!r},
                  max_rounds={rounds}, store=SnapshotStore({root!r}))
        print("NOT_KILLED")
    """)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == -signal.SIGKILL, (out.returncode,
                                               out.stderr[-4000:])

    store = SnapshotStore(root)
    assert store.latest() < 3
    assert not os.path.exists(
        os.path.join(store._snap_dir(3), "manifest.json"))

    docs, hosts, robots, _ = to_oracle_inputs(fixture_web)
    want = CrawlOracle(CrawlConfig(), docs, hosts, robots).run(
        list(seeds), max_rounds=rounds)
    got = collect_results(run_crawl(spark, CrawlConfig(), dims, list(seeds),
                                    max_rounds=rounds, store=store,
                                    resume=True))
    assert got["rounds"] == want["rounds"] == rounds
    assert got["ordering"] == want["ordering"]
    assert sorted(got["seen"]) == sorted(want["seen"])
    assert got["errors"] == want["errors"]
    assert sorted(got["fetch_log"]) == sorted(want["fetch_log"])
    assert got["emitted"] == want["emitted"]
