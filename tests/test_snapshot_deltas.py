"""Append-only snapshot commits: grow-only tables (docs_out,
fetch_log, ordering, metrics, seen, dup_seen) must persist only their
per-round DELTA rows — a full rewrite per round costs O(total) per
round, O(R^2) cumulative over a crawl — while read_table still
reconstructs the exact full table, prune keeps referenced ancestor
dirs alive, and compaction bounds the file-composition chain."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from larbin_spark.config import CrawlConfig
from larbin_spark.plans.crawl import run_crawl
from larbin_spark.plans.state import APPEND_ONLY, CrawlState, _SCHEMAS
from larbin_spark.sources.catalog import SnapshotStore

ROUNDS = 4


@pytest.fixture(scope="module")
def dims(spark, fixture_dir):
    return {n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}


def _dir_rows(store, rnd, name):
    path = os.path.join(store._snap_dir(rnd), name)
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_table(os.path.join(root, f)).num_rows
    return n


def test_deltas_not_rewrites(spark, dims, seeds, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = run_crawl(spark, CrawlConfig(), dims, list(seeds),
                   max_rounds=ROUNDS, store=store, keep_snapshots=10 ** 9)
    # manifest composes docs_out from multiple rounds' files
    rounds = store.table_rounds(ROUNDS, "docs_out")
    assert len(rounds) > 1, "docs_out snapshot should be delta-composed"
    # the last round's dir holds ONLY that round's delta
    last_delta = _dir_rows(store, ROUNDS, "docs_out")
    full = st.tables["docs_out"].count()
    assert 0 < last_delta < full
    # delta rows for round R are exactly the round-R docs
    assert last_delta == st.tables["docs_out"] \
        .filter(F.col("round") == ROUNDS - 1).count()
    # reconstruction is exact for every append-only table
    for name in APPEND_ONLY:
        back = store.read_table(spark, ROUNDS, name, _SCHEMAS[name])
        assert sorted(map(tuple, back.collect())) == \
            sorted(map(tuple, st.tables[name].collect())), name


def test_prune_keeps_referenced_dirs(spark, dims, seeds, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = run_crawl(spark, CrawlConfig(), dims, list(seeds),
                   max_rounds=ROUNDS, store=store, keep_snapshots=1)
    # only the latest snapshot kept, but every round dir its manifest
    # references must survive the prune
    referenced = set()
    for name in APPEND_ONLY:
        referenced.update(store.table_rounds(ROUNDS, name))
    for r in referenced:
        assert os.path.isdir(store._snap_dir(r)), r
    # and the reconstruction still works after pruning
    back = store.read_table(spark, ROUNDS, "fetch_log",
                            _SCHEMAS["fetch_log"])
    assert back.count() == st.tables["fetch_log"].count()


# each range-sharded table's range key (plans/state.py _RANGE_SHARDED)
RANGE_KEYS = {"seen": ["bucket"], "dup_seen": ["bucket"],
              "queues": ["queue", "qseq"], "queues__rm": ["qseq"]}


def test_range_sharded_files_sorted_and_disjoint(spark, dims, seeds,
                                                 tmp_path):
    """docs/SCALE.md §3: every file of a range-sharded table is sorted
    by its range key, and the files of one table dir hold disjoint key
    ranges, so min/max stats prune a probe to one shard. AQE partition
    coalescing is off for this crawl so that a dir holds several
    shards."""
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        store = SnapshotStore(str(tmp_path / "snaps"))
        run_crawl(spark, CrawlConfig(page_no_duplicate=True), dims,
                  list(seeds), max_rounds=3, store=store,
                  keep_snapshots=10 ** 9)
    finally:
        spark.conf.set(conf, old)
    multi = 0
    for entry in sorted(os.listdir(store.root)):
        for name, cols in RANGE_KEYS.items():
            path = os.path.join(store.root, entry, name)
            if not os.path.isdir(path):
                continue
            spans = []
            for f in sorted(os.listdir(path)):
                if not f.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(path, f),
                                  columns=cols).to_pydict()
                keys = list(zip(*(t[c] for c in cols)))
                if keys:
                    assert keys == sorted(keys), (entry, name, f)
                    spans.append((keys[0], keys[-1]))
            spans.sort()
            for (_lo, hi), (lo, _hi) in zip(spans, spans[1:]):
                assert hi < lo, (entry, name, spans)
            multi += len(spans) > 1
    assert multi, "no range-sharded dir holds more than one shard"


def test_compaction_bounds_chain(spark, tmp_path):
    """After COMPACT_EVERY delta commits the table is rewritten in
    full and the composition list resets — bounding both read fan-in
    and how far back prune must keep history."""
    from larbin_spark.plans.state import COMPACT_EVERY, TABLES
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = CrawlState.empty(spark)
    st.save(store, 0)
    rows = 0
    for rnd in range(1, COMPACT_EVERY + 3):
        st = CrawlState.load(spark, store, rnd - 1)
        st.append("fetch_log", spark.createDataFrame(
            [(rnd, f"http://x/{rnd}", "success")], _SCHEMAS["fetch_log"]))
        rows += 1
        st.save(store, rnd)
        chain = store.table_rounds(rnd, "fetch_log")
        assert len(chain) <= COMPACT_EVERY
    last = COMPACT_EVERY + 2
    back = store.read_table(spark, last, "fetch_log",
                            _SCHEMAS["fetch_log"])
    assert back.count() == rows
    # a compaction actually happened somewhere in the run
    assert len(store.table_rounds(last, "fetch_log")) < last + 1

def test_prune_aborts_on_unreadable_kept_manifest(spark, tmp_path):
    """A KEPT snapshot's manifest is exactly what tells prune which
    ancestor data dirs are still referenced — if it is missing or
    corrupt, prune must ABORT, not silently treat the snapshot as
    referencing nothing (which could rmtree live delta-chain data)."""
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = CrawlState.empty(spark)
    for rnd in range(4):
        st.append("fetch_log", spark.createDataFrame(
            [(rnd, f"http://x/{rnd}", "success")], _SCHEMAS["fetch_log"]))
        st.save(store, rnd)
    # corrupt the latest (kept) snapshot's manifest
    with open(os.path.join(store._snap_dir(3), "manifest.json"), "w") as fp:
        fp.write("{not json")
    with pytest.raises(RuntimeError, match="prune aborted"):
        store.prune(keep_last=1)
    # every round dir must still exist — nothing was deleted
    for r in range(4):
        assert os.path.isdir(store._snap_dir(r)), r


def test_prune_skips_uncommitted_trailing_dir(spark, tmp_path):
    """A round dir BEYOND _LATEST (crash between table writes and
    commit) has no manifest by construction; prune must skip it, not
    abort."""
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = CrawlState.empty(spark)
    for rnd in range(3):
        st.save(store, rnd)
    os.makedirs(store._snap_dir(3))  # torn write: data dir, no commit
    store.prune(keep_last=1)
    assert os.path.isdir(store._snap_dir(2))


def test_queues_delta_commits(spark, dims, seeds, tmp_path):
    """The frontier (`queues`) is the one huge mutable table; its
    snapshot commits must be O(delta) — appended rows + removed-qseq
    tombstones, both bounded by the per-round budgets — never a full
    O(frontier) rewrite (reference: persistent_fifo.cxx:186-216
    delete-on-consume rotation)."""
    from larbin_spark.plans.state import _SCHEMAS
    cfg = CrawlConfig()
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = run_crawl(spark, cfg, dims, list(seeds),
                   max_rounds=ROUNDS, store=store, keep_snapshots=10 ** 9)
    rounds = store.table_rounds(ROUNDS, "queues")
    assert len(rounds) > 1, "frontier snapshot should be delta-composed"
    rm_rounds = store.table_rounds(ROUNDS, "queues__rm", default=[])
    assert rm_rounds, "delta commits must carry tombstone files"
    full = st.tables["queues"].count()
    # last commit's data dir = ONLY that round's appends, not the
    # frontier; tombstones = that round's takes, bounded by the
    # sequencer budget — i.e. write volume is independent of frontier
    # size
    last_add = _dir_rows(store, ROUNDS, "queues")
    last_rm = _dir_rows(store, ROUNDS, "queues__rm")
    assert last_add < full
    assert 0 < last_rm <= cfg.seq_per_round
    # reconstruction (appends ∖ tombstones) is exact
    back = CrawlState.load(spark, store, ROUNDS).tables["queues"]
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, st.tables["queues"].collect()))
    # appended-then-consumed rows must NOT resurrect: every tombstoned
    # qseq is absent from the reconstruction
    rm = spark.read.schema("qseq long").parquet(
        *[os.path.join(store._snap_dir(r), "queues__rm")
          for r in rm_rounds])
    assert back.join(rm, "qseq", "left_semi").count() == 0
