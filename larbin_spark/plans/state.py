"""Crawl state: the schemas of every state table and snapshot I/O.

All mutable crawler state lives in DataFrames (SURVEY.md §1.5 "all
state is tables"); the driver keeps only O(1) counters, which ride in
the snapshot manifest. One CrawlState = one committed round.

This module alone knows the snapshot's delta-chain format: which
tables commit as deltas, the pending-delta bookkeeping behind
CrawlState.append / remove / handoff, the chain-length rule
(COMPACT_EVERY) and how load composes a chain back into a table.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.catalog import SnapshotStore

QUEUE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("port", T.IntegerType()),
    T.StructField("path", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("cookie", T.StringType()),
    T.StructField("tag", T.IntegerType()),
    T.StructField("qseq", T.LongType()),
    T.StructField("queue", T.StringType()),
])

SITE_FIFO_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("port", T.IntegerType()),
    T.StructField("path", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("cookie", T.StringType()),
    T.StructField("tag", T.IntegerType()),
    T.StructField("qseq", T.LongType()),
    T.StructField("slot_id", T.IntegerType()),
    T.StructField("fifo_pos", T.LongType()),
])

IP_QUEUE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("port", T.IntegerType()),
    T.StructField("path", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("cookie", T.StringType()),
    T.StructField("tag", T.IntegerType()),
    T.StructField("slot_id", T.IntegerType()),
    T.StructField("ip_hash", T.IntegerType()),
    T.StructField("transfer_seq", T.LongType()),
])

SLOTS_SCHEMA = T.StructType([
    T.StructField("slot_id", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("port", T.IntegerType()),
    T.StructField("dns_state", T.StringType()),
    T.StructField("forbidden", T.ArrayType(T.StringType())),
    T.StructField("nburls", T.IntegerType()),
    T.StructField("dns_queue_pos", T.LongType()),
    T.StructField("dns_expire_round", T.IntegerType()),
    T.StructField("ip_hash", T.IntegerType()),
])

BUCKETS_SCHEMA = T.StructType([
    T.StructField("ip_hash", T.IntegerType()),
    T.StructField("last_fetch_round", T.IntegerType()),
])

SEEN_SCHEMA = T.StructType([T.StructField("bucket", T.LongType())])

FETCH_LOG_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("url", T.StringType()),
    T.StructField("error", T.StringType()),
])

ORDERING_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("fetch_seq", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("cookie", T.StringType()),
    T.StructField("tag", T.IntegerType()),
])

METRICS_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("error", T.StringType()),
    T.StructField("n", T.LongType()),
])

SPAN_TYPE = T.ArrayType(T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
]))

DOCS_OUT_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("fetch_seq", T.LongType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", SPAN_TYPE),
    T.StructField("tag", T.IntegerType()),   # URL_TAGS id (url.h:120-123)
])

CURATION_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("fetch_seq", T.LongType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("quality", T.DoubleType()),
    T.StructField("pred_lang", T.StringType()),
    T.StructField("pred_score", T.IntegerType()),
    T.StructField("simhash", T.LongType()),
    T.StructField("fingerprint", T.StringType()),
])

TABLES = ("queues", "site_fifo", "ip_queue", "slots", "buckets",
          "seen", "dup_seen", "fetch_log", "ordering", "metrics",
          "docs_out", "curation")

# grow-only tables: per-round snapshots append ONLY the round's delta
# files (Iceberg-style), never rewrite history — a full rewrite of
# e.g. docs_out every round would cost O(total) per round, O(R^2)
# cumulative over a crawl.
APPEND_ONLY = ("seen", "dup_seen", "fetch_log", "ordering", "metrics",
               "docs_out", "curation")
# add/remove tables: `queues` IS the frontier — the one table that is
# both huge (10^10 rows at the north-rule scale, ~1.2 TB in SCALE.md
# §1's sizing) and mutated every round. A full rewrite per commit is
# O(frontier); the reference's PersistentFifo is O(delta) via file
# rotation + delete-on-consume (persistent_fifo.cxx:186-216). Here a
# delta commit writes (a) the rows appended since the last commit and
# (b) a tombstone file of the removed qseq values — removals are the
# phase-B takes, bounded by the per-round seq budget, so both parts
# are O(delta). Reconstruction = union(chain appends) ∖
# union(chain tombstones); qseq is globally unique and never reused,
# which makes the tombstone anti-join exact even when a row appended
# in one delta is removed by a later one. Compaction at COMPACT_EVERY
# bounds the chain exactly like the grow-only tables. The remaining
# mutable tables (slots/site_fifo/ip_queue/buckets) ARE bounded by
# the in-flight budget / slot-space size and stay full rewrites.
TOMBSTONED = ("queues",)
QUEUE_RM_SCHEMA = T.StructType([T.StructField("qseq", T.LongType())])
# compact (full rewrite) when a table's file-composition list reaches
# this length: bounds read fan-in and lets prune drop old round dirs
COMPACT_EVERY = 16

_SCHEMAS = {
    "queues": QUEUE_SCHEMA, "site_fifo": SITE_FIFO_SCHEMA,
    "ip_queue": IP_QUEUE_SCHEMA, "slots": SLOTS_SCHEMA,
    "buckets": BUCKETS_SCHEMA, "seen": SEEN_SCHEMA,
    "dup_seen": SEEN_SCHEMA, "fetch_log": FETCH_LOG_SCHEMA,
    "ordering": ORDERING_SCHEMA, "metrics": METRICS_SCHEMA,
    "docs_out": DOCS_OUT_SCHEMA,
    "curation": CURATION_SCHEMA,
}


@dataclass
class CrawlState:
    tables: Dict[str, DataFrame]
    counters: Dict[str, int] = field(default_factory=dict)
    # the rows not yet persisted, relative to the snapshot this state
    # was loaded from: per delta-chained table, its appended rows; for
    # a TOMBSTONED table also `<name>__rm`, its removed qseq values.
    # Only append/remove add to it and only handoff/save consume it.
    deltas: Dict[str, DataFrame] = field(default_factory=dict)

    def __getattr__(self, item):
        try:
            return self.tables[item]
        except KeyError:
            raise AttributeError(item)

    @classmethod
    def empty(cls, spark: SparkSession) -> "CrawlState":
        tables = {name: spark.createDataFrame([], schema)
                  for name, schema in _SCHEMAS.items()}
        counters = dict(qseq_next=0, transfer_seq_next=0, fetch_seq_next=0,
                        take_next=0, valve_pw_qseq=0, valve_w_qseq=0,
                        pages_ok=0, round=0,
                        # incremental table sizes: valve + termination
                        # checks use these instead of per-round count()
                        # jobs (parity tests cross-validate them)
                        n_priority=0, n_priority_wait=0, n_disk=0,
                        n_disk_wait=0, n_site_fifo=0, n_ip_queue=0)
        return cls(tables, counters)

    def _pend(self, key: str, rows: DataFrame) -> None:
        self.deltas[key] = (self.deltas[key].unionByName(rows)
                            if key in self.deltas else rows)

    def append(self, name: str, rows: DataFrame) -> None:
        """The table becomes table ∪ rows; the rows join its pending
        delta."""
        self.tables[name] = self.tables[name].unionByName(rows)
        self._pend(name, rows)

    def remove(self, name: str, qseqs: DataFrame) -> None:
        """Drop the rows of a TOMBSTONED table whose qseq is in
        `qseqs` (one qseq column); the keys join its tombstone delta.
        qseq is never reused, so the anti-join is exact."""
        self.tables[name] = self.tables[name].join(qseqs, "qseq",
                                                   "left_anti")
        self._pend(f"{name}__rm", qseqs)

    def handoff(self) -> "CrawlState":
        """A frozen copy that owns the pending deltas, for a save that
        overlaps the continuing crawl; this state starts an empty
        delta set. The copy has its own tables and counters dicts and
        DataFrames are immutable, so the crawl's later appends never
        reach it."""
        frozen = CrawlState(dict(self.tables), dict(self.counters),
                            self.deltas)
        self.deltas = {}
        return frozen

    # membership tables are bucket-range sharded + sorted (SCALE.md §3:
    # pruned probes, sorted shard merges); the frontier is sharded by
    # (queue, qseq) so the phase-B eligible filter's class + valve
    # watermark predicates prune to each class's head shards on
    # parquet min/max stats; everything else coalesces
    _RANGE_SHARDED = {"seen": "bucket", "dup_seen": "bucket",
                      "queues": ["queue", "qseq"],
                      "queues__rm": "qseq"}

    def save(self, store: SnapshotStore, rnd: int) -> None:
        # delta commits extend the LAST COMMITTED snapshot's chains —
        # with snapshot_every > 1 that is rnd - K, not rnd - 1 (the
        # pending deltas span exactly the rounds since it)
        last = store.latest()
        prev = _last_chains(store) if last is not None and last < rnd else {}
        writes: Dict[str, DataFrame] = {}
        tables_meta: Dict[str, list] = {}
        for name in TABLES:
            # a TOMBSTONED table's chain is its append chain plus the
            # `__rm` tombstone chain: one family, compacted together
            family = (name, f"{name}__rm") if name in TOMBSTONED else (name,)
            chain = prev.get(name)
            if (chain is not None and len(chain) < COMPACT_EVERY
                    and any(k in self.deltas for k in family)):
                # O(delta) commit: each pending delta extends its chain
                for k in family:
                    tables_meta[k] = list(prev.get(k, []))
                    if k in self.deltas:
                        writes[k] = self.deltas[k]
                        tables_meta[k].append(rnd)
            else:
                # mutable table, bootstrap, or compaction due: a full
                # write starts a fresh chain (self.tables[name] already
                # composes appends ∖ tombstones, so the `__rm` chain
                # resets to [] and prune can expire the old files)
                writes[name] = self.tables[name]
                tables_meta[name] = [rnd]
        # the writes are independent jobs and tiny relative to
        # scheduler overhead, so fan out driver-side
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=len(writes)) as ex:
            list(ex.map(lambda k: store.write_table(
                rnd, k, writes[k], range_col=self._RANGE_SHARDED.get(k)),
                writes))
        store.commit(rnd, {"counters": self.counters, "round": rnd,
                           "tables": tables_meta})
        # the deltas are now persisted in THIS snapshot's chain; a
        # second save of the same state must not write them again
        # (it falls back to full writes, which are always correct)
        self.deltas = {}

    @classmethod
    def load(cls, spark: SparkSession, store: SnapshotStore,
             rnd: int) -> "CrawlState":
        tables = {name: store.read_table(spark, rnd, name, _SCHEMAS[name])
                  for name in TABLES}
        for name in TOMBSTONED:
            # compose the add/remove chain: appended files minus the
            # removed-key tombstones (O(delta · chain_len) rows, chain
            # bounded by COMPACT_EVERY). The anti-join's probe side is
            # tiny relative to the frontier; AQE picks the strategy.
            rm_rounds = store.table_rounds(rnd, f"{name}__rm", default=[])
            if rm_rounds:
                rm = store.read_rounds(spark, rm_rounds, f"{name}__rm",
                                       QUEUE_RM_SCHEMA)
                tables[name] = tables[name].join(rm, "qseq", "left_anti")
        return cls(tables, dict(store.manifest(rnd)["counters"]))


def _last_chains(store: SnapshotStore) -> Dict[str, list]:
    """The table composition chains of the store's latest committed
    snapshot; {} when there is none to extend."""
    last = store.latest()
    if last is None:
        return {}
    try:
        return store.manifest(last).get("tables", {})
    except FileNotFoundError:
        return {}


def compaction_due(store: SnapshotStore) -> bool:
    """True when the next save full-rewrites some delta-chained table:
    its chain reached COMPACT_EVERY, or there is no snapshot to
    extend."""
    chains = _last_chains(store)
    return not chains or any(len(c) >= COMPACT_EVERY
                             for c in chains.values())
