"""One crawl round as a batch DataFrame job (docs/ROUND_MODEL.md).

Phase map (the oracle simulator is the executable spec):
  A valve        -> driver counter arithmetic (main.cxx:190-199)
  B sequencer    -> ordered global take (TopK), then ONE per-slot
  C dns+robots      applyInPandas pass over take + site fifo with the
                    slot state and hosts/robots dims broadcast-joined
                    on: routing (sequencer.cxx, site.cxx:136-207),
                    then each queued slot's head resolve, robots
                    parse and fifo scan (site.cxx:212-496); the
                    dns_per_round cap is applied after its checkpoint
  D politeness   -> window row_number per ip_hash bucket
                    (site.cxx:572-644), then fetch_seq by the
                    two-phase rank; a fetch cap filters that rank
  E fetch+parse  -> broadcast join against documents, then ONE slim
                    page-verdict checkpoint per round (no document ->
                    err40X, content dup) that every consumer reads +
                    mapInPandas span link extraction + columnar gates
                    + seen anti-join (file.cxx, checker.cxx)
  F commit       -> localCheckpoint per state table; durable snapshot
                    at the crawl driver's checkpoint cadence

Determinism: every sequence number is a rank over an explicit total
order (qseq / take_rank / fifo_pos / transfer_seq /
(fetch_seq, link_idx)); nothing depends on partitioning. The global
row_number windows run ONLY on budget-limited sets (<= sequencer
budget / <= #ip buckets), so those single-partition windows are
bounded, not a scalability hole. The unbounded sequences — fetch_seq
over the #ip-buckets × k fetch set, and qseq for per-round new links
under the (fetch_seq, link_idx) order — use the two-phase distributed
rank (operators/sequence.py).
The heavy stages (slot routing, link extraction, seen anti-join,
fetch join) shuffle on slot_id / bucket / range and scale out; the
documents dim and the growing seen / dup_seen sets are never
broadcast (only bounded frames, such as the scheduled batch, are).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Dict, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions.exprs import render_spans, robots_regex, site_hash_col
from ..kernels.links import clean_redirect_text, extract_links
from ..kernels.urlfilter import filter1
from ..kernels.urlnorm import ParsedUrl, give_base, parse_url, punycode_host
from ..operators import slot_logic
from ..operators.sequence import _DictSum, _group_sizes
from .state import (
    CURATION_SCHEMA, IP_QUEUE_SCHEMA, METRICS_SCHEMA, QUEUE_SCHEMA,
    SEEN_SCHEMA, SITE_FIFO_SCHEMA, SLOTS_SCHEMA, CrawlState,
)

# The per-slot pass (phases B and C, see run_round) emits one tagged
# frame. `kind` says what a row is:
#   take  one per taken URL: its phase-B action (cls, take_rank)
#   fifo  one per post-B site-fifo row: its phase-C action, computed
#         as if the slot were selected (fifo_pos, dns_queue_pos)
#   slot  one per touched slot: its post-B state (s_*, dns_queue_pos)
#   head  one per queued slot: its post-C state, as if selected, and
#         whether it re-queues for DNS
# ip_hash is the bucket a transfer goes to; s_* mirror SLOTS_SCHEMA.
_SLOT_STATE = [f for f in SLOTS_SCHEMA
               if f.name not in ("slot_id", "dns_queue_pos")]
SLOT_PASS_SCHEMA = T.StructType(
    [T.StructField("kind", T.StringType())] + list(SITE_FIFO_SCHEMA) + [
        T.StructField("take_rank", T.LongType()),
        T.StructField("cls", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("err", T.StringType()),
        T.StructField("ip_hash", T.IntegerType()),
        T.StructField("dns_queue_pos", T.LongType()),
        T.StructField("requeue", T.BooleanType()),
    ] + [T.StructField("s_" + f.name, f.dataType) for f in _SLOT_STATE])

# SCALE note (r5): no l_url column — the canonical URL string is a
# pure function of (l_host, l_port, l_path) (ParsedUrl.url,
# urlnorm.py; reference giveUrl url.cxx:409-426), so carrying it
# through the extract Arrow transfer, the links checkpoint, the
# survivors window shuffle and the enqueue range shuffle would
# roughly double the string mass of every phase-E barrier for zero
# information. It is re-derived JVM-side (one concat) only where the
# QUEUE_SCHEMA needs it, after the rank.
#
# The extract pass also emits the two integer keys the rest of phase E
# needs — l_slot_id (siteHashCode, the fast-fail slot join key) and
# bucket (url::hashCode, the seen-set key) — so the link chain crosses
# into Python once instead of once per key UDF.
LINKS_SCHEMA = T.StructType([
    T.StructField("fetch_seq", T.LongType()),
    T.StructField("link_idx", T.IntegerType()),
    T.StructField("l_host", T.StringType()),
    T.StructField("l_port", T.IntegerType()),
    T.StructField("l_path", T.StringType()),
    T.StructField("l_depth", T.IntegerType()),
    T.StructField("is_redir", T.BooleanType()),
    T.StructField("parent_host", T.StringType()),
    T.StructField("l_cookie", T.StringType()),
    T.StructField("l_tag", T.IntegerType()),
    T.StructField("l_slot_id", T.IntegerType()),
    T.StructField("bucket", T.LongType()),
])


def _puny_col(cfg: CrawlConfig, host_col):
    if not cfg.punycode:
        return host_col

    @F.pandas_udf(T.StringType())
    def puny_udf(h: pd.Series) -> pd.Series:
        return pd.Series([punycode_host(x) for x in h])

    return puny_udf(host_col)


_STATE_PARTITIONS = 8


def _slot_pass(df: DataFrame, bucket_fn, schema, count_by,
               cap=lambda d: d):
    """groupBy(slot_id)-equivalent applyInPandas with the per-group
    Arrow overhead amortized, checkpointed together with its counts.

    A native `groupBy("slot_id").applyInPandas` pays ~3-5 ms of Arrow
    serialization + pandas construction PER GROUP; with the reference's
    20k open-addressed site slots (types.h:35) live, that is ~100 s per
    round regardless of row volume — the per-group constant, not the
    data, dominates at web scale. Instead shuffle on a coarse bucket of
    slot_id (hash co-location still guarantees every row of a slot
    lands in the same pandas call) and run `bucket_fn` once per bucket;
    it iterates the slots internally via `_slot_spans` over a single
    (slot_id, order)-sorted frame, so both the Arrow constant AND the
    pandas constant are paid per bucket, never per slot.

    One bucket per core (defaultParallelism): more buckets add no
    parallelism, and on a small round AQE coalesces the shuffle to one
    task, which then runs every bucket's pandas call back to back.
    Bucket count only shapes parallelism, never results.

    Returns (frame, counts): the `_lc` checkpoint of the pass (`cap`
    sees the lazy frame first, for the plan probe) and the number of
    output rows per `count_by` value — a tuple key when count_by names
    several columns. The counts are added to a dict accumulator inside
    the same pandas call, the way Larbin's sequencer updates its
    budget counters as the URLs move (sequencer.cxx:32-43), instead of
    a groupBy().count() collect over the checkpoint (two more jobs
    under AQE). They are exact by the invariant of
    operators/sequence.assign_global_seq: Spark merges a result-stage
    task's accumulator update once, even when the task is retried or
    speculated, so nothing wide may sit between this pandas call and
    the eager checkpoint (`_lc`'s coalesce is narrow).
    tests/test_slot_pass.py pins the counts under a failed attempt.
    """
    sc = df.sparkSession.sparkContext
    n_buckets = sc.defaultParallelism
    bucketed = df.withColumn(
        "_slot_bucket",
        F.pmod(F.col("slot_id"), F.lit(n_buckets)).cast("int"))
    by = list(count_by)
    acc = sc.accumulator({}, _DictSum())

    def outer(pdf: pd.DataFrame) -> pd.DataFrame:
        out = bucket_fn(pdf.drop(columns=["_slot_bucket"]))
        acc.add(_group_sizes(out, by))
        return out

    frame = _lc(cap(bucketed.groupBy("_slot_bucket")
                    .applyInPandas(outer, schema)))
    return frame, dict(acc.value)


def _slot_spans(ids):
    """Contiguous [i, j) index spans per slot over a slot_id-sorted
    array — the zero-copy replacement for per-slot pandas groups."""
    import numpy as np
    arr = np.asarray(ids)
    if arr.size == 0:
        return []
    starts = np.flatnonzero(np.r_[True, arr[1:] != arr[:-1]])
    ends = np.r_[starts[1:], arr.size]
    return list(zip(starts.tolist(), ends.tolist()))


def _fastfail_slots(slots: DataFrame) -> DataFrame:
    """The slot state the link-time fast-fail gate reads (initOK,
    url.cxx:343-391), keyed for the join on the link's slot id, with
    each robots disallow pattern as its exact anchored regex."""
    return slots.select(
        F.col("slot_id").alias("l_slot_id"),
        F.col("name").alias("ff_name"), F.col("port").alias("ff_port"),
        F.col("dns_state").alias("ff_state"),
        F.transform("forbidden", robots_regex).alias("ff_robots_re"))


def _lc(df: DataFrame, parts: int = _STATE_PARTITIONS) -> DataFrame:
    """Materialize + truncate lineage (in-memory commit; durable
    commits happen at the snapshot cadence).

    The coalesce is load-bearing: per-round unionByName would
    otherwise grow the partition count without bound (every round
    appends the delta's partitions), drowning later rounds in empty
    tasks. State tables stay at a fixed partition count; at cluster
    scale this constant is sized to the executor count."""
    return df.coalesce(parts).localCheckpoint(eager=True)


class RoundRunner:
    """Executes crawl rounds against dimension tables.

    dims: documents(doc_id, spans, status, redirect_to, content_type,
    length), hosts(host, dns_ok, ip), robots(host, status, body,
    reachable) — the synthetic-web / simulated-network inputs.
    """

    def __init__(self, spark: SparkSession, cfg: CrawlConfig,
                 dims: Dict[str, DataFrame]):
        self.spark = spark
        self.cfg = cfg
        self.dims = dims
        self.expire_rounds = max(1, (2 * 24 * 3600) // max(1, cfg.wait_duration))
        # width for per-round COMPUTE frames (the fetched-pages chain:
        # content hashing + link extraction are the crawl's per-page
        # CPU). State tables coalesce to _STATE_PARTITIONS for bounded
        # file counts, but materializing the pages frame at state
        # width would cap every downstream mapInPandas at 8-way — on a
        # 32-core box that alone made phase E ~7x slower than the same
        # plan at full width (measured: the heavy-fixture extract pass
        # at 6 vs 32 partitions is 25.3 s vs 3.6 s).
        self.width = max(_STATE_PARTITIONS,
                         spark.sparkContext.defaultParallelism)
        # when set to a dict, run_round stashes its key LAZY frames
        # (pre-localCheckpoint, full lineage) under phase-stage names
        # so tools/explain_audit.py can assert the integration plan's
        # scale properties (no frontier-wide Window, no doc-side or
        # growing-table broadcast) — per-query audits can't see plans
        # that only exist inside the round
        self.plan_probe: Dict[str, DataFrame] | None = None

    def _cap(self, name: str, df: DataFrame) -> DataFrame:
        if self.plan_probe is not None:
            self.plan_probe[name] = df
        return df

    # ---------------- seeding ----------------

    def seed(self, st: CrawlState, seed_urls) -> CrawlState:
        """O-1: parse seeds in order, dedup, enqueue (global.cxx:284-297)."""
        cfg = self.cfg
        rows = []
        seen_new = []
        seen_set = set()  # seeds are few; existing seen is empty at bootstrap
        from ..kernels.hashes import url_hash
        from ..kernels.urlfilter import match_priv_ext
        n_dup_seeds = 0
        for raw in seed_urls:
            u = parse_url(raw, cfg.depth_in_site, None)
            if u is None:
                continue
            b = url_hash(u.host, u.port, u.path, cfg.hash_size)
            if b in seen_set:
                n_dup_seeds += 1  # check() counts urlDup (checker.cxx:61)
                continue
            seen_set.add(b)
            seen_new.append((b,))
            queue = ("priority" if cfg.specific_search and cfg.privileged_exts
                     and match_priv_ext(u.path, cfg.privileged_exts) else "disk")
            st.counters[f"n_{queue}"] += 1
            rows.append((u.url, u.host, u.port, u.path, u.depth, None, 0,
                         st.counters["qseq_next"] + len(rows), queue))
        st.counters["qseq_next"] += len(rows)
        spark = self.spark
        st.append("queues", spark.createDataFrame(rows, QUEUE_SCHEMA))
        st.append("seen", spark.createDataFrame(seen_new, SEEN_SCHEMA))
        if n_dup_seeds:
            st.append("metrics", spark.createDataFrame(
                [(0, 0, "urlDup", n_dup_seeds)], METRICS_SCHEMA))
        return st

    def submit(self, st: CrawlState, subs) -> CrawlState:
        """Entry point B: a batch of input-port submissions
        (input.cxx:125-160) unioned into the frontier before a round.
        subs: [(raw_url, priority, test, tag), ...] in arrival order.

        test=1 dedups against the seen set — already-seen URLs drop
        SILENTLY (input.cxx:142-144 deletes without counting, unlike
        checker.cxx's urlDup); test=0 force-sets the seen bit and
        enqueues regardless. priority>0 -> the priority queue. tag is
        the URL_TAGS id parsed off the submission line
        (url.cxx:223-228).

        Submission batches are bounded like seeds (the reference
        parses them serially on the main thread), so routing runs
        driver-side; the only cluster work is one bounded membership
        probe against the seen table (filter on <=|subs| buckets)."""
        cfg, spark = self.cfg, self.spark
        from ..kernels.hashes import url_hash
        parsed = []
        for raw, priority, test, tag in subs:
            u = parse_url(raw, cfg.depth_in_site, None)
            if u is None:
                continue
            b = url_hash(u.host, u.port, u.path, cfg.hash_size)
            parsed.append((u, int(priority), int(test), int(tag), b))
        if not parsed:
            return st
        # probe EVERY submitted bucket (not just test=1): a test=0
        # force-set on an already-seen URL must be a no-op on the
        # seen TABLE (the reference's seen->set is an idempotent bit
        # set) — probing only test=1 buckets would append a duplicate
        # bucket row and diverge from the oracle's set.
        # The probe is a broadcast semi-join (|subs| rows broadcast,
        # seen streamed map-side with parquet min/max pruning on the
        # range-sharded bucket files) — an isin() literal list would
        # inflate the Catalyst plan linearly with the batch size.
        probe = {p[4] for p in parsed}
        probe_df = spark.createDataFrame(
            [(b,) for b in sorted(probe)], SEEN_SCHEMA)
        hits = {r["bucket"] for r in
                st.seen.join(F.broadcast(probe_df), "bucket", "left_semi")
                .collect()}
        rows, new_buckets = [], []
        seen_now = set(hits)
        for u, priority, test, tag, b in parsed:
            if test and b in seen_now:
                continue  # silent drop
            if b not in seen_now:
                seen_now.add(b)
                if b not in hits:
                    new_buckets.append((b,))
            queue = "priority" if priority else "disk"
            st.counters[f"n_{queue}"] += 1
            rows.append((u.url, u.host, u.port, u.path, u.depth, None,
                         tag, st.counters["qseq_next"] + len(rows), queue))
        st.counters["qseq_next"] += len(rows)
        st.append("queues", spark.createDataFrame(rows, QUEUE_SCHEMA))
        if new_buckets:
            st.append("seen", spark.createDataFrame(new_buckets, SEEN_SCHEMA))
        return st

    # ---------------- the round ----------------

    def run_round(self, st: CrawlState, rnd: int) -> CrawlState:
        cfg = self.cfg
        C = st.counters

        # ---------- phase A: wait valve ----------
        # The valve ("read the first n wait rows as of valve open",
        # main.cxx:190-199) is an O(1) qseq WATERMARK, not a count:
        # every wait row present at valve open has qseq < qseq_next,
        # and every later arrival (bounces re-enqueue with fresh qseq)
        # has qseq >= it — so `qseq < watermark` is exactly the
        # first-n-in-qseq-order set at all times, with no decrement
        # bookkeeping and, crucially, no rank over the frontier. The
        # count form (row_number over partitionBy(queue), <=4 tasks)
        # would sort the ENTIRE 10^10-row frontier per round
        # (VERDICT r2 #2).
        if rnd % cfg.valve_period == 0:
            C["valve_pw_qseq"] = C["qseq_next"]
            C["valve_w_qseq"] = C["qseq_next"]
        if rnd % cfg.valve_period == cfg.valve_open:
            C["valve_pw_qseq"] = 0
            C["valve_w_qseq"] = 0

        # ---------- phase B: sequencer ----------
        # in-flight budget from the incrementally-maintained counters:
        # sum(slots.nburls) == n_site_fifo + n_ip_queue by construction
        # (nburls +1 on A_FIFO/A_TRANSFER in B, -1 on A_FORGET in C and
        # per fetch in D — exactly the moves the two counters mirror;
        # tests/test_crawl_parity.py cross-validates the invariant
        # against the table), which replaces a per-round aggregation
        # job over the slot table with driver arithmetic
        ram_used = C["n_site_fifo"] + C["n_ip_queue"]
        still = min(cfg.seq_per_round, max(0, cfg.ram_urls - int(ram_used)))

        # pure filter (map-side, prunable) — no Window over st.queues;
        # tools/explain_audit.py asserts this on the physical plan
        eligible = st.queues.filter(
            (F.col("queue") == "priority")
            | (F.col("queue") == "disk")
            | ((F.col("queue") == "priority_wait")
               & (F.col("qseq") < F.lit(C.get("valve_pw_qseq", 0))))
            | ((F.col("queue") == "disk_wait")
               & (F.col("qseq") < F.lit(C.get("valve_w_qseq", 0)))))
        cls_order = (F.when(F.col("queue") == "priority_wait", 0)
                      .when(F.col("queue") == "priority", 1)
                      .when(F.col("queue") == "disk_wait", 2).otherwise(3))
        take = (eligible.withColumn("cls_order", cls_order)
                .orderBy("cls_order", "qseq").limit(still))
        take = take.withColumn(
            "take_rank",
            F.row_number().over(Window.orderBy("cls_order", "qseq")) - 1
            + F.lit(C["take_next"]))
        take = (take.withColumnRenamed("queue", "cls").drop("cls_order")
                .withColumn("slot_id", site_hash_col(
                    "host", cfg.named_site_list_size)))
        # capture the pre-checkpoint take for the plan audit (the
        # frontier-scan shape — TakeOrdered + the single take_rank
        # window — lives here), then materialize: the take feeds BOTH
        # the slot-reduction semi-join and the pass input below, and
        # without the checkpoint the TakeOrdered would scan the
        # frontier twice per round
        take = _lc(self._cap("B_take", take))
        bc, counts = self._slot_steps(st, take, rnd)

        # the sequence numbers are ranks over the checkpoint, under the
        # orders the oracle assigns them in
        took = bc.filter(F.col("kind") == "take")
        wt = Window.orderBy("take_rank")
        bounced = (took.filter(F.col("action") == slot_logic.A_BOUNCE)
                   .withColumn("queue",
                               F.when(F.col("cls").startswith("priority"),
                                      "priority_wait").otherwise("disk_wait"))
                   .withColumn("qseq", F.row_number().over(wt) - 1
                               + F.lit(C["qseq_next"]))
                   .select(*QUEUE_SCHEMA.names))
        transfers_b = (took.filter(F.col("action") == slot_logic.A_TRANSFER)
                       .withColumn("transfer_seq",
                                   F.row_number().over(wt) - 1
                                   + F.lit(C["transfer_seq_next"]))
                       .select(*IP_QUEUE_SCHEMA.names))
        log_b = (took.filter(F.col("action") == slot_logic.A_FORGET)
                 .select(F.lit(rnd).alias("round"), "url",
                         F.col("err").alias("error")))

        # phase-B counter moves, from the counts that rode the pass
        # (the literals above read the pre-move counters). No
        # read_pw/read_w decrement: taken rows leave the queue table
        # (anti-join above), so `qseq < watermark` keeps selecting
        # exactly the not-yet-taken valve-open set
        n_bounce = n_transfer_b = n_fifo_b = 0
        for (kind, c, a), n in counts.items():
            if kind != "take":
                continue
            C["take_next"] += n
            C[f"n_{c}"] -= n
            if a == slot_logic.A_BOUNCE:
                n_bounce += n
                C["n_priority_wait" if c.startswith("priority")
                  else "n_disk_wait"] += n
            elif a == slot_logic.A_TRANSFER:
                n_transfer_b += n
            elif a == slot_logic.A_FIFO:
                n_fifo_b += n
        C["n_site_fifo"] += n_fifo_b
        C["n_ip_queue"] += n_transfer_b
        C["transfer_seq_next"] += n_transfer_b

        # ---------- phase C: DNS + robots ----------
        # The pass resolved every queued slot as if it were selected:
        # exact, because that step reads only its own slot and the
        # dims. The dns_per_round cap keeps the first slots in DNS-queue
        # order (proc_rank, one bounded window over the queued slots);
        # the others keep their post-B fifo and state.
        heads = bc.filter(F.col("kind") == "head").withColumn(
            "proc_rank", F.row_number().over(Window.orderBy("dns_queue_pos")))
        fifo = bc.filter(F.col("kind") == "fifo")
        if cfg.dns_per_round:
            heads = heads.filter(F.col("proc_rank") <= cfg.dns_per_round)
            fifo = fifo.join(F.broadcast(heads.select(
                "slot_id", F.lit(True).alias("picked"))), "slot_id", "left")
            picked = F.coalesce(F.col("picked"), F.lit(False))
            # the as-if-selected counts include dropped slots: the
            # capped path pays one count
            cstats = {r["action"]: r["count"] for r in
                      fifo.filter(picked).groupBy("action").count().collect()}
        else:
            picked = F.lit(True)
            cstats = {a: n for (kind, _c, a), n in counts.items()
                      if kind == "fifo"}
        n_transfer_c = cstats.get(slot_logic.A_TRANSFER, 0)
        n_forget_c = cstats.get(slot_logic.A_FORGET, 0)

        # transfers rank after phase B's, by DNS-queue then fifo order
        wtr = Window.orderBy("dns_queue_pos", "fifo_pos")
        transfers_c = (fifo.filter(picked & (F.col("action")
                                             == slot_logic.A_TRANSFER))
                       .withColumn("transfer_seq",
                                   F.row_number().over(wtr) - 1
                                   + F.lit(C["transfer_seq_next"]))
                       .select(*IP_QUEUE_SCHEMA.names))
        log_c = (fifo.filter(picked & (F.col("action") == slot_logic.A_FORGET))
                 .select(F.lit(rnd).alias("round"), "url",
                         F.col("err").alias("error")))
        C["transfer_seq_next"] += n_transfer_c
        C["n_site_fifo"] -= n_transfer_c + n_forget_c
        C["n_ip_queue"] += n_transfer_c
        # every fifo row went through the pass: the new fifo is the
        # unselected slots' rows plus the selected slots' stays
        site_fifo = (fifo.filter(~picked | (F.col("action")
                                            == slot_logic.A_STAY))
                     .select(*SITE_FIFO_SCHEMA.names))

        # slot states: a selected slot takes its post-C state and
        # re-queues behind this round's DNS queue if its fifo kept rows;
        # every other touched slot takes its post-B state
        state_cols = [F.col("s_" + f.name).alias(f.name) for f in _SLOT_STATE]
        requeue_pos = (F.lit(rnd * 2 + 1).cast("long") * F.lit(1 << 32)
                       + F.col("proc_rank"))
        touched = bc.filter(F.col("kind") == "slot")
        new_states = (touched.join(F.broadcast(heads.select("slot_id")),
                                   "slot_id", "left_anti")
                      .select("slot_id", "dns_queue_pos", *state_cols)
                      .unionByName(heads.select(
                          "slot_id", F.when(F.col("requeue"), requeue_pos)
                          .alias("dns_queue_pos"), *state_cols)))
        slots = (st.slots.join(F.broadcast(touched.select("slot_id")),
                               "slot_id", "left_anti")
                 .unionByName(new_states))

        # Background checkpoints run on this one pool, overlapped with
        # the serial phases: slots from phase C until phase E needs
        # the fast-fail slots, ip_queue and buckets from
        # phase D through phase E, and phase E's n_success count and
        # curation finalize. Three workers is the peak overlap (phase
        # E). On any failure, pending work is cancelled and running
        # jobs are detached, so no checkpoint job keeps the interpreter
        # alive on a non-daemon thread.
        ex = ThreadPoolExecutor(max_workers=3)
        try:
            # slots is a lazy plan over the pass checkpoint and
            # st.slots, not read before phase E. site_fifo stays a
            # filter over the pass checkpoint: only the save and the
            # next round's pass read it
            f_slots = ex.submit(_lc, slots)
            ip_queue = (st.ip_queue.unionByName(transfers_b)
                        .unionByName(transfers_c))

            # ---------- phase D: politeness schedule ----------
            k = max(1, cfg.fetch_per_ip_per_round)
            wip = Window.partitionBy("ip_hash").orderBy("transfer_seq")
            cand = (ip_queue.join(F.broadcast(st.buckets), "ip_hash", "left")
                    .filter(F.col("last_fetch_round").isNull()
                            | (F.col("last_fetch_round") < rnd)))
            cand = (cand.withColumn("rn", F.row_number().over(wip))
                    .withColumn("bucket_head", F.min("transfer_seq").over(
                        Window.partitionBy("ip_hash"))))
            fetched = self._cap("D_sched", cand.filter(F.col("rn") <= k))
            # (bucket_head, rn) is a unique total order over the fetch
            # set (bucket_head = min transfer_seq of the ip bucket,
            # unique per bucket; rn unique within). The set is
            # #ip-buckets × k and the bucket count is config-widened at
            # scale (SCALE.md §1), so it is ranked with the two-phase
            # distributed scheme, not a single-partition window
            # (VERDICT r2 minor); its count rides the rank's internal
            # counts job. A per-round fetch cap keeps the first `cap`
            # ranks: a filter on the same rank, with no count of its own.
            from ..operators.sequence import assign_global_seq
            _dcnt: dict = {}
            fetched = assign_global_seq(
                fetched, ["bucket_head", "rn"], "fetch_seq",
                C["fetch_seq_next"], counts_out=_dcnt)
            n_fetched = _dcnt["total"]
            if cfg.fetch_cap_per_round:
                fetched = fetched.filter(
                    F.col("fetch_seq")
                    < C["fetch_seq_next"] + cfg.fetch_cap_per_round)
                n_fetched = min(n_fetched, cfg.fetch_cap_per_round)
            fetched = _lc(self._cap("D_fetched", fetched.select(
                "url", "host", "port", "path", "depth", "cookie", "tag",
                "slot_id", "ip_hash", "transfer_seq", "fetch_seq")))
            C["fetch_seq_next"] += n_fetched
            C["n_ip_queue"] -= n_fetched

            ip_queue = ip_queue.join(fetched.select("transfer_seq"),
                                     "transfer_seq", "left_anti")
            fetched_buckets = (fetched.select("ip_hash").distinct()
                               .withColumn("last_fetch_round", F.lit(rnd)))
            buckets = (st.buckets.join(fetched_buckets.select("ip_hash"),
                                       "ip_hash", "left_anti")
                       .unionByName(fetched_buckets))
            # ip_queue and buckets are final here and phase E reads
            # neither: checkpoint the two bounded tables in the
            # background, so the commit and the snapshot save (which
            # writes these checkpoints) never evaluate their lazy
            # plans. slots stays lazy: checkpointing it gained nothing
            # measurable and would cost O(slots) per round at the
            # config-widened slot space (SCALE.md §1).
            f_bounded = ex.submit(lambda: (_lc(ip_queue), _lc(buckets)))

            # link-time fast-fail (initOK) consults slot state as of
            # end of phase C (docs/ROUND_MODEL.md)
            slots = f_slots.result()
            ff_slots = _fastfail_slots(slots)
            ddelta = fetched.groupBy("slot_id").agg(
                (-F.count("*")).cast("int").alias("nb_delta"))
            slots = (slots.join(F.broadcast(ddelta), "slot_id", "left")
                     .withColumn("nburls", F.col("nburls")
                                 + F.coalesce("nb_delta", F.lit(0)))
                     .select(*SLOTS_SCHEMA.names))

            ordering_new = fetched.select(F.lit(rnd).alias("round"),
                                          "fetch_seq", "url", "cookie", "tag")

            # ---------- phase E: fetch + parse + link pipeline ----------
            (seen_delta, dup_delta, log_e, metrics_e, docs_out_new,
             curation_new, n_links_new, n_success,
             links_enqueued) = self._phase_e(
                st, fetched, ff_slots, rnd, C["qseq_next"] + n_bounce, ex)
            ip_queue, buckets = f_bounded.result()
        except BaseException:
            ex.shutdown(wait=False, cancel_futures=True)
            raise
        ex.shutdown()
        C["qseq_next"] += n_bounce + n_links_new
        C["pages_ok"] += n_success

        # ---------- phase F: commit ----------
        # tables stay lazy here; the crawl driver persists the whole
        # state through the SnapshotStore at every round boundary,
        # which (a) makes each round durably resumable and (b) resets
        # Catalyst's size statistics to real file sizes -- checkpointed
        # in-memory plans preserve computed stats, so join-size
        # estimates would compound multiplicatively across rounds
        # (BigInt stats blowup in the planner). The grow-only tables
        # and the frontier change by appends and removals, which the
        # snapshot commits as O(delta) chains (plans/state.py); the
        # bounded mutable tables are replaced whole.
        st.tables.update(site_fifo=site_fifo, ip_queue=ip_queue,
                         slots=slots, buckets=buckets)
        # the frontier loses every routed take and gains the bounces
        # and the newly discovered links
        st.remove("queues", take.select("qseq"))
        st.append("queues", bounced)
        st.append("queues", links_enqueued)
        st.append("seen", seen_delta)
        st.append("dup_seen", dup_delta)
        st.append("fetch_log", log_b.unionByName(log_c).unionByName(log_e))
        st.append("ordering", ordering_new)
        st.append("metrics", metrics_e)
        st.append("docs_out", docs_out_new)
        if cfg.curate:
            # inline curation (pipeline/rowsigs): the signatures were
            # materialized by phase E's compute-width finalize pass, so
            # this append (and the snapshot writer's small-delta
            # coalesce) moves only precomputed values — no extra
            # scan, no shuffle, nothing left for the save to narrow
            st.append("curation", curation_new)
        C["round"] = rnd + 1
        return st

    # ---------------- phases B + C: the per-slot pass ----------------

    def _slot_steps(self, st: CrawlState, take: DataFrame, rnd: int):
        """One per-slot pass for phases B and C. Larbin routes a taken
        URL into its NamedSite and then resolves that site's DNS and
        robots (site.cxx:136-207, 395-496): both steps act on one slot,
        so one pandas pass applies them slot by slot. Its input is the
        take unioned with the site fifo (every fifo row belongs to a
        slot queued for DNS), each row carrying its slot's state and
        its host's dim rows. Returns the checkpointed SLOT_PASS_SCHEMA
        frame and its {(kind, cls, action): rows} counts."""
        cfg = self.cfg
        rows = (take.withColumn("kind", F.lit("take"))
                .unionByName(st.site_fifo.withColumn("kind", F.lit("fifo")),
                             allowMissingColumns=True)
                .withColumn("puny", _puny_col(cfg, F.col("host"))))
        # SCALE: the slot space is config-widened to ~10^8 rows
        # (~10 GB) at the north-rule frontier (SCALE.md §1), so the
        # FULL slot table must never be broadcast. The pass input is
        # bounded (the take by the sequencer budget, the fifo by the
        # in-RAM budget): semi-join the slots down to its distinct
        # slot_ids first (broadcasting that small side), then
        # broadcast only the reduced slot rows.
        slot_state = (st.slots.select(
            "slot_id", *[F.col(c).alias("s_" + c)
                         for c in SLOTS_SCHEMA.names[1:]])
            .join(F.broadcast(rows.select("slot_id").distinct()),
                  "slot_id", "left_semi"))
        hosts = self.dims["hosts"].select(
            F.col("host").alias("puny"), "dns_ok", "ip")
        robots = self.dims["robots"].select(
            F.col("host").alias("puny"),
            F.col("status").alias("rob_status"),
            F.col("body").alias("rob_body"),
            F.col("reachable").alias("rob_reachable"))
        rows = (rows.join(F.broadcast(slot_state), "slot_id", "left")
                .join(F.broadcast(hosts), "puny", "left")
                .join(F.broadcast(robots), "puny", "left"))

        cfg_b = {"max_urls_by_site": cfg.max_urls_by_site,
                 "ignore_robots": cfg.ignore_robots}
        user_agent, ip_size = cfg.user_agent, cfg.ip_site_list_size
        expire = rnd + self.expire_rounds
        names = SLOT_PASS_SCHEMA.names
        url_cols = SITE_FIFO_SCHEMA.names[:-1]   # url .. slot_id

        def slot_steps(pdf: pd.DataFrame) -> pd.DataFrame:
            # one call per bucket of slots (see _slot_pass): sort once,
            # then walk per-slot spans with pure-Python slot state; in
            # a span the fifo rows (by fifo_pos) precede the take rows
            # (by take_rank)
            pos = pdf["fifo_pos"].where(pdf["kind"] == "fifo",
                                        pdf["take_rank"])
            pdf = (pdf.assign(_pos=pos)
                   .sort_values(["slot_id", "kind", "_pos"])
                   .reset_index(drop=True))
            recs = pdf.astype(object).where(pdf.notna(), None) \
                .to_dict("records")
            out = []

            def emit(kind, r, **kw):
                row = dict.fromkeys(names)
                if r is not None:
                    row.update((c, r[c]) for c in url_cols)
                row["kind"] = kind
                row.update(kw)
                out.append(row)

            for i, j in _slot_spans(pdf["slot_id"].to_numpy()):
                span = recs[i:j]
                slot = dict(slot_logic.NEW_SLOT)
                for k, v in slot.items():
                    got = span[0]["s_" + k]
                    if got is not None:
                        slot[k] = (list(got) if k == "forbidden" else
                                   got if isinstance(v, str) else int(got))
                fifo = [r for r in span if r["kind"] == "fifo"]
                takes = [r for r in span if r["kind"] == "take"]
                # phase B: route the take (putGenericUrl)
                nb = slot["nburls"]
                for r, (a, e) in zip(takes, slot_logic.route_take(
                        slot, takes, cfg_b, rnd)):
                    emit("take", r, take_rank=int(r["take_rank"]),
                         cls=r["cls"], action=a, err=e,
                         ip_hash=slot["ip_hash"])
                    if a in (slot_logic.A_FIFO, slot_logic.A_TRANSFER):
                        nb += 1
                    if a == slot_logic.A_FIFO:
                        r["fifo_pos"] = r["take_rank"]
                        fifo.append(r)
                qpos = slot["dns_queue_pos"]
                if qpos is None and fifo:
                    qpos = (rnd * 2 << 32) + int(fifo[0]["take_rank"])
                state = {"s_" + k: v for k, v in slot.items()
                         if k not in ("nburls", "dns_queue_pos")}
                emit("slot", None, slot_id=int(span[0]["slot_id"]),
                     dns_queue_pos=qpos, s_nburls=nb, **state)
                if not fifo:
                    continue
                # phase C: newId from the fifo head, its DNS answer and
                # robots, then robotsResult / dnsErr over the fifo
                head = fifo[0]
                outcome, forbidden, ip = slot_logic.resolve_head(
                    head, slot["forbidden"], user_agent, ip_size)
                acts = slot_logic.resolve_fifo(
                    head["puny"], int(head["port"]), outcome, forbidden,
                    cfg_b["ignore_robots"], fifo)
                for r, (a, e) in zip(fifo, acts):
                    emit("fifo", r, fifo_pos=int(r["fifo_pos"]),
                         dns_queue_pos=qpos, action=a, err=e, ip_hash=ip)
                n_forget = sum(a == slot_logic.A_FORGET for a, _ in acts)
                emit("head", None, slot_id=int(head["slot_id"]),
                     dns_queue_pos=qpos,
                     requeue=any(a == slot_logic.A_STAY for a, _ in acts),
                     s_name=head["puny"], s_port=int(head["port"]),
                     s_dns_state=outcome, s_forbidden=forbidden,
                     s_nburls=nb - n_forget, s_dns_expire_round=expire,
                     s_ip_hash=ip)
            return pd.DataFrame(out, columns=names, dtype=object)

        return _slot_pass(rows, slot_steps, SLOT_PASS_SCHEMA,
                          ["kind", "cls", "action"],
                          cap=lambda d: self._cap("B_routed", d))

    # ---------------- phase E ----------------

    def _phase_e(self, st: CrawlState, fetched: DataFrame,
                 ff_slots: DataFrame, rnd: int, qseq_base: int,
                 ex: ThreadPoolExecutor):
        """Fetch, parse and the link pipeline. Returns the round's
        rows for the state tables it grows — seen, dup_seen, fetch
        log, metrics, docs_out, curation (None unless curating) and
        the enqueued links — with n_links_new and n_success."""
        cfg, spark = self.cfg, self.spark
        docs_dim = self.dims["documents"]
        set_cookie_col = (F.col("set_cookie")
                          if "set_cookie" in docs_dim.columns
                          else F.lit(None).cast("string"))
        slow_col = (F.col("slow") if "slow" in docs_dim.columns
                    else F.lit(False))
        docs = docs_dim.select(
            F.col("doc_id"), F.col("spans"),
            F.col("status").alias("d_status"),
            F.col("redirect_to"), F.col("content_type"),
            F.col("length").alias("d_length"),
            set_cookie_col.alias("set_cookie"),
            slow_col.alias("d_slow"))
        # ONE payload pass: the docs scan feeds the broadcast fetch
        # join and every per-page computation below (render, content
        # hash) lands in the phase-E checkpoint
        # at the SCAN's partitioning — the fat spans column is stored
        # once and never shuffled. The old shape repartition-
        # materialized the hit set first and ran the dup window over
        # the full payload: two full-page-mass movements per round
        # that the r4 span profile showed dominating the curated
        # rungs' serial residual (and that would dominate outright at
        # real page masses). Scan parallelism is the INPUT layout's
        # job, as on a real cluster — fixtures write bounded row
        # groups (fixtures/webgen.write_parquet). The join is inner: a
        # scheduled URL with no document (the connection-failure
        # analogue, file.cxx fetch errors) gets its err40X from the
        # verdict frame below, without a second documents scan.
        page_cols = [*fetched.columns,
                     *[f.name for f in docs.schema.fields]]
        pages = (docs.join(F.broadcast(fetched),
                           fetched.url == docs.doc_id, "inner")
                 .select(*page_cols))

        ct = F.lower(F.coalesce(F.col("content_type"), F.lit("")))
        type_ok = (ct.startswith("text/html")
                   | F.lit(bool(cfg.any_type))
                   | (F.lit(bool(cfg.get_image)) & ct.startswith("image")))
        page_class = (
            # timeout (types.h:114) preempts ALL parsing incl. 30X:
            # the read deadline (fetch_pipe.cxx:50-72) fires before
            # the status line of a slow server arrives
            F.when(F.coalesce(F.col("d_slow"), F.lit(False)), "timeout")
            .when((F.col("d_status") >= 300) & (F.col("d_status") < 400), "err30X")
            .when(~((F.col("d_status") >= 200) & (F.col("d_status") < 300)), "err40X")
            .when(~type_ok, "badType")
            .when(F.coalesce(F.col("d_length"), F.lit(0)) > cfg.max_page_size,
                  "tooBig")
            .otherwise("ok"))
        pages = pages.withColumn("page_class", page_class)

        # content-dup gate (hashDup, file.cxx:583-588), in fetch order.
        # The page text is RENDERED JVM-side (functions/exprs
        # render_spans, exactly kernels/links.render_content), so only
        # the one rendered string crosses Arrow into Python, where the
        # vectorized content hash runs — the old per-page
        # span-dict conversion + per-byte Python hash was the hot
        # spot of this phase on realistic page masses.
        if cfg.page_no_duplicate:
            dup_size = cfg.dup_size

            @F.pandas_udf(T.LongType())
            def content_bucket_udf(rendered: pd.Series) -> pd.Series:
                from ..kernels.vectorized import content_hash_np
                return pd.Series(content_hash_np(rendered, dup_size),
                                 dtype="int64")

            # only the content BUCKET is computed on the payload
            # pass; the dup decision itself (first-occurrence window
            # + seen-set probe) is part of the verdict below, over
            # slim keys, so the payload is never partitioned by
            # c_bucket (a second full-page-mass exchange per round)
            pages = pages.withColumn(
                "c_bucket",
                F.when(F.col("page_class") == "ok",
                       content_bucket_udf(render_spans("spans"))))

        # coalesce to COMPUTE width, not state width: that caps the
        # partition count but cannot raise it, so this checkpoint — and
        # ex_in below, the link-extraction mapInPandas — runs at the
        # docs scan's splits (one or two on a small documents file).
        # Raising it would take a payload shuffle, which measured slower
        # at crawl_bulk sizes (docs/SCALE.md §6). No curation signature
        # rides this checkpoint: as JVM expressions the five cheap
        # signatures cost ~1.1 s of single-task string scans per ~600
        # pages. All six are computed by the vectorized Arrow pass that
        # finalizes curation_new below.
        pages_ck = _lc(self._cap("E_pages", pages), self.width)

        # ---- the page verdict, decided once (file.cxx:366-798) ----
        # One slim row per fetched URL with its fetch-log class
        # (final_error): the fetched batch left-joined to a broadcast
        # (fetch_seq, page_class[, c_bucket]) projection of the
        # checkpoint — both sides <= |fetched|, never the payload — so
        # a URL with no document row is err40X. Under the content-dup
        # gate (O-13) the first-occurrence window and the dup_seen
        # probe run on the same slim keys. dup_seen GROWS without
        # bound and must never be broadcast: it is probed by a plain
        # (AQE-planned) left join, like the URL-seen probe below. Only
        # 'ok' pages carry a c_bucket, so only they reach the test.
        cls = F.coalesce(F.col("page_class"), F.lit("err40X"))
        dup_cols = []
        verdict = fetched.select("fetch_seq", "url").join(
            F.broadcast(pages_ck.select(
                "fetch_seq", "page_class",
                *(["c_bucket"] if cfg.page_no_duplicate else []))),
            "fetch_seq", "left")
        if cfg.page_no_duplicate:
            dup_hit = (st.dup_seen
                       .select(F.col("bucket").alias("c_bucket"))
                       .withColumn("dup_seen_hit", F.lit(True)))
            wdup = Window.partitionBy("c_bucket").orderBy("fetch_seq")
            # testSet sets the bit for the first occurrence even when
            # the page then fails later gates; NULL for a page that
            # never reaches the test
            verdict = verdict.join(dup_hit, "c_bucket", "left").withColumn(
                "dup_first", F.when(
                    F.col("c_bucket").isNotNull(),
                    (F.row_number().over(wdup) == 1)
                    & ~F.coalesce("dup_seen_hit", F.lit(False))))
            cls = (F.when((cls == "ok") & ~F.col("dup_first"), "duplicate")
                   .otherwise(cls))
            dup_cols = ["c_bucket", "dup_first"]
        verdict = _lc(self._cap("E_dupkeys", verdict.select(
            "fetch_seq", "url",
            F.when(cls == "ok", "success").otherwise(cls)
            .alias("final_error"), *dup_cols)), self.width)

        if cfg.page_no_duplicate:
            dup_new = (verdict.filter(F.col("dup_first"))
                       .select(F.col("c_bucket").alias("bucket")))
        else:
            dup_new = spark.createDataFrame([], SEEN_SCHEMA)

        log_e_pages = verdict.select(F.lit(rnd).alias("round"), "url",
                                     F.col("final_error").alias("error"))
        # the success count reads the verdict checkpoint: run it in
        # the background, overlapped with the link/gate chain's
        # materialization below, and join it after (span cut, VERDICT
        # r3 next-round #5)
        f_nsuccess = ex.submit(
            lambda: verdict.filter(F.col("final_error") == "success").count())
        # only successes and redirects go on to output and link
        # extraction: their page rows are the checkpoint inner-joined
        # to a broadcast of those verdicts
        kept = pages_ck.join(
            F.broadcast(verdict.filter(
                F.col("final_error").isin("success", "err30X"))
                .select("fetch_seq", "final_error")),
            "fetch_seq")
        ok_pages = kept.filter(F.col("final_error") == "success")
        docs_out_new = ok_pages.select(F.lit(rnd).alias("round"), "fetch_seq",
                                       "doc_id", "spans", "tag")
        curation_new = None
        if cfg.curate:
            # all six signatures come from ONE vectorized Arrow pass
            # over a render of the success rows (kernels/vectorized
            # simhash60_batch + curation_sigs_batch, bit-equal to
            # the rowsigs expression forms). Materialized EAGERLY at
            # compute width: curation_new feeds the snapshot save,
            # whose small-delta coalesce would otherwise narrow this
            # mapInPandas to 4 workers regardless of cluster size.
            from ..pipeline.rowsigs import (
                curation_finalize_fn, spans_text_expr,
            )
            cur_base = ok_pages.select(
                F.lit(rnd).alias("round"), "fetch_seq", "doc_id",
                spans_text_expr("spans").alias("_ctext"))
            # materialize in the background, OVERLAPPED with the
            # link/gate chain below: curation_new and the links
            # checkpoint both read only already-materialized frames
            # (pages_ck + the broadcast verdicts), so their eager
            # actions are independent — running them serially leaves
            # the cluster idle in each one's scheduling gaps (VERDICT
            # r3 #5 span cut, same pattern as the n_success count).
            # The future resolves right after the links checkpoint.
            f_curation = ex.submit(
                lambda: _lc(self._cap(
                    "E_curation", cur_base.mapInPandas(
                        curation_finalize_fn(), CURATION_SCHEMA)),
                    self.width))

        # ---- link extraction (mapInPandas over spans, O-12) ----
        get_image, get_cgi = cfg.get_image, cfg.get_cgi
        use_cookies = bool(cfg.use_cookies)
        # SCALE: prune the span array JVM-side BEFORE it crosses Arrow
        # into the extract workers. extract_links reads only
        # anchor/frame/base spans (+ media iff getImage) — plain text
        # spans, which carry ~all of a page's mass, contribute nothing
        # (kernels/links.py:111 "kind == text: no link") and base-state
        # ordering among the kept spans is preserved by filter(). The
        # Arrow span transfer is the measured one-box residual of the
        # curated rungs (docs/SCALE.md §6: E:extract 2.1x/4); shipping
        # only the link-bearing spans cuts it to the outlink mass.
        link_kinds = ("'anchor','frame','base','media'" if get_image
                      else "'anchor','frame','base'")
        ex_in = kept.select(
            "fetch_seq", "host", "port", "path", "depth",
            F.expr(f"filter(spans, s -> s.kind in ({link_kinds}))")
            .alias("spans"),
            "redirect_to", "cookie", "set_cookie", "tag",
            (F.col("final_error") == "err30X").alias("redir_row"))

        # manageUrl's filter1 (file.cxx:329-357) and the two hash
        # keys run in this same pass. filter1 gets the config's
        # lists unchanged, as the oracle does: None (no domain gate /
        # the default extension list) differs from [] (no domain
        # passes / nothing is forbidden).
        domains, exts = cfg.domains, cfg.forbidden_extensions
        site_size, hash_size = cfg.named_site_list_size, cfg.hash_size

        def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from ..kernels.urlnorm import merge_cookie
            from ..kernels.vectorized import site_hash_np, url_hash_np
            # per-link tuples fill all but the two hash keys, which
            # are added per batch
            cols = LINKS_SCHEMA.names[:-2]
            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    page = ParsedUrl(row.host, int(row.port), row.path,
                                     int(row.depth))
                    if row.redir_row:
                        # 30X headers don't capture cookies
                        # (addCookie only runs in parseHeader)
                        pc = row.cookie if use_cookies else None
                        cleaned = clean_redirect_text(
                            row.redirect_to or "", get_cgi)
                        u = (parse_url(cleaned, page.depth, give_base(page))
                             if cleaned else None)
                        if u is not None and filter1(
                                u.host, u.path, domains, exts):
                            lc = pc if (use_cookies
                                        and u.host == row.host) else None
                            # redirects inherit the page tag
                            # (file.cxx:551-553)
                            out.append((row.fetch_seq, 0, u.host,
                                        u.port, u.path, u.depth, True,
                                        row.host, lc, int(row.tag)))
                    else:
                        pc = (merge_cookie(row.cookie, row.set_cookie)
                              if use_cookies else None)
                        tup = [(d["kind"], d["text"], d["media_ref"],
                                d["offset"]) for d in row.spans]
                        # link_idx is the index among ALL extracted
                        # links, filtered or not (the rank order)
                        for i, u in enumerate(extract_links(
                                tup, page, get_image, get_cgi)):
                            if not filter1(u.host, u.path, domains, exts):
                                continue
                            lc = pc if (use_cookies
                                        and u.host == row.host) else None
                            # extracted links get the ctor default
                            # tag 0 (url.cxx:185-187)
                            out.append((row.fetch_seq, i, u.host,
                                        u.port, u.path, u.depth, False,
                                        row.host, lc, 0))
                ldf = pd.DataFrame(out, columns=cols)
                ldf["l_slot_id"] = site_hash_np(ldf["l_host"], site_size)
                ldf["bucket"] = url_hash_np(ldf["l_host"], ldf["l_port"],
                                            ldf["l_path"], hash_size)
                yield ldf

        links = ex_in.mapInPandas(extract, LINKS_SCHEMA)

        # ---- manageUrl gates (file.cxx:329-357) ----
        links = links.filter(
            F.lit(bool(cfg.external_links)) | F.col("is_redir")
            | (F.col("l_host") == F.col("parent_host")))

        # ---- initOK gates (url.cxx:343-391) ----
        cross = F.col("l_host") != F.col("parent_host")
        err_col = F.lit(None).cast("string")
        if cfg.lock_site:
            err_col = F.when(cross, "outSite").otherwise(err_col)
        if cfg.depth_by_site:
            links = links.withColumn(
                "l_depth", F.when(cross, cfg.depth_in_site)
                .otherwise(F.col("l_depth")))
        links = links.withColumn("gate_err", err_col)
        links = links.withColumn(
            "gate_err", F.when(F.col("gate_err").isNotNull(), F.col("gate_err"))
            .when(F.col("l_depth") < 0, "tooDeep"))

        # SCALE: never FORCE-broadcast the slot table onto the link
        # stream — at the widened ~10^8-slot space that is a ~10 GB
        # exchange per round. Unhinted, the planner broadcasts only
        # when the actual (checkpointed) slot table is small; at a
        # config-widened slot space we hint shuffle-hash so the
        # unbounded link side is hash-joined on l_slot_id, never
        # sorted and never the build for a forced broadcast.
        if cfg.named_site_list_size > (1 << 22):
            ff_slots = ff_slots.hint("shuffle_hash")
        links = links.join(ff_slots, "l_slot_id", "left")
        ff = ((F.col("ff_name") == F.col("l_host"))
              & (F.col("ff_port") == F.col("l_port")))
        gate = (F.when(F.col("gate_err").isNotNull(), F.col("gate_err"))
                .when(ff & (F.col("ff_state") == slot_logic.ERROR_DNS),
                      "fastNoDns")
                .when(ff & (F.col("ff_state") == slot_logic.NOCONN_DNS),
                      "fastNoConn"))
        if not cfg.ignore_robots:
            # testRobots in the JVM: each disallow pattern as its exact
            # anchored regex (functions/exprs.robots_regex); a NULL
            # list forbids nothing
            gate = gate.when(
                ff & (F.col("ff_state") == slot_logic.DONE_DNS)
                & F.expr("exists(ff_robots_re, r -> l_path rlike r)"),
                "fastRobots")
        links = links.withColumn("gate_err", gate)

        # checkpoint the gated link stream ONCE (all rows, slim
        # columns, gate_err included, ff_* dropped): every downstream
        # consumer — the survivors dedup chain, the gate-error
        # metrics, the enqueue rank — reads this frame, so the
        # extract mapInPandas runs exactly once per round. Before
        # this, the lazy gate-error branch of metrics_e re-executed
        # the whole extract chain at every durable metrics
        # materialization (measured: 2x the extract cost per round
        # on the heavy-page fixture).
        # slim checkpoint (r5): is_redir and parent_host are
        # consumed entirely by the gates above; carrying them into
        # the checkpoint (and through the survivors window + rank
        # shuffles downstream) was dead string mass
        links = _lc(self._cap(
            "E_links", links.select(
                "fetch_seq", "link_idx", "l_host", "l_port",
                "l_path", "l_depth",
                "l_cookie", "l_tag", "bucket", "gate_err")),
            self.width)
        if cfg.curate:
            curation_new = f_curation.result()

        # ---- check(): seen testSet in deterministic order (O-6) ----
        survivors = links.filter(F.col("gate_err").isNull())
        wdedup = Window.partitionBy("bucket").orderBy("fetch_seq", "link_idx")
        survivors = survivors.withColumn("brn", F.row_number().over(wdedup))
        seen_hit = st.seen.withColumn("seen_hit", F.lit(True))
        survivors = (survivors.join(seen_hit, "bucket", "left")
                     .withColumn("seen_hit",
                                 F.coalesce("seen_hit", F.lit(False))))
        survivors = _lc(self._cap(
            "E_survivors", survivors.withColumn(
                "is_dup", (F.col("brn") > 1) | F.col("seen_hit"))))
        n_success = f_nsuccess.result()

        novel = survivors.filter(~F.col("is_dup"))

        if cfg.specific_search and cfg.privileged_exts:
            from ..kernels.urlfilter import match_priv_ext

            @F.pandas_udf(T.BooleanType())
            def priv_udf(p: pd.Series) -> pd.Series:
                return pd.Series([match_priv_ext(x or "", cfg.privileged_exts)
                                  for x in p])
            queue_col = F.when(priv_udf("l_path"), "priority").otherwise("disk")
        else:
            queue_col = F.lit("disk")

        # per-round new links are pages x links/page and UNBOUNDED —
        # the one sequence that must not be a single-partition
        # window; two-phase rank under the same total order instead
        from ..operators.sequence import assign_global_seq
        picked = novel.select(
            "fetch_seq", "link_idx",
            F.col("l_host").alias("host"),
            F.col("l_port").alias("port"), F.col("l_path").alias("path"),
            F.col("l_depth").alias("depth"),
            F.col("l_cookie").alias("cookie"),
            F.col("l_tag").alias("tag"),
            queue_col.alias("queue"))
        # the per-queue stats ride the rank's internal counts job
        # (counts_by) — no separate lstats action over new_rows
        _lcnt: dict = {}
        nr = assign_global_seq(
            picked, ["fetch_seq", "link_idx"], "qseq", qseq_base,
            counts_by=["queue"], counts_out=_lcnt)
        # re-derive the canonical URL string (LINKS_SCHEMA note) AFTER
        # the range shuffle + rank, so the string rides no phase-E
        # barrier twice
        nr = nr.withColumn(
            "url", F.concat(
                F.lit("http://"), F.col("host"),
                F.when(F.col("port") == 80, F.lit("")).otherwise(
                    F.concat(F.lit(":"), F.col("port").cast("string"))),
                F.col("path")))
        new_rows = _lc(nr.select(*QUEUE_SCHEMA.names))
        lstats = _lcnt["by"]
        n_links_new = _lcnt["total"]
        st.counters["n_priority"] += lstats.get("priority", 0)
        st.counters["n_disk"] += lstats.get("disk", 0)
        seen_delta = novel.select("bucket")

        # ---- metrics / lineage (O-19) ----
        gate_errors = links.filter(F.col("gate_err").isNotNull()) \
            .select(F.col("gate_err").alias("error"))
        dup_errors = survivors.filter(F.col("is_dup")) \
            .select(F.lit("urlDup").alias("error"))
        page_errors = verdict.select(F.col("final_error").alias("error"))
        all_events = gate_errors.unionByName(dup_errors).unionByName(page_errors)
        metrics_e = (all_events
                     .withColumn("partition_id", F.spark_partition_id())
                     .groupBy("partition_id", "error")
                     .agg(F.count("*").alias("n"))
                     .select(F.lit(rnd).alias("round"), "partition_id",
                             "error", "n"))
        # forgets from phases B/C are appended by the caller into
        # fetch_log; their taxonomy counts live there.

        return (seen_delta, dup_new, log_e_pages, metrics_e, docs_out_new,
                curation_new, n_links_new, n_success, new_rows)
