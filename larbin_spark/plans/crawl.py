"""Multi-round crawl driver: stop conditions, snapshots, resume (O-16/O-17)."""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..sources.catalog import SnapshotStore
from .round import RoundRunner
from .state import CrawlState, compaction_due

# max rounds between parquet rebases of the in-memory state: the
# durable snapshot is written asynchronously (see _AsyncCommitter),
# so between reloads the state tables live as lazy compositions /
# localCheckpoints; Catalyst size statistics degrade across those
# layers (plans/round.py phase F), so this bounds the depth, and it
# also bounds snapshot_every.
RELOAD_ROUNDS = 16


class _AsyncCommitter:
    """Ordered background committer: overlaps the durable snapshot
    write with the next rounds' compute, the way the reference
    flushes its persistent fifos off the crawl path
    (src/utils/persistent_fifo.cxx write-behind rotation). At most
    one save is in flight; submit() joins the previous one first, so
    delta chains always compose against a completed predecessor and
    any save failure surfaces at the next boundary instead of being
    lost on a daemon thread. Each save prunes the store after its
    commit."""

    def __init__(self, store: SnapshotStore, keep_snapshots: int) -> None:
        from concurrent.futures import ThreadPoolExecutor
        self._ex = ThreadPoolExecutor(max_workers=1,
                                      thread_name_prefix="snap-commit")
        self._fut = None
        self.store, self.keep = store, keep_snapshots

    def submit(self, st: CrawlState, rnd: int) -> None:
        """Save st as snapshot rnd in the background; st hands its
        pending deltas to the save and goes on with an empty set."""
        frozen = st.handoff()

        def _save() -> None:
            frozen.save(self.store, rnd)
            self.store.prune(keep_last=self.keep)

        self.join()
        self._fut = self._ex.submit(_save)

    def join(self) -> None:
        if self._fut is not None:
            fut, self._fut = self._fut, None
            fut.result()

    def close(self) -> None:
        try:
            self.join()
        finally:
            self._ex.shutdown()


def run_crawl(spark: SparkSession, cfg: CrawlConfig,
              dims: Dict[str, DataFrame], seeds: List[str],
              max_rounds: int = 10 ** 9,
              store: Optional[SnapshotStore] = None,
              keep_snapshots: int = 3,
              resume: bool = False,
              clock=None,
              submissions: Optional[Dict[int, list]] = None) -> CrawlState:
    """Run rounds until the frontier drains or a limit hits
    (main.cxx:184-185: frontier-empty termination; limit_page is the
    limitPage analogue (limit_page.cxx:28-43); limit_time_sec is the
    limitTime analogue (limit_time.cxx:30-48) checked against `clock`
    before each round — inject a fake clock to test it, the default
    is the monotonic wall clock. A wall-clock stop is inherently
    non-deterministic across parallelism levels, exactly like the
    reference's timer thread; determinism guarantees apply to the
    rounds that did run.

    Durable snapshots commit every cfg.snapshot_every round
    boundaries (default 1 = every round) plus a trailing commit at
    exit, so the returned state is always resumable. Resume picks up
    the latest COMPLETED snapshot exactly. Every save, the bootstrap
    and the trailing one included, is write-behind: it runs on an
    ordered background thread (_AsyncCommitter), overlapped with the
    next rounds' compute, like the reference's persistent-fifo flush.
    A rebase boundary — a save that compacts a delta chain, or
    RELOAD_ROUNDS rounds since the last reload, or the trailing
    commit — waits for its save and reloads the state from it, which
    rebases the state plans on parquet and resets Catalyst size
    statistics (plans/round.py phase F). Between rebases the bounded
    hot tables (ip_queue, buckets) live on the localCheckpoints
    run_round takes, overlapped with its phase E, and the unbounded
    ones (queues, seen, dup_seen) stay lazy compositions over the
    last reload's parquet plus the rounds' already-checkpointed
    deltas: materializing those would be O(state) per round,
    defeating the O(delta) commit design.
    """
    import tempfile
    import time
    if cfg.snapshot_every < 1:
        raise ValueError("snapshot_every must be >= 1")
    if cfg.snapshot_every > RELOAD_ROUNDS:
        # between commits the state plans live on localCheckpoint;
        # Catalyst size statistics compound across those layers (see
        # plans/round.py phase F), so an unbounded cadence degrades
        # planning long before it saves meaningful I/O — the commits
        # are already O(delta)
        raise ValueError(f"snapshot_every > {RELOAD_ROUNDS} defeats the "
                         "statistics reset the parquet round-trip "
                         "provides; use a small cadence")
    if clock is None:
        clock = time.monotonic
    t_start = clock()
    runner = RoundRunner(spark, cfg, dims)
    if store is None:
        store = SnapshotStore(tempfile.mkdtemp(prefix="larbin_snap_"))

    committer = _AsyncCommitter(store, keep_snapshots)
    rnd = 0
    if resume and store.latest() is not None:
        st = CrawlState.load(spark, store, store.latest())
        rnd = st.counters["round"]
    else:
        # the bootstrap save overlaps round 0 like any other: its
        # table writes are the session's FIRST jobs, which run
        # synchronously would serialize executor launch and first-job
        # latency in front of round 0. A crash before it lands just
        # resumes from nothing.
        st = runner.seed(CrawlState.empty(spark), seeds)
        committer.submit(st, 0)

    committed = rnd
    last_reload = rnd  # the round whose parquet the state plans read
    try:
        while rnd < max_rounds:
            if cfg.max_rounds and rnd >= cfg.max_rounds:
                break
            # entry point B: input-port submission batches land at the
            # start of their round, before any stop check fires (the
            # simulator delivers in the same slot)
            if submissions and rnd in submissions:
                st = runner.submit(st, submissions[rnd])
            if cfg.limit_page and st.counters["pages_ok"] >= cfg.limit_page:
                break
            if cfg.limit_time_sec and clock() - t_start >= cfg.limit_time_sec:
                break
            c = st.counters
            frontier_size = (c["n_priority"] + c["n_priority_wait"]
                             + c["n_disk"] + c["n_disk_wait"]
                             + c["n_site_fifo"] + c["n_ip_queue"])
            if frontier_size == 0:
                break
            st = runner.run_round(st, rnd)
            rnd += 1
            if rnd % cfg.snapshot_every == 0:
                # join the in-flight save (it had a full commit window
                # of rounds to finish, so this is ~free): the
                # compaction check reads a quiescent store
                committer.join()
                rebase = (rnd - last_reload >= RELOAD_ROUNDS
                          or compaction_due(store))
                committer.submit(st, rnd)
                committed = rnd
                if rebase:
                    # the state plans read the last reload's files,
                    # which a compacting save's prune may expire, and
                    # their size statistics compound (phase F): go on
                    # from the saved snapshot
                    committer.join()
                    st = CrawlState.load(spark, store, rnd)
                    last_reload = rnd
        if committed != rnd:
            # trailing rounds since the last boundary become durable at
            # exit, so the returned state is always resumable-from-here
            committer.submit(st, rnd)
    except BaseException:
        try:
            committer.close()  # the in-flight snapshot stays
        except Exception:      # resumable; don't mask the
            pass               # round's own error with a save's
        raise
    committer.close()
    if last_reload != rnd:
        # rebase the returned state onto the durable snapshot: its
        # lazy table plans must not outlive prune's data-dir expiry
        # once the caller holds it past more commits
        st = CrawlState.load(spark, store, rnd)
    return st


def collect_results(st: CrawlState) -> dict:
    """Oracle-comparable result dict (tests only: bounded collects)."""
    ordering_rows = st.ordering.orderBy("fetch_seq").collect()
    ordering = [(r["round"], r["fetch_seq"], r["url"])
                for r in ordering_rows]
    cookies = [(r["fetch_seq"], r["cookie"]) for r in ordering_rows]
    tags = [(r["fetch_seq"], r["tag"]) for r in ordering_rows]
    seen = sorted(r["bucket"] for r in st.seen.collect())
    fetch_log = sorted((r["round"], r["url"], r["error"])
                       for r in st.fetch_log.collect())
    errors: Dict[str, int] = {}
    for r in (st.fetch_log.groupBy("error").agg(F.count("*").alias("n"))
              .collect()):
        errors[r["error"]] = errors.get(r["error"], 0) + r["n"]
    # gate errors (tooDeep/outSite/fast*/urlDup) live in metrics only
    for r in (st.metrics.filter(F.col("error").isin(
            "tooDeep", "outSite", "fastNoDns", "fastNoConn", "fastRobots",
            "urlDup")).groupBy("error").agg(F.sum("n").alias("n")).collect()):
        errors[r["error"]] = errors.get(r["error"], 0) + r["n"]
    emitted = [(r["round"], r["fetch_seq"], r["doc_id"])
               for r in st.tables["docs_out"].orderBy("fetch_seq").collect()] \
        if "docs_out" in st.tables else []
    return {
        "rounds": st.counters["round"],
        "ordering": ordering,
        "cookies": cookies,
        "tags": tags,
        "seen": seen,
        "errors": dict(sorted(errors.items())),
        "fetch_log": fetch_log,
        "emitted": emitted,
        "pages_ok": st.counters["pages_ok"],
    }
