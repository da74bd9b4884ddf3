#!/usr/bin/env python
"""spark-submit entry point for the crawl.

Packaging + launch (tools/submit.sh wraps this):

    python tools/package_pyfiles.py               # -> dist/larbin_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/larbin_spark.zip \
        run_crawl.py --fixture-dir /path/to/web \
        --rounds 8 --snapshot-dir /path/to/snapshots [--resume]

The driver config (executors, memory, shuffle partitions) comes from
spark-submit/--conf as usual; this script only declares the job.
One sizing note: in local[*] the "driver" JVM IS every executor
(and in local-cluster it still hosts all broadcasts), so size
--driver-memory with the round volume there — million-page rounds
OOM at spark-submit's 1g default; the volume-ladder benches ran
12g (tools/submit.sh defaults to 4g, override with DRIVER_MEMORY).
On a real cluster the driver-side work proper is bounded (counts +
the snapshot manifest — no collects in the commit path). With
--fixture-dir pointing at a synthetic-web directory (documents/hosts/
robots parquet — see larbin_spark/fixtures/webgen.py) the fetch stage
is the simulated-network join; on a real crawl those dims are the
live-network adapters.
"""
from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture-dir", required=True,
                    help="dir with documents/hosts/robots(/seeds).parquet")
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--snapshot-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--seed-url", action="append", default=[],
                    help="extra seed URL (repeatable); defaults to the "
                         "fixture's seeds table")
    ap.add_argument("--limit-page", type=int, default=0)
    ap.add_argument("--seq-per-round", type=int, default=None,
                    help="override CrawlConfig.seq_per_round (bench: "
                         "widen the sequencer intake beyond the "
                         "reference's 100/s-tick-derived default)")
    ap.add_argument("--fetch-per-ip-per-round", type=int, default=None,
                    help="override CrawlConfig.fetch_per_ip_per_round")
    ap.add_argument("--ram-urls", type=int, default=None,
                    help="override CrawlConfig.ram_urls (the global "
                         "in-flight budget, types.h:39; widened for "
                         "data-dominated benches so the sequencer "
                         "intake isn't throttled by the reference's "
                         "RAM constant)")
    ap.add_argument("--named-site-list-size", type=int, default=None,
                    help="override the site slot space (the reference "
                         "compiles 20k, types.h:35; config-widened at "
                         "scale per SCALE.md)")
    ap.add_argument("--ip-site-list-size", type=int, default=None,
                    help="override the ip politeness slot space "
                         "(types.h:36)")
    ap.add_argument("--snapshot-every", type=int, default=None,
                    help="durable-commit cadence in rounds (default 1 "
                         "= every round resumable; the reference "
                         "persists periodically too — saveInterval)")
    ap.add_argument("--curate", action="store_true",
                    help="inline curation: record per-page rowsig "
                         "signatures (quality, language, simhash, "
                         "fingerprint) into the grow-only curation "
                         "table during the crawl")
    ap.add_argument("--digest", action="store_true",
                    help="also print order-exact digests of the crawl "
                         "ordering, seen set, and emitted docs (for "
                         "cross-topology equality checks: the same "
                         "crawl on local[N] threads vs local-cluster/"
                         "real executors must print identical digests)")
    args = ap.parse_args()

    import os
    from pyspark.sql import SparkSession
    builder = SparkSession.builder.appName("larbin-spark-crawl")
    # only effective when this script owns the JVM (plain `python
    # run_crawl.py`); under spark-submit the submit args win. The
    # PySpark local-mode default (1g) OOMs on heavy-page fixtures —
    # the span payloads of one scheduled batch alone approach it.
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from larbin_spark.config import CrawlConfig
    from larbin_spark.plans.crawl import run_crawl
    from larbin_spark.sources.catalog import SnapshotStore

    dims = {n: spark.read.parquet(f"{args.fixture_dir}/{n}.parquet")
            for n in ("documents", "hosts", "robots")}
    seeds = list(args.seed_url)
    if not seeds:
        seeds = [r["url"] for r in
                 spark.read.parquet(f"{args.fixture_dir}/seeds.parquet")
                 .orderBy("order").collect()]

    cfg_kw = {"limit_page": args.limit_page}
    if args.seq_per_round is not None:
        cfg_kw["seq_per_round"] = args.seq_per_round
    if args.fetch_per_ip_per_round is not None:
        cfg_kw["fetch_per_ip_per_round"] = args.fetch_per_ip_per_round
    if args.ram_urls is not None:
        cfg_kw["ram_urls"] = args.ram_urls
    if args.named_site_list_size is not None:
        cfg_kw["named_site_list_size"] = args.named_site_list_size
    if args.ip_site_list_size is not None:
        cfg_kw["ip_site_list_size"] = args.ip_site_list_size
    if args.snapshot_every is not None:
        cfg_kw["snapshot_every"] = args.snapshot_every
    if args.curate:
        cfg_kw["curate"] = True
    cfg = CrawlConfig(**cfg_kw)
    store = SnapshotStore(args.snapshot_dir) if args.snapshot_dir else None
    import time
    t0 = time.time()
    st = run_crawl(spark, cfg, dims, seeds, max_rounds=args.rounds,
                   store=store, resume=args.resume)
    wall = round(time.time() - t0, 3)
    digests = {}
    if args.digest:
        # Order-exact, distribution-independent: fetch_seq/qseq embed
        # the ordering inside each hashed row, so a commutative
        # bit_xor of row hashes is an exact equality check on the
        # ordered content (rows are unique per table key, so XOR
        # cancellation needs a hash collision) while staying a single
        # overflow-free hash-agg job per table — no collect, no
        # global sort, scale-safe at any frontier size.
        from pyspark.sql import functions as F

        def _dig(df, cols):
            row = (df.select(F.xxhash64(*cols).alias("h"))
                   .agg(F.expr("bit_xor(h)").alias("d"),
                        F.count("*").alias("n")).collect()[0])
            return [int(row["d"] or 0), int(row["n"])]

        digests = {
            "ordering_digest": _dig(
                st.tables["ordering"],
                ["round", "fetch_seq", "url",
                 F.coalesce("cookie", F.lit("")), "tag"]),
            "seen_digest": _dig(st.tables["seen"], ["bucket"]),
            "docs_digest": _dig(
                st.tables["docs_out"],
                ["round", "fetch_seq", "doc_id", "spans", "tag"]),
        }
    print(json.dumps({
        **digests,
        "wall_sec": wall,
        "rounds": st.counters["round"],
        "pages_ok": st.counters["pages_ok"],
        "frontier_left": (st.counters["n_priority"]
                          + st.counters["n_priority_wait"]
                          + st.counters["n_disk"] + st.counters["n_disk_wait"]
                          + st.counters["n_site_fifo"]
                          + st.counters["n_ip_queue"]),
        "urls_assigned": st.counters["qseq_next"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
