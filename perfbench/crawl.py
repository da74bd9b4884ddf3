"""crawl_bulk: curated crawl rounds over a synthetic web with fat pages.

Politeness is opened up so each round fetches hundreds of pages; every
fetched page goes through the fetch join, link extraction, content
hash, the simhash/rowsig curation signatures, the seen anti-join and
the enqueue rank. Every round commits a durable snapshot.

A run crawls round 0 (the warm-up: the first round in a fresh JVM pays
code generation and Python worker start), then resumes from that
snapshot for TIMED_ROUNDS more rounds. Round boundaries come from the
`clock` hook run_crawl calls before each round. The output check runs
the oracle simulator over the same web for the same rounds and
compares ordering, seen set, error taxonomy, fetch log, emitted
documents and the curation row count."""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict, List, Tuple

N_HOSTS = 250
BASE_PAGES = 20
HOT_FACTOR = 6
PAGE_LINKS = 30
PAGE_TEXT_WORDS = 600
SEED_HUBS = 40
TIMED_ROUNDS = 1
DIMS = ("documents", "hosts", "robots")


def config():
    from larbin_spark.config import CrawlConfig
    # limit_time_sec only switches on run_crawl's per-round clock reads;
    # at 10^9 s it never stops a crawl
    return CrawlConfig(fetch_per_ip_per_round=200, seq_per_round=1_000_000,
                       ram_urls=2_000_000, curate=True,
                       page_no_duplicate=True, limit_time_sec=10 ** 9)


def make_web(seed: int, outdir: str) -> Tuple[dict, float, float]:
    from larbin_spark.fixtures.webgen import gen_web, write_parquet
    t0 = time.perf_counter()
    web = gen_web(seed=seed, n_hosts=N_HOSTS, base_pages=BASE_PAGES,
                  hot_hosts=max(2, N_HOSTS // 50), hot_factor=HOT_FACTOR,
                  page_links=PAGE_LINKS, page_text_words=PAGE_TEXT_WORDS)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    write_parquet(web, outdir)
    return web, gen_s, time.perf_counter() - t0


def seeds(web: dict) -> List[str]:
    """The web's own seeds, then the hub pages of the first SEED_HUBS
    hosts, so round 1 already fetches hundreds of pages."""
    own = [s["url"] for s in sorted(web["seeds"], key=lambda s: s["order"])]
    return own + [f"http://{h['host']}/" for h in web["hosts"][:SEED_HUBS]]


def dims(spark, outdir: str) -> Dict[str, object]:
    return {n: spark.read.parquet(os.path.join(outdir, f"{n}.parquet"))
            for n in DIMS}


def warm_up(spark, web: dict, d: dict, store_root: str):
    """Round 0 into a snapshot store; returns the crawl state."""
    from larbin_spark.plans.crawl import run_crawl
    from larbin_spark.sources.catalog import SnapshotStore
    return run_crawl(spark, config(), d, seeds(web), max_rounds=1,
                     store=SnapshotStore(store_root))


def timed_crawl(spark, web: dict, d: dict, warm_root: str, root: str,
                clock) -> Tuple[object, float, float]:
    """Resume a copy of the warm-up store for TIMED_ROUNDS rounds;
    returns (state, start, end) of the run_crawl call."""
    from larbin_spark.plans.crawl import run_crawl
    from larbin_spark.sources.catalog import SnapshotStore
    shutil.copytree(warm_root, root)
    t0 = time.time()
    st = run_crawl(spark, config(), d, seeds(web),
                   max_rounds=1 + TIMED_ROUNDS, store=SnapshotStore(root),
                   resume=True, clock=clock)
    return st, t0, time.time()


def round_walls(ticks: List[float], end: float) -> List[Tuple[float, float]]:
    """(start, end) of each round from run_crawl's clock reads: the
    first read is the call's start, then one read before each round."""
    starts = ticks[1:]
    return list(zip(starts, starts[1:] + [end]))


def oracle(web: dict, rounds: int) -> dict:
    from larbin_spark.fixtures.webgen import to_oracle_inputs
    from larbin_spark.oracle.simulator import CrawlOracle
    docs, hosts, robots, _ = to_oracle_inputs(web)
    return CrawlOracle(config(), docs, hosts, robots).run(
        seeds(web), max_rounds=rounds)


CHECKED = ("rounds", "ordering", "seen", "errors", "fetch_log", "emitted",
           "cookies", "tags", "pages_ok")


def mismatches(got: dict, want: dict, curation_rows: int) -> List[str]:
    """Names of the result fields where the crawl and the oracle differ."""
    bad = []
    for k in CHECKED:
        g, w = got.get(k), want.get(k)
        if k == "fetch_log":
            g, w = sorted(g or []), sorted(w or [])
        if g != w:
            bad.append(k)
    if curation_rows != want.get("pages_ok"):
        bad.append("curation_rows")
    return bad


def collect(st) -> Tuple[dict, int]:
    from larbin_spark.plans.crawl import collect_results
    return collect_results(st), st.tables["curation"].count()


def round_counts(st, rounds: List[int]) -> Dict[str, int]:
    """Scheduled pages, links dropped as seen, and fetched-ok pages in
    the given rounds, from the crawl's own output tables."""
    from pyspark.sql import functions as F
    scheduled = st.ordering.filter(F.col("round").isin(rounds)).count()
    m = (st.metrics.filter(F.col("round").isin(rounds))
         .groupBy("error").agg(F.sum("n").alias("n")).collect())
    by = {r["error"]: int(r["n"]) for r in m}
    return {"scheduled": scheduled, "url_dup": by.get("urlDup", 0),
            "success": by.get("success", 0)}


def snapshot_size(root: str) -> Tuple[float, int]:
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total / (1024.0 * 1024.0), files


def kernel_rates(web: dict) -> dict:
    import pandas as pd
    from larbin_spark.kernels.links import extract_links, render_content
    from larbin_spark.kernels.urlnorm import parse_url
    from larbin_spark.kernels.vectorized import (
        content_hash_np, simhash60_batch)
    from .trace import rate
    docs = [d for d in web["documents"] if d["status"] == 200]
    spans = [[(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]] for d in docs]
    pages = [parse_url(d["doc_id"], 5, None) for d in docs]
    texts = pd.Series([render_content(s) for s in spans])
    mb = texts.str.len().sum() / (1024.0 * 1024.0)
    dup_size = config().dup_size

    def links():
        for s, p in zip(spans, pages):
            extract_links(s, p)

    return {
        "kernels.extract_links_pages_per_s": rate(links, len(docs)),
        "kernels.content_hash_np_mb_per_s":
            rate(lambda: content_hash_np(texts, dup_size), mb),
        "kernels.simhash60_batch_docs_per_s":
            rate(lambda: simhash60_batch(texts), len(texts)),
    }
