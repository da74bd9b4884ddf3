"""frontier_sched: one scheduling pass over a flat frontier.

A pass is canonicalize + hash (canon_keys_stage) -> first-wins bucket
dedup -> Bloom prefilter + exact anti-join against a seen table
(bloom_prefilter) -> per-site cap -> per-ip-bucket politeness head,
closed by one aggregate (scheduled count, digest). The seen table
covers a seeded share of the frontier's keys plus keys the frontier
never names, so both the Bloom bypass and the exact join do work.

The output check replays the same plan in one process with pandas over
keys from the vectorized kernels, and spot-checks those keys against
the pure-Python kernels in larbin_spark.kernels.hashes."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Tuple

import numpy as np
import pandas as pd

N_URLS = 200_000
N_HOSTS = 20_000
DUP_RATE = 0.2
SEEN_SHARE = 0.3    # share of the frontier's distinct keys already seen
SEEN_FOREIGN = 0.1  # seen keys the frontier never names, same base
HASH_SIZE = 64_000_000
SITE_SIZE = 20_000
IP_BUCKETS = 10_000
SITE_CAP = 64
HEAD = 64
BLOOM_K = 3
BLOOM_BITS_PER_KEY = 16
SPOT_CHECK = 2_000  # rows re-hashed with the pure-Python kernels


@dataclass
class Inputs:
    frontier_path: str
    seen_path: str
    urls: pd.Series     # raw URLs, qseq = position
    keys: pd.DataFrame  # valid rows: bucket, slot_id, qseq (vectorized)
    seen: np.ndarray    # sorted seen buckets
    m_bits: int


def _keys(urls: pd.Series) -> pd.DataFrame:
    from larbin_spark.kernels.vectorized import (
        canonicalize_batch, site_hash_np, url_hash_np)
    r = canonicalize_batch(urls)
    keep = r["valid"].to_numpy(dtype=bool)
    host = r["host"][keep].reset_index(drop=True)
    return pd.DataFrame({
        "bucket": url_hash_np(host, r["port"][keep].reset_index(drop=True),
                              r["path"][keep].reset_index(drop=True),
                              HASH_SIZE),
        "slot_id": site_hash_np(host, SITE_SIZE).astype(np.int64),
        "qseq": np.flatnonzero(keep).astype(np.int64)})


def make_inputs(seed: int, outdir: str) -> Tuple[Inputs, float, float]:
    """Returns the inputs plus generation and parquet-write seconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from larbin_spark.fixtures.webgen import gen_frontier
    t0 = time.perf_counter()
    tbl = gen_frontier(N_URLS, N_HOSTS, seed=seed, dup_rate=DUP_RATE)
    urls = tbl.column("url").to_pandas()
    keys = _keys(urls)
    rng = np.random.default_rng(seed)
    distinct = np.unique(keys["bucket"].to_numpy())
    seen = np.unique(np.concatenate([
        rng.choice(distinct, int(len(distinct) * SEEN_SHARE), replace=False),
        rng.integers(0, HASH_SIZE, int(len(distinct) * SEEN_FOREIGN))]))
    m_bits = 1 << int(np.ceil(np.log2(len(seen) * BLOOM_BITS_PER_KEY)))
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    os.makedirs(outdir, exist_ok=True)
    frontier_path = os.path.join(outdir, "frontier.parquet")
    seen_path = os.path.join(outdir, "seen.parquet")
    pq.write_table(
        pa.table({"url": tbl.column("url"),
                  "qseq": pa.array(np.arange(len(tbl)), pa.int64())}),
        frontier_path, row_group_size=max(10_000, N_URLS // 32))
    pq.write_table(pa.table({"bucket": pa.array(seen, pa.int64())}),
                   seen_path)
    write_s = time.perf_counter() - t0
    return (Inputs(frontier_path, seen_path, urls, keys, seen, m_bits),
            gen_s, write_s)


def _seen_keys(spark, inp: Inputs):
    from pyspark.sql import functions as F
    return spark.read.parquet(inp.seen_path).select(
        F.col("bucket").cast("string").alias("key"))


def _deduped(spark, inp: Inputs):
    from pyspark.sql import functions as F
    from larbin_spark.functions.udfs import canon_keys_stage
    c = canon_keys_stage(spark.read.parquet(inp.frontier_path),
                         HASH_SIZE, SITE_SIZE)
    return (c.groupBy("bucket")
            .agg(F.min_by("slot_id", "qseq").alias("slot_id"),
                 F.min("qseq").alias("qseq"))
            .withColumn("key", F.col("bucket").cast("string")))


def schedule(spark, inp: Inputs) -> Tuple[int, int]:
    """One pass; returns (scheduled count, digest)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from larbin_spark.operators.bloomfilter import bloom_prefilter
    c = bloom_prefilter(_deduped(spark, inp), _seen_keys(spark, inp),
                        "key", "key", inp.m_bits, BLOOM_K)
    c = c.filter(F.col("is_new"))
    c = (c.withColumn("srn", F.row_number().over(
            Window.partitionBy("slot_id").orderBy("qseq")))
         .filter(F.col("srn") <= SITE_CAP))
    c = (c.withColumn("prn", F.row_number().over(
            Window.partitionBy(F.col("slot_id") % IP_BUCKETS)
            .orderBy("qseq")))
         .filter(F.col("prn") <= HEAD))
    row = c.agg(F.count("*").alias("n"),
                F.sum(F.col("bucket") * F.col("prn")).alias("digest")
                ).collect()[0]
    return int(row["n"]), int(row["digest"] or 0)


def rebuild_filter(spark, inp: Inputs) -> int:
    """The scheduler's restart cost: rebuild the Bloom bitmap from the
    durable seen table. Returns the number of set bits."""
    from larbin_spark.operators import bloomfilter
    bm = bloomfilter.bloom_build(_seen_keys(spark, inp), "key",
                                 inp.m_bits, BLOOM_K)
    return int(np.unpackbits(bm).sum())


def reference(inp: Inputs) -> Tuple[int, int]:
    """The pass, single process: first-wins dedup, seen exclusion,
    site cap and politeness head, all ordered by qseq."""
    d = inp.keys.sort_values("qseq").drop_duplicates("bucket", keep="first")
    d = d[~np.isin(d["bucket"].to_numpy(), inp.seen)]
    d = d[d.groupby("slot_id").cumcount().to_numpy() < SITE_CAP]
    prn = d.groupby(d["slot_id"] % IP_BUCKETS).cumcount().to_numpy() + 1
    keep = prn <= HEAD
    digest = int((d["bucket"].to_numpy()[keep] * prn[keep]).sum())
    return int(keep.sum()), digest


def spot_check_keys(inp: Inputs, seed: int) -> int:
    """Rows whose vectorized keys disagree with the pure-Python
    canonicalizer and hashes, over a seeded sample."""
    from larbin_spark.kernels.hashes import site_hash, url_hash
    from larbin_spark.kernels.urlnorm import parse_url
    rng = np.random.default_rng(seed)
    by_qseq = inp.keys.set_index("qseq")
    bad = 0
    for q in rng.choice(len(inp.urls), SPOT_CHECK, replace=False):
        p = parse_url(inp.urls.iloc[int(q)], 0, None)
        if p is None:
            bad += int(q) in by_qseq.index
            continue
        row = by_qseq.loc[int(q)] if int(q) in by_qseq.index else None
        if (row is None
                or url_hash(p.host, p.port, p.path, HASH_SIZE) != row["bucket"]
                or site_hash(p.host, SITE_SIZE) != row["slot_id"]):
            bad += 1
    return bad


def bloom_stats(spark, inp: Inputs) -> dict:
    """Probe-side counters of the prefilter over one pass's deduped
    candidates (traced run only, outside the timed passes)."""
    from pyspark.sql import functions as F
    from larbin_spark.operators import bloomfilter
    seen = _seen_keys(spark, inp)
    bm = bloomfilter.bloom_build(seen, "key", inp.m_bits, BLOOM_K)
    probed = bloomfilter.bloom_probe(_deduped(spark, inp), bm, "key",
                                     inp.m_bits, BLOOM_K)
    hits = seen.distinct().withColumn("hit", F.lit(True))
    row = (probed.join(hits, "key", "left")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("maybe_seen").cast("long")).alias("maybe"),
                F.count("hit").alias("hit"),
                F.sum((F.col("maybe_seen") & F.col("hit").isNull())
                      .cast("long")).alias("fp"))
           .collect()[0])
    n, maybe, hit, fp = (int(row["n"]), int(row["maybe"]), int(row["hit"]),
                         int(row["fp"]))
    return {"operators.bloom_bypass_frac": (n - maybe) / n,
            "operators.bloom_fp_frac": fp / max(1, n - hit),
            "operators.seen_hit_frac": hit / n}


def url_kernel_rates(urls: pd.Series) -> dict:
    """Single-process rates of the URL kernels the pass runs in its
    Python stage, on the given raw URLs."""
    from larbin_spark.kernels.vectorized import (
        canonicalize_batch, site_hash_np, url_hash_np)
    from .trace import rate
    r = canonicalize_batch(urls)
    keep = r["valid"].to_numpy(dtype=bool)
    host = r["host"][keep].reset_index(drop=True)
    port = r["port"][keep].reset_index(drop=True)
    path = r["path"][keep].reset_index(drop=True)
    return {
        "kernels.canonicalize_batch_urls_per_s":
            rate(lambda: canonicalize_batch(urls), len(urls)),
        "kernels.url_hash_np_urls_per_s":
            rate(lambda: url_hash_np(host, port, path, HASH_SIZE), len(host)),
        "kernels.site_hash_np_urls_per_s":
            rate(lambda: site_hash_np(host, SITE_SIZE), len(host)),
    }
