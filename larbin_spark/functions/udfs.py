"""Vectorized pandas UDFs wrapping the parity kernels.

Every per-URL computation crosses the JVM/Python boundary in Arrow
batches (no per-row Python UDFs anywhere in the pipeline, per the
BASELINE input_hint). The kernels are pure functions, so the UDFs are
deterministic and safe to re-execute on task retry.

Fast path: most URLs need no canonicalizer state machine; a vectorized
pandas pre-screen routes only the odd ones through the exact kernel.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels.robots import is_allowed
from ..kernels.urlfilter import filter1
from ..kernels.urlnorm import parse_url

CANON_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("port", T.IntegerType()),
    T.StructField("path", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("valid", T.BooleanType()),
])


def _canon_one(raw: Optional[str], base_host, base_port, base_path):
    if raw is None:
        return (None, None, None, None, False)
    base = None
    if base_host is not None:
        from ..kernels.urlnorm import ParsedUrl
        base = ParsedUrl(base_host, int(base_port), base_path, 0)
    p = parse_url(raw, 0, base)
    if p is None:
        return (None, None, None, None, False)
    return (p.host, p.port, p.path, p.url, True)


@pandas_udf(CANON_SCHEMA)
def canonicalize_udf(raw: pd.Series, base_host: pd.Series,
                     base_port: pd.Series, base_path: pd.Series) -> pd.DataFrame:
    """Absolute-or-relative URL canonicalization (O-3).

    Absolute URLs (no base) take the vectorized numpy/pandas fast path
    (kernels/vectorized.py); relative resolution falls back to the
    exact scalar kernel row by row.
    """
    if base_host.isna().all():
        from ..kernels.vectorized import canonicalize_batch
        return canonicalize_batch(raw)
    rows = [
        _canon_one(r, bh, bp, bf)
        for r, bh, bp, bf in zip(raw, base_host, base_port, base_path)
    ]
    return pd.DataFrame(rows, columns=["host", "port", "path", "url", "valid"])


@pandas_udf(T.LongType())
def url_bucket_udf(host: pd.Series, port: pd.Series, path: pd.Series,
                   hash_size: pd.Series) -> pd.Series:
    """url::hashCode bucket (the seen-set key, O-6) — numpy fast path
    (kernels/vectorized.py), parity-pinned to the scalar kernel."""
    from ..kernels.vectorized import url_hash_np
    if not len(host):  # Arrow may hand a zero-row batch
        return pd.Series([], dtype="int64")
    return pd.Series(url_hash_np(host, port, path, int(hash_size.iloc[0])),
                     dtype="int64")


@pandas_udf(T.BooleanType())
def filter1_udf(host: pd.Series, path: pd.Series, domains_csv: pd.Series,
                exts_csv: pd.Series) -> pd.Series:
    """checker.cxx filter1 (O-5); list args come in as csv literals so
    one broadcast value serves the whole batch."""
    out = []
    for h, p, dom, ext in zip(host, path, domains_csv, exts_csv):
        domains = dom.split("|") if dom else None
        exts = ext.split("|") if ext else None
        out.append(filter1(h or "", p or "", domains, exts))
    return pd.Series(out, dtype="bool")


@pandas_udf(T.BooleanType())
def robots_allowed_udf(path: pd.Series, forbidden: pd.Series,
                       ignore_robots: pd.Series) -> pd.Series:
    """NamedSite::testRobots over a joined disallow-array column."""
    out = []
    for p, forb, ign in zip(path, forbidden, ignore_robots):
        lst = list(forb) if forb is not None else []
        out.append(is_allowed(p or "", lst, bool(ign)))
    return pd.Series(out, dtype="bool")


# --- schedule-on-keys stage (mapInPandas) -------------------------

KEYS_SCHEMA = "bucket long, slot_id int, qseq long"


def canon_keys_stage(df, hash_size: int = 64_000_000,
                     site_size: int = 20_000):
    """Canonicalize (O-3) + seen-bucket hash (O-6 key) + site hash
    (O-7 key) as ONE mapInPandas stage that emits ONLY the integer keys
    (bucket, slot_id, qseq); invalid URLs are dropped in-batch. The
    scheduling decision needs nothing else; the fetch stage joins
    payload back by qseq. Keeps every downstream shuffle at ~20 B/row
    — at a 10^10-row frontier that is the difference between a
    hundreds-of-GB and a multi-TB shuffle. Input df needs columns
    url, qseq.

    One mapInPandas, not three pandas UDFs: a filter on a struct-UDF
    output makes Catalyst evaluate the canonicalizer twice, and every
    UDF is a separate Arrow round-trip. An input with fewer partitions
    than the cluster's default parallelism (a small file is one split)
    is first hash-partitioned on qseq to that parallelism, so the
    Python stage runs on every core; the placement is a function of
    qseq, so a retried task sees the same rows. Reading the partition
    count plans the input, so an input that ends in a shuffle runs
    that shuffle here under adaptive execution; a file scan runs
    nothing.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n, "qseq")

    def fn(batches):
        from ..kernels.vectorized import (
            canonicalize_batch, site_hash_np, url_hash_np)
        for pdf in batches:
            r = canonicalize_batch(pdf["url"])
            keep = r["valid"].to_numpy(dtype=bool)
            host = r["host"][keep].reset_index(drop=True)
            port = r["port"][keep].reset_index(drop=True)
            path = r["path"][keep].reset_index(drop=True)
            yield pd.DataFrame({
                "bucket": url_hash_np(host, port, path, hash_size),
                "slot_id": site_hash_np(host, site_size).astype("int32"),
                "qseq": pdf["qseq"].to_numpy()[keep],
            })

    return df.mapInPandas(fn, KEYS_SCHEMA)
