"""Distributed URL-seen membership filter (the hashTable bitmap,
Spark-shaped).

The reference keeps one in-process 64M-bit bitmap
(src/fetch/hash_table.cxx:36-125). Here the authoritative seen set is
the `seen` bucket table (exact, range-sharded, SCALE.md §3) — but at
parity capacity (hashSize 64M = 8 MB of bits) the whole bitmap also
fits in an executor broadcast, which turns the per-round membership
probe from an anti-join shuffle into a map-side vectorized bit test.

Because the bitmap is keyed by the SAME bucket hash as the exact
table, `bit set ⟺ bucket ∈ seen` — this is a bloom filter with zero
false positives at the bucket level (the reference's own 1-hash
design; URL-level collisions drop the same URLs the reference drops).
At scale-out hash sizes (2^40 buckets = 128 GB of bits) the broadcast
is impossible and the range-sharded anti-join is the path; the crawl
config picks per `hash_size`.

Build is distributed: each partition ORs its buckets into a local
bitmap (numpy, vectorized), the driver ORs the per-partition bitmaps.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUILD_PARTS = 8  # bitmaps transferred to the driver = parts * size/8


def or_reduce_bitmap(df: DataFrame, n_bits: int,
                     positions: Callable[[pd.DataFrame], np.ndarray]
                     ) -> np.ndarray:
    """Packed uint8 bitmap of every bit `positions(batch)` (int64)
    names over df's Arrow batches: each partition ORs into a local
    bitmap, the driver ORs the partials. One job, no shuffle."""
    nbytes = (n_bits + 7) // 8

    def to_bitmap(batches):
        bm = np.zeros(nbytes, np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                b = positions(pdf)
                np.bitwise_or.at(bm, b >> 3,
                                 (np.uint8(1) << (b & 7).astype(np.uint8)))
        if any_rows:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = (df.coalesce(_BUILD_PARTS)
             .mapInPandas(to_bitmap, "bm binary").collect())
    out = np.zeros(nbytes, np.uint8)
    for r in parts:
        out |= np.frombuffer(r["bm"], np.uint8)
    return out


def seen_bitmap(seen: DataFrame, hash_size: int,
                bucket_col: str = "bucket") -> np.ndarray:
    """Materialize the seen table as a packed uint8 bitmap."""
    return or_reduce_bitmap(seen.select(bucket_col), hash_size,
                            lambda pdf: pdf[bucket_col].to_numpy(np.int64))


def with_bitmap_hit(df: DataFrame, bitmap: np.ndarray,
                    bucket_col: str = "bucket",
                    out_col: str = "seen_hit") -> DataFrame:
    """Map-side membership probe: out_col = bit test of bucket_col
    against the broadcast bitmap. Equivalent to a left join against
    the seen table with a hit flag — no shuffle."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bitmap.tobytes())

    @F.pandas_udf("boolean")
    def _test(b: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, np.uint8)
        v = b.to_numpy(np.int64)
        return pd.Series(((bm[v >> 3] >> (v & 7).astype(np.uint8)) & 1)
                         .astype(bool))

    return df.withColumn(out_col, _test(F.col(bucket_col)))
