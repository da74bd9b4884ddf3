"""Distributed k-hash Bloom filter over the URL-seen key space.

The north-star design names a "distributed bloom/cuckoo URL-seen
filter" as the replacement for Larbin's in-memory hashTable bitmap
(src/fetch/hash_table.cxx:36-125). The AUTHORITATIVE seen set in this
engine stays the exact, range-sharded `seen` bucket table (SCALE.md
§3) — a probabilistic structure can never carry test-and-set
semantics alone. This module is the filter's build and probe
surface: `bloom_build` is the scheduler's restart cost (rebuilding
the bitmap from the durable seen table), `bloom_probe` the
map-side test, and `bloom_positions` / `bloom_position_col` the
cross-engine parity surface (contract query `crawl_bloom_prefilter`).

It is NOT in the frontier pass. A membership filter earns its cost
only where a negative answer saves a probe of the exact structure.
In `bloom_prefilter`'s one-join composition no probe is saved: every
candidate is a preserved row of a left outer join, so it reaches the
exact seen lookup whatever the filter says — map-side under a
broadcast, through the shuffle past it. The filter then only adds
the build's driver collect and a Python crossing per candidate
(measured slower under both join strategies, docs/SCALE.md §3).
Pruning would take a second branch that evaluates the candidate plan
twice or materializes it, which costs more than the lookup it skips.

  * no false negatives: `maybe_seen = false` PROVES the key is new;
  * false positives only say "maybe": downstream code must treat
    `maybe_seen` as a hint, never as membership.

At 10^10 seen URLs the exact bitmap (hash_size 2^40 -> 128 GB) can't
be broadcast, while a Bloom filter trades size for false-positive
rate freely: m = 2^36 bits (8 GB, executor-memory-feasible as a
torrent broadcast at real-cluster executor RAM; halve m and double
the FP rate to fit smaller boxes). k hash probes derive from ONE md5
via double hashing — pos_i = (h1 + i*h2) mod m. Build and probe
project the key to (h1 mod m, h2 mod m) once — one digest per key —
and expand the k positions in numpy; the construction is
engine-portable: the DuckDB oracle reproduces every bit position.

Why Bloom and not cuckoo: a cuckoo filter's win over Bloom is
deletion support and ~30% space at low FP targets, paid for with
insert-time eviction chains — inherently sequential, a poor fit for
a distributed OR-reduce build. The URL-seen set is GROW-ONLY (a
crawled URL never becomes uncrawled; the reference's hashTable has
no delete either), so deletions buy nothing here, and the OR-reduce
build (each partition ORs its keys into a local bitmap, the driver
ORs the partials — associative, commutative, one pass) is exactly
the merge a Bloom bitmap supports for free.

Build is distributed: each partition ORs its keys' bit positions
into a local numpy bitmap and the driver ORs the partials
(or_reduce_bitmap); the probe is one Arrow-vectorized numpy pass per
batch over two int64 columns (no per-row Python).
"""

from __future__ import annotations

from typing import Callable, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
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


def _double_hash(hx: Column, m_bits: int) -> Tuple[Column, Column]:
    """(h1 mod m, h2 mod m) from the md5 hex digest `hx` of a key:
    h1 = int value of hex chars 1-15, h2 = 2*int(hex chars 17-31) + 1
    (odd, so the probe sequence covers the bit space even for
    power-of-two m). Both operands stay < 2^61 and m <= 2^55 keeps
    (h1m + i*h2m) overflow-free in signed 64-bit — identical
    arithmetic on DuckDB."""
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(hx, 17, 15), 16, 10).cast("long") * 2 + 1
    return h1 % m_bits, h2 % m_bits


def _md5_double_hash(col: Column, m_bits: int) -> Tuple[Column, Column]:
    """_double_hash of ONE md5 of the key column."""
    return _double_hash(F.md5(F.encode(col, "utf-8")), m_bits)


def _with_hash_pair(df: DataFrame, col: str, m_bits: int) -> DataFrame:
    """df + (_h1, _h2) long columns: (h1 mod m, h2 mod m) of df[col].
    The digest is a projection of its own, referenced twice, so
    Catalyst's CollapseProject does not inline it into both columns:
    one md5 per row."""
    hx = df.withColumn("_hx", F.md5(F.encode(F.col(col), "utf-8")))
    h1m, h2m = _double_hash(F.col("_hx"), m_bits)
    return hx.withColumn("_h1", h1m).withColumn("_h2", h2m).drop("_hx")


def _expand(h1m: np.ndarray, h2m: np.ndarray, m_bits: int,
            k: int) -> np.ndarray:
    """(n, k) int64 bit positions (h1m + i*h2m) mod m for i < k — the
    numpy twin of bloom_position_col."""
    i = np.arange(k, dtype=np.int64)
    return (h1m[:, None] + i * h2m[:, None]) % m_bits


def bloom_position_col(col: Column, m_bits: int, k: int) -> Column:
    """array<long> of the k bit positions for a key column (JVM-side,
    codegen'd; the cross-engine parity surface)."""
    h1m, h2m = _md5_double_hash(col, m_bits)
    return F.array(*[(h1m + F.lit(i) * h2m) % m_bits for i in range(k)])


def bloom_positions(df: DataFrame, col: str, m_bits: int,
                    k: int) -> DataFrame:
    """(pos: long) — every bit position the keys of `df[col]` set.
    The build's reference relation; also the cross-engine parity
    surface."""
    return df.select(F.explode(bloom_position_col(F.col(col), m_bits, k))
                     .alias("pos"))


def bloom_build(df: DataFrame, col: str, m_bits: int,
                k: int) -> np.ndarray:
    """Distributed Bloom build: (h1 mod m, h2 mod m) projected
    JVM-side, the k positions expanded in numpy inside the
    per-partition OR-reduce (or_reduce_bitmap) — one pass, no
    shuffle. Null keys set no bits."""
    pairs = _with_hash_pair(df.where(F.col(col).isNotNull()), col,
                            m_bits).select("_h1", "_h2")
    return or_reduce_bitmap(
        pairs, m_bits,
        lambda pdf: _expand(pdf["_h1"].to_numpy(np.int64),
                            pdf["_h2"].to_numpy(np.int64),
                            m_bits, k).ravel())


def bloom_probe(df: DataFrame, bitmap: np.ndarray, col: str,
                m_bits: int, k: int,
                out_col: str = "maybe_seen") -> DataFrame:
    """Map-side probe: out_col = AND over the k bit tests against the
    broadcast bitmap. false PROVES the key was never inserted; a null
    key was never inserted, so it probes false."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bitmap.tobytes())

    @F.pandas_udf("boolean")
    def _test(h1m: pd.Series, h2m: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, np.uint8)
        h1 = h1m.to_numpy(np.int64)
        p = _expand(np.maximum(h1, 0), h2m.to_numpy(np.int64), m_bits, k)
        hit = ((bm[p >> 3] >> (p & 7).astype(np.uint8)) & 1).all(axis=1)
        return pd.Series(hit & (h1 >= 0))

    # null keys enter as h1 = -1, so both columns stay non-null int64
    return (_with_hash_pair(df, col, m_bits)
            .withColumn(out_col, _test(F.coalesce("_h1", F.lit(-1)),
                                       F.coalesce("_h2", F.lit(0))))
            .drop("_h1", "_h2"))


def bloom_prefilter(candidates: DataFrame, seen: DataFrame, col: str,
                    seen_col: str, m_bits: int, k: int) -> DataFrame:
    """`candidates` + `is_new`, exact NOT-IN-seen: one left join of the
    candidates to the distinct seen keys, `is_new = seen_key IS NULL`
    (a null candidate key matches nothing, so it is new). The
    candidate plan runs once and crosses no Python.

    No Bloom probe sits in front of the join, so `m_bits` and `k` are
    unread; the name and signature stay for the frontier scheduler's
    callers. Every candidate is a preserved row of the outer join and
    reaches the exact lookup whether or not a filter cleared it, so a
    probe here prunes nothing at any size (module docstring). The
    crawl round's URL-seen probe is the same exact left join
    (plans/round.py phase E)."""
    hits = seen.select(F.col(seen_col).alias("_seen_key")).distinct()
    # a matched _seen_key equals a non-null key, so null means no hit
    return (candidates.join(hits, F.col(col) == F.col("_seen_key"), "left")
            .withColumn("is_new", F.col("_seen_key").isNull())
            .drop("_seen_key"))
