"""Explicit skew handling for hot keys (hot hosts).

A Zipf-skewed frontier puts millions of URLs behind one host; any
plan that shuffles *all* rows of a key to one task serializes on the
hottest key. Three layers of defense, outermost first:

1. Spark-native: AQE skew-join splitting
   (`spark.sql.adaptive.skewJoin.enabled`) for joins, and
   WindowGroupLimit (rank-filter pushdown, visible in docs/PLANS.md)
   which pre-prunes rank<=k per key on the MAP side before the window
   shuffle — both free, both already active in this repo's plans.
2. `salted_per_key_topk` below: explicit two-phase top-k for when the
   window's k is large or the engine can't push the limit (e.g. rank
   expressions the optimizer doesn't recognize). Phase 1 ranks within
   (key, salt) and keeps k per salt shard; phase 2 ranks the
   survivors (<= k * n_salts per key) exactly. Correct because the
   global per-key top-k by a total order is a subset of the union of
   per-shard top-k's: any row in the true top-k beats all rows below
   it in its own shard too, so it survives phase 1.
3. No salted aggregation: for algebraic aggs (sum/count/min/max)
   Spark's partial aggregation is already the map-side combine and
   salting adds nothing but a shuffle — documented so nobody
   "optimizes" those paths backwards.

The politeness window itself (O-9) must NOT be salted: its semantics
are a global order per ip bucket (SURVEY.md §4). Its inputs are
already bounded by the per-site 64-cap, so the hot-host mass is
cut before that shuffle — by exactly the operator this module
generalizes.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SALT = "__salt"
SHARD_RANK = "__shard_rank"


def salted_per_key_topk(df: DataFrame, key_cols: Sequence[str],
                        order_cols: Sequence[str], k: int,
                        n_salts: int = 16,
                        rank_name: str = "rank") -> DataFrame:
    """Exact per-key top-k by (order_cols) with hot-key mass split
    across n_salts shards before the per-key shuffle.

    Output = input columns + rank_name (1-based rank within key),
    rows with rank <= k only — identical to
    row_number().over(Window.partitionBy(*key).orderBy(*order)) <= k
    for any total order (tests + the DuckDB oracle assert this on
    Zipf data).
    """
    # deterministic salt from the ORDER columns: spreads a hot key's
    # rows uniformly and is stable under retries/parallelism
    salt = F.pmod(F.hash(*[F.col(c) for c in order_cols]),
                  F.lit(n_salts))
    shard_w = Window.partitionBy(*key_cols, SALT).orderBy(*order_cols)
    pruned = (df.withColumn(SALT, salt)
              .withColumn(SHARD_RANK, F.row_number().over(shard_w))
              .filter(F.col(SHARD_RANK) <= k))
    final_w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (pruned.withColumn(rank_name, F.row_number().over(final_w))
            .filter(F.col(rank_name) <= k)
            .drop(SALT, SHARD_RANK))
