"""Deterministic distributed global-sequence assignment.

`row_number() OVER (ORDER BY ...)` funnels every row through one
task — fine for budget-bounded sets (the sequencer take, the fetch
schedule), fatal for the per-round new-link set, which is
pages × links/page and UNBOUNDED (VERDICT r1 #3). This is the
two-phase zipWithIndex scheme, DataFrame-shaped:

  1. range-repartition on the order columns + sort within partitions
     (one shuffle, all partitions in parallel);
  2. local rank per partition in a single Arrow pass (mapInPandas,
     O(rows/partition) per task);
  3. per-partition counts -> driver prefix sum -> broadcast offsets
     join; seq = offset(pid) + local_rank.

Determinism: the emitted sequence depends only on the TOTAL ORDER of
`order_cols` (which must be unique per row), never on where the range
boundaries fall — RangePartitioner keeps partitions order-consistent
(every key in partition i sorts before every key in partition i+1),
so offset+local_rank reproduces the global rank for any boundary
placement and any parallelism level. Pinned by test_determinism
(byte-identical schedules at local[2] vs local[8]) and
tests/test_sequence.py (vs a single-partition row_number oracle).

NOTE: the ranked frame is localCheckpointed WITHOUT coalesce — a
narrow coalesce beneath the rank pass would merge range partitions
into one task, making spark_partition_id() return the coalesced id
while local ranks restart per parent partition: (pid, rank)
collisions. Do not "optimize" the checkpoint here.

Reference analogue: the serialized FIFO line order of
src/utils/persistent_fifo.cxx (arrival order is the sequence).
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Audit hook (tools/explain_audit.py, same idea as RoundRunner.
# plan_probe): the localCheckpoint materializes the rank/cumsum pass,
# so the caller's final plan shows only `Scan ExistingRDD` — the
# MapInPandas stage the scale claims are about is invisible there.
# Each call stores its pre-checkpoint DataFrame here (lazy plan
# object, last call wins) so the audit can explain() the stage that
# actually ran.
PLAN_PROBE: dict = {}


class _DictSum(AccumulatorParam):
    """Accumulator of {key: count} dicts, merged by per-key sum."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, n in b.items():
            a[k] = a.get(k, 0) + n
        return a


def _group_sizes(pdf: pd.DataFrame, by: List[str]) -> dict:
    """{key: rows} of pdf grouped by the `by` columns, a tuple key when
    there are several. Keys are plain python values (hashable,
    picklable and == the collected Row value), and a null key counts
    under None."""
    out = {}
    for k, n in pdf.groupby(by, sort=False, dropna=False).size().items():
        ks = tuple(None if pd.isna(v) else v.item() if hasattr(v, "item")
                   else v for v in (k if isinstance(k, tuple) else (k,)))
        out[ks if len(by) > 1 else ks[0]] = int(n)
    return out


def assign_global_seq(df: DataFrame, order_cols: List[str],
                      out_col: str, base: int = 0,
                      counts_by: List[str] | None = None,
                      counts_out: dict | None = None) -> DataFrame:
    """seq = base + (global rank of the row under order_cols).

    order_cols must form a unique total order. Returns df's columns
    plus `out_col` (long). Triggers two jobs (materialize + counts);
    both scale out — no single-partition stage, no driver data.

    counts_out (a dict, optional) piggybacks on the rank pass itself —
    the caller's row-count action comes free instead of as another
    eager driver round-trip (the round span is the sum of serial
    actions, docs/SCALE.md §6). It gets {"total": n}; with
    counts_by=[col] also {"by": {value: n}} grouped by that column.
    The offsets are unchanged: per-pid counts are the by-group sums.

    ONE job, not two (r5 — VERDICT r4 #3): the per-(pid[, by]) counts
    ride the localCheckpoint materialization on a dict ACCUMULATOR
    updated at the end of each partition's Arrow pass, replacing the
    post-checkpoint groupBy().collect() job. Exactness rests on a plan
    invariant, not on the checkpoint being an action: Spark applies a
    task's accumulator update once only in a RESULT stage (a retried
    or speculative result task is not merged twice), while a
    shuffle-map stage that is recomputed after a fetch failure merges
    its updates again. The mapInPandas below must therefore run in the
    result stage of the eager localCheckpoint's job — no stage
    boundary may follow it; anything added between it and the
    checkpoint must stay narrow. A guard that recounts the
    checkpointed rows is left out on purpose: it costs one more job
    per call, the job this design removes. tests/test_sequence.py
    pins the result against the single-partition row_number oracle
    and test_determinism pins byte-equality across parallelism
    levels."""
    spark = df.sparkSession
    ranked = (df.repartitionByRange(*[F.col(c) for c in order_cols])
              .sortWithinPartitions(*order_cols)
              .withColumn("_pid", F.spark_partition_id()))
    out_schema = T.StructType(
        list(ranked.schema.fields) + [T.StructField("_lrn", T.LongType())])

    by = list(counts_by or [])
    acc = spark.sparkContext.accumulator({}, _DictSum())

    def local_rank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        part: dict = {}
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_lrn"] = np.arange(n, n + len(pdf), dtype="int64")
            n += len(pdf)
            if len(pdf):
                pid = int(pdf["_pid"].iloc[0])
                if by:
                    for k, c in _group_sizes(pdf, by).items():
                        part[(pid, k)] = part.get((pid, k), 0) + c
                else:
                    part[(pid, None)] = part.get((pid, None), 0) + len(pdf)
            yield pdf
        if part:
            acc.add(part)

    ranked = ranked.mapInPandas(local_rank, out_schema)
    PLAN_PROBE[f"global_seq:{','.join(order_cols)}->{out_col}"] = ranked
    ranked = ranked.localCheckpoint(eager=True)

    per_pid: dict = {}
    for (pid, _k), n in acc.value.items():
        per_pid[pid] = per_pid.get(pid, 0) + int(n)
    if counts_out is not None:
        counts_out["total"] = sum(per_pid.values())
        if by:
            by_counts: dict = {}
            for (_pid, k), n in acc.value.items():
                by_counts[k] = by_counts.get(k, 0) + int(n)
            counts_out["by"] = by_counts
    off_rows, off = [], int(base)
    for pid in sorted(per_pid):
        off_rows.append((int(pid), off))
        off += per_pid[pid]
    off_df = spark.createDataFrame(
        off_rows, T.StructType([T.StructField("_pid", T.IntegerType()),
                                T.StructField("_off", T.LongType())]))
    return (ranked.join(F.broadcast(off_df), "_pid")
            .withColumn(out_col, F.col("_off") + F.col("_lrn"))
            .drop("_pid", "_lrn", "_off"))


def assign_group_cumsum(df: DataFrame, group_cols: List[str],
                        order_cols: List[str], value_col: str,
                        out_col: str,
                        probe_key: str | None = None) -> DataFrame:
    """Per-group inclusive running sum of `value_col` under the
    (group_cols, order_cols) total order — the same two-phase scheme
    as assign_global_seq, generalized from rank to prefix sum.

    The naive form — `sum() OVER (PARTITION BY group ORDER BY ...)` —
    funnels each group through ONE task; with a handful of giant
    groups (e.g. per-source packing over a 100 TB corpus) that is a
    single-task sort of the largest group. Here the range shuffle
    spreads every group across many partitions, each partition
    computes local per-group cumsums in one vectorized Arrow pass,
    and the driver prefix-sums the per-(partition, group) totals into
    broadcast carry-in offsets.

    group_cols cardinality must be driver-bounded (the offsets table
    is #partitions x #groups rows) — true for source/lang-style
    strata; (group_cols + order_cols) must be a unique total order,
    and value_col must be integral (the carry arithmetic is exact
    longs). Group and value columns must be NON-NULL: pandas groupby
    drops NaN keys and the offsets join is an equality join, so a
    null would silently lose rows — the Arrow pass fails loud on the
    first null instead. Determinism: like assign_global_seq, the
    result depends only on the total order, never on range-boundary
    placement."""
    spark = df.sparkSession
    all_order = list(group_cols) + list(order_cols)
    ranked = (df.repartitionByRange(*[F.col(c) for c in all_order])
              .sortWithinPartitions(*all_order)
              .withColumn("_pid", F.spark_partition_id()))
    out_schema = T.StructType(
        list(ranked.schema.fields) + [T.StructField("_lcs", T.LongType())])

    def local_cumsum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry_key, carry_sum = None, 0
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            for c in list(group_cols) + [value_col]:
                if pdf[c].isna().any():
                    raise ValueError(
                        f"assign_group_cumsum: NULL in column {c!r} — "
                        "group and value columns must be non-null "
                        "(nulls would be silently dropped by the "
                        "groupby/offsets join)")
            cs = (pdf[value_col].astype("int64")
                  .groupby([pdf[c] for c in group_cols]).cumsum()
                  .to_numpy())
            if len(pdf):
                first_key = tuple(pdf.iloc[0][c] for c in group_cols)
                if first_key == carry_key:
                    # rows are (group, order)-sorted: the carried
                    # group is exactly the leading run of rows whose
                    # key equals the first row's
                    same = np.ones(len(pdf), dtype=bool)
                    for c in group_cols:
                        same &= (pdf[c].to_numpy()
                                 == pdf[c].iloc[0])
                    run = len(pdf) if same.all() \
                        else int(np.argmin(same))
                    cs[:run] += carry_sum
                last_key = tuple(pdf.iloc[-1][c] for c in group_cols)
                carry_key, carry_sum = last_key, int(cs[-1])
            pdf["_lcs"] = cs
            yield pdf

    ranked = ranked.mapInPandas(local_cumsum, out_schema)
    # keyed by signature, not a shared name: two operators in one
    # audit run must not overwrite each other's probe (the audit
    # would silently check the wrong plan). Callers whose signature
    # collides with another operator's (e.g. two _stream packers)
    # pass an explicit probe_key to stay disambiguated.
    if probe_key is None:
        probe_key = f"group_cumsum:{','.join(group_cols)}->{out_col}"
    PLAN_PROBE[probe_key] = ranked
    ranked = ranked.localCheckpoint(eager=True)

    rows = (ranked.groupBy("_pid", *group_cols)
            .agg(F.sum(value_col).alias("_t")).collect())
    by_group: dict = {}
    off_rows = []
    for r in sorted(rows, key=lambda r: r["_pid"]):
        k = tuple(r[c] for c in group_cols)
        off = by_group.get(k, 0)
        off_rows.append((int(r["_pid"]),) + k + (off,))
        by_group[k] = off + int(r["_t"])
    # (unlike assign_global_seq, this stays a second bounded job: the
    # per-(pid, group) sums feed the carry-in offsets table directly,
    # and none of its callers sit on the crawl round's critical path)
    grp_fields = [ranked.schema[c] for c in group_cols]
    off_df = spark.createDataFrame(
        off_rows, T.StructType(
            [T.StructField("_pid", T.IntegerType())] + grp_fields
            + [T.StructField("_goff", T.LongType())]))
    return (ranked.join(F.broadcast(off_df), ["_pid"] + list(group_cols))
            .withColumn(out_col, F.col("_goff") + F.col("_lcs"))
            .drop("_pid", "_lcs", "_goff"))
