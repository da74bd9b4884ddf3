"""assign_global_seq vs a single-partition row_number oracle: the
two-phase distributed rank must reproduce the exact global sequence
for any input partitioning, including duplicate-free orders with
skewed key distributions and the empty frame, and with its counts
exact when an upstream task attempt fails."""

import os
import random
import subprocess
import sys
import textwrap

from pyspark.sql import Window
from pyspark.sql import functions as F

from larbin_spark.operators.sequence import assign_global_seq


def _oracle(df, order_cols, out_col, base):
    w = Window.orderBy(*order_cols)
    return df.withColumn(
        out_col, F.row_number().over(w).cast("long") - 1 + F.lit(base))


def _check(spark, rows, base, parts):
    df = spark.createDataFrame(
        rows, "fetch_seq long, link_idx int, payload string"
    ).repartition(parts)
    got = (assign_global_seq(df, ["fetch_seq", "link_idx"], "qseq", base)
           .select("fetch_seq", "link_idx", "payload", "qseq"))
    want = (_oracle(df, ["fetch_seq", "link_idx"], "qseq", base)
            .select("fetch_seq", "link_idx", "payload", "qseq"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_matches_row_number_oracle(spark):
    rng = random.Random(7)
    rows = [(rng.randint(0, 50), i, f"p{i}") for i in range(2000)]
    # make (fetch_seq, link_idx) a unique total order
    rows = [(fs, i, p) for i, (fs, _i, p) in enumerate(rows)]
    _check(spark, rows, base=1234, parts=7)


def test_skewed_keys(spark):
    # 90% of rows share one fetch_seq (hot page with many links)
    rows = [(99, i, f"h{i}") for i in range(900)]
    rows += [(i % 7, 1000 + i, f"c{i}") for i in range(100)]
    _check(spark, rows, base=0, parts=5)


def test_empty(spark):
    df = spark.createDataFrame([], "fetch_seq long, link_idx int")
    out = assign_global_seq(df, ["fetch_seq", "link_idx"], "qseq", 10)
    assert out.count() == 0
    assert dict(out.dtypes)["qseq"] == "bigint"


def test_partitioning_invariance(spark):
    """The assigned sequence must be identical no matter how the input
    is partitioned (the determinism-under-parallelism property)."""
    rows = [(i // 3, i % 3, f"x{i}") for i in range(500)]
    outs = []
    for parts in (1, 3, 11):
        df = spark.createDataFrame(
            rows, "fetch_seq long, link_idx int, payload string"
        ).repartition(parts)
        out = assign_global_seq(df, ["fetch_seq", "link_idx"], "qseq", 7)
        outs.append(sorted(map(tuple, out.collect())))
    assert outs[0] == outs[1] == outs[2]


def test_counts_out_piggyback(spark):
    """counts_out must report exact totals (and per-group counts with
    counts_by) from the SAME internal job, with identical sequence
    assignment — the round driver uses it to drop two eager actions."""
    rows = [(i // 3, i % 3, "disk" if i % 5 else "priority")
            for i in range(500)]
    df = spark.createDataFrame(
        rows, "fetch_seq long, link_idx int, queue string")
    cnt = {}
    out = assign_global_seq(df, ["fetch_seq", "link_idx"], "qseq", 7,
                            counts_by=["queue"], counts_out=cnt)
    assert cnt["total"] == 500
    assert cnt["by"] == {"priority": 100, "disk": 400}
    # the sequence itself is unchanged by the grouped counts
    plain = assign_global_seq(df, ["fetch_seq", "link_idx"], "qseq", 7)
    assert (sorted(map(tuple, out.collect()))
            == sorted(map(tuple, plain.collect())))
    # empty input: total 0, empty by-map
    empty = spark.createDataFrame([], "fetch_seq long, link_idx int, "
                                      "queue string")
    cnt2 = {}
    assign_global_seq(empty, ["fetch_seq", "link_idx"], "qseq", 0,
                      counts_by=["queue"], counts_out=cnt2).count()
    assert cnt2 == {"total": 0, "by": {}}


def test_counts_out_null_key(spark):
    """Rows whose counts_by key is null are counted (under None) and
    get offsets like every other row: the sequence stays the exact
    dense global rank."""
    rows = [(i // 3, i % 3, None if i % 4 == 0 else f"q{i % 2}")
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "fetch_seq long, link_idx int, queue string").repartition(5)
    cnt = {}
    out = assign_global_seq(df, ["fetch_seq", "link_idx"], "qseq", 3,
                            counts_by=["queue"], counts_out=cnt)
    assert cnt["total"] == 400
    assert cnt["by"] == {None: 100, "q0": 100, "q1": 200}
    assert sorted(r["qseq"] for r in out.collect()) == list(range(3, 403))


# ---------------- assign_group_cumsum ----------------

from larbin_spark.operators.sequence import assign_group_cumsum


def _cumsum_oracle(df, group_cols, order_cols, value_col, out_col):
    w = (Window.partitionBy(*group_cols).orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(out_col, F.sum(value_col).over(w).cast("long"))


def _cumsum_check(spark, rows, parts):
    df = spark.createDataFrame(
        rows, "grp string, ord long, v long").repartition(parts)
    got = assign_group_cumsum(df, ["grp"], ["ord"], "v", "cum")
    want = _cumsum_oracle(df, ["grp"], ["ord"], "v", "cum")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_group_cumsum_matches_window_oracle(spark):
    rng = random.Random(11)
    rows = [(f"s{rng.randint(0, 4)}", i, rng.randint(1, 50))
            for i in range(2000)]
    _cumsum_check(spark, rows, parts=7)


def test_group_cumsum_one_giant_group(spark):
    # the skew case the two-phase scheme exists for: one group spans
    # every range partition, so the carry chain crosses all of them
    rows = [("hot", i, 3) for i in range(1500)]
    rows += [(f"cold{i}", 10**6 + i, 5) for i in range(20)]
    _cumsum_check(spark, rows, parts=9)


def test_group_cumsum_batch_carry(spark):
    """Force many small Arrow batches inside each partition so the
    carry-across-batches path (not just across partitions) runs."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        rows = [("a", i, 2) for i in range(400)]
        rows += [("b", i, 7) for i in range(300)]
        _cumsum_check(spark, rows, parts=3)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_group_cumsum_partitioning_invariance(spark):
    rows = [(f"g{i % 3}", i, (i * 7) % 13 + 1) for i in range(600)]
    outs = []
    for parts in (1, 4, 13):
        df = spark.createDataFrame(
            rows, "grp string, ord long, v long").repartition(parts)
        out = assign_group_cumsum(df, ["grp"], ["ord"], "v", "cum")
        outs.append(sorted(map(tuple, out.collect())))
    assert outs[0] == outs[1] == outs[2]


def test_group_cumsum_empty(spark):
    df = spark.createDataFrame([], "grp string, ord long, v long")
    out = assign_group_cumsum(df, ["grp"], ["ord"], "v", "cum")
    assert out.count() == 0
    assert dict(out.dtypes)["cum"] == "bigint"


def test_exact_under_task_retry(tmp_path):
    """The rank's counts ride an accumulator on the checkpoint job
    (operators/sequence.py), so a failed task attempt must not leave
    its updates behind. A fresh `local[2,2]` session with AQE on (two
    cores, a task may fail once) ranks a frame whose upstream pandas
    function fails its first attempt; the ranks must still be dense
    and equal the row_number oracle, and counts_out exact."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    flag = str(tmp_path / "failed")
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {repo!r})
        import pandas as pd
        from pyspark.sql import SparkSession, Window
        from pyspark.sql import functions as F
        spark = (SparkSession.builder.master("local[2,2]")
                 .appName("global-seq-retry")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.sql.adaptive.enabled", "true")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("OFF")
        from larbin_spark.operators.sequence import assign_global_seq

        @F.pandas_udf("string")
        def queue_once(i: pd.Series) -> pd.Series:
            # the partition holding id 0 fails its first attempt
            if (i == 0).any():
                try:
                    os.close(os.open({flag!r}, os.O_CREAT | os.O_EXCL))
                except FileExistsError:
                    pass
                else:
                    raise RuntimeError("injected first-attempt failure")
            return (i % 3 == 0).map({{True: "priority", False: "disk"}})

        df = (spark.range(0, 6000, 1, 3)
              .selectExpr("id", "cast(id % 50 as long) as fetch_seq",
                          "cast(id as int) as link_idx")
              .withColumn("queue", queue_once("id")))
        counts = {{}}
        got = assign_global_seq(df, ["fetch_seq", "link_idx"], "qseq", 100,
                                counts_by=["queue"], counts_out=counts)
        assert os.path.exists({flag!r}), "no attempt failed"
        got = sorted((r.fetch_seq, r.link_idx, r.qseq)
                     for r in got.collect())
        assert [q for _f, _l, q in got] == list(range(100, 6100))
        want = sorted(
            (r.fetch_seq, r.link_idx, r.qseq) for r in df.withColumn(
                "qseq", F.row_number().over(
                    Window.orderBy("fetch_seq", "link_idx")) + 99).collect())
        assert got == want
        assert counts == {{"total": 6000,
                           "by": {{"priority": 2000, "disk": 4000}}}}, counts
        print("ALL_OK")
        spark.stop()
    """)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-c", script], cwd=repo, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ALL_OK" in out.stdout
