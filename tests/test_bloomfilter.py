"""operators/bloomfilter: the distributed k-hash Bloom pre-filter.

Pins the two properties the pre-filter's correctness argument rests
on (no false negatives; false positives exist so downstream code
cannot treat maybe_seen as exact), the prefilter composition's
equivalence to a plain exact anti-join (also with null keys, an empty
seen table and duplicated seen keys, under a broadcast and under a
sort-merge join), the numpy build's agreement with the JVM positions
relation, and the one-pass, Python-free shape of the prefilter's
plan.
"""

import numpy as np
from pyspark.sql import functions as F

from larbin_spark.operators import bloomfilter as bf

M_BITS, K = 2048, 3


def _under_both_join_strategies(spark, check):
    """check(join) under the session's config, where the seen lookup
    is a BroadcastHashJoin at these sizes, then with broadcasts off,
    where it is a SortMergeJoin (the at-scale strategy)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        check("BroadcastHashJoin")
        spark.conf.set(key, "-1")
        check("SortMergeJoin")
    finally:
        spark.conf.set(key, old)


def _urls(spark, n):
    return spark.range(n).select(
        F.concat(F.lit("http://h"), (F.col("id") % 53).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string"))
        .alias("url"),
        (F.col("id") % 3 == 0).alias("is_seen"))


def test_no_false_negatives_and_some_false_positives(spark):
    d = _urls(spark, 600)
    bm = bf.bloom_build(d.filter("is_seen").select("url"),
                        "url", M_BITS, K)
    rows = bf.bloom_probe(d, bm, "url", M_BITS, K).collect()
    # every inserted key MUST probe true (the pre-filter's soundness)
    assert all(r["maybe_seen"] for r in rows if r["is_seen"])
    fps = [r for r in rows if r["maybe_seen"] and not r["is_seen"]]
    # ~200 keys in 2048 bits at k=3 -> a few percent FP rate; zero
    # would make the maybe_seen!=exact distinction vacuous
    assert fps, "expected at least one false positive at m=2048"
    # and far from all unseen rows are FPs (the filter filters)
    assert len(fps) < 100


def test_positions_match_bitmap_probe(spark):
    """The JVM position expr and the numpy bitmap agree: a key probes
    true iff ALL its k positions are in the seen positions relation
    (the same equivalence the DuckDB oracle checks cross-engine)."""
    d = _urls(spark, 300)
    seen = d.filter("is_seen").select("url")
    bm = bf.bloom_build(seen, "url", M_BITS, K)
    probed = bf.bloom_probe(d, bm, "url", M_BITS, K)
    bits = {r["pos"] for r in
            bf.bloom_positions(seen, "url", M_BITS, K).collect()}
    got = probed.select(
        "url", "maybe_seen",
        bf.bloom_position_col(F.col("url"), M_BITS, K).alias("pos")
    ).collect()
    for r in got:
        assert r["maybe_seen"] == all(p in bits for p in r["pos"])


def test_prefilter_equals_plain_antijoin(spark):
    """bloom_prefilter's is_new must equal exact NOT-IN-seen for
    every candidate, whichever join strategy runs the lookup. With
    every seen key twice, the distinct on the seen side keeps each
    candidate one row with the same is_new."""
    d = _urls(spark, 500)
    seen = d.filter("is_seen").select(F.col("url").alias("u"))
    want = {r["url"]: not r["is_seen"] for r in d.collect()}

    def check(join):
        for s in (seen, seen.unionAll(seen)):
            out = bf.bloom_prefilter(d, s, "url", "u", M_BITS, K)
            rows = out.collect()
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert join in plan
            assert len(rows) == 500
            assert {r["url"]: r["is_new"] for r in rows} == want

    _under_both_join_strategies(spark, check)


def test_probe_handles_empty_batch(spark):
    d = _urls(spark, 50)
    bm = bf.bloom_build(d.filter("is_seen").select("url"),
                        "url", M_BITS, K)
    empty = d.filter("url IS NULL")
    assert bf.bloom_probe(empty, bm, "url", M_BITS, K).count() == 0


def test_build_bits_equal_positions_relation(spark):
    """The build expands the k positions in numpy; its set bits must be
    exactly the JVM positions relation (the DuckDB contract surface),
    also for a non-power-of-two m."""
    d = _urls(spark, 400)
    for m_bits, k in ((M_BITS, K), (1_000_003, 5)):
        bm = bf.bloom_build(d, "url", m_bits, k)
        want = {r["pos"] for r in
                bf.bloom_positions(d, "url", m_bits, k).collect()}
        got = set(np.flatnonzero(np.unpackbits(bm, bitorder="little")))
        assert got == want


def test_prefilter_null_candidate_keys(spark):
    """A null candidate key matches no seen key, so it is new; null
    seen keys match nothing."""
    d = _urls(spark, 200).withColumn(
        "url", F.when(F.col("url").endswith("7"), None)
        .otherwise(F.col("url")))
    seen = d.filter("is_seen").select(F.col("url").alias("u"))

    def check(_join):
        rows = bf.bloom_prefilter(d, seen, "url", "u", M_BITS,
                                  K).collect()
        assert len(rows) == 200
        assert sum(r["url"] is None for r in rows) == 20
        for r in rows:
            assert r["is_new"] == (r["url"] is None or not r["is_seen"])

    _under_both_join_strategies(spark, check)


def test_prefilter_empty_seen(spark):
    d = _urls(spark, 100)
    seen = spark.createDataFrame([], "u string")

    def check(_join):
        rows = bf.bloom_prefilter(d, seen, "url", "u", M_BITS,
                                  K).collect()
        assert len(rows) == 100 and all(r["is_new"] for r in rows)

    _under_both_join_strategies(spark, check)


def test_prefilter_plan_crosses_python_once(spark):
    """Over canon_keys_stage the prefilter is one join: no Union
    re-evaluating the candidates per branch, so the canonicalizer
    appears once in the plan, and no Bloom probe crosses into Python
    for membership."""
    from larbin_spark.functions.udfs import canon_keys_stage
    src = _urls(spark, 100).select(
        "url", F.monotonically_increasing_id().alias("qseq"))
    cand = canon_keys_stage(src).withColumn(
        "key", F.col("bucket").cast("string"))
    seen = spark.createDataFrame([("1",), ("2",)], "key string")
    out = bf.bloom_prefilter(cand, seen, "key", "key", M_BITS, K)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 0
