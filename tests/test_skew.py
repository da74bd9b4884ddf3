"""operators/skew: salted two-phase top-k equals the direct window on
Zipf-skewed keys (the hot-host shape the crawler faces)."""

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from larbin_spark.operators.skew import salted_per_key_topk


def _zipf_df(spark, n=20000, n_keys=200, seed=7):
    rng = np.random.default_rng(seed)
    keys = (rng.zipf(1.3, size=n) % n_keys).astype("int64")
    return spark.createDataFrame(
        [(int(k), int(i)) for i, k in enumerate(keys)],
        "key long, seq long")


def test_salted_topk_matches_direct_window(spark):
    df = _zipf_df(spark)
    direct_w = Window.partitionBy("key").orderBy("seq")
    direct = (df.withColumn("rank", F.row_number().over(direct_w))
              .filter(F.col("rank") <= 64))
    salted = salted_per_key_topk(df, ["key"], ["seq"], 64, n_salts=8)
    d = {(r["key"], r["seq"]): r["rank"] for r in direct.collect()}
    s = {(r["key"], r["seq"]): r["rank"] for r in salted.collect()}
    assert d == s and len(d) > 0


def test_salted_topk_small_k(spark):
    df = _zipf_df(spark, n=5000, n_keys=10)
    salted = salted_per_key_topk(df, ["key"], ["seq"], 1, n_salts=4)
    rows = salted.collect()
    # exactly one row per key present, and it is the per-key min seq
    per_key = {}
    for r in df.collect():
        per_key[r["key"]] = min(per_key.get(r["key"], 1 << 60), r["seq"])
    assert {(r["key"], r["seq"]) for r in rows} == set(per_key.items())
