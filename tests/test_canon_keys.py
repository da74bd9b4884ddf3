"""functions/udfs.canon_keys_stage: the frontier pass's Python stage.

Its keys must not depend on how the input is split, and an input with
fewer partitions than the default parallelism is spread over that many
before the stage runs."""

from pyspark.sql import functions as F

from larbin_spark.functions.udfs import canon_keys_stage

URLS = ["http://h%d.example.com/p%d.html" % (i % 37, i % 311)
        for i in range(900)]
URLS += ["mailto:a@b.example", "ftp://h1.example.com/x", "p/relative",
         "HTTP://H2.Example.COM:80/a/../b", None]


def _keys(df):
    return sorted(map(tuple, canon_keys_stage(df).collect()))


def test_keys_independent_of_input_partitioning(spark):
    df = spark.createDataFrame(list(zip(URLS, range(len(URLS)))),
                               "url string, qseq long")
    one = df.coalesce(1)
    many = df.repartition(7)
    got = _keys(one)
    assert got == _keys(many)
    assert 0 < len(got) < len(URLS)  # invalid URLs are dropped
    n = spark.sparkContext.defaultParallelism
    assert canon_keys_stage(one).rdd.getNumPartitions() == n
