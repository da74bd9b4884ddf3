"""The JVM expression forms of two parity kernels
(larbin_spark/functions/exprs.py) against the scalar kernels they
replace in the crawl round: the phase-B slot key against
kernels.hashes.site_hash, and the fast-fail robots regex against
kernels.robots.robots_match."""

import random

import pytest
from pyspark.sql import functions as F

from larbin_spark.functions.exprs import robots_regex, site_hash_col
from larbin_spark.kernels.hashes import site_hash
from larbin_spark.kernels.robots import robots_match


def _hosts():
    rng = random.Random(7)
    ascii_hosts = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789.-")
                           for _ in range(rng.randrange(1, 40)))
                   for _ in range(10_000)]
    # high-bit latin-1: the reference promotes these as signed chars
    latin1 = ["".join(chr(rng.randrange(256)) for _ in range(rng.randrange(1, 24)))
              for _ in range(10_000)]
    return ["", "a", "example.com", "\x80", "\xff" * 64, "x" * 300] \
        + ascii_hosts + latin1


@pytest.fixture
def ansi(spark):
    # the uint32 arithmetic must not overflow under ANSI mode
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.mark.parametrize("size", [20_000, 10**6, 2**31])
def test_site_hash_col_matches_kernel(ansi, size):
    hosts = _hosts()
    df = ansi.createDataFrame([(i, h) for i, h in enumerate(hosts)],
                              "i int, host string")
    got = dict(df.select("i", site_hash_col("host", size).alias("s"))
               .collect())
    bad = [(h, got[i], site_hash(h, size)) for i, h in enumerate(hosts)
           if got[i] != site_hash(h, size)]
    assert not bad, bad[:5]


_CASES = [
    # plain prefixes and the empty pattern (forbids everything)
    ("/private", "/private/x"), ("/private", "/priv"), ("", "/x"),
    ("/", ""),
    # '*' skips to the FIRST occurrence of the next char: no backtracking
    ("/a*b", "/aXXb"), ("/a*b", "/aXX"), ("/a*bc", "/abXbc"),
    ("/a*bc", "/abc"),
    # '**': the first '*' needs a literal '*' in the path
    ("/a**", "/a*"), ("/a**", "/ab"), ("/a**c", "/a*xc"), ("/a**c", "/axc"),
    ("/**", "/"), ("/**", "/*"),
    # a trailing '*' accepts the rest, even nothing
    ("/a*", "/a"), ("/a*", "/aXYZ"), ("*", ""),
    # regex metacharacters are literals in robots patterns
    ("/a.b", "/a.b"), ("/a.b", "/aXb"), ("/x?y", "/x?y"), ("/x?y", "/y"),
    ("/[a]", "/[a]"), ("/[a]", "/a"), ("/(p)+", "/(p)+"), ("/(p)+", "/pp"),
    ("/^$|\\{1}", "/^$|\\{1}"), ("/a*.", "/aX.Y"), ("/a*]x", "/a]x"),
    ("/a*\\", "/a\\"), ("/a*^", "/ab^"), ("/a*-", "/a-"),
    ("/\xe9*\xff", "/\xe9z\xff"),
]


def _random_cases(n):
    rng = random.Random(11)
    alpha = "/ab*.?x[]()^$\\|+{}-\xe9"
    out = []
    for _ in range(n):
        p = "".join(rng.choice(alpha) for _ in range(rng.randrange(7)))
        q = "".join(rng.choice(alpha.replace("*", "") + "*")
                    for _ in range(rng.randrange(9)))
        out.append((p, q))
    return out


def test_robots_regex_matches_kernel(ansi):
    cases = _CASES + _random_cases(20_000)
    df = ansi.createDataFrame(cases, "p string, q string")
    got = (df.select("p", "q", robots_regex(F.col("p")).alias("re"))
           .select("p", "q", "re", F.expr("q rlike re").alias("hit"))
           .collect())
    bad = [(r.p, r.q, r.re, r.hit) for r in got
           if r.hit != robots_match(r.p, r.q)]
    assert not bad, bad[:5]
    # the hand cases exercise both outcomes of every rule above
    hits = {(r.p, r.q): r.hit for r in got}
    assert hits[("/a**", "/a*")] and not hits[("/a**", "/ab")]
    assert hits[("/a*", "/a")] and not hits[("/a.b", "/aXb")]
