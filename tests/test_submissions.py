"""Entry point B parity (input.cxx:125-160 + URL_TAGS url.h:120-123):
submission batches with priority/test/tag merged into a live crawl
must produce the exact fetch ordering, per-fetch tags, seen set and
error taxonomy of the oracle — including the silent drop of test=1
duplicates, the force-set of test=0, and redirect tag inheritance."""

import os

import pytest

from larbin_spark.config import CrawlConfig
from larbin_spark.fixtures.webgen import to_oracle_inputs
from larbin_spark.oracle.simulator import CrawlOracle
from larbin_spark.plans.crawl import collect_results, run_crawl

ROUNDS = 6


def _submissions(fixture_web):
    # a 301 doc whose redirect child will inherit the submission tag
    redirected = sorted(d["doc_id"] for d in fixture_web["documents"]
                        if 300 <= d["status"] < 400 and d["redirect_to"])
    assert redirected, "fixture must contain a redirect doc"
    return {
        1: [
            ("http://site9.example.com/", 1, 1, 137),   # priority+tag
            ("http://site10.example.com/", 0, 1, 0),
            ("http://site0.example.com/", 0, 1, 42),    # seed dup: silent
            ("http://site11.example.com/", 0, 0, 7),    # test=0 force-set
            ("mailto:x@y", 0, 1, 1),                    # invalid
            (redirected[0], 0, 1, 1234),                # tagged redirect
        ],
        3: [
            ("http://site9.example.com/", 0, 0, 55),    # re-submit, force
        ],
    }


@pytest.fixture(scope="module")
def dims(spark, fixture_dir):
    return {n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}


@pytest.fixture(scope="module")
def results(spark, dims, seeds, fixture_web):
    subs = _submissions(fixture_web)
    cfg = CrawlConfig()
    st = run_crawl(spark, cfg, dims, list(seeds), max_rounds=ROUNDS,
                   submissions=subs)
    sres = collect_results(st)

    docs, hosts, robots, _ = to_oracle_inputs(fixture_web)
    o = CrawlOracle(CrawlConfig(), docs, hosts, robots)
    ores = o.run(list(seeds), max_rounds=ROUNDS, submissions=subs)
    return sres, ores


def test_ordering_exact_with_submissions(results):
    sres, ores = results
    assert sres["ordering"] == ores["ordering"]


def test_tags_exact(results):
    sres, ores = results
    assert sres["tags"] == ores["tags"]


def test_tags_nonvacuous(results):
    """A tagged submission must actually get fetched within the
    horizon (else the tag-equality parity above proves nothing)."""
    _, ores = results
    tags = dict(ores["tags"])
    assert 137 in tags.values()


def test_redirect_inherits_tag(spark):
    """file.cxx:551-553: a 30X child inherits the parent's tag;
    extracted links get 0. Mini-web where the chain is deterministic,
    checked on BOTH engines."""
    docs = spark.createDataFrame(
        [("http://a.com/", [], 301, "http://a.com/t.html",
          "text/html", 10),
         ("http://a.com/t.html",
          [{"kind": "text", "text": "see http://a.com/u.html here",
            "media_ref": None, "offset": 0},
           {"kind": "anchor", "text": "http://a.com/u.html",
            "media_ref": None, "offset": 1}], 200, None,
          "text/html", 10),
         ("http://a.com/u.html", [], 200, None, "text/html", 10)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, status int, redirect_to string,"
        "content_type string, length long")
    hosts = spark.createDataFrame([("a.com", True, "1.2.3.4")],
                                  "host string, dns_ok boolean, ip string")
    robots = spark.createDataFrame(
        [("a.com", 404, "", True)],
        "host string, status int, body string, reachable boolean")
    dims = {"documents": docs, "hosts": hosts, "robots": robots}
    subs = {0: [("http://a.com/", 0, 1, 77)]}

    st = run_crawl(spark, CrawlConfig(), dims, [], max_rounds=8,
                   submissions=subs)
    sres = collect_results(st)

    from larbin_spark.oracle.simulator import Document
    odocs = {
        "http://a.com/": Document([], status=301,
                                  redirect_to="http://a.com/t.html"),
        "http://a.com/t.html": Document(
            [("text", "see http://a.com/u.html here", None, 0),
             ("anchor", "http://a.com/u.html", None, 1)]),
        "http://a.com/u.html": Document([]),
    }
    o = CrawlOracle(CrawlConfig(), odocs,
                    {"a.com": {"host": "a.com", "dns_ok": True,
                               "ip": "1.2.3.4"}},
                    {"a.com": {"host": "a.com", "status": 404,
                               "body": "", "reachable": True}})
    ores = o.run([], max_rounds=8, submissions=subs)

    assert sres["ordering"] == ores["ordering"]
    assert sres["tags"] == ores["tags"]
    by_url = {url: dict(ores["tags"])[seq]
              for _, seq, url in ores["ordering"]}
    assert by_url["http://a.com/"] == 77          # the submission
    assert by_url["http://a.com/t.html"] == 77    # redirect inherits
    assert by_url["http://a.com/u.html"] == 0     # extracted link: 0


def test_large_submission_batch(spark, dims, seeds, fixture_web):
    """The submit() seen-probe is a broadcast semi-join, not an
    isin() literal — a 10^4-row batch must neither blow up the
    Catalyst plan nor diverge from the oracle."""
    bulk = [(f"http://bulk{i}.example.com/", i % 2, 1, i % 5)
            for i in range(10_000)]
    # duplicates inside the batch + re-submissions of crawled seeds:
    # exercises the silent test=1 drop against both batch-local and
    # table-resident seen state
    bulk += [(f"http://bulk{i}.example.com/", 0, 1, 0)
             for i in range(0, 10_000, 7)]
    bulk += [("http://site0.example.com/", 0, 1, 9)]
    subs = {1: bulk}
    st = run_crawl(spark, CrawlConfig(), dims, list(seeds),
                   max_rounds=3, submissions=subs)
    sres = collect_results(st)

    docs, hosts, robots, _ = to_oracle_inputs(fixture_web)
    o = CrawlOracle(CrawlConfig(), docs, hosts, robots)
    ores = o.run(list(seeds), max_rounds=3, submissions=subs)
    assert sres["ordering"] == ores["ordering"]
    assert sorted(sres["seen"]) == sorted(ores["seen"])
    assert sres["errors"] == ores["errors"]


def test_seen_and_taxonomy_exact(results):
    sres, ores = results
    # sorted-list (multiset) equality: the seen table must hold each
    # bucket ONCE — set() comparison would mask a duplicate append
    # (e.g. a test=0 re-submission force-setting an existing bucket)
    assert sorted(sres["seen"]) == sorted(ores["seen"])
    assert sres["errors"] == ores["errors"]
    assert sorted(sres["fetch_log"]) == sorted(
        (r, u, e) for r, u, e in ores["fetch_log"])
