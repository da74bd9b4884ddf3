"""Spark-vs-oracle parity across the behavior-flag space: the main
parity suite pins the default configuration; this matrix pins the
conditional code paths (content dedup, site locking, depth reset,
priority routing, media links, robots bypass, round budgets, the
one-slot DNS cap, the filter1 domain and extension lists)."""

import os

import pytest

from larbin_spark.config import CrawlConfig
from larbin_spark.fixtures.webgen import to_oracle_inputs
from larbin_spark.oracle.simulator import CrawlOracle
from larbin_spark.plans.crawl import collect_results, run_crawl

ROUNDS = int(os.environ.get("SPARK_GRAFT_PARITY_CFG_ROUNDS", "5"))

CONFIGS = {
    "content_dedup": dict(page_no_duplicate=True, any_type=True),
    "lock_site": dict(lock_site=True),
    "depth_by_site": dict(depth_by_site=True),
    "specific_search": dict(specific_search=True,
                            privileged_exts=[".html"]),
    "get_image": dict(get_image=True),
    "ignore_robots": dict(ignore_robots=True),
    "budgets": dict(fetch_cap_per_round=7, dns_per_round=3,
                    seq_per_round=40),
    # one DNS resolution a round: the per-slot pass resolves every
    # queued slot as if selected, and all but one of those results
    # are dropped after its checkpoint in every round
    "dns_cap_one": dict(dns_per_round=1),
    "cookies": dict(use_cookies=True),
    # config-widened slot spaces (the 10^10-scale setting, SCALE.md
    # §1): the Spark-side site/ip hash UDFs must honor the knobs the
    # oracle honors (types.h:35-36) — this caught them hardcoding the
    # kernel defaults
    "wide_slot_space": dict(named_site_list_size=1_000_000,
                            ip_site_list_size=2_000_000),
    # the filter1 lists reach the link gate as configured: an empty
    # domain list admits no link at all — it is not "no gate" (None) —
    # and an empty extension list forbids nothing, not the default list
    # (the fixture's 33 media links are .png, forbidden by default)
    "empty_domains": dict(domains=[]),
    "limit_domains": dict(domains=["1.example.com"]),
    "no_forbidden_exts": dict(forbidden_extensions=[], get_image=True),
}


@pytest.fixture(scope="module")
def dims(spark, fixture_dir):
    return {n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_config_parity(spark, dims, fixture_web, seeds, name):
    cfg = CrawlConfig(**CONFIGS[name])
    st = run_crawl(spark, cfg, dims, list(seeds), max_rounds=ROUNDS)
    sres = collect_results(st)

    docs, hosts, robots, _ = to_oracle_inputs(fixture_web)
    ores = CrawlOracle(CrawlConfig(**CONFIGS[name]), docs, hosts,
                       robots).run(list(seeds), max_rounds=ROUNDS)

    assert sres["ordering"] == ores["ordering"], f"{name}: ordering"
    assert set(sres["seen"]) == set(ores["seen"]), f"{name}: seen"
    assert sres["errors"] == ores["errors"], f"{name}: errors"
    assert sorted(sres["fetch_log"]) == sorted(
        (r, u, e) for r, u, e in ores["fetch_log"]), f"{name}: log"
    assert sres["emitted"] == ores["emitted"], f"{name}: emitted"
    assert sres["cookies"] == ores["cookies"], f"{name}: cookies"
    if name == "cookies":
        # non-vacuous: at least one request actually carried a cookie
        assert any(c is not None for _s, c in sres["cookies"]), \
            "no cookie ever propagated - fixture is vacuous"
