"""Crawl configuration.

Defaults mirror the reference crawler's compiled-in constants and
shipped configuration (src/types.h, src/global.cxx:157-163,
larbin.conf), plus the round-model parameters that translate the
1-second event-loop tick into batch crawl rounds (see
docs/ROUND_MODEL.md for the mapping and its justification).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

from .kernels.urlfilter import DEFAULT_FORBIDDEN_EXTENSIONS


@dataclass
class CrawlConfig:
    # --- reference semantics constants ---
    depth_in_site: int = 5          # global.cxx:159
    wait_duration: int = 60         # global.cxx:158 (politeness seconds/IP)
    max_urls_by_site: int = 64      # types.h:43 (per-site RAM fifo)
    ram_urls: int = 100_000         # types.h:39 (global in-RAM budget)
    hash_size: int = 64_000_000     # types.h:26 (seen-set buckets)
    dup_size: int = 64_000_000      # types.h:31 (content-dup buckets)
    named_site_list_size: int = 20_000  # types.h:35
    ip_site_list_size: int = 10_000     # types.h:36
    max_robots_item: int = 256      # types.h:61
    max_page_size: int = 8 * 1024 * 1024  # types.h:53
    user_agent: str = "larbin"      # global.cxx:160

    # behavior flags (conf-file booleans, global.cxx:355-388)
    external_links: bool = True     # noExternalLinks inverts
    depth_by_site: bool = False
    lock_site: bool = False
    ignore_robots: bool = False
    get_image: bool = False
    get_cgi: bool = False
    any_type: bool = False
    use_cookies: bool = False
    page_no_duplicate: bool = False
    specific_search: bool = False
    punycode: bool = False
    domains: Optional[List[str]] = None            # limitToDomain
    forbidden_extensions: List[str] = field(
        default_factory=lambda: list(DEFAULT_FORBIDDEN_EXTENSIONS))
    privileged_exts: List[str] = field(default_factory=list)

    # --- round model (1 round ~ one politeness window of
    # wait_duration seconds; see docs/ROUND_MODEL.md) ---
    seq_per_round: int = 6_000      # maxPerCall(100)/tick x wait_duration
    fetch_per_ip_per_round: int = 1  # one url per IPSite per waitDuration
    fetch_cap_per_round: int = 0     # 0 = unbounded (nb_conn is a latency
                                     # cap, meaningless with simulated fetch)
    dns_per_round: int = 0           # 0 = unbounded slot resolutions/round
    valve_period: int = 5            # rounds; analogue of the 300s window
    valve_open: int = 3              # first valve_open rounds of each period
                                     # drain the wait queues (main.cxx:190-199)

    # durable-commit cadence (O-16): snapshot every K round
    # boundaries. 1 = every round is durably resumable (the strictest
    # setting, default). The reference itself persists periodically,
    # not per-event (the seen hashtable is saved on a timer,
    # src/fetch/checker.cxx + global.cxx saveInterval; the disk fifos
    # sync in batches), so K>1 mirrors it while cutting ~7 parquet
    # write jobs from the per-round fixed cadence; resume lands on
    # the last committed boundary exactly. In-memory state between
    # commits stays localCheckpoint-truncated (plans/round.py:_lc),
    # so only the append-only tables carry K unions of lineage.
    snapshot_every: int = 1

    # inline curation (pipeline/rowsigs): when True, phase F records a
    # per-page signature row (token count, quality, predicted
    # language, simhash, fingerprint) for every successful fetch into
    # the grow-only `curation` table. The signatures are per-row
    # column expressions fused into the projection over the round's
    # already-materialized pages — zero extra scans or shuffles per
    # round, vs re-reading the fetched corpus for each signature
    # after the crawl (the standalone pipeline/dedup/textstats
    # operators). Off by default: the reference crawler has no such
    # stage; this extends it toward the training-data pipeline.
    curate: bool = False

    # stop conditions (O-17)
    max_rounds: int = 0              # 0 = until frontier empty
    limit_page: int = 0              # 0 = unbounded successful pages
    limit_time_sec: int = 0          # 0 = unbounded; wall-clock budget
                                     # (limitTime, limit_time.cxx:30-48 —
                                     # the reference stops mid-flight; the
                                     # round model stops before the next
                                     # round, the nearest safe point)
