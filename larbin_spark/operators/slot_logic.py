"""Per-slot sequential routing logic for the Spark pipeline.

These pure functions implement NamedSite::putGenericUrl
(site.cxx:136-207), the newId DNS/robots resolve (site.cxx:395-436)
and the dnsErr/robotsResult fifo scans (site.cxx:345-380, 415-480)
for ONE slot, and run inside the round's one per-slot applyInPandas
pass, keyed by slot_id modulo the core count
(plans/round.py:_slot_pass — one pandas group per core;
co-location per slot is preserved by the bucket shuffle while the
per-group Arrow constant is paid per bucket, not per slot; 20k
open-addressed slots as native groups cost ~100 s/round in pure
per-group overhead). Each call walks many slots, in slot_id order.

Scale note: the sequential dependency only exists while the slot is
under capacity (< 64 rows). Once a slot is in overflow, every
subsequent row's outcome (fast-forget or bounce) is a pure function
of the frozen slot identity — so a hot-host burst degrades to a
vectorizable tail, not an O(n) state chain. The loop below handles
both regimes; group sizes are capped by the sequencer budget anyway.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

# action constants shared with plans/round.py
A_FIFO = "fifo"
A_TRANSFER = "transfer"
A_BOUNCE = "bounce"
A_FORGET = "forget"
A_STAY = "stay"

# FetchError names (types.h:108-127)
E_NO_DNS = "noDNS"
E_NO_CONN = "noConnection"
E_FORBIDDEN = "forbiddenRobots"

WAIT_DNS, DONE_DNS, ERROR_DNS, NOCONN_DNS = "wait", "done", "error", "noconn"

CLASS_LIMIT = {"priority_wait": 1, "priority": 5, "disk_wait": 10, "disk": 15}

# the state of a slot no URL has reached yet (SLOTS_SCHEMA columns)
NEW_SLOT = {"name": "", "port": 0, "dns_state": WAIT_DNS, "forbidden": None,
            "nburls": 0, "dns_queue_pos": None, "dns_expire_round": -1,
            "ip_hash": 0}


def _allowed(path: str, forbidden, ignore_robots: bool) -> bool:
    from ..kernels.robots import is_allowed
    # forbidden may arrive as None / list / numpy array (Arrow batch)
    lst = [] if forbidden is None else list(forbidden)
    return is_allowed(path, lst, ignore_robots)


def route_take(slot: Dict, rows: List[Dict], cfg: Dict, rnd: int) -> List[Tuple[str, str]]:
    """Phase-B routing for one slot's taken URLs, in take order.

    slot: {name, port, dns_state, forbidden, nburls, dns_expire_round}
    rows: [{host, port, path, puny, cls}, ...] in take_rank order
    returns [(action, err_or_empty)] aligned with rows.
    """
    name = slot["name"] or ""
    sport = int(slot["port"] or 0)
    state = slot["dns_state"] or WAIT_DNS
    forbidden = slot["forbidden"]
    nburls = int(slot["nburls"] or 0)
    expire = int(slot["dns_expire_round"] if slot["dns_expire_round"] is not None else -1)
    max_site = int(cfg["max_urls_by_site"])
    ignore_robots = bool(cfg["ignore_robots"])

    out: List[Tuple[str, str]] = []
    for r in rows:
        limit = CLASS_LIMIT[r["cls"]]
        if nburls > max_site - limit:
            # overflow: fast-forget on cached failure for the current
            # identity, else bounce to the matching wait queue
            if name == r["puny"]:
                if state == ERROR_DNS:
                    out.append((A_FORGET, E_NO_DNS))
                    continue
                if state == NOCONN_DNS:
                    out.append((A_FORGET, E_NO_CONN))
                    continue
                if (int(r["port"]) == sport and state == DONE_DNS
                        and not _allowed(r["path"], forbidden, ignore_robots)):
                    out.append((A_FORGET, E_FORBIDDEN))
                    continue
            out.append((A_BOUNCE, ""))
            continue
        nburls += 1
        if (state == WAIT_DNS or name != r["puny"]
                or sport != int(r["port"]) or rnd > expire):
            out.append((A_FIFO, ""))
        elif state == DONE_DNS:
            if _allowed(r["path"], forbidden, ignore_robots):
                out.append((A_TRANSFER, ""))
            else:
                nburls -= 1
                out.append((A_FORGET, E_FORBIDDEN))
        elif state == ERROR_DNS:
            nburls -= 1
            out.append((A_FORGET, E_NO_DNS))
        else:  # NOCONN_DNS
            nburls -= 1
            out.append((A_FORGET, E_NO_CONN))
    return out


def resolve_head(head: Dict, old_forbidden, user_agent: str,
                 ip_slot_size: int) -> Tuple[str, object, int]:
    """Phase-C DNS + robots for one slot whose fifo head is `head`
    (newId, site.cxx:395-436): the head row carries its host's dims —
    dns_ok, ip, rob_status, rob_body, rob_reachable, None when absent.

    returns (outcome, forbidden list, ip hash). A robots 2xx is parsed
    on doneDns and clears the list on a failed resolve; with no 2xx the
    old list survives, as the reference only recycles it inside
    parseRobots (file.cxx:172-180)."""
    from ..kernels.hashes import ip_hash
    from ..kernels.robots import parse_robots
    if not head["dns_ok"]:
        outcome = ERROR_DNS
    elif head["rob_reachable"] is not None and not head["rob_reachable"]:
        outcome = NOCONN_DNS
    else:
        outcome = DONE_DNS
    status = head["rob_status"]
    if status is not None and 200 <= int(status) < 300:
        forbidden = (parse_robots(head["rob_body"] or "", user_agent)
                     if outcome == DONE_DNS else None)
    else:
        forbidden = old_forbidden
    ip = (ip_hash(head["ip"], ip_slot_size)
          if outcome == DONE_DNS and head["ip"] is not None else 0)
    return outcome, forbidden, ip


def resolve_fifo(head_puny: str, head_port: int, outcome: str,
                 forbidden, ignore_robots: bool,
                 rows: List[Dict]) -> List[Tuple[str, str]]:
    """Phase-C fifo scan for one slot after its head identity was
    resolved with `outcome` in {done, error, noconn}.

    rows: [{puny, port, path}, ...] in fifo order.
    returns [(action, err)] aligned: transfer / forget / stay.
    """
    out: List[Tuple[str, str]] = []
    for r in rows:
        if r["puny"] != head_puny:
            out.append((A_STAY, ""))
            continue
        if outcome == ERROR_DNS:
            out.append((A_FORGET, E_NO_DNS))
        elif outcome == NOCONN_DNS:
            out.append((A_FORGET, E_NO_CONN))
        else:  # doneDns: robotsResult (site.cxx:442-470)
            if int(r["port"]) != head_port:
                out.append((A_STAY, ""))
            elif _allowed(r["path"], forbidden, ignore_robots):
                out.append((A_TRANSFER, ""))
            else:
                out.append((A_FORGET, E_FORBIDDEN))
    return out
