"""Kernel parity tests (no Spark).

golden_kernels.json was generated by compiling the reference's
fileNormalize / url::hashCode / siteHashCode semantics
(src/utils/url.cxx:82-172,474-482,40-46) into a throwaway C harness
and recording outputs for a fixed corpus + seeded fuzz cases, so
these tests pin byte-exact parity with the C crawler.
"""

import json
import os

import pytest
from hypothesis import example, given, settings, strategies as st

from larbin_spark.kernels.hashes import content_hash, ip_hash, site_hash, url_hash
from larbin_spark.kernels.links import clean_link_text, extract_links, render_content
from larbin_spark.kernels.robots import is_allowed, parse_robots, robots_match
from larbin_spark.kernels.urlfilter import filter1
from larbin_spark.kernels.urlnorm import (
    ParsedUrl, file_normalize, give_base, parse_url,
)

GOLDEN = json.load(open(os.path.join(os.path.dirname(__file__), "golden_kernels.json")))


def test_file_normalize_golden():
    for raw, want in GOLDEN["norm"]:
        got = file_normalize(raw.encode("latin-1"))
        got = got.decode("latin-1") if got is not None else None
        assert got == want, f"{raw!r}: {got!r} != {want!r}"


def test_url_hash_golden():
    for host, port, path, want in GOLDEN["url_hash"]:
        assert url_hash(host, port, path) == want


def test_site_hash_golden():
    for host, want in GOLDEN["site_hash"]:
        assert site_hash(host) == want


def test_ip_hash():
    # uint wraparound with signed bytes: 192.168.0.1 octets as signed chars
    # h = ((192-256)*31 + (168-256))*31 ... mod 2^32 then % 10000
    h = 0
    for b in (192 - 256, 168 - 256, 0, 1):
        h = (31 * h + b) & 0xFFFFFFFF
    assert ip_hash("192.168.0.1") == h % 10000
    assert 0 <= ip_hash("1.2.3.4") < 10000


def test_content_hash_range_and_filter():
    # only chars strictly between 'A' and 'z' participate
    assert content_hash("") == 0
    assert content_hash("A") == 0       # 'A' excluded (strict >)
    assert content_hash("z") == 0       # 'z' excluded (strict <)
    assert content_hash("B") == ord("B")
    # chars outside ('A','z') — digits, spaces — do not participate
    assert content_hash("hello world") == content_hash("h3ll0 w0rld".replace("3", "e").replace("0", "o"))
    assert content_hash("abc123") == content_hash("abc456")  # digits ignored
    assert content_hash("abcd") != content_hash("abce")


# --- canonicalizer behavior table (FIXTURES.md §7) ---

@pytest.mark.parametrize("raw,expect", [
    ("http://WWW.Example.COM/a/./b//c/../d.html#f", "http://www.example.com/a/b/d.html"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("http://example.com/%41", "http://example.com/A"),
    ("http://example.com/a%20b", "http://example.com/a%20b"),
    ("http://example.com/%zz", None),            # invalid escape
    ("http://example.com/../x", None),           # escapes root
    ("http://example.com/a/..", "http://example.com/"),
    ("http://example.com/a/.", "http://example.com/a/"),
    ("mailto:user@example.com", None),
    ("ftp://example.com/x", None),
    ("", None),
    ("http://", None),
])
def test_parse_absolute(raw, expect):
    p = parse_url(raw, 5)
    assert (p.url if p is not None else None) == expect


def test_parse_relative_with_base():
    base = parse_url("http://example.com/dir/page.html", 5)
    b = give_base(base)
    assert b.path == "/dir/"
    assert parse_url("other.html", 4, b).url == "http://example.com/dir/other.html"
    assert parse_url("/abs.html", 4, b).url == "http://example.com/abs.html"
    assert parse_url("../up.html", 4, b).url == "http://example.com/up.html"
    assert parse_url("../../escape.html", 4, b) is None
    assert parse_url("other.html", 4, None) is None     # no base
    assert parse_url("http:also-relative.html", 4, b).url == \
        "http://example.com/dir/also-relative.html"
    assert parse_url("javascript:void(0)", 4, b) is None


def test_high_bit_reencoded():
    # str input is encoded as UTF-8 (like bytes read from a page)
    p = parse_url("http://example.com/caf\xe9", 5)
    assert p.url == "http://example.com/caf%c3%a9"
    # raw latin-1 bytes keep their single-byte escape
    p2 = parse_url(b"http://example.com/caf\xe9", 5)
    assert p2.url == "http://example.com/caf%e9"


def test_port_wraps_uint16():
    # the reference's port member is uint16_t: arithmetic wraps
    p = parse_url("http://example.com:65616/x", 5)
    assert p.port == (65616 % 65536)


@example(s="%2f")
@given(st.text(alphabet="/.%abAB012fz~#\\", max_size=30))
@settings(max_examples=300, deadline=None)
def test_normalize_idempotent(s):
    """Property: normalization is idempotent for %-FREE inputs only.

    The reference is NOT idempotent when decoding creates structure
    behind the scan pointer: fileNormalize("/%2f") decodes %2f in
    place (url.cxx:146-166 — isgraph('/') is true, so the keep-%2F
    branch at url.cxx:163 is dead code) and the pointer has already
    moved past the new '//', so the C returns '//', which a second
    pass would collapse to '/'. The kernel reproduces this exactly
    (pinned by test_normalize_percent2f_golden below), so the
    property is restricted to inputs without '%'.
    """
    if "#" in s:
        return  # '#' truncation can expose new trailing structure (C does too)
    if "%" in s:
        return  # decoding can create structure behind the pointer (see above)
    got = file_normalize(("/" + s).encode("latin-1"))
    if got is not None:
        again = file_normalize(got)
        assert again == got


def test_normalize_percent2f_golden():
    """Golden: the reference's non-idempotent %2f decode
    (url.cxx:146-166; the isgraph branch wins, the c=='/' keep-branch
    at url.cxx:163 is dead code) — '/%2f' decodes in place to '//'
    with the scan pointer already past it, and a second pass
    collapses '//' to '/'."""
    assert file_normalize(b"/%2f") == b"//"
    assert file_normalize(b"/%2F") == b"//"
    assert file_normalize(b"//") == b"/"


# --- robots ---

def test_robots_match_wildcards():
    assert robots_match("/private", "/private/x")
    assert robots_match("/a*b", "/aXXb")
    assert not robots_match("/a*b", "/aXX")
    assert robots_match("/a*", "/aXX")          # trailing * matches rest
    assert robots_match("/", "/anything")
    assert not robots_match("/x", "/y")
    assert robots_match("", "/x")               # empty pattern forbids all


def test_parse_robots_record_selection():
    body = """
User-agent: googlebot
Disallow: /google-only
User-agent: *
Disallow: /all
Disallow: *.gif
User-agent: larbin
Disallow: /larbin-only
"""
    forb = parse_robots(body)
    # the larbin record is strongest and replaces the '*' record
    assert forb == ["/larbin-only"]
    forb_star = parse_robots(body, user_agent="unknown-bot")
    assert forb_star == ["/all", "/.gif"]


def test_parse_robots_strong_record_ends_scan():
    body = """
User-agent: larbin
Disallow: /a
User-agent: *
Disallow: /b
"""
    assert parse_robots(body) == ["/a"]


def test_parse_robots_item_cap():
    body = "User-agent: *\n" + "\n".join(f"Disallow: /p{i}" for i in range(300))
    forb = parse_robots(body)
    assert len(forb) == 256


def test_is_allowed():
    forb = ["/private", "/tmp*.html"]
    assert not is_allowed("/private/x", forb)
    assert is_allowed("/public", forb)
    assert not is_allowed("/tmpXXX.html", forb)
    assert is_allowed("/private/x", forb, ignore_robots=True)


# --- filter1 ---

def test_filter1_extensions():
    assert filter1("example.com", "/index.html")
    assert filter1("example.com", "/INDEX.HTML")
    assert filter1("example.com", "/dir/")
    assert filter1("example.com", "/page")        # no forbidden ext
    assert not filter1("example.com", "/file.pdf")
    assert not filter1("example.com", "/FILE.PDF")
    assert not filter1("example.com", "/x.tar.gz")
    # 'html' suffix wins even without a dot
    assert filter1("example.com", "/xhtml")


def test_filter1_domains():
    assert filter1("sub.example.com", "/x", domains=["example.com"])
    assert not filter1("evil.org", "/x", domains=["example.com"])


# --- link extraction over spans ---

def _page(url="http://h.com/dir/index.html", depth=5):
    return parse_url(url, depth)


def test_extract_links_order_and_base():
    spans = [
        ("text", "hello", None, 0),
        ("anchor", "a.html", None, 1),
        ("base", "http://other.com/newbase/", None, 2),
        ("anchor", "b.html", None, 3),
        ("frame", "/abs.html", None, 4),
        ("media", None, "img.png", 5),
    ]
    links = extract_links(spans, _page())
    urls = [l.url for l in links]
    assert urls == [
        "http://h.com/dir/a.html",           # resolved against page dir
        "http://other.com/newbase/b.html",   # rebased
        "http://other.com/abs.html",         # absolute path on new base
    ]
    assert all(l.depth == 4 for l in links)
    # getImage picks up media spans
    links_img = extract_links(spans, _page(), get_image=True)
    assert links_img[-1].url == "http://other.com/newbase/img.png"


def test_extract_links_cgi_and_cleaning():
    spans = [
        ("anchor", "page?x=1", None, 0),
        ("anchor", "win\\path.html", None, 1),
        ("anchor", 'trunc"ated.html', None, 2),
    ]
    links = extract_links(spans, _page())
    urls = [l.url for l in links]
    assert "http://h.com/dir/win/path.html" in urls       # backslash fix
    assert "http://h.com/dir/trunc" in urls               # cut at quote
    assert not any("?x=1" in u for u in urls)             # CGI dropped
    links_cgi = extract_links(spans, _page(), get_cgi=True)
    assert any("page?x=1" in l.url for l in links_cgi)


def test_extract_links_invalid_base_kills_relatives():
    spans = [
        ("base", "garbage", None, 0),       # ignored (keeps old base)
        ("anchor", "ok.html", None, 1),
        ("base", "http://x", None, 2),      # no path slash: end<=7, ignored
        ("anchor", "still-ok.html", None, 3),
    ]
    links = extract_links(spans, _page())
    assert [l.url for l in links] == [
        "http://h.com/dir/ok.html", "http://h.com/dir/still-ok.html"]


def test_clean_link_text_limits():
    assert clean_link_text("x" * 2000, False) is None
    assert clean_link_text("ok.html", False) == "ok.html"
    assert clean_link_text("a b", False) == "a"


def test_render_content_deterministic():
    spans = [("text", "b", None, 1), ("text", "a", None, 0),
             ("media", None, "m.png", 2)]
    assert render_content(spans) == "abm.png"


@given(st.lists(st.integers(min_value=0, max_value=5), max_size=60))
@settings(max_examples=200, deadline=None)
def test_slot_spans_partition(ids):
    """_slot_spans yields exactly the contiguous equal-run partition
    of a sorted id array (the zero-copy replacement for per-slot
    pandas groups in plans/round.py:_slot_pass)."""
    from larbin_spark.plans.round import _slot_spans
    ids = sorted(ids)
    spans = _slot_spans(ids)
    # covers [0, n) without gaps or overlap, in order
    assert [x for i, j in spans for x in range(i, j)] == list(range(len(ids)))
    for i, j in spans:
        assert len({*ids[i:j]}) == 1          # one slot per span
    assert len(spans) == len(set(ids))        # one span per slot
