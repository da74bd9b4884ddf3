"""JVM column expressions for three parity kernels, so the crawl
round and the output modes need no Python crossing for them.

- site_hash_col   == kernels.hashes.site_hash   (url.cxx:40-46)
- robots_regex    == kernels.robots.robots_match (text.cxx:52-73),
                     as an anchored Java regex for `rlike`
- render_spans    == kernels.links.render_content

The first two are pinned against the scalar kernels in
tests/test_kernels.py, the third in tests/test_output_modes.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def site_hash_col(host: str, size: int) -> Column:
    """siteHashCode % size over the column named `host`: h = 37h + c
    per char, chars >= 128 promoted as signed bytes, uint32
    wraparound (the host is latin-1, so ascii() is the byte)."""
    return F.expr(
        f"pmod(aggregate(transform(split({host}, ''), c -> "
        f"if(ascii(c) >= 128, ascii(c) - 256, ascii(c))), 0L, "
        f"(h, b) -> (37 * h + b) & 4294967295L), {int(size)}L)"
    ).cast("int")


def render_spans(spans: str) -> Column:
    """The page text the content-dup hash reads, over the span array
    column named `spans`: payloads concatenated in offset order
    (media spans contribute media_ref, others text, NULLs as '').
    Each span is packed as (offset, original index, payload) so the
    sort is STABLE on offset ties, like Python's sorted; struct
    comparison never reaches the payload because the index is
    unique."""
    return F.concat_ws("", F.expr(
        f"transform(array_sort(transform({spans}, (s, i) -> "
        "struct(s.offset as o, i as i, case when s.kind = "
        "'media' then s.media_ref else s.text end as v))), "
        "x -> coalesce(x.v, ''))"))


def _escape(c: Column) -> Column:
    # a backslash before any non-alphanumeric char is a literal in
    # Java regex, inside and outside a character class
    return F.regexp_replace(c, r"([^A-Za-z0-9])", r"\\$1")


def robots_regex(pattern: Column) -> Column:
    """The anchored regex that matches exactly the paths
    robots_match(pattern, path) forbids. robotsMatch never
    backtracks: a '*' skips to the FIRST occurrence of the next
    pattern char c, which `[^c]*(?=c)` reproduces (c itself is then
    matched by the next token, and may be another '*'); a trailing
    '*' accepts the rest, and the pattern is a prefix match."""
    chars = F.split(pattern, "")
    n = F.size(chars)

    def token(c: Column, i: Column) -> Column:
        nxt = _escape(chars[i + 1])
        return (F.when(c != "*", _escape(c))
                .when(i == n - 1, F.lit(""))
                .otherwise(F.concat(F.lit("[^"), nxt, F.lit("]*(?="),
                                    nxt, F.lit(")"))))

    return F.concat(F.lit("^"), F.array_join(F.transform(chars, token), ""))
