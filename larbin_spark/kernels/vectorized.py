"""Vectorized (numpy) fast paths for the hot kernels.

The seen-set hash (O-6) and canonicalizer (O-3) run on every URL of a
10^10-row frontier; a per-row Python loop inside the pandas UDF would
dominate the pipeline. These numpy implementations process whole
Arrow batches:

- url_hash_np: the Larbin polynomial hash as ~max_len masked
  vectorized ops over a padded byte matrix (signed-char semantics via
  +0xFFFFFF00 ≡ -256 mod 2^32; uint32 wraparound is numpy-native).
- canonicalize_batch: a vectorized pre-screen routes the overwhelming
  majority of already-clean absolute URLs through regex extraction;
  only URLs with escapes/dot-segments/etc fall back to the exact
  scalar kernel.

Parity: tests/test_vectorized.py fuzz-compares both against the
scalar kernels (which are themselves pinned to the C semantics).
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd

from .hashes import HASH_SIZE
from .urlnorm import MAX_SITE_SIZE, MAX_URL_SIZE, parse_url


def _poly_fold(h: np.ndarray, mat: np.ndarray, lens: np.ndarray,
               mult: np.uint32) -> np.ndarray:
    """h = mult*h + signed(byte) column by column, masked by length."""
    n_cols = mat.shape[1]
    for j in range(n_cols):
        mask = lens > j
        if not mask.any():
            break
        c = mat[:, j].astype(np.uint32)
        c = c + np.where(c >= 128, np.uint32(0xFFFFFF00), np.uint32(0))
        h[mask] = h[mask] * mult + c[mask]
    return h


def _pad_matrix(strs: List[bytes]) -> Tuple[np.ndarray, np.ndarray]:
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=len(strs))
    width = int(lens.max()) if len(lens) else 0
    mat = np.zeros((len(strs), width), dtype=np.uint8)
    for i, s in enumerate(strs):
        mat[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    return mat, lens


def _arrow_bytes(strs: pd.Series):
    """(data, starts, lens, all_ascii) from a string Series via the
    Arrow buffers — no per-row Python. Returns None when the column
    isn't cleanly convertible (caller falls back to the loop path).
    all_ascii matters for parity: the scalar kernel hashes latin-1
    bytes of the C string, Arrow stores UTF-8 — identical only for
    pure-ASCII values (which canonicalized hosts/paths always are)."""
    try:
        import pyarrow as pa
        import pyarrow.compute as pc
        arr = pa.Array.from_pandas(strs.fillna(""))
        arr = pc.fill_null(arr, "").cast(pa.large_string())
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        n_chars = pc.utf8_length(arr)
        n_bytes = pc.binary_length(arr)
        all_ascii = bool(pc.all(pc.equal(n_chars, n_bytes)).as_py()) \
            if len(arr) else True
        offsets = np.frombuffer(arr.buffers()[1], np.int64,
                                count=len(arr) + 1 + arr.offset)
        offsets = offsets[arr.offset:]
        data = np.frombuffer(arr.buffers()[2], np.uint8)
        starts = offsets[:-1].copy()
        lens = (offsets[1:] - offsets[:-1]).copy()
        return data, starts, lens, all_ascii
    except Exception:
        return None


def _poly_fold_flat(h: np.ndarray, data: np.ndarray, starts: np.ndarray,
                    lens: np.ndarray, mult: np.uint32) -> np.ndarray:
    """Column-wise polynomial fold straight off the flat Arrow data
    buffer — no padded-matrix materialization, so one long outlier
    string costs O(n) per extra column, never O(n*width) memory."""
    width = int(lens.max()) if len(lens) else 0
    for j in range(width):
        mask = lens > j
        if not mask.any():
            break
        c = data[starts[mask] + j].astype(np.uint32)
        c = c + np.where(c >= 128, np.uint32(0xFFFFFF00), np.uint32(0))
        h[mask] = h[mask] * mult + c
    return h


def url_hash_np(host: pd.Series, port: pd.Series, path: pd.Series,
                hash_size: int = HASH_SIZE) -> np.ndarray:
    """Vectorized url::hashCode (url.cxx:474-482)."""
    h = np.asarray(port, dtype=np.int64).astype(np.uint32)
    ab_h = _arrow_bytes(host)
    ab_p = _arrow_bytes(path)
    if ab_h is not None and ab_p is not None and ab_h[3] and ab_p[3]:
        h = _poly_fold_flat(h, *ab_h[:3], np.uint32(31))
        h = _poly_fold_flat(h, *ab_p[:3], np.uint32(31))
        return (h % np.uint32(hash_size)).astype(np.int64)
    hb = [(x or "").encode("latin-1") for x in host]
    pb = [(x or "").encode("latin-1") for x in path]
    m1, l1 = _pad_matrix(hb)
    h = _poly_fold(h, m1, l1, np.uint32(31))
    m2, l2 = _pad_matrix(pb)
    h = _poly_fold(h, m2, l2, np.uint32(31))
    return (h % np.uint32(hash_size)).astype(np.int64)


def _pow_table(n: int, base: int, mod: int) -> "np.ndarray":
    """[base^0 % mod, ..., base^(n-1) % mod] as int64, built by
    vectorized doubling (log n numpy ops, never an O(n) Python loop:
    a pathological multi-MB document would otherwise pay per-element
    Python arithmetic)."""
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    p = np.empty(n, dtype=np.int64)
    p[0] = 1 % mod
    t = 1
    while t < n:
        k = min(t, n - t)
        # base^(t+i) = base^t * base^i   (values < mod^2 <= 2^54)
        p[t: t + k] = (int(p[t - 1]) * base % mod) * p[:k] % mod
        t += k
    return p


def content_hash_np(docs: pd.Series, size: int) -> np.ndarray:
    """Vectorized hashDup::testSet code (hash_duplicate.cxx:83-95):
    over chars strictly between 'A' and 'z', code = (23*code + c) %
    size. Bit-exact with hashes.content_hash.

    Exactness: the mod-inside-the-loop recurrence equals the whole
    polynomial mod size (mod is a ring homomorphism), so per doc
    code = sum(c_i * (23^e_i mod size)) % size, with int64
    accumulation safe while kept_len * 122 * size < 2^63 (docs past
    that take the scalar kernel). The scalar kernel hashes UTF-8
    bytes and EXCLUDES bytes outside ('A','z') — every byte of a
    multi-byte UTF-8 sequence is >= 0x80 and excluded on both paths,
    so the Arrow UTF-8 buffer yields the identical kept stream.

    Shape: this box (like most) is memory-bound long before it is
    ALU-bound, so the kernel never materializes per-byte int64
    companion arrays (exponents/coefficients over the whole buffer).
    Long docs reduce with one per-doc dot against a shared reversed
    power table (cache-resident, no intermediates); short docs run a
    column-wise (23*h + c) %% size recurrence over at most
    _CH_SHORT_COLS columns, sorted by length so each step is a plain
    slice.
    """
    from .hashes import content_hash
    ab = _arrow_bytes(docs)
    if ab is None:
        return np.fromiter((content_hash(x or "", size) for x in docs),
                           dtype=np.int64, count=len(docs))
    # the short-doc column recurrence runs in uint32 and needs
    # 23*size + 255 < 2^32; for wider sizes (e.g. the 2^40 bucket
    # space some tests configure) every doc takes the dot path,
    # which is exact while 122 * size * kept_len < 2^63
    short_cols = _CH_SHORT_COLS if size <= (1 << 27) else 0
    data, starts, lens, _ascii = ab
    n = len(lens)
    out = np.zeros(n, dtype=np.int64)
    if n == 0 or int(lens.sum()) == 0:
        return out
    # after fill_null + combine_chunks the segments are adjacent in
    # the data buffer: flatten once, boundaries at cumsum(lens)
    flat = data[starts[0]: starts[-1] + lens[-1]]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    keep = (flat > 0x41) & (flat < 0x7A)
    kept = flat[keep]  # uint8
    # per-doc kept counts via one reduceat pass (never a full-buffer
    # cumsum: that alone measured ~1.4 s on 21 MB here). reduceat
    # quirks: equal consecutive indices yield a[i] instead of 0 and
    # an index == len errors out — clip, then overwrite empty docs.
    idx = np.minimum(bounds[:-1], max(len(flat) - 1, 0))
    m = np.add.reduceat(keep, idx, dtype=np.int64)
    m[lens == 0] = 0
    kend = np.cumsum(m)
    kstart = kend - m
    maxm = int(m.max())
    if maxm == 0:
        return out
    max_kept = (1 << 62) // (122 * size)  # int64 dot headroom
    pows = _pow_table(min(maxm, max_kept), 23, size)
    long_idx = np.nonzero(m > short_cols)[0]
    if len(long_idx):
        revp = pows[::-1].copy()  # contiguous reversed table
        plen = len(pows)
        for i in long_idx:
            mi = int(m[i])
            if mi > max_kept:  # pathological doc: exact scalar
                out[i] = content_hash(docs.iloc[i] or "", size)
                continue
            seg = kept[kstart[i]: kend[i]].astype(np.int64)
            out[i] = int(seg.dot(revp[plen - mi:])) % size
    # short docs: column recurrence, descending length so the active
    # set is always a prefix (plain slices, no boolean masks)
    sel = np.nonzero((m > 0) & (m <= short_cols))[0]
    if len(sel):
        order = sel[np.argsort(-m[sel], kind="stable")]
        ms = m[order]
        ks = kstart[order]
        h = np.zeros(len(order), dtype=np.uint32)
        usize = np.uint32(size)
        u23 = np.uint32(23)
        active = len(order)
        for j in range(int(ms[0])):
            while active and ms[active - 1] <= j:
                active -= 1
            if not active:
                break
            c = kept[ks[:active] + j]
            h[:active] = (h[:active] * u23 + c) % usize
        out[order] = h
    return out


# column-loop cutoff: past ~256 columns the per-column numpy dispatch
# exceeds the per-doc dot cost, and short crawl strings stay below it
_CH_SHORT_COLS = 256


def site_hash_np(host: pd.Series, size: int = 20_000) -> np.ndarray:
    """Vectorized siteHashCode (url.cxx:40-46)."""
    ab = _arrow_bytes(host)
    if ab is not None and ab[3]:
        h = np.zeros(len(host), dtype=np.uint32)
        h = _poly_fold_flat(h, *ab[:3], np.uint32(37))
        return (h % np.uint32(size)).astype(np.int32)
    hb = [(x or "").encode("latin-1") for x in host]
    m, lens = _pad_matrix(hb)
    h = np.zeros(len(hb), dtype=np.uint32)
    h = _poly_fold(h, m, lens, np.uint32(37))
    return (h % np.uint32(size)).astype(np.int32)


# --- canonicalizer fast path ---------------------------------------

# clean absolute url: http:// host [:port] / path where the path has
# no %-escape, no dot-segments, no //, no backslash, no fragment, no
# high-bit bytes, and the host needs only A-Z lowercasing
_FAST_RE = (r"^http://([A-Za-z0-9.\-]+)(?::(\d+))?"
            r"(/(?:[A-Za-z0-9_\-.~!$&'()*+,;=:@/]*)?)?$")
_SLOW_PATH_RE = r"(?:%|//|/\.|\\|#|\?)"


def canonicalize_batch(raw: pd.Series) -> pd.DataFrame:
    """Vectorized absolute-URL canonicalization with exact-kernel
    fallback. Returns columns host, port, path, url, valid.

    The screen/extract/assemble steps run in pyarrow.compute (RE2 +
    C++ string kernels — pandas .str.* loops Python's sre per row and
    is ~5x slower); only URLs the fast regex rejects hit the exact
    scalar state machine."""
    try:
        return _canonicalize_batch_arrow(raw)
    except Exception:
        return _canonicalize_batch_pandas(raw)


_FAST_RE_NAMED = (r"^http://(?P<host>[A-Za-z0-9.\-]+)(?::(?P<port>\d+))?"
                  r"(?P<path>/(?:[A-Za-z0-9_\-.~!$&'()*+,;=:@/]*)?)?$")


def _canonicalize_batch_arrow(raw: pd.Series) -> pd.DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pc.fill_null(pa.Array.from_pandas(raw.astype(object)), "")
    n = len(arr)
    ext = pc.extract_regex(arr, _FAST_RE_NAMED)
    matched = pc.is_valid(ext)
    host0 = pc.struct_field(ext, "host")
    port0 = pc.struct_field(ext, "port")
    path0 = pc.fill_null(
        pc.if_else(pc.equal(pc.struct_field(ext, "path"), ""), "/",
                   pc.struct_field(ext, "path")), "/")
    # fast path must not need path normalization ('//', '/.'; trailing
    # '.'); the regex char class already excludes % # ? \\
    fast = pc.and_(matched, pc.invert(
        pc.match_substring_regex(path0, r"//|/\.")))
    fast = pc.and_(fast, pc.invert(pc.ends_with(path0, ".")))
    host_len = pc.binary_length(pc.fill_null(host0, ""))
    path_len = pc.binary_length(path0)
    # size caps (url.cxx:316-322)
    fast = pc.and_(fast, pc.less(host_len, MAX_SITE_SIZE))
    fast = pc.and_(fast, pc.less(pc.add(pc.add(host_len, path_len), 18),
                                 MAX_URL_SIZE))
    port_s = pc.fill_null(port0, "")
    # >5-digit ports take the exact scalar path (overflow semantics
    # belong to the state machine, not to a cast) — this guard must be
    # ANDed in BEFORE fast is materialized, or long-port rows would
    # both route wrong and blow up the int64 cast below
    fast = pc.and_(fast, pc.less_equal(pc.binary_length(port_s), 5))
    fast = pc.fill_null(fast, False)
    fast_np = fast.to_numpy(zero_copy_only=False)

    host = pc.ascii_lower(pc.fill_null(host0, ""))
    # blank non-fast port strings so one >18-digit port can't fail the
    # whole batch's cast (non-fast rows are recomputed by the scalar
    # kernel anyway)
    port_num = pc.cast(
        pc.if_else(pc.or_(pc.equal(port_s, ""), pc.invert(fast)),
                   "80", port_s),
        pa.int64(), safe=False)
    port16 = pc.if_else(pc.is_null(port_num), pa.scalar(80, pa.int64()),
                        pc.bit_wise_and(port_num, 65535))
    port_sfx = pc.if_else(pc.equal(port16, 80), "",
                          pc.binary_join_element_wise(
                              ":", pc.cast(port16, pa.string()), ""))
    url = pc.binary_join_element_wise("http://", host, port_sfx, path0, "")

    out_host = np.empty(n, dtype=object)
    out_port = np.zeros(n, dtype=np.int64)
    out_path = np.empty(n, dtype=object)
    out_url = np.empty(n, dtype=object)
    out_valid = np.zeros(n, dtype=bool)

    idx_fast = np.nonzero(fast_np)[0]
    if len(idx_fast):
        out_host[idx_fast] = np.asarray(host, dtype=object)[idx_fast]
        out_port[idx_fast] = port16.to_numpy(
            zero_copy_only=False)[idx_fast]
        out_path[idx_fast] = np.asarray(path0, dtype=object)[idx_fast]
        out_url[idx_fast] = np.asarray(url, dtype=object)[idx_fast]
        out_valid[idx_fast] = True
    if len(idx_fast) < n:
        raw_np = np.asarray(arr, dtype=object)
        for i in np.nonzero(~fast_np)[0]:
            u = parse_url(raw_np[i] or "", 0, None)
            if u is None:
                out_valid[i] = False
            else:
                out_host[i], out_port[i], out_path[i] = u.host, u.port, u.path
                out_url[i] = u.url
                out_valid[i] = True
    return pd.DataFrame({
        "host": out_host, "port": out_port, "path": out_path,
        "url": out_url, "valid": out_valid})


def _canonicalize_batch_pandas(raw: pd.Series) -> pd.DataFrame:
    s = raw.astype("string")
    m = s.str.extract(_FAST_RE)
    fast = m[0].notna()
    # fast path must not need path normalization
    path0 = m[2]
    fast &= ~path0.fillna("/").str.contains(_SLOW_PATH_RE, regex=True)
    # trailing '/.' or '/..' still need the state machine
    fast &= ~path0.fillna("/").str.endswith(".")

    # >5-digit ports take the exact scalar path (same guard as the
    # arrow fast path: to_numeric goes through float64 and loses
    # precision on long ports, diverging from the reference's
    # iterated uint16 arithmetic)
    fast &= m[1].isna() | (m[1].str.len() <= 5)

    host = m[0].str.lower()
    port = (pd.to_numeric(m[1].where(m[1].str.len() <= 5), errors="coerce")
            .fillna(80).astype("int64") % 65536)
    path = path0.fillna("/")
    # size caps (url.cxx:316-322)
    fast &= host.str.len() < MAX_SITE_SIZE
    fast &= (host.str.len() + path.str.len() + 18) < MAX_URL_SIZE

    n = len(s)
    out_host = np.empty(n, dtype=object)
    out_port = np.zeros(n, dtype=np.int64)
    out_path = np.empty(n, dtype=object)
    out_url = np.empty(n, dtype=object)
    out_valid = np.zeros(n, dtype=bool)

    fast_np = fast.fillna(False).to_numpy(dtype=bool)
    idx_fast = np.nonzero(fast_np)[0]
    if len(idx_fast):
        fh = host.to_numpy(dtype=object)
        fp = path.to_numpy(dtype=object)
        fport = port.to_numpy()
        # vectorized "http://host[:port]path" assembly
        port_sfx = pd.Series(
            np.where(fport == 80, "", ":" + port.astype(str)), dtype="string")
        furl = ("http://" + host + port_sfx + path).to_numpy(dtype=object)
        out_host[idx_fast] = fh[idx_fast]
        out_port[idx_fast] = fport[idx_fast]
        out_path[idx_fast] = fp[idx_fast]
        out_url[idx_fast] = furl[idx_fast]
        out_valid[idx_fast] = True
    for i in np.nonzero(~fast_np)[0]:
        u = parse_url(s.iloc[i] if s.iloc[i] is not pd.NA else "", 0, None)
        if u is None:
            out_valid[i] = False
        else:
            out_host[i], out_port[i], out_path[i] = u.host, u.port, u.path
            out_url[i] = u.url
            out_valid[i] = True
    return pd.DataFrame({
        "host": out_host, "port": out_port, "path": out_path,
        "url": out_url, "valid": out_valid})


def simhash60_batch(texts: pd.Series, chunk_rows: int = 2048) -> pd.Series:
    """Vectorized 60-bit SimHash of one Arrow batch of texts —
    bit-equal to rowsigs.simhash_expr / dedup.simhash60 (same
    tokenization ``split(text, ' ')`` INCLUDING empty tokens, same
    md5_60 = first 60 bits of md5, same ``count > 0`` sign rule).

    Why this exists: the expression form folds a 60-long array per
    token through Catalyst's interpreted higher-order ``aggregate`` —
    measured 2.9 core-ms/page on 600-word pages, the single largest
    CPU line of the curating crawl. Here the batch is factorized so
    md5 runs once per DISTINCT token (real text repeats tokens
    heavily — Zipf), and the per-document ±1 bit counters become
    ``count_matrix @ bit_matrix``: counting token occurrences per
    (doc, distinct-token) via one ``np.bincount`` and handing the
    60-bit fold to BLAS. Exact in float32 because every operand and
    partial sum is an integer < 2^24 (guarded). Batches whose
    vocabulary is too large for the count matrix (low token
    repetition, or docs with >= 2^24 tokens) fall back to an int32
    ``cumsum`` segment-sum — same values, bounded memory either way.
    Measured on 600-word fixture pages: 0.05 ms/doc (matmul path) vs
    2.9 ms/doc for the expression form.

    The expression form remains the cross-engine contract surface
    (text_rowsigs); tests/test_rowsigs.py pins this kernel equal to
    it on real documents plus edge cases.
    """
    import hashlib
    from itertools import chain

    n = len(texts)
    out = np.zeros(n, np.int64)
    notna = texts.notna().to_numpy()
    vals = texts.to_numpy(dtype=object)
    bit_idx = np.arange(60, dtype=np.uint64)
    weights = np.uint64(1) << bit_idx
    cells_budget = 32_000_000  # count-matrix cells per bincount slab
    rows_all = np.flatnonzero(notna)
    for lo in range(0, rows_all.size, chunk_rows):
        rows = rows_all[lo:lo + chunk_rows]
        toklists = [vals[i].split(" ") for i in rows]
        # split(" ") never returns [], so every segment is non-empty
        # and the segment boundaries below are strictly increasing
        lens = np.fromiter((len(t) for t in toklists), np.int64,
                           len(toklists))
        flat = np.asarray(list(chain.from_iterable(toklists)),
                          dtype=object)
        codes, uniq = pd.factorize(flat, sort=False)
        nu = len(uniq)
        uh = np.fromiter(
            (int.from_bytes(hashlib.md5(u.encode("utf-8")).digest()[:8],
                            "big") >> 4 for u in uniq),
            np.uint64, nu)
        delta = (2 * ((uh[:, None] >> bit_idx) & np.uint64(1))
                 .astype(np.int8) - np.int8(1))  # [uniq, 60] ±1
        starts = np.zeros(len(rows), np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        ends = starts + lens
        rows_per_slab = cells_budget // max(nu, 1)
        if rows_per_slab >= 8 and int(lens.max()) < (1 << 24):
            # matmul path: per-slab (doc, token) count matrix via one
            # bincount, then BLAS folds the 60 counters at once
            deltaf = delta.astype(np.float32)
            counts = np.empty((len(rows), 60), np.int64)
            for slo in range(0, len(rows), rows_per_slab):
                shi = min(slo + rows_per_slab, len(rows))
                tok_lo, tok_hi = starts[slo], ends[shi - 1]
                doc_of_tok = np.repeat(
                    np.arange(shi - slo, dtype=np.int64),
                    lens[slo:shi])
                key = doc_of_tok * nu + codes[tok_lo:tok_hi]
                cnt = np.bincount(
                    key, minlength=(shi - slo) * nu).reshape(
                        shi - slo, nu).astype(np.float32)
                counts[slo:shi] = (cnt @ deltaf).astype(np.int64)
        else:
            # high-vocabulary fallback: int32 running sum + diff
            cs = np.cumsum(delta[codes], axis=0, dtype=np.int32)
            prev = np.where(starts[:, None] > 0,
                            cs[np.maximum(starts - 1, 0)], 0)
            counts = (cs[ends - 1] - prev).astype(np.int64)
        out[rows] = ((counts > 0) * weights).sum(
            axis=1, dtype=np.uint64).astype(np.int64)
    res = pd.Series(pd.array(out, dtype="Int64"), index=texts.index)
    res[~notna] = pd.NA
    return res


# Java's regex \s (no UNICODE_CHARACTER_CLASS): the whitespace set of
# the JVM fingerprint's regexp_replace. Python's str \s would also
# match U+00A0, U+3000 and the other Unicode spaces. Only runs that
# the replace CHANGES are matched (a lone ' ' maps to itself), so a
# page of single-spaced words costs no per-word substitution.
_JAVA_WS_CHANGE = re.compile(r"[ \t\n\x0b\f\r]{2,}|[\t\n\x0b\f\r]")
_Q4 = Decimal("0.0001")


def curation_sigs_batch(texts: pd.Series) -> pd.DataFrame:
    """The five cheap inline-curation signatures of one Arrow batch of
    texts — ``n_tokens``, ``quality``, ``pred_lang``, ``pred_score``,
    ``fingerprint`` — bit-equal to the expression forms
    (rowsigs.ntokens_expr, textstats.quality_expr /
    lang_pred_cols, rowsigs.fingerprint_expr):

    - tokens = ``split(text, ' ')`` including empty strings, so
      ``n_tokens`` is the space count + 1;
    - a stopword hit is a non-overlapping, case-sensitive
      ``' w '`` match in ``' ' + text + ' '`` (``str.count`` scans
      like Spark's ``replace``: "the the the" holds 2);
    - ``pred_lang`` is the argmax of per-language hit sums in sorted
      code order, first code on ties;
    - ``quality`` rounds HALF_UP on the double's shortest decimal
      form, as Spark's ``round`` does (Python's ``round`` is
      half-even on the binary value);
    - ``fingerprint`` lowercases with full Unicode case mapping
      (Java and Python agree on ``İ`` and a final ``Σ``), collapses
      Java-``\\s`` runs only, then takes 16 md5 hex chars.

    A NULL text yields what the expressions yield under Spark's
    default ANSI mode: NULL ``n_tokens``/``pred_score``/
    ``fingerprint``, ``pred_lang`` 'de' and ``quality`` 0.0 (the
    expression guards a NULL text in either ANSI mode).

    Why this exists: in the JVM the 30 ``replace`` scans and the regex
    per page cost ~1.1 s per ~600-page round, all in the one task of
    the docs scan; here they ride the Arrow pass that already runs
    simhash60_batch. The expression forms remain the contract surface
    (text_rowsigs); tests/test_rowsigs.py pins this kernel to them.
    """
    import hashlib

    from ..pipeline.textstats import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    needles = [[f" {w} " for w in LANG_STOPWORDS[lg]] for lg in langs]
    en = langs.index("en")
    n = len(texts)
    n_tok = [None] * n
    quality = [0.0] * n
    pred_lang = [langs[0]] * n
    pred_score = [None] * n
    fprint = [None] * n
    for i, t in enumerate(texts.to_numpy(dtype=object)):
        if not isinstance(t, str):
            continue
        nt = t.count(" ") + 1
        padded = f" {t} "
        hits = [sum(padded.count(w) for w in ws) for ws in needles]
        best = max(range(len(langs)), key=hits.__getitem__)  # first max
        if nt < 5:
            q = 0.0
        else:
            q = (min(1.0, nt / 200.0) * 0.5
                 + min(1.0, hits[en] / nt * 5) * 0.5)
        norm = _JAVA_WS_CHANGE.sub(" ", t.lower())
        n_tok[i] = nt
        quality[i] = float(Decimal(repr(q)).quantize(_Q4, ROUND_HALF_UP))
        pred_lang[i] = langs[best]
        pred_score[i] = hits[best]
        fprint[i] = hashlib.md5(norm.encode("utf-8")).hexdigest()[:16]
    return pd.DataFrame({
        "n_tokens": pd.array(n_tok, dtype="Int32"),
        "quality": np.asarray(quality, np.float64),
        "pred_lang": pred_lang,
        "pred_score": pd.array(pred_score, dtype="Int32"),
        "fingerprint": fprint,
    }, index=texts.index)
