"""Per-row signature expressions — the engine of the inline-curation
crawl stage.

Each function here returns a pure Column EXPRESSION over a text
column that computes, entirely inside one row (higher-order
functions over the token array, no explode / groupBy / join), the
same value the corresponding corpus-pass operator computes:

- ``simhash_expr``      == pipeline.dedup.simhash60 per doc
- ``minhash_sigs_expr`` == pipeline.dedup.minhash_signatures
  (hash_fn="md5"), as an array<long> (null when the doc has no
  k-shingle, where the agg path emits no row)
- ``fingerprint_expr``  == pipeline.textstats.fingerprints
- language / quality come from textstats.lang_pred_cols /
  quality_expr, which are already expression-form

Why a per-row form matters at 100 TB: the agg-based operators each
re-scan the corpus (explode tokens -> shuffle -> groupBy doc).
Fine for standalone analytics, wrong inside the crawl: the fetched
pages are already in hand in phase E/F, so curating WHILE crawling
should cost zero extra scans and zero extra shuffles. The crawl
itself does not evaluate these expressions: it runs their
vectorized kernels (kernels/vectorized.simhash60_batch and
curation_sigs_batch) in ONE Arrow pass over the successful pages
(``curation_finalize_fn``). As JVM expressions the five cheap
signatures cost ~1.1 s per ~600-page round, single-task because the
docs scan has one or two splits (30 ``replace`` stopword scans per
~4 KB page plus a regex), and simhash is interpreted-HOF bound.
The expressions stay the contract surface and the reference the
kernels are pinned to (tests/test_rowsigs.py): everything bottoms
out in md5 + exact signed-64 arithmetic, so the DuckDB oracle
(text_rowsigs) reproduces each value bit-for-bit against the
EXISTING agg-based SQL — the contract that per-row and corpus-pass
forms agree.

Parity notes (pinned by tests/test_rowsigs.py):
- tokens = split(text, ' ') INCLUDING empty strings, exactly
  dedup._tokens' posexplode(split(...)).
- shingles = positions 1..n-k+1 of concat_ws(' ', k tokens),
  exactly dedup._shingles' lead() construction; min over ALL
  shingles == min over DISTINCT shingles, so the agg path's
  .distinct() needs no per-row counterpart.
- md5_60 = integer value of the first 15 hex chars of md5 (60 bits,
  stays inside signed int64 on both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from larbin_spark.pipeline.dedup import MINHASH_A, MINHASH_B, MINHASH_P
from larbin_spark.pipeline.textstats import lang_pred_cols, quality_expr

__all__ = [
    "md5_60_expr", "simhash_expr", "minhash_sigs_expr",
    "fingerprint_expr", "ntokens_expr", "curation_cols",
    "lang_pred_cols", "quality_expr", "CURATION_SIG_NAMES",
    "curation_finalize_fn",
]

# column names of curation_cols, in order — also the signature
# columns curation_finalize_fn emits
CURATION_SIG_NAMES = ("n_tokens", "quality", "pred_lang",
                      "pred_score", "simhash", "fingerprint")


def md5_60_expr(col) -> Column:
    """First 15 hex chars (60 bits) of md5 as a non-negative long —
    the engine-portable hash every signature here builds on."""
    return F.conv(F.substring(F.md5(F.encode(col, "utf-8")), 1, 15),
                  16, 10).cast("long")


def ntokens_expr(text=None) -> Column:
    text = F.col("text") if text is None else text
    return F.size(F.split(text, " "))


def simhash_expr(text=None) -> Column:
    """60-bit SimHash of one row's text: one md5 per token
    (``transform``), then a single ``aggregate`` folds the 60 +/-1
    bit counters, then a second ``aggregate`` packs sign bits into
    the fingerprint. Equals dedup.simhash60's per-doc value exactly
    (same token set incl. empties, same md5_60, same >0 rule)."""
    text = F.col("text") if text is None else text
    th = F.transform(F.split(text, " "), md5_60_expr)
    counts = F.aggregate(
        th, F.array(*[F.lit(0).cast("long") for _ in range(60)]),
        lambda acc, h: F.array(*[
            F.element_at(acc, j + 1)
            + F.when((F.shiftright(h, j) % 2) == 1,
                     F.lit(1).cast("long"))
            .otherwise(F.lit(-1).cast("long"))
            for j in range(60)]))
    weights = F.array(*[F.lit(2 ** j).cast("long") for j in range(60)])
    return F.aggregate(
        F.zip_with(counts, weights,
                   lambda c, w: F.when(c > 0, w)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda s, x: s + x)


def minhash_sigs_expr(text=None, n_hashes: int = 16,
                      k: int = 3) -> Column:
    """MinHash signature of one row's text as array<long>[n_hashes]:
    shingle starts 1..n-k+1 via sequence+slice, ONE md5 per shingle,
    then one ``aggregate`` folds all n_hashes running minima of the
    universal-hash family (same A/B/P constants as
    dedup.minhash_signatures). NULL when the doc has < k tokens —
    the agg path emits no row for such docs, so consumers join-align
    on null."""
    text = F.col("text") if text is None else text
    toks = F.split(text, " ")
    n = F.size(toks)
    # sequence(1, 0) would count DOWN ([1, 0]); guard short docs to
    # an explicitly empty int array instead
    starts = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))) \
        .otherwise(F.expr("CAST(array() AS array<int>)"))
    shingles = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    hb = F.transform(shingles, lambda s: md5_60_expr(s) % MINHASH_P)
    # running minima start at P: every family value is % P, so P
    # acts as +infinity and can never survive a non-empty fold
    init = F.array(*[F.lit(MINHASH_P).cast("long")
                     for _ in range(n_hashes)])
    sig = F.aggregate(hb, init, lambda acc, h: F.array(*[
        F.least(F.element_at(acc, i + 1),
                (F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i]))
                % MINHASH_P)
        for i in range(n_hashes)]))
    return F.when(n >= k, sig)


def fingerprint_expr(text=None, prefix_len: int = 16) -> Column:
    """md5 prefix of the normalized text (lowercased,
    space-collapsed) == textstats.fingerprints' value."""
    text = F.col("text") if text is None else text
    norm = F.regexp_replace(F.lower(text), "\\s+", " ")
    return F.substring(F.md5(F.encode(norm, "utf-8")), 1, prefix_len)


def spans_text_expr(spans_col: str = "spans") -> Column:
    """One row's page text from the interleaved span column: the
    TEXT spans in offset order (stable on ties via the original
    index, the same pack-sort-unpack idiom the content-dup gate's
    render uses), joined by single spaces — so the downstream
    token/shingle signatures see the document exactly as the
    north-rule span order defines it."""
    ordered = F.expr(
        f"transform(array_sort(transform(filter({spans_col}, "
        f"s -> s.kind = 'text'), (s, i) -> struct(s.offset as o, "
        f"i as i, s.text as v))), x -> coalesce(x.v, ''))")
    return F.array_join(ordered, " ")


def curation_finalize_fn():
    """mapInPandas body for the crawl's inline-curation finalize: takes
    (round, fetch_seq, doc_id, _ctext) rows of the round's successful
    pages and emits all six signatures from the rendered ``_ctext`` —
    simhash via kernels/vectorized.simhash60_batch, the other five via
    curation_sigs_batch, both bit-equal to the expression forms
    (pinned by tests/test_rowsigs.py) — dropping ``_ctext`` so only
    ids + signatures flow on. Batch-local, no state — safe at any
    parallelism."""
    def fn(batches):
        from larbin_spark.kernels.vectorized import (
            curation_sigs_batch, simhash60_batch,
        )
        order = ["round", "fetch_seq", "doc_id", *CURATION_SIG_NAMES]
        for pdf in batches:
            if not len(pdf):
                continue
            sigs = curation_sigs_batch(pdf["_ctext"])
            sigs["simhash"] = simhash60_batch(pdf["_ctext"])
            yield pdf[["round", "fetch_seq", "doc_id"]].join(sigs)[order]
    return fn


def curation_from_docs(docs_out_new) -> "DataFrame":
    """Expression form of the crawl's inline-curation stage: per-page
    signature rows (plans/state.CURATION_SCHEMA) for docs_out rows,
    the post-hoc reference the crawl's kernel pass is pinned to
    (tests/test_curate_inline.py). Two chained selects so the
    rendered text is ONE named column the signature expressions
    share — Catalyst keeps the projections split rather than
    duplicating the non-cheap render per signature. No shuffle, no
    extra scan."""
    rendered = docs_out_new.select(
        "round", "fetch_seq", "doc_id",
        spans_text_expr("spans").alias("_ctext"))
    return rendered.select("round", "fetch_seq", "doc_id",
                           *curation_cols(F.col("_ctext")))


def curation_cols(text) -> list:
    """The inline-curation projection: every per-row signature the
    crawl's curate stage records, as aliased columns ready to splice
    into an existing select. One pass, no shuffle."""
    pred_lang, pred_score = lang_pred_cols(text)
    return [
        ntokens_expr(text).alias("n_tokens"),
        quality_expr(text).alias("quality"),
        pred_lang.alias("pred_lang"),
        pred_score.alias("pred_score"),
        simhash_expr(text).alias("simhash"),
        fingerprint_expr(text).alias("fingerprint"),
    ]
