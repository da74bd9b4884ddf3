"""Per-row signature expressions (pipeline/rowsigs) must equal the
agg-based corpus-pass operators value-for-value — that equivalence is
what lets the crawl's inline curation stage replace a second corpus
scan with a fused projection. The cross-engine gate is the
text_rowsigs contract query; these tests pin Spark-vs-Spark
(expression form vs explode/groupBy form) on real sf0.001 documents
plus hand-built edge cases."""

import os

import pytest
from pyspark.sql import functions as F

from larbin_spark.pipeline import dedup, rowsigs, textstats

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"no testdata at {SF_DIR}")
    return (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .select("doc_id", "text").limit(200).cache())


# 32 tokens, 6 English stopword hits: quality 0.54875 before rounding,
# a 5th-decimal tie that Spark's HALF_UP takes to 0.5488 (Python's
# round gives 0.5487)
_QUALITY_TIE = "the a and a of a to a in a the " + " ".join(["w"] * 21)


def _edge_docs(spark):
    return spark.createDataFrame(
        [(1, "one two three four five"),
         (2, "one two"),            # < 3 tokens: no shingle
         (3, ""),                   # empty text -> one empty token
         (4, "a  b"),               # doubled space -> empty token
         (5, "one one one one"),    # repeated shingles
         (6, "the the the"),        # 2 non-overlapping ' the ' hits
         # Java's regex \s runs vs U+00A0 / U+3000 (Unicode spaces
         # Java's \s does not match but Python's does)
         (7, "\t\n\x0b\x0c\r a \t\n b\u00a0\u00a0c\u3000d  e"),
         # non-ASCII case folding: dotted capital I (lowercases to
         # two chars), final and lone sigma, CJK stopwords
         (8, "İstanbul ΟΔΟΣ Σ ΑΣ. 的 是 的 我"),
         (9, _QUALITY_TIE)],
        "doc_id long, text string")


def test_simhash_expr_matches_agg(spark, docs):
    for frame in (docs, _edge_docs(spark)):
        per_row = {r["doc_id"]: r["sh"] for r in frame.select(
            "doc_id", rowsigs.simhash_expr().alias("sh")).collect()}
        agg = {r["doc_id"]: r["simhash"]
               for r in dedup.simhash60(frame).collect()}
        assert per_row == agg


def test_minhash_expr_matches_agg(spark, docs):
    for frame in (docs, _edge_docs(spark)):
        per_row = {r["doc_id"]: r["sig"] for r in frame.select(
            "doc_id",
            rowsigs.minhash_sigs_expr(F.col("text"), 16, 3).alias("sig"))
            .collect()}
        agg = {r["doc_id"]: [r[f"mh{i}"] for i in range(16)]
               for r in dedup.minhash_signatures(frame, 16, 3).collect()}
        for did, sig in per_row.items():
            if did in agg:
                assert sig == agg[did], did
            else:  # < k tokens: agg path emits no row, expr emits null
                assert sig is None, did


def test_fingerprint_and_quality_match(spark, docs):
    per_row = {r["doc_id"]: (r["fp"], r["q"], r["nt"]) for r in docs.select(
        "doc_id", rowsigs.fingerprint_expr().alias("fp"),
        rowsigs.quality_expr().alias("q"),
        rowsigs.ntokens_expr().alias("nt")).collect()}
    fp = {r["doc_id"]: r["fingerprint"]
          for r in textstats.fingerprints(docs).collect()}
    qs = {r["doc_id"]: (r["quality"], r["n_tokens"])
          for r in textstats.quality_score(docs).collect()}
    for did, (f_, q_, n_) in per_row.items():
        assert f_ == fp[did]
        assert (q_, n_) == qs[did]


def test_lang_pred_matches_lang_id(spark, docs):
    pl, ps = rowsigs.lang_pred_cols(F.col("text"))
    per_row = {r["doc_id"]: (r["pl"], r["ps"]) for r in docs.select(
        "doc_id", pl.alias("pl"), ps.alias("ps")).collect()}
    frame = docs.withColumn("lang", F.lit("en"))
    agg = {r["doc_id"]: (r["pred_lang"], r["pred_score"])
           for r in textstats.lang_id(frame).collect()}
    assert per_row == agg


def test_rowsigs_plan_has_no_shuffle(spark, docs):
    """The whole point: all signatures in ONE projection, zero
    Exchange in the plan."""
    plan = (docs.select("doc_id", *rowsigs.curation_cols(F.col("text")))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_simhash_kernel_matches_expr(spark, docs):
    """The vectorized Arrow kernel (the crawl's inline-curation scale
    path) must be bit-equal to the expression form (the contract
    surface) — including empty/doubled-space/None edge cases and
    chunk boundaries."""
    import pandas as pd

    from larbin_spark.kernels.vectorized import simhash60_batch

    for frame in (docs, _edge_docs(spark)):
        rows = frame.select("doc_id", "text").collect()
        texts = pd.Series([r["text"] for r in rows])
        expr = {r["doc_id"]: r["sh"] for r in frame.select(
            "doc_id", rowsigs.simhash_expr().alias("sh")).collect()}
        for chunk in (7, 2048):
            got = simhash60_batch(texts, chunk_rows=chunk)
            for r, g in zip(rows, got):
                assert g == expr[r["doc_id"]], (chunk, r["doc_id"])
    # None text -> NA (expression form yields NULL)
    assert simhash60_batch(pd.Series([None], dtype=object))[0] is pd.NA


def test_curation_sigs_kernel_matches_expr(spark, docs):
    """The vectorized kernel for the five cheap signatures (the crawl's
    inline-curation path) must be bit-equal to the expression forms on
    real documents, on the edge cases (consecutive stopwords, < 5
    tokens, empty text, Java-vs-Unicode whitespace, non-ASCII case
    folding, a HALF_UP quality tie) and on a NULL text."""
    import pandas as pd

    from larbin_spark.kernels.vectorized import curation_sigs_batch

    names = ["n_tokens", "quality", "pred_lang", "pred_score",
             "fingerprint"]
    null_doc = spark.createDataFrame([(0, None)], "doc_id long, text string")
    for frame in (docs, _edge_docs(spark), null_doc):
        rows = frame.select("doc_id", "text",
                            *rowsigs.curation_cols(F.col("text"))).collect()
        got = curation_sigs_batch(
            pd.Series([r["text"] for r in rows], dtype=object))
        assert list(got.columns) == names
        for r, g in zip(rows, got.itertuples(index=False)):
            have = tuple(None if v is pd.NA else v for v in g)
            want = tuple(r[n] for n in names)
            assert have == want, (r["doc_id"], have, want)
    # the edge cases hold what they claim
    by_id = {r["doc_id"]: r for r in _edge_docs(spark).select(
        "doc_id", *rowsigs.curation_cols(F.col("text"))).collect()}
    assert (by_id[6]["pred_lang"], by_id[6]["pred_score"]) == ("en", 2)
    assert by_id[8]["pred_lang"] == "zh"
    assert by_id[9]["quality"] == 0.5488 and round(0.54875, 4) == 0.5487
    # a NULL text scores the minimum quality with ANSI on and off
    ansi = "spark.sql.ansi.enabled"
    old = spark.conf.get(ansi)
    try:
        for mode in ("true", "false"):
            spark.conf.set(ansi, mode)
            (r,) = null_doc.select(
                *rowsigs.curation_cols(F.col("text"))).collect()
            assert r["quality"] == 0.0, mode
    finally:
        spark.conf.set(ansi, old)
