"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

Everything is pure column arithmetic (JVM-side, whole-stage codegen)
with exact DuckDB oracles; scores are rounded before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# stopword lists per language for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _count_token(text_col, token: str):
    """Occurrences of ' token ' in ' '||text||' ' — portable as
    (len(x) - len(replace(x, t, ''))) / len(t)."""
    padded = F.concat(F.lit(" "), text_col, F.lit(" "))
    needle = f" {token} "
    return ((F.length(padded)
             - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / len(needle)).cast("int")


def lang_pred_cols(text):
    """(pred_lang, pred_score) argmax columns of the stopword-ratio
    language scorer (deterministic tie-break by language code) —
    expression form so consumers (the inline crawl curation stage,
    pipeline/rowsigs.py) fuse the prediction into an existing scan
    instead of joining a second language pass."""
    scores = {lang: sum((_count_token(text, t) for t in toks[1:]),
                        _count_token(text, toks[0]))
              for lang, toks in LANG_STOPWORDS.items()}
    # argmax with lexicographic tie-break: fold in sorted code order,
    # strict > keeps the first code on ties
    best = None
    for lang in sorted(scores):
        cand_score = scores[lang]
        if best is None:
            best = (F.lit(lang), cand_score)
        else:
            take = cand_score > best[1]
            best = (F.when(take, F.lit(lang)).otherwise(best[0]),
                    F.when(take, cand_score).otherwise(best[1]))
    return best[0], best[1].cast("int")


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-ratio language scorer: predicted lang = argmax of
    per-language stopword hit counts (deterministic tie-break by
    language code)."""
    pred_lang, pred_score = lang_pred_cols(F.col("text"))
    return documents.select(
        "doc_id", "lang",
        pred_lang.alias("pred_lang"),
        pred_score.alias("pred_score")).orderBy("doc_id")


def quality_expr(text=None):
    """The composite quality score as a single column expression
    (rounded to 4 places, engine-exact) — usable inside any
    projection so consumers (budget_pack) fold it into their one
    corpus scan instead of joining a second quality pass. A NULL text
    scores 0.0 whatever the ANSI mode: under ANSI `size(NULL)` is
    NULL, which skips the short-text branch, and `least` skips both
    NULL terms, which would score it 1.0."""
    text = F.col("text") if text is None else text
    n_tokens = F.size(F.split(text, " "))
    stop_hits = sum((_count_token(text, t)
                     for t in LANG_STOPWORDS["en"][1:]),
                    _count_token(text, LANG_STOPWORDS["en"][0]))
    stop_ratio = stop_hits / n_tokens
    score = (F.when(text.isNull() | (n_tokens < 5), 0.0)
             .otherwise(F.least(F.lit(1.0), n_tokens / F.lit(200.0)) * 0.5
                        + F.least(F.lit(1.0), stop_ratio * 5) * 0.5))
    return F.round(score, 4)


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / mean-token-length / stopword-ratio quality features
    plus a composite score (the badType/tooBig gating analogue for
    training-data filtering)."""
    text = F.col("text")
    n_tokens = F.size(F.split(text, " "))
    n_chars = F.length(text)
    mean_tok = n_chars / n_tokens
    stop_hits = sum((_count_token(text, t)
                     for t in LANG_STOPWORDS["en"][1:]),
                    _count_token(text, LANG_STOPWORDS["en"][0]))
    stop_ratio = stop_hits / n_tokens
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_tok, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        quality_expr(text).alias("quality")).orderBy("doc_id")


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish subword-count estimate per source: the
    subword estimate counts 4-char chunks (ceil(len/4)) like a
    byte-pair budget."""
    n_ws = F.size(F.split(F.col("text"), " "))
    n_bpe = F.ceil(F.length(F.col("text")) / 4)
    return (documents.groupBy("source")
            .agg(F.sum(n_ws).alias("ws_tokens"),
                 F.sum(n_bpe).alias("bpe_tokens"),
                 F.count("*").alias("n_docs"))
            .orderBy("source"))


def fingerprints(documents: DataFrame, prefix_len: int = 16) -> DataFrame:
    """Document fingerprint: md5 prefix of the normalized text
    (lowercased, space-collapsed) — the batch analogue of the
    reference's rolling content hash (hash_duplicate.cxx)."""
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    return documents.select(
        "doc_id",
        F.substring(F.md5(F.encode(norm, "utf-8")), 1, prefix_len)
        .alias("fingerprint")).orderBy("doc_id")


def unigram_surprisal(documents: DataFrame) -> DataFrame:
    """Model-free perplexity proxy (the CCNet/Gopher-style
    lm-quality signal, without shipping a language model): score
    each document by the summed rarity of its unigrams against the
    corpus's own unigram distribution.

    Per-token surprisal is integerized so no float ever crosses the
    contract hash: wt(token) = bits(total_tokens) - bits(cnt(token))
    where bits(n) = number of binary digits of n — an exact
    floor(log2(total/cnt)) within 1 bit, computed as the length of
    the base-2 rendering on BOTH engines (Spark `conv(n,10,2)`,
    DuckDB `format('{:b}', n)`), no libm in sight. Downstream
    filters threshold on surprisal_bits/n_tokens (high = rare-token
    soup, low = boilerplate).

    Plan shape at 100 TB: one explode scan -> token hash-agg with
    map-side partials (vocabulary-sized result) -> one-row total
    broadcast -> hash join of the occurrence stream back on token
    (stopword keys are hot; AQE skew-split divides them, and the
    join never materializes pairs beyond the occurrence stream
    itself) -> per-doc hash-agg. Three shuffles, all keyed, none
    quadratic.
    """
    tok = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tok = tok.where(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    bits = lambda c: F.length(F.conv(c, 10, 2))  # noqa: E731
    weights = (counts.join(F.broadcast(total))
               .select("token", (bits(F.col("tot"))
                                 - bits(F.col("cnt"))).alias("wt")))
    return (tok.join(weights, "token")
            .groupBy("doc_id")
            .agg(F.sum("wt").cast("long").alias("surprisal_bits"),
                 F.count("*").alias("n_tokens"))
            .orderBy("doc_id"))


def tfidf_keywords(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: top-k tokens by tf x idf,
    with idf integerized the same libm-free way as
    unigram_surprisal — idf_bits(token) = bits(N_docs) - bits(df)
    (base-2 digit counts, exact on both engines), score = tf *
    idf_bits, ties broken by token asc then nothing else (the score
    is an int).

    Plan shape at 100 TB: explode -> (doc_id, token) hash-agg (tf)
    -> token hash-agg (df, vocabulary-sized) -> one-row N broadcast
    -> keyed join tf x df on token -> per-doc top-k window. The
    window partitions by doc_id (groups are doc-vocabulary-sized)
    and the rank<=k filter is pushed map-side (WindowGroupLimit),
    so no reducer ever sees more than k x #map-partitions rows per
    doc.
    """
    from pyspark.sql import Window
    tok = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = (tok.where(F.col("token") != "")
          .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    bits = lambda c: F.length(F.conv(c, 10, 2))  # noqa: E731
    idf = (df.join(F.broadcast(n_docs))
           .select("token", (bits(F.col("n_docs"))
                             - bits(F.col("df"))).alias("idf_bits")))
    scored = (tf.join(idf, "token")
              .select("doc_id", "token",
                      (F.col("tf") * F.col("idf_bits")).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("token"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("doc_id", "token", F.col("score").cast("long")
                    .alias("score"), F.col("rnk").cast("int").alias("rnk"))
            .orderBy("doc_id", "rnk"))


def top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k tokens per language by count (ties broken by token) —
    vocabulary inspection for corpus curation. One explode scan,
    partially-aggregated (lang, token) counts, then the same
    map-side-top-k window the sequencer uses (WindowGroupLimit
    prunes to k rows per lang before the shuffle); the window
    partitions are vocabulary-sized per language, never
    corpus-sized. Returns (lang, token, cnt, rnk)."""
    from pyspark.sql import Window
    tok = documents.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
    counts = (tok.where(F.col("token") != "")
              .groupBy("lang", "token").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return (counts.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("lang", "token", "cnt",
                    F.col("rnk").cast("int").alias("rnk"))
            .orderBy("lang", "rnk"))


def bigram_surprisal(documents: DataFrame) -> DataFrame:
    """Conditional bigram surprisal — the 2-gram upgrade of
    unigram_surprisal on the way toward CCNet's KenLM 5-gram quality
    score (Wenzek et al. 2019, arXiv:1911.00359), still with no
    model shipped: each adjacent word pair (w1, w2) is charged the
    corpus-conditional rarity of w2 given w1,

        wt(w1, w2) = bits(ctx(w1)) - bits(cnt(w1 w2))

    where cnt is the corpus bigram count, ctx(w1) = sum of bigram
    counts starting at w1 (the context mass), and bits(n) is the
    libm-free base-2 digit count (`conv(n,10,2)` here,
    `format('{:b}')` on DuckDB) — an exact-integer floor of
    -log2 P(w2 | w1) within a bit. Low totals mark boilerplate
    (every transition common), high totals mark rare-transition
    soup; per-doc normalization is bigram_bits / n_bigrams
    downstream.

    Scale (100 TB): the bigram stream is a zero-shuffle HOF
    projection (curation._grams_expr's zip_with half); corpus bigram
    counts are one hash-agg with map-side partials; context masses
    reduce THAT table (bigram-vocabulary-sized, not corpus-sized);
    the weight join back onto the occurrence stream is keyed on the
    bigram (AQE splits the hot boilerplate keys), and one per-doc
    hash-agg finishes. Three keyed shuffles, none quadratic — the
    same shape as unigram_surprisal one order up.
    """
    bigs = F.expr(
        "zip_with(slice(_ws, 1, greatest(size(_ws) - 1, 0)),"
        " slice(_ws, 2, greatest(size(_ws) - 1, 0)),"
        " (a, b) -> concat(a, ' ', b))")
    occ = (documents
           .select("doc_id", F.expr(
               "filter(split(text, ' '), x -> x <> '')").alias("_ws"))
           .select("doc_id", F.explode(bigs).alias("bigram")))
    cnt = occ.groupBy("bigram").agg(F.count("*").alias("cnt"))
    ctx = (cnt.withColumn("w1", F.split(F.col("bigram"), " ")[0])
           .groupBy("w1").agg(F.sum("cnt").alias("ctx")))
    bits = lambda c: F.length(F.conv(c, 10, 2))  # noqa: E731
    wt = (cnt.withColumn("w1", F.split(F.col("bigram"), " ")[0])
          .join(ctx, "w1")
          .select("bigram", (bits(F.col("ctx"))
                             - bits(F.col("cnt"))).alias("wt")))
    return (occ.join(wt, "bigram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("wt").cast("long").alias("bigram_bits"))
            .select("doc_id", F.col("n_bigrams").cast("long")
                    .alias("n_bigrams"), "bigram_bits")
            .orderBy("doc_id"))


def corpus_composition(documents: DataFrame,
                       langs=("de", "en", "es", "fr", "zh")) -> DataFrame:
    """Corpus composition crosstab: one row per source, one token-mass
    column per language (`<lang>_tokens`) plus doc and token totals —
    the mix dashboard a curation run reads before choosing sampling
    weights (the input temperature_mix consumes, factored by source).

    Spark surface: `groupBy().pivot(values).agg()` — the relational
    PIVOT. The pivot values are EXPLICIT (the `langs` tuple), never
    discovered from data: at 100 TB value-discovery is an extra
    corpus pass, and a fixed column set keeps the schema stable for
    the contract hash across engines and samples. Languages outside
    `langs` still count toward `total_tokens` (the column set is a
    projection, not a filter).

    Scale: one corpus scan, one hash-agg keyed on (source, lang) with
    map-side partials (pivot compiles to pivot-first aggregation),
    group space = #sources x #langs. Missing (source, lang) cells are
    0, not NULL, so downstream arithmetic never NULL-propagates.
    """
    n_tok = F.size(F.expr("filter(split(text, ' '), x -> x <> '')"))
    d = documents.select("source", "lang", n_tok.alias("_nt"))
    piv = (d.groupBy("source").pivot("lang", list(langs))
           .agg(F.sum("_nt"))
           .select("source", *[F.coalesce(F.col(lg), F.lit(0))
                               .cast("long").alias(f"{lg}_tokens")
                               for lg in langs]))
    totals = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"))
    return (piv.join(totals, "source")
            .select("source", "n_docs", "total_tokens",
                    *[f"{lg}_tokens" for lg in langs])
            .orderBy("source"))
