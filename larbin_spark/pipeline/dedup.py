"""Deduplication family for large-scale training-data pipelines.

Exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup. All hashing bottoms out in md5 so the
Spark plans and the DuckDB oracles agree bit-for-bit (md5 is
identical everywhere; derived values stay in exact signed-64 integer
arithmetic — never floats — so no conversion divergence).

Scale notes (100 TB thinking):
- exact dedup: map-side partial agg on the digest, one shuffle.
- ngram jaccard: the shingle self-join explodes quadratically on
  common shingles; the df_cap stop-shingle filter removes shingles
  with document frequency > cap before the join (bounded fan-out).
- minhash LSH: bands shuffle by (band, band_key) which is uniform by
  construction; candidate verification re-joins only candidate pairs.
- simhash: one pass token->bit contributions, then a groupBy doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tokens(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " "))
        .alias("pos0", "w")).withColumn("pos", F.col("pos0") + 1).drop("pos0")


def _shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """k-word shingles via lead() windows (positions are 1-based to
    match DuckDB generate_subscripts). The guard is the last word of
    the shingle: where lead(k-1) runs off the document the shingle is
    incomplete and the row is dropped, so a d-token doc yields
    max(0, d-k+1) shingles."""
    if k < 1:
        raise ValueError(f"_shingles: k must be >= 1, got {k}")
    tok = _tokens(documents)
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, k)]
    guard = parts[-1]
    sh = tok.select(
        "doc_id", "pos",
        F.concat_ws(" ", *parts).alias("shingle"),
        guard.alias("_guard"))
    return sh.filter(F.col("_guard").isNotNull()).drop("_guard")


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup on the md5 of the text: keep min doc_id per digest."""
    d = documents.select(
        F.md5(F.encode(F.col("text"), "utf-8")).alias("digest"), "doc_id")
    return (d.groupBy("digest")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_dups"))
            .orderBy("digest"))


def ngram_jaccard_pairs(documents: DataFrame, k: int = 3,
                        threshold: float = 0.4,
                        df_cap: int | None = None) -> DataFrame:
    """n-gram Jaccard >= threshold via distinct-shingle self-join.

    df_cap is the stop-shingle guard the self-join needs at scale: a
    shingle appearing in D documents contributes D^2 candidate rows,
    so one boilerplate phrase shared by 10^6 docs would explode the
    join quadratically. Shingles with document frequency > df_cap are
    removed from the shingle universe entirely (both intersections
    AND sizes — classic stop-word semantics, so jaccard stays a true
    Jaccard over the capped sets). The hot-shingle list is tiny by
    construction (<= |shingles|/df_cap entries) and anti-joins
    broadcast. df_cap=None (the default) is the exact all-shingle
    semantics; the contract/scale path opts into the cap explicitly
    (__spark_entry__ passes df_cap=100)."""
    sh = _shingles(documents, k).select("doc_id", "shingle").distinct()
    if df_cap is not None:
        hot = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
               .filter(F.col("df") > df_cap).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = (inter.join(sa, "id_a").join(sb, "id_b")
         .withColumn("jaccard",
                     F.round(F.col("inter")
                             / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                             6)))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b"))


# Universal-hash family for the engine-portable MinHash path:
# h_i(s) = (A[i] * (md5_60(s) % P) + B[i]) % P over the Mersenne
# prime P = 2^31 - 1. One md5 per shingle (the expensive part), then
# n_hashes fused integer ops — versus the old n_hashes-md5s-per-
# shingle form this is ~4x cheaper at n=16 while staying bit-exact
# across engines (DuckDB mirrors the same constants; md5_60 = integer
# value of the first 15 hex chars, the same construction the simhash
# oracle already uses). All operands stay < 2^62 so the arithmetic is
# overflow-free in signed 64-bit on both engines.
MINHASH_P = 2_147_483_647
MINHASH_A = [(1_103_515_245 * (i + 1) + 12_345) % MINHASH_P
             for i in range(64)]
MINHASH_B = [(2_654_435_761 * (i + 1)) % MINHASH_P for i in range(64)]


def minhash_signatures(documents: DataFrame, n_hashes: int = 16,
                       k: int = 3, hash_fn: str = "md5") -> DataFrame:
    """MinHash signature per doc: sig_i = min(h_i(shingle)).

    hash_fn="md5": h_i = (A[i] * (md5_60(shingle) % P) + B[i]) % P —
    one md5 per shingle + a universal-hash family (constants above),
    engine-portable (the DuckDB oracle computes the identical
    longs), the parity/contract path.
    hash_fn="xxhash64": h_i = xxhash64(i, shingle) as a long — a
    single JVM codegen'd hash per shingle, no md5 at all; same
    statistical properties (any uniform hash family works for
    MinHash), the scale path when no cross-engine oracle must agree."""
    sh = _shingles(documents, k).select("doc_id", "shingle").distinct()
    if hash_fn == "xxhash64":
        aggs = [F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh{i}")
                for i in range(n_hashes)]
    elif hash_fn == "md5":
        hb = (F.conv(F.substring(F.md5(F.encode(F.col("shingle"), "utf-8")),
                                 1, 15), 16, 10)
              .cast("long") % MINHASH_P)
        sh = sh.select("doc_id", hb.alias("hb"))
        aggs = [F.min((F.lit(MINHASH_A[i]) * F.col("hb")
                       + F.lit(MINHASH_B[i])) % MINHASH_P).alias(f"mh{i}")
                for i in range(n_hashes)]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(documents: DataFrame, n_hashes: int = 16,
                           bands: int = 4, k: int = 3,
                           hash_fn: str = "md5") -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair (the scale path: shuffles on uniform band keys,
    never all-pairs)."""
    rows = n_hashes // bands
    sig = minhash_signatures(documents, n_hashes, k, hash_fn)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        if hash_fn == "xxhash64":
            key = F.xxhash64(*cols)
        else:
            key = F.md5(F.encode(F.concat_ws("|", *cols), "utf-8"))
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  key.alias("key")))
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")) \
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"))
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "key")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "key")
    return (a.join(b, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct()
            .orderBy("id_a", "id_b"))


def simhash60(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per doc from md5 token hashes: bit j of the
    fingerprint is 1 iff sum over tokens of (+1 if token-hash bit j
    else -1) > 0. Token hash = first 15 hex chars (60 bits) of
    md5(token) — 15, not 16, so the value stays inside a signed
    64-bit long on both engines (DuckDB conv would overflow at 16)."""
    tok = (_tokens(documents)
           .select("doc_id", F.col("w").alias("token")))
    h = tok.withColumn(
        "th", F.conv(F.substring(F.md5(F.encode("token", "utf-8")), 1, 15),
                     16, 10).cast("long"))
    bits = [F.sum(F.when((F.shiftright(F.col("th"), j) % 2) == 1, 1)
                  .otherwise(-1)).alias(f"b{j}") for j in range(60)]
    agg = h.groupBy("doc_id").agg(*bits)
    fp = None
    for j in range(60):
        term = F.when(F.col(f"b{j}") > 0,
                      F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else (fp + term)
    return agg.select("doc_id", fp.alias("simhash")).orderBy("doc_id")


def embedding_neardup_pairs(embeddings: DataFrame,
                            threshold: float = 0.99,
                            n_planes: int | None = 4,
                            n_bands: int = 4) -> DataFrame:
    """Embedding-cosine near-dup pairs.

    Default path: BANDED hyperplane LSH (ann.hyperplane_band_keys,
    md5-derived planes so the DuckDB oracle computes identical keys):
    candidates collide in ANY of n_bands tables of n_planes planes
    each, then exact cosine verifies every candidate. Joins shuffle
    on (band, key) — never all-pairs, no CartesianProduct (asserted
    by tools/explain_audit.py). Candidate recall is the OR-of-ANDs
    amplification 1-(1-p^r)^B with p = 1 - theta/pi: with the default
    4x4, ~1.0 at cos 0.99, ~0.88 at cos 0.7, falling to ~0.5 right at
    a loose 0.4 threshold — LSH is a scale/recall trade the caller
    tunes via (n_planes, n_bands); perfect recall at near-1 cosine
    (the near-DUP regime) is pinned in tests/test_analytics.py, and
    candidate cosines are always exact (verification re-computes).

    n_planes=None is the brute-force exact path — the pytest recall
    oracle, never the scale path (O(N^2) crossJoin)."""
    from .ann import cosine_expr, hyperplane_band_keys, infer_dim
    if n_planes is not None:
        keys = hyperplane_band_keys(embeddings, n_bands, n_planes,
                                    dim=infer_dim(embeddings))
        a = keys.select(F.col("vec_id").alias("id_a"), "band", "key")
        b = keys.select(F.col("vec_id").alias("id_b"), "band", "key")
        cand = (a.join(b, ["band", "key"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
        emb_a = embeddings.select(F.col("vec_id").alias("id_a"),
                                  F.col("embedding").alias("emb_a"))
        emb_b = embeddings.select(F.col("vec_id").alias("id_b"),
                                  F.col("embedding").alias("emb_b"))
        pairs = cand.join(emb_a, "id_a").join(emb_b, "id_b")
    else:
        a = embeddings.select(F.col("vec_id").alias("id_a"),
                              F.col("embedding").alias("emb_a"))
        b = embeddings.select(F.col("vec_id").alias("id_b"),
                              F.col("embedding").alias("emb_b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn("cos", cosine_expr("emb_a", "emb_b"))
    return (pairs.filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos_r"))
            .orderBy("id_a", "id_b"))


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         max_iters: int = 50) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    duplicate-cluster step of a fuzzy-dedup pipeline (candidate pairs
    -> clusters -> keep one doc per cluster). Genuinely iterative
    (driver loop, no SQL equivalent at scale): each pass joins labels
    to edges, takes the min over a node's neighborhood, and stops at
    fixpoint. Converges in O(diameter) passes; every pass is one
    shuffle on the node id, labels stay (node, label) ints. Returns
    (node, cluster_id = min node id of the component).
    """
    edges = (pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .unionByName(pairs.select(F.col(b_col).alias("a"),
                                       F.col(a_col).alias("b")))
             .distinct())
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        nbr_min = (edges.join(labels, edges.b == labels.node)
                   .groupBy("a").agg(F.min("label").alias("nbr_label")))
        new_labels = (labels.join(nbr_min, labels.node == nbr_min.a, "left")
                      .select("node",
                              F.least("label",
                                      F.coalesce("nbr_label", "label"))
                              .alias("label")))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    else:
        # silently returning split clusters would make
        # keep_best_per_cluster keep near-duplicates — fail loud
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"iterations ({changed} labels still changing); the "
            f"component diameter exceeds max_iters — raise max_iters "
            f"or switch to large-star/small-star propagation")
    return labels.select("node", F.col("label").alias("cluster_id"))


def minhash_clusters(documents: DataFrame, n_hashes: int = 16,
                     bands: int = 4, k: int = 3) -> DataFrame:
    """Fuzzy-dedup end-to-end: MinHash+LSH candidate pairs ->
    connected components -> (doc_id, cluster_id). Docs with no
    candidate partner are their own cluster and are omitted (only
    multi-doc clusters need a keep-one decision)."""
    cand = minhash_lsh_candidates(documents, n_hashes, bands, k)
    cc = connected_components(cand)
    return (cc.select(F.col("node").alias("doc_id"), "cluster_id")
            .orderBy("doc_id"))


def keep_best_per_cluster(documents: DataFrame, n_hashes: int = 16,
                          bands: int = 4, k: int = 3) -> DataFrame:
    """Quality-aware fuzzy dedup, end to end: cluster near-duplicates
    (MinHash -> LSH -> connected components), score each doc
    (textstats.quality_score), and keep the highest-quality doc per
    cluster (ties -> smallest doc_id). Docs outside any multi-doc
    cluster are kept implicitly; output lists one keeper per cluster
    with the cluster size — the drop set is every clustered doc not
    in this list. Joins are on doc_id/cluster_id ints; the quality
    score is a rounded column so the argmax is engine-portable."""
    from .textstats import quality_score
    clusters = minhash_clusters(documents, n_hashes, bands, k)
    q = quality_score(documents).select("doc_id", "quality")
    scored = clusters.join(q, "doc_id")
    return (scored.groupBy("cluster_id")
            .agg(F.max_by(F.struct(F.col("quality"),
                                   (-F.col("doc_id")).alias("neg_id")),
                          F.struct(F.col("quality"),
                                   (-F.col("doc_id")).alias("neg_id")))
                 .alias("best"),
                 F.count("*").alias("cluster_size"))
            .select("cluster_id",
                    (-F.col("best.neg_id")).alias("keep_id"),
                    F.col("best.quality").alias("keep_quality"),
                    "cluster_size")
            .orderBy("cluster_id"))


def substring_dedup(documents: DataFrame, k: int = 5) -> DataFrame:
    """Substring-level exact dedup: remove every token covered by a
    duplicated k-gram, keeping one canonical occurrence per k-gram
    corpus-wide (the training-data scrub of Lee et al. 2022,
    arXiv:2107.06499 — their suffix-array pass finds repeated
    substrings; this is the distributed k-gram-granularity form of
    the same semantics, the granularity big pipelines actually ship).

    Deterministic rule, exact on both engines: a k-gram occurrence is
    (doc_id, p) with p the 1-based token position; occurrences of a
    k-gram that appears more than once corpus-wide are removed except
    the canonical one = min over the sortable key
    ``doc_id:zero-padded(p)``. A token is dropped iff covered by any
    removed occurrence (positions p..p+k-1). Output per doc: token
    count, removed-token count, and the scrubbed text.

    Scale shape (100 TB):
    - k-gram construction is a zero-shuffle HOF over split(text) —
      no per-doc window, so no doc_id exchange;
    - the k-gram group-count/min shuffles O(occurrences) rows of
      (kg, okey) with map-side partial agg; shuffling the k-gram
      TEXT is deliberate — exactness beats the ~2x byte saving of a
      hash key, and a 64-bit hash would make removal collisions
      corpus-poisoning rather than benign;
    - the occurrence->verdict join is a plain hash join on kg (AQE
      splits the stop-k-gram skew); only REMOVED occurrences
      (O(duplicated mass), not O(tokens)) flow into the per-doc
      collect;
    - the rebuild is a per-row HOF filter, zero exchanges; the
      exists() probe is O(n_tok * removals_in_doc), bounded by the
      doc's own duplicated mass.
    """
    if k < 1:
        raise ValueError(f"substring_dedup: k must be >= 1, got {k}")
    toks = F.split(F.col("text"), " ")
    base = documents.select("doc_id", toks.alias("toks"),
                            F.size(toks).alias("n_tok"))
    npos = F.greatest(F.col("n_tok") - (k - 1), F.lit(0))
    # sequence(1, 0) is DESCENDING [1,0] in Spark, not empty — gate
    # short docs to an empty position array before the transform
    positions = F.when(npos >= 1, F.sequence(F.lit(1), npos)) \
        .otherwise(F.array().cast("array<int>"))
    occ = (base.select(
        "doc_id",
        F.explode(F.transform(
            positions,
            lambda p: F.struct(
                p.alias("p"),
                F.concat_ws(" ", F.slice("toks", p, k)).alias("kg"))))
        .alias("o"))
        .select("doc_id", F.col("o.p").alias("p"), F.col("o.kg").alias("kg"),
                F.concat_ws(":", F.col("doc_id"),
                            F.lpad(F.col("o.p").cast("string"), 10, "0"))
                .alias("okey")))
    grp = occ.groupBy("kg").agg(F.count(F.lit(1)).alias("cnt"),
                                F.min("okey").alias("canon"))
    removed = (occ.join(grp, "kg")
               .filter((F.col("cnt") > 1) & (F.col("okey") != F.col("canon")))
               .groupBy("doc_id")
               .agg(F.collect_list("p").alias("rps")))
    out = base.join(removed, "doc_id", "left")
    covered = lambda i: F.exists(  # noqa: E731
        F.coalesce(F.col("rps"), F.array().cast("array<int>")),
        lambda p: (p <= i) & (i <= p + (k - 1)))
    kept = F.filter(
        F.transform(F.sequence(F.lit(1), F.col("n_tok")),
                    lambda i: F.when(covered(i),
                                     F.lit(None).cast("string"))
                    .otherwise(F.element_at("toks", i))),
        lambda x: x.isNotNull())
    return (out.select(
        "doc_id", "n_tok",
        (F.col("n_tok") - F.size(kept)).alias("n_removed"),
        F.concat_ws(" ", kept).alias("kept_text"))
        .orderBy("doc_id"))
