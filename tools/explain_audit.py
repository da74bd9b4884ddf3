#!/usr/bin/env python
"""Physical-plan audit: dump .explain("formatted") for representative
queries and check the scale-critical properties hold — filters pushed
to the parquet scan, schema pruned, dims broadcast, aggregates
partial (map-side combine), Python confined to Arrow stages. Writes
docs/PLANS.md so the evidence is reviewable without running Spark.

Run: python tools/explain_audit.py
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_PROBE_MARK = "-- pre-checkpoint stage (operators.sequence.PLAN_PROBE["


def _stable_text(text: str) -> str:
    """docs/PLANS.md text with the run-specific ids masked: expression
    ids (name#123L), exchange plan ids (plan_id=22378), RDD ids
    (MapPartitionsRDD[46]) and the audit's temp-dir names. A re-run
    then rewrites the file byte-identically, and after a code change
    `git diff` shows only the plans that changed, not ids shifted by
    it. The checks always evaluate the raw plan."""
    text = re.sub(r"(?<=[\w)])#\d+", "#x", text)
    text = re.sub(r"plan_id=\d+", "plan_id=x", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[x]", text)
    return re.sub(r"(larbin_audit_(?:web|snap)_)\w+", r"\1x", text)


def _main_section(p: str) -> str:
    """The query's own plan text, without the appended probe plans."""
    return p.split(_PROBE_MARK)[0]


def _probe_section(p: str, key: str) -> str:
    """The plan text of one PLAN_PROBE section (empty if absent)."""
    for seg in p.split(_PROBE_MARK)[1:]:
        if seg.startswith(f"{key!r}]"):
            return seg
    return ""


def _probe_plans(p: str) -> str:
    """All appended PLAN_PROBE sections (empty if none)."""
    _, _, rest = p.partition(_PROBE_MARK)
    return rest


def _n_hash_exchanges(p: str) -> int:
    """Count shuffle exchanges partitioned by hash — ONLY the
    Exchange nodes' own details lines ('Arguments:
    hashpartitioning(...)'). A bare substring count would also match
    the outputPartitioning metadata that `Scan ExistingRDD` prints
    for checkpointed tables, inflating the count with shuffles that
    do not exist in this plan. Range exchanges from a final
    presentation orderBy are not counted."""
    return p.count("Arguments: hashpartitioning(")


# query name -> list of (check name, predicate over plan text)
CHECKS = {
    "crawl_dim_join_agg": [
        ("broadcast joins for dims", lambda p: p.count("BroadcastHashJoin") >= 3),
        ("partial aggregation (map-side combine)",
         lambda p: "partial_sum" in p or "partial_count" in p),
        ("column pruning on lineitem",
         lambda p: re.search(r"ReadSchema: [^\n]*l_extendedprice", p)
         is not None and "l_comment" not in p),
        ("whole-stage codegen", lambda p: "codegen id" in p),
    ],
    "crawl_seen_antijoin": [
        ("anti join", lambda p: "LeftAnti" in p),
        ("filter pushed to orders scan",
         lambda p: re.search(r"PushedFilters: [^\n]*o_orderpriority", p)
         is not None),
    ],
    "crawl_sequencer_cap": [
        ("single hash exchange for window",
         lambda p: _n_hash_exchanges(p) == 1),
        ("map-side top-k (WindowGroupLimit before shuffle)",
         lambda p: p.count("WindowGroupLimit") >= 2),
        ("rank filter applied", lambda p: "row_number" in p),
    ],
    "crawl_explode_links": [
        ("generate/explode", lambda p: "explode" in p),
        ("partial count before shuffle", lambda p: "partial_count" in p),
    ],
    "dedup_ngram_jaccard": [
        ("stop-shingle df-cap anti-join present",
         lambda p: "LeftAnti" in p),
        ("no cartesian product (self-join keyed on shingle)",
         lambda p: "CartesianProduct" not in p),
    ],
    "dedup_embedding_neardup": [
        ("no cartesian product (bucketed LSH join)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("pure JVM cosine (no Python stage)",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p),
    ],
    "dedup_exact": [
        ("no python stage (md5 is JVM)", lambda p: "ArrowEvalPython" not in p
         and "MapInPandas" not in p),
        ("single hash exchange", lambda p: _n_hash_exchanges(p) == 1),
    ],
    "dedup_substring": [
        ("pure JVM HOF k-grams + rebuild (no Python stage)",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("map-side partial count on the k-gram agg",
         lambda p: "partial_count" in p),
        ("no cartesian product (occurrence->verdict is keyed on kg)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "text_quality": [
        ("pure JVM column arithmetic (no Python at all)",
         lambda p: "ArrowEvalPython" not in p and "BatchEvalPython" not in p
         and "codegen id" in p),
    ],
    "ann_cosine_topk": [
        ("query side broadcast",
         lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p),
        ("no shuffle cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "graph_pagerank": [
        ("pure JVM hashing + integer arithmetic (no Python stage)",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("map-side partial aggregation of edge contributions",
         lambda p: "partial_sum" in p),
        ("no cartesian product (iteration joins keyed on node/dst; "
         "the only nested-loop joins are the single-row meta "
         "broadcasts, which every input row needs)",
         lambda p: "CartesianProduct" not in p),
        ("contribution joins are hash joins on the node key",
         lambda p: p.count("ShuffledHashJoin") + p.count("SortMergeJoin")
         + p.count("BroadcastHashJoin") >= 3),
    ],
    "crawl_url_filter": [
        ("filter kernel runs as vectorized Arrow eval, never "
         "row-at-a-time Python",
         lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p),
        ("single scan of the input",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
    ],
    "crawl_robots_gate": [
        ("robots matching runs as vectorized Arrow eval, never "
         "row-at-a-time Python",
         lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p),
        ("single scan of the input",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
    ],
    "crawl_canonicalize": [
        ("canonicalization runs as vectorized Arrow eval, never "
         "row-at-a-time Python",
         lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p),
        ("single scan of the input",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
    ],
    "analytics_quantiles": [
        ("no unpartitioned window: the cumulative count is the "
         "two-phase cumsum, never `sum() OVER (ORDER BY v)`",
         lambda p: "windowspecdefinition" not in p),
        ("carry offsets joined by broadcast",
         lambda p: any("_goff" in b for b in _broadcast_inputs(p))),
        ("value counts compressed with map-side partial aggregation",
         lambda p: "partial_count" in p),
    ],
    "text_unigram_surprisal": [
        ("pure JVM (explode/conv/hash-agg), no Python stage",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("map-side partial aggregation of token counts",
         lambda p: "partial_count" in p),
        ("the occurrence->weight join is keyed (hash/sort-merge on "
         "token), never cartesian; the only nested-loop join is the "
         "single-row corpus-total broadcast",
         lambda p: "CartesianProduct" not in p
         and len(_tree_nodes(p, "BroadcastNestedLoopJoin")) <= 1
         and len(_tree_nodes(p, "ShuffledHashJoin"))
         + len(_tree_nodes(p, "SortMergeJoin"))
         + len(_tree_nodes(p, "BroadcastHashJoin")) >= 1),
    ],
    "text_bigram_surprisal": [
        ("pure JVM (HOF bigram stream/conv/hash-agg), no Python "
         "stage",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("map-side partial aggregation of bigram counts",
         lambda p: "partial_count" in p),
        ("occurrence->weight and count->context joins are keyed, "
         "never cartesian or nested-loop (no single-row total here)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p
         and len(_tree_nodes(p, "ShuffledHashJoin"))
         + len(_tree_nodes(p, "SortMergeJoin"))
         + len(_tree_nodes(p, "BroadcastHashJoin")) >= 2),
    ],
    "curation_dsir_weights": [
        ("pure JVM (HOF gram stream/md5/hash-agg), no Python stage",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("map-side partial aggregation of bucket counts (audited in "
         "the pre-checkpoint dsir:wt probe — r5 single-pass form)",
         lambda p: "partial_count" in _probe_section(p, "dsir:wt")),
        ("raw + target bucket counts come from ONE hash-agg over the "
         "gram stream (a conditional sum, not a second agg): exactly "
         "one Exchange hashpartitioning(bucket...) in the dsir:wt "
         "probe and no Filter between the checkpoint scan and it",
         lambda p: _probe_section(p, "dsir:wt").count(
             "Arguments: hashpartitioning(bucket") == 1
         and "Filter" not in _probe_section(p, "dsir:wt")),
        ("the corpus parquet is scanned exactly ONCE, in the "
         "checkpointed gram stream (dsir:grams probe); the query's "
         "own plan reads only the checkpoint",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet",
                                  _probe_section(p, "dsir:grams"))) == 1
         and len(re.findall(r"\(\d+\) Scan parquet",
                            _main_section(p))) == 0),
        ("the n_buckets-row weight table rides a broadcast onto the "
         "occurrence stream (the corpus side is never the build)",
         lambda p: any("imp" in b for b in _broadcast_inputs(p))),
        ("no cartesian; the only nested-loop join is the single-row "
         "totals broadcast",
         lambda p: "CartesianProduct" not in p
         and len(_tree_nodes(p, "BroadcastNestedLoopJoin")) <= 1),
    ],
    "text_corpus_composition": [
        ("pure JVM pivot aggregation, no Python stage",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("pivot compiles to hash aggregation with map-side partials",
         lambda p: "partial_" in p and "HashAggregate" in p),
        ("pivot values are explicit: no value-discovery pass — at "
         "most the two aggregation branches scan the corpus",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2),
    ],
    "dedup_pq_blocked": [
        ("pure JVM (broadcast-fold assignment + cell equi-join), no "
         "Python stage",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("the candidate join is keyed on the product cell — never a "
         "cartesian product (the only nested-loop joins are the "
         "k-row centroid-array broadcasts of the assignment folds)",
         lambda p: "CartesianProduct" not in p),
        ("pair verification happens on the joined rows only: the "
         "cosine is a per-pair fold — no window anywhere in the plan",
         lambda p: "windowspecdefinition" not in p),
    ],
    "curation_temperature_mix": [
        ("pure JVM, no Python stage",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("per-language token mass uses map-side partial aggregation",
         lambda p: "partial_sum" in p),
        ("single corpus scan",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ("no cartesian; the only nested-loop join is the single-row "
         "weight-total broadcast",
         lambda p: "CartesianProduct" not in p
         and len(_tree_nodes(p, "BroadcastNestedLoopJoin")) <= 1),
    ],
    "text_tfidf_keywords": [
        ("pure JVM, no Python stage",
         lambda p: "ArrowEvalPython" not in p and "MapInPandas" not in p
         and "BatchEvalPython" not in p),
        ("map-side partial aggregation of tf counts",
         lambda p: "partial_count" in p),
        ("per-doc top-k pushed map-side (WindowGroupLimit)",
         lambda p: p.count("WindowGroupLimit") >= 2),
        ("tf x idf join is keyed, never cartesian (only nested-loop "
         "join is the single-row N broadcast)",
         lambda p: "CartesianProduct" not in p
         and len(_tree_nodes(p, "BroadcastNestedLoopJoin")) <= 1
         and len(_tree_nodes(p, "ShuffledHashJoin"))
         + len(_tree_nodes(p, "SortMergeJoin"))
         + len(_tree_nodes(p, "BroadcastHashJoin")) >= 1),
    ],
    "text_top_terms": [
        ("map-side top-k (WindowGroupLimit before shuffle)",
         lambda p: p.count("WindowGroupLimit") >= 2),
        ("partial aggregation of token counts",
         lambda p: "partial_count" in p),
        ("the only window partitions by lang (vocabulary-sized, "
         "never corpus-sized)",
         lambda p: all(
             w.startswith("windowspecdefinition(lang")
             for w in re.findall(r"windowspecdefinition\([^)]*\)", p))),
    ],
    "analytics_sessionize": [
        ("one hash exchange for both windows + agg",
         lambda p: _n_hash_exchanges(p) == 1),
        ("partial aggregation", lambda p: "partial_sum" in p),
    ],
    "analytics_asof_join": [
        ("union+window, not inequality join",
         lambda p: "Union" in p and "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "analytics_rollup": [
        ("expand + partial agg",
         lambda p: "Expand" in p and "partial_sum" in p),
    ],
    "curation_decontaminate": [
        ("eval-shingle set broadcast (benchmark side is bounded; the "
         "corpus side streams) — the broadcast input must carry the "
         "shingle column, not just any broadcast somewhere",
         lambda p: any("shingle" in b for b in _broadcast_inputs(p))),
        ("no cartesian product (overlap keyed on shingle)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("partial aggregation (map-side combine)",
         lambda p: "partial_count" in p),
    ],
    "curation_stratified_sample": [
        ("stateless hash predicate: zero hash-partition shuffles "
         "(the only exchange is the presentation sort)",
         lambda p: _n_hash_exchanges(p) == 0),
        ("pure JVM column arithmetic (no Python at all)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "codegen id" in p),
    ],
    # budget_pack's cumsum pass is localCheckpointed, so the final
    # plan alone shows only `Scan ExistingRDD`; the audit appends the
    # pre-checkpoint plan from operators.sequence.PLAN_PROBE (see
    # PRE_CHECKPOINT_PROBES below) so these predicates see the stage
    # that actually ran.
    "curation_budget_pack": [
        ("no per-source window: the running sum is the two-phase "
         "scheme (a giant source would otherwise funnel through one "
         "task) — any windowspecdefinition partitioned on source "
         "fails this",
         lambda p: not any(
             w.startswith("windowspecdefinition(source")
             for w in re.findall(r"windowspecdefinition\([^)]*\)", p))),
        ("carry offsets joined by broadcast",
         lambda p: any("_goff" in b for b in _broadcast_inputs(p))),
        ("local cumsum is one Arrow pass (MapInPandas), no "
         "row-at-a-time Python",
         lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
        ("ONE corpus scan: tokens + quality fold into a single "
         "projection (no second pass joined back on doc_id)",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
    ],
    "curation_pack_sequences": [
        ("no unpartitioned window: the global stream offset is the "
         "two-phase cumsum, never `sum() OVER (ORDER BY doc_id)` "
         "(whole corpus through one task)",
         lambda p: "windowspecdefinition" not in p),
        ("carry offsets joined by broadcast",
         lambda p: any("_goff" in b for b in _broadcast_inputs(p))),
        ("local cumsum is one Arrow pass (MapInPandas), no "
         "row-at-a-time Python",
         lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
    ],
    "multimodal_pack": [
        ("span costs are pure JVM higher-order functions fused into "
         "the scan (the only Python is the cumsum's Arrow pass)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p),
        ("no unpartitioned window: the global stream offset is the "
         "two-phase cumsum, never `sum() OVER (ORDER BY doc_id)`",
         lambda p: "windowspecdefinition" not in p),
        ("carry offsets joined by broadcast",
         lambda p: any("_goff" in b for b in _broadcast_inputs(p))),
        ("local cumsum is one Arrow pass (MapInPandas), no "
         "row-at-a-time Python",
         lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
    ],
    "curation_training_shuffle": [
        ("no global window: the permutation rank is the two-phase "
         "scheme, never row_number() OVER (ORDER BY hash) (whole "
         "corpus through one task)",
         lambda p: "windowspecdefinition" not in p),
        ("range shuffle on the (uniform) hash key",
         lambda p: "rangepartitioning(_shuf_key" in p),
        ("per-partition offsets joined by broadcast",
         lambda p: any("_off" in b for b in _broadcast_inputs(p))),
        ("local rank is one Arrow pass (MapInPandas), no "
         "row-at-a-time Python",
         lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
    ],
    "ann_quantize": [
        ("pure JVM higher-order array functions (no Python at all)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("stateless row map: zero hash-partition shuffles (the only "
         "exchange is the presentation sort)",
         lambda p: _n_hash_exchanges(p) == 0),
    ],
    "spans_profile": [
        ("pure JVM higher-order span-array functions (no Python)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("stateless row map over the spans column: zero "
         "hash-partition shuffles",
         lambda p: _n_hash_exchanges(p) == 0),
    ],
    "dedup_semantic": [
        ("pure JVM k-means + pruning (no Python stage)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("no cartesian product: the only nested-loop joins are the "
         "single-row broadcast centroid-array attachments",
         lambda p: "CartesianProduct" not in p),
        ("in the assignment probes every broadcast subtree is "
         "k-bounded (the vec_id<k init Filter or the collect_list "
         "centroid-array aggregate) — a broadcast of any bare scan, "
         "parquet OR checkpointed points, fails (the main plan's "
         "pair-join sides are the planner's size-based choice and "
         "flip to SMJ at scale)",
         lambda p: _centroid_broadcasts_only(_probe_plans(p))),
        ("centroid update partial-aggregates map-side (shuffle "
         "payload O(k*dim), not O(N*dim))",
         lambda p: "partial_sum" in p),
        ("the assignment fold is shuffle-free: zero hash exchanges "
         "in the kmeans:assigned probe plan",
         lambda p: _probe_section(p, "kmeans:assigned") != ""
         and _n_hash_exchanges(_probe_section(p, "kmeans:assigned"))
         == 0),
        ("the dup-pair join is an equi-join KEYED on the cluster id "
         "(join keys [cluster...] in the query's own plan) — never "
         "all-pairs",
         lambda p: re.search(r"keys \[\d+\]: \[cluster",
                             _main_section(p)) is not None),
    ],
    "ann_pq_codes": [
        ("pure JVM subspace quantization (no Python stage)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("no cartesian product: the only nested-loop joins are the "
         "single-row broadcast codebook-array attachments",
         lambda p: "CartesianProduct" not in p),
        ("in the assignment probes every broadcast subtree is "
         "k-bounded (init Filter or collect_list codebook agg)",
         lambda p: _centroid_broadcasts_only(_probe_plans(p))),
        ("codebook update partial-aggregates map-side",
         lambda p: "partial_sum" in p),
        ("the final assignment fold is shuffle-free: zero hash "
         "exchanges in the kmeans:assigned probe",
         lambda p: _probe_section(p, "kmeans:assigned") != ""
         and _n_hash_exchanges(_probe_section(p, "kmeans:assigned"))
         == 0),
        ("long-form subspace expansion: ONE posexplode Generate "
         "feeds all m subspaces from a single corpus scan (r5 — no "
         "per-subspace re-scan, no Union of m serial runs)",
         lambda p: "posexplode(array" in _main_section(p)
         and "Union" not in _main_section(p)),
    ],
    "text_bpe_merges": [
        ("pure JVM token folds (no Python stage)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("the K chained merge rewrites are map-only: zero hash "
         "exchanges in the query's own plan",
         lambda p: _n_hash_exchanges(_main_section(p)) == 0),
        ("pair counting partial-aggregates map-side (shuffle payload "
         "O(distinct pairs), not O(tokens))",
         lambda p: "partial_count" in _probe_section(p, "bpe:top1")),
        ("top-pair selection is a TakeOrdered, never a global sort",
         lambda p: all("TakeOrderedAndProject" in _probe_section(p, k)
                       for k in ("bpe:top1", "bpe:top2", "bpe:top3"))),
    ],
    "curation_prototype_prune": [
        ("pure JVM k-means + rank (no Python stage)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("no cartesian product",
         lambda p: "CartesianProduct" not in p),
        ("prototypicality rank + cluster count share one window "
         "partitioning: exactly ONE hash exchange in the query's "
         "own plan (the cluster window; the assignment fold adds "
         "none)",
         lambda p: "row_number" in p and "count(1)" in p
         and _n_hash_exchanges(_main_section(p)) == 1),
    ],
    "curation_pii_scrub": [
        ("pure JVM regexp_count/regexp_replace (no Python at all)",
         lambda p: "ArrowEvalPython" not in p
         and "BatchEvalPython" not in p and "codegen id" in p),
        ("stateless row map: zero hash-partition shuffles (the only "
         "exchange is the presentation sort)",
         lambda p: _n_hash_exchanges(p) == 0),
    ],
    # the composed pipeline: every stage's own audit above still
    # applies; here we assert the COMPOSITION added no scale hazards
    # (the id-list joins are per-doc aggregates, so nothing
    # row-multiplying or corpus-broadcasting appears).
    "curation_pipeline": [
        ("no cartesian product / nested-loop join anywhere in the "
         "composed plan",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("eval-shingle set still broadcast inside the composition "
         "(a broadcast input carrying the shingle column — the "
         "cumsum's offset broadcast alone must not satisfy this)",
         lambda p: any("shingle" in b for b in _broadcast_inputs(p))),
        ("contamination drop is an anti-join on doc_id",
         lambda p: "LeftAnti" in p),
        ("no per-source window leaked back in (budget_pack stage "
         "stays two-phase)",
         lambda p: not any(
             w.startswith("windowspecdefinition(source")
             for w in re.findall(r"windowspecdefinition\([^)]*\)", p))),
        ("Python confined to Arrow stages",
         lambda p: "BatchEvalPython" not in p),
    ],
    "curation_repetition": [
        ("all windows partition by doc_id (bounded groups)",
         lambda p: all(w.startswith("windowspecdefinition(doc_id")
                       for w in re.findall(
                           r"windowspecdefinition\([^)]*\)", p))),
        ("ONE corpus pass: the tokenized corpus is scanned once and "
         "its doc_id exchange reused by the second branch",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
         and re.search(r"\(\d+\) ReusedExchange", p)),
        ("single corpus shuffle: every agg/join downstream runs on "
         "the one doc_id partitioning (the only other exchange is "
         "the presentation sort)",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
}


def _broadcast_inputs(plan: str):
    """Input column lists of every BroadcastExchange node (same
    technique as tests/test_fetch_join_plan.py)."""
    out = []
    for b in re.split(r"\n\(\d+\) ", plan):
        if b.startswith("BroadcastExchange"):
            m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
            out.append(m.group(1) if m else "")
    return out


def _tree_nodes(plan: str, name: str):
    """Occurrences of a node in the TREE section ('Name [qualifiers]
    (id)' form, e.g. 'SortMergeJoin LeftOuter (39)'; the details
    section prints '(id) Name' and is not matched)."""
    return re.findall(rf"{name}[^\n(]*\(\d+\)", plan)


def _subtree_of(plan: str, node_id: str) -> str:
    """The formatted-explain TREE subtree rooted at the node with the
    given id: its line plus every following line with a strictly
    longer drawing prefix (':- ', '+- ', indent, codegen '*')."""
    lines = plan.split("\n")
    def _depth(l: str) -> int:
        return len(re.match(r"^[\s:+\-|*]*", l).group(0))
    for i, l in enumerate(lines):
        if re.search(rf"\({node_id}\)\s*$", l):
            d = _depth(l)
            sub = [l]
            for l2 in lines[i + 1:]:
                if not l2.strip() or _depth(l2) <= d:
                    break
                sub.append(l2)
            return "\n".join(sub)
    return ""


def _centroid_broadcasts_only(plan: str) -> bool:
    """semantic.py assignment joins must broadcast the k-bounded
    centroid side only: a BroadcastExchange subtree must carry the
    vec_id<k init Filter or an aggregate (the collect_list
    centroid-array build / the dup-id distinct). A broadcast of any
    BARE scan — the parquet points or the checkpointed point table
    (Scan ExistingRDD) — is the corpus side leaking in and fails."""
    for m in re.finditer(r"BroadcastExchange[^\n(]*\((\d+)\)\s*$", plan,
                         re.MULTILINE):
        sub = _subtree_of(plan, m.group(1))
        if "Filter" not in sub and "HashAggregate" not in sub:
            return False
    return True


_SLOT_COL_MARKERS = ("dns_state", "ff_state", "ff_forbidden", "nburls")


def _slot_broadcasts_reduced(plan: str) -> bool:
    """No BroadcastExchange may carry FULL-slot-table columns: the
    slot space is config-widened to ~10^8 rows at the north-rule
    scale, so slot columns may enter a broadcast ONLY below a LeftSemi
    reduction by the budget-bounded take (VERDICT r3 #3). The
    integration audit runs with autoBroadcastJoinThreshold=-1, so any
    BroadcastExchange seen here is an explicit hint."""
    for m in re.finditer(r"\((\d+)\) BroadcastExchange[^\n]*\n"
                         r"Input \[\d+\]: \[([^\]]*)\]", plan):
        node_id, cols = m.group(1), m.group(2)
        if any(mk in cols for mk in _SLOT_COL_MARKERS):
            if "LeftSemi" not in _subtree_of(plan, node_id):
                return False
    return True


def _has_reduced_slot_broadcast(plan: str) -> bool:
    """True iff some BroadcastExchange carries slot columns AND sits
    above a LeftSemi reduction — the positive shape phase B must
    have (reduced slot rows broadcast onto the take)."""
    for m in re.finditer(r"\((\d+)\) BroadcastExchange[^\n]*\n"
                         r"Input \[\d+\]: \[([^\]]*)\]", plan):
        if (any(mk in m.group(2) for mk in _SLOT_COL_MARKERS)
                and "LeftSemi" in _subtree_of(plan, m.group(1))):
            return True
    return False


def _no_slot_broadcast(plan: str) -> bool:
    """Stricter form for the link fast-fail gate: slot columns must
    not appear in ANY BroadcastExchange (the join is left unhinted so
    the planner broadcasts only on real size; with the audit's
    threshold=-1 a hit here means a forced broadcast regressed)."""
    return all(not any(mk in b for mk in _SLOT_COL_MARKERS)
               for b in _broadcast_inputs(plan))


# Integration audit: the per-query checks above can't see plans that
# only exist INSIDE run_round. RoundRunner.plan_probe captures the
# pre-checkpoint lazy frames of the round's four heavy stages; with
# autoBroadcastJoinThreshold=-1 every BroadcastExchange left in a
# plan comes from an explicit hint, so "no growing-table broadcast"
# is mechanically checkable.
CRAWL_CHECKS = {
    "B_take": [
        ("no Window over the frontier: the only Window (take_rank) "
         "consumes the budget-limited global take, not st.queues "
         "(valve = qseq watermark filter, VERDICT r2 #2)",
         lambda p: len(_tree_nodes(p, "Window")) == 1
         and (_tree_nodes(p, "TakeOrderedAndProject")
              or _tree_nodes(p, "GlobalLimit"))
         and p.index("Window (")
         < p.index("TakeOrderedAndProject ("
                   if _tree_nodes(p, "TakeOrderedAndProject")
                   else "GlobalLimit (")),
        ("no WindowGroupLimit/rank scan of the full queue table",
         lambda p: "WindowGroupLimit" not in p),
    ],
    "B_routed": [
        ("slot routing is Arrow (FlatMapGroupsInPandas), no "
         "row-at-a-time Python",
         lambda p: len(_tree_nodes(p, "FlatMapGroupsInPandas")) >= 1
         and "BatchEvalPython" not in p),
        ("no second frontier scan: the take is checkpointed before "
         "fan-out (B_take carries the TakeOrdered), so this plan has "
         "no Window and no TakeOrdered of its own",
         lambda p: len(_tree_nodes(p, "Window")) == 0
         and not _tree_nodes(p, "TakeOrderedAndProject")),
        ("slot columns broadcast ONLY below the take-side LeftSemi "
         "reduction — never the full slot table (VERDICT r3 #3)",
         lambda p: _slot_broadcasts_reduced(p)
         and _has_reduced_slot_broadcast(p)),
    ],
    "D_sched": [
        ("politeness windows partition by ip_hash (bounded k per "
         "bucket); the only global-order windows are the known "
         "budget-bounded sequences (take_rank over the checkpointed "
         "phase-B take, dns_queue_pos over the dns-budget scan) — any "
         "NEW unpartitioned window fails this",
         lambda p: sum(w.startswith("windowspecdefinition(ip_hash")
                       for w in re.findall(r"windowspecdefinition\([^)]*\)",
                                           p)) >= 2
         and all(("ip_hash" in w or "take_rank" in w
                  or "dns_queue_pos" in w) for w in
                 re.findall(r"windowspecdefinition\([^)]*\)", p))),
    ],
    "D_fetched": [
        ("fetch_seq assigned by the two-phase distributed rank when "
         "uncapped: no Window at all, only the broadcast offsets join "
         "over the materialized ranked set",
         lambda p: len(_tree_nodes(p, "Window")) == 0
         and any("_off" in b for b in _broadcast_inputs(p))),
    ],
    "E_pages": [
        ("documents never broadcast: no BroadcastExchange input "
         "carries spans/doc_id beyond the bounded batch",
         lambda p: all("spans" not in b for b in _broadcast_inputs(p))),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
        ("the page payload is never shuffled: every Exchange in the "
         "payload pass is a BroadcastExchange (docs scan -> broadcast "
         "fetch join -> per-page compute -> checkpoint, at the scan's "
         "partitioning; the round-robin repartition materialization "
         "is gone)",
         lambda p: not re.findall(
             r"(?<![A-Za-z])Exchange [^\n(]*\(\d+\)", p)),
        ("no Window over the payload: the dup decision runs on the "
         "projected-keys stage (E_dupkeys), never here",
         lambda p: len(_tree_nodes(p, "Window")) == 0),
    ],
    "E_dupkeys": [
        ("dup decision reads the checkpointed (fetch_seq, c_bucket) "
         "projection — no documents rescan, no content-hash "
         "recompute (the hash lives in the E_pages checkpoint)",
         lambda p: "documents.parquet" not in p
         and "ArrowEvalPython" not in p),
        ("the only window partitions by c_bucket (content-hash "
         "buckets, bounded groups — never the payload frame)",
         lambda p: len(re.findall(
             r"windowspecdefinition\([^)]*\)", p)) >= 1
         and all(w.startswith("windowspecdefinition(c_bucket")
                 for w in re.findall(
                     r"windowspecdefinition\([^)]*\)", p))),
    ],
    "E_links": [
        # the extract+gate chain up to its once-per-round checkpoint
        # (every consumer — survivors dedup, gate-error metrics, the
        # enqueue rank — reads the checkpointed frame, so this plan
        # is the ONLY execution of the extract mapInPandas)
        ("link extraction is Arrow (MapInPandas), no row-at-a-time "
         "Python",
         lambda p: len(_tree_nodes(p, "MapInPandas")) >= 1
         and "BatchEvalPython" not in p),
        ("fast-fail slot gate never force-broadcast: with the "
         "audit's threshold=-1, ff_/slot columns in any "
         "BroadcastExchange mean an explicit broadcast hint "
         "regressed (VERDICT r3 #3)",
         lambda p: _no_slot_broadcast(p)),
        ("span array pruned JVM-side before the Arrow transfer: "
         "only link-bearing kinds (anchor/frame/base[/media]) cross "
         "into the extract workers — text spans, ~all the page "
         "mass, never do (docs/SCALE.md §5)",
         lambda p: "filter(spans" in p and "anchor" in p),
    ],
    "E_curation": [
        # inline curation: all six signatures ride one vectorized
        # Arrow pass (the JVM-expression form of the five cheap ones
        # cost ~1.1 s of single-task string scans per ~600 pages in
        # the phase-E checkpoint). The whole finalize must be a pure
        # projection + one MapInPandas over the checkpointed pages —
        # no shuffle, no row-at-a-time Python, no join.
        ("curation finalize is one Arrow pass (MapInPandas), no "
         "row-at-a-time Python",
         lambda p: len(_tree_nodes(p, "MapInPandas")) == 1
         and "BatchEvalPython" not in p),
        ("no shuffle: signatures are a projection over the already-"
         "materialized pages; the only join is the map-side "
         "broadcast of the bounded per-round dup verdicts (no "
         "documents rescan, no payload exchange)",
         lambda p: not re.findall(
             r"(?<![A-Za-z])Exchange [^\n(]*\(\d+\)", p)
         and not _tree_nodes(p, "SortMergeJoin")
         and not _tree_nodes(p, "ShuffledHashJoin")
         and "CartesianProduct" not in p
         and "documents.parquet" not in p),
    ],
    "E_survivors": [
        ("URL-seen probed by shuffle join, never broadcast (the seen "
         "table grows without bound)",
         lambda p: all("seen_hit" not in b and "bucket" not in b
                       for b in _broadcast_inputs(p))
         and (_tree_nodes(p, "SortMergeJoin")
              or _tree_nodes(p, "ShuffledHashJoin"))),
        ("seen dedup + bucket hashing stay Arrow-side",
         lambda p: "BatchEvalPython" not in p),
    ],
}

# Queries whose operator localCheckpoints an internal stage: the
# audit appends those stages' pre-checkpoint plans (stored in
# operators.sequence.PLAN_PROBE by the operator itself) to the
# audited text, so predicates can see inside the checkpoint barrier.
PRE_CHECKPOINT_PROBES = {
    "curation_budget_pack": ["group_cumsum:source->cum_tokens"],
    "curation_pack_sequences": ["group_cumsum:_stream->_end"],
    "multimodal_pack": ["group_cumsum:_stream->_end@pack_interleaved"],
    # the composed pipeline cuts at the curated base AND inside the
    # cumsum; both hidden stages are audited
    "curation_pipeline": ["curate_mix:base",
                          "group_cumsum:source->cum_tokens"],
    "curation_training_shuffle":
        ["global_seq:_shuf_key,doc_id->shuffle_pos"],
    "analytics_quantiles": ["group_cumsum:_g->cum"],
    # the gram stream and the bucket-count table are lazily
    # checkpointed (single corpus scan); audit both hidden stages
    "curation_dsir_weights": ["dsir:grams", "dsir:wt"],
    # the Lloyd loop eager-checkpoints each k-row centroid rebuild
    # and lazily checkpoints the final assignment; audit all of them
    "dedup_semantic": ["kmeans:cent1", "kmeans:cent2",
                       "kmeans:assigned"],
    "curation_prototype_prune": ["kmeans:cent1", "kmeans:cent2"],
    # pq_codes runs the same Lloyd core once per subspace; the
    # registered probes are the LAST subspace's (each call clears
    # its predecessor's), which audits the shared dataflow
    "ann_pq_codes": ["kmeans:cent1", "kmeans:cent2",
                     "kmeans:assigned"],
    # the per-round top-pair plans are consumed at build time (one
    # bounded driver row each); audited via the registered probes
    "text_bpe_merges": ["bpe:top1", "bpe:top2", "bpe:top3"],
}


def audit_crawl_round(spark, out: list) -> int:
    import tempfile
    import contextlib
    import io
    from larbin_spark.config import CrawlConfig
    from larbin_spark.fixtures.webgen import gen_web, write_parquet
    from larbin_spark.plans.round import RoundRunner
    from larbin_spark.plans.state import CrawlState

    web = gen_web(n_hosts=24, base_pages=14)
    d = tempfile.mkdtemp(prefix="larbin_audit_web_")
    write_parquet(web, d)
    dims = {n: spark.read.parquet(os.path.join(d, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}
    seeds = [s["url"] for s in sorted(web["seeds"],
                                      key=lambda s: s["order"])]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # curate=True so the audited round is the FULL product shape:
    # the E_curation probe (the Arrow signature finalize) exists;
    # page_no_duplicate=True so the projected-keys dup stage
    # (E_dupkeys) exists and its scale properties are asserted
    runner = RoundRunner(spark, CrawlConfig(curate=True,
                                            page_no_duplicate=True),
                         dims)
    runner.plan_probe = {}
    # mimic the production cadence (plans/crawl.py): every round
    # commits + reloads from parquet, so each audited round's plan
    # starts from file scans — exactly what executes in a real crawl
    from larbin_spark.sources.catalog import SnapshotStore
    store = SnapshotStore(tempfile.mkdtemp(prefix="larbin_audit_snap_"))
    st = runner.seed(CrawlState.empty(spark), seeds)
    for rnd in range(3):  # round 2's plans see non-trivial state
        st = runner.run_round(st, rnd)
        st.save(store, rnd + 1)
        st = CrawlState.load(spark, store, rnd + 1)

    out.append("## crawl round (integration: RoundRunner.run_round)")
    out.append("")
    out.append("Captured from the third production round over the "
               "parity fixture (auto-broadcast OFF: every "
               "BroadcastExchange is an explicit hint).")
    out.append("")
    n_fail = 0
    for stage, checks in CRAWL_CHECKS.items():
        df = runner.plan_probe[stage]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"### {stage}")
        out.append("")
        for label, pred in checks:
            try:
                ok = bool(pred(plan))
            except Exception:
                ok = False
            n_fail += 0 if ok else 1
            out.append(f"- {'PASS' if ok else 'FAIL'}: {label}")
            print(f"crawl_round/{stage}: {'PASS' if ok else 'FAIL'} {label}")
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
    return n_fail


def main() -> None:
    from pyspark.sql import SparkSession
    import __spark_entry__ as em

    spark = (SparkSession.builder.master("local[8]")
             .appName("larbin-explain-audit")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "false")  # full static plan
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    queries = em.queries()
    out = ["# Physical plans — scale-property audit",
           "",
           "Generated by `tools/explain_audit.py` (AQE off for a full",
           f"static plan; input {SF_DIR}). Each query lists the",
           "properties that must hold for the plan to survive a 100x",
           "scale-up, then the formatted plan.",
           ""]
    n_fail = 0
    for name, checks in CHECKS.items():
        df = queries[name](spark, SF_DIR)
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
            for probe_key in PRE_CHECKPOINT_PROBES.get(name, []):
                from larbin_spark.operators import sequence
                print(f"-- pre-checkpoint stage (operators.sequence."
                      f"PLAN_PROBE[{probe_key!r}]) --")
                sequence.PLAN_PROBE[probe_key].explain("formatted")
        plan = buf.getvalue()
        out.append(f"## {name}")
        out.append("")
        for label, pred in checks:
            ok = bool(pred(plan))
            n_fail += 0 if ok else 1
            out.append(f"- {'PASS' if ok else 'FAIL'}: {label}")
            print(f"{name}: {'PASS' if ok else 'FAIL'} {label}")
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
    n_fail += audit_crawl_round(spark, out)
    spark.stop()

    md = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "PLANS.md")
    with open(md, "w") as fp:
        fp.write(_stable_text("\n".join(out)))
    print(f"wrote {md}; {n_fail} failed checks")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
