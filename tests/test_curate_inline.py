"""Inline curation (cfg.curate): phase F records per-page rowsig
signatures for every successful fetch into the grow-only `curation`
table. Correctness pin: the inline (during-crawl, incremental) rows —
computed by the vectorized kernels in phase E's one Arrow finalize
pass — must equal a post-hoc second pass of the expression forms
over the final docs_out table: curate-while-crawling changes WHEN and
HOW the signatures are computed, never their values. Cross-engine
value parity of the expressions themselves is the text_rowsigs
contract query; rowsig-vs-agg-operator and kernel-vs-expression
parity are tests/test_rowsigs.py."""

import os

import pytest

from larbin_spark.config import CrawlConfig
from larbin_spark.pipeline.rowsigs import curation_from_docs
from larbin_spark.plans.crawl import run_crawl
from larbin_spark.plans.state import CrawlState
from larbin_spark.sources.catalog import SnapshotStore

ROUNDS = 4


@pytest.fixture(scope="module")
def dims(spark, fixture_dir):
    return {n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
            for n in ("documents", "hosts", "robots")}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_inline_equals_posthoc(spark, dims, seeds):
    st = run_crawl(spark, CrawlConfig(curate=True), dims, list(seeds),
                   max_rounds=ROUNDS)
    inline = _rows(st.tables["curation"])
    assert inline, "crawl fetched pages but curated nothing"
    posthoc = _rows(curation_from_docs(st.tables["docs_out"]))
    assert inline == posthoc
    # one row per successful fetch, keyed like docs_out
    assert len(inline) == st.tables["docs_out"].count()


def test_curation_survives_snapshot_roundtrip(spark, dims, seeds, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps"))
    st = run_crawl(spark, CrawlConfig(curate=True), dims, list(seeds),
                   max_rounds=ROUNDS, store=store)
    reloaded = CrawlState.load(spark, store, store.latest())
    assert _rows(reloaded.tables["curation"]) == \
        _rows(st.tables["curation"])


def test_curate_off_stays_empty(spark, dims, seeds):
    st = run_crawl(spark, CrawlConfig(), dims, list(seeds), max_rounds=2)
    assert st.tables["curation"].count() == 0
