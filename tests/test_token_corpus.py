"""The tier's one token corpus (``dedup.doc_tokens``): a registry entry,
tokenized once per (session, tier) and range-laid on ``doc_id``, that
serves the text, card, BM25 and shingle reads. These laws pin what the
layout buys: no Spark job to build a warm read, no exchange or sort to
order by ``doc_id``, no shuffle for the BM25 scoring aggregate, and
invalidation that reaches every index derived from the corpus."""

from __future__ import annotations

import os
import re

import pytest

from lakehouse_admin_spark import index_registry as ir
from lakehouse_admin_spark import registry
from lakehouse_admin_spark.plans.inspect import explain_str
from tests.conftest import SF_SMOKE

registry.load_all_operators()

# the registered queries that read the token corpus
CORPUS_READERS = (
    "text_stats",
    "text_quality",
    "lang_stopword_scores",
    "token_frequencies",
    "tf_idf",
    "lang_id_argmax",
    "bigram_lm_xent",
    "repetition_quality",
    "lang_id_lexicon",
    "token_entropy",
    "token_heavy_hitters",
    "dataset_card",
    "bm25_topk",
)


def q(name):
    return registry.QUERIES[name].fn


def cached(name):
    tier = os.path.abspath(SF_SMOKE)
    return [e for e in ir.entries() if e["name"] == name and e["tier"] == tier]


def fresh_corpus() -> None:
    """Drop the corpus (and so everything derived from it): an earlier
    test's ``clearCache()`` can leave a registry-held frame unpersisted."""
    ir.invalidate(SF_SMOKE, "doc_tokens")


def executed_plan(df) -> str:
    df.collect()
    plan = explain_str(df, "simple")
    assert "isFinalPlan=true" in plan, plan
    return plan


@pytest.mark.parametrize("name", CORPUS_READERS)
def test_warm_corpus_readers_start_no_job_at_construction(spark, name):
    fresh_corpus()
    q(name)(spark, SF_SMOKE).collect()  # warm: builds the session indexes
    tracker = spark.sparkContext.statusTracker()
    before = list(tracker.getJobIdsForGroup(None))
    q(name)(spark, SF_SMOKE)
    after = list(tracker.getJobIdsForGroup(None))
    assert before == after, f"{name}: construction started Spark jobs"


def test_text_quality_orders_the_cached_corpus_without_exchange_or_sort(spark):
    fresh_corpus()
    q("text_quality")(spark, SF_SMOKE).collect()
    plan = executed_plan(q("text_quality")(spark, SF_SMOKE))
    head, sep, _ = plan.partition("InMemoryTableScan")
    assert sep, plan
    assert "Exchange" not in head and "Sort " not in head, head


def test_bm25_scoring_aggregate_does_not_shuffle(spark):
    fresh_corpus()
    q("bm25_topk")(spark, SF_SMOKE).collect()
    plan = executed_plan(q("bm25_topk")(spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan, plan
    assert not re.search(r"hashpartitioning\(query_id#\d+L?, doc_id#", plan), plan


def test_bm25_first_serve_after_a_build_does_not_shuffle(spark):
    """The build materialises the postings, so the serve that builds
    them already plans over the materialised cache."""
    fresh_corpus()
    plan = executed_plan(q("bm25_topk")(spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan, plan
    assert not re.search(r"hashpartitioning\(query_id#\d+L?, doc_id#", plan), plan


def test_invalidating_the_corpus_drops_every_derived_index(spark):
    import lakehouse_admin_spark.operators.dedup as dd
    import lakehouse_admin_spark.operators.retrieval as ret

    fresh_corpus()
    corpus = dd.doc_tokens(spark, SF_SMOKE)
    assert dd.doc_tokens(spark, SF_SMOKE + "/") is corpus, "must hit the cache"
    ret._bm25_corpus(spark, SF_SMOKE)
    ret._bm25_corpus(spark, SF_SMOKE, base_only=True)
    dd._session_band_buckets(spark, SF_SMOKE)  # derived from "posting"
    variants = {e["variant"] for e in cached("bm25")}
    assert {"full", f"base:{ret.BM25_DELTA}"} <= variants, variants
    assert cached("posting") and cached("minhash_buckets")

    dropped = ir.invalidate(SF_SMOKE, "doc_tokens")
    assert dropped >= 5, dropped
    assert not cached("doc_tokens")
    assert not {"full", f"base:{ret.BM25_DELTA}"} & {e["variant"] for e in cached("bm25")}
    assert not cached("posting") and not cached("minhash_buckets")
    assert dd.doc_tokens(spark, SF_SMOKE) is not corpus, "rebuilt after invalidation"
