"""Vanilla-session drive: registered queries must run under a
SparkSession with DEFAULT configs, from a foreign cwd — exactly how the
grading driver invokes ``__spark_entry__``.

This is the net that catches session-dependent regressions the tuned
in-repo fixture can't see: the r2 TIMESTAMP_NTZ break (load_table relied
on a stale type branch; watermarks/unix_micros crashed only under
parquet-NTZ inference, which our tuned session disables) and the
pickle-by-reference trap (module-level Python-worker functions don't
import from a foreign cwd). Runs in a subprocess so the tuned session
used by the rest of the suite can't leak in.

r14 (driver-window fix, VERDICT #2): the DEFAULT run drives a 75-query
HAZARD-CLASS SAMPLE — every query whose serve plan crosses the Python
boundary (sweep: n_python > 0), every index-backed family whose BUILD
runs a Python kernel at first touch, every events/timestamp reader, the
ledger fixture paths, and one representative per remaining operator
family. The FULL 196-query sweep runs when ``SPARK_GRAFT_FULL_PARITY=1``
(the same opt-in as the sf0.01 graded-tier parity sweep — the builder's
release gate sets it; the default suite must fit the driver's verify
window, which the full drive's ~4 min was overrunning).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = "/root/repo"

# The hazard-class sample (see module docstring). Python-boundary rows
# from plans/r14/plan_sweep_before.jsonl, build-kernel families, event
# readers, ledger fixtures, and per-family representatives.
SAMPLE = [
    # serve-plan Python boundary (sweep n_python > 0)
    "ann_filtered_topk", "ann_incremental_assign", "ann_prefix_rerank",
    "ann_prefix_topk", "ann_sq_topk", "ann_topk_cosine", "doc_embed_stub",
    "embedding_covariance", "embedding_lsh_near_dup", "hard_negative_mining",
    "ivf_kmeans_assignments", "knn_label_predict", "mmr_diversified_topk",
    "multimodal_decode", "multimodal_feature_ann", "multimodal_frame_sample",
    "pca_whiten_project", "rrf_hybrid_topk", "semantic_contamination",
    # first-touch build kernels (Python workers run during the build)
    "nn_descent_graph", "graph_ann_search", "hnsw_search", "knn_pagerank",
    "knn_graph", "ann_pq_topk", "ann_ivf_pq_topk", "ann_ivf_pq_rerank",
    "ann_opq_pq_topk", "ann_ivf_multiprobe", "semdedup", "d4_prototype_prune",
    "winnow_overlap_pairs", "lang_id_ngram", "dsir_importance",
    "cdc_chunk_dup", "minhash_near_dup", "bpe_learn_merges",
    "bpe_batch_learn_merges", "ann_binary_hamming_topk",
    # events/timestamp readers (the NTZ hazard)
    "user_sessions", "page_events", "drilldown_events_day",
    "top_events_by_value", "purchase_last_click_asof",
    "attribution_counts_rangejoin", "funnel_counts", "events_gap_fill",
    "dau_wau_stickiness", "sequence_packing",
    # ledger fixture paths
    "ledger_partition_stats", "ledger_merge_upsert",
    "ledger_incremental_scan", "ledger_ivm_rollup", "ledger_zorder_scan",
    "ledger_pq_cell_lookup",
    # relational / text / dedup representatives
    "pricing_summary", "revenue_by_nation", "revenue_by_nation_bucketed",
    "orders_without_lineitems", "sql_cte_revenue", "text_quality",
    "token_frequencies", "bigram_lm_xent", "perplexity_buckets",
    "heaps_law_curve", "collocations_pmi", "cross_doc_ngram_dup",
    "dedup_exact", "incremental_near_dup", "prefix_filter_jaccard_pairs",
    "embedding_lsh_clusters", "contamination_check", "curation_pipeline",
    "bm25_incremental", "token_heavy_hitters",
]

_DRIVER = r"""
import json, sys, tempfile, os
os.chdir(tempfile.mkdtemp())  # foreign cwd, like the driver
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

results = {}
assert e.entry(spark).count() > 0
qs = e.queries()
names = %(names)s or sorted(qs)
missing = [n for n in names if n not in qs]
assert not missing, f"sample names not registered: {missing}"
for name in names:
    try:
        df = qs[name](spark, "/root/testdata/sf0.001")
        results[name] = {"rows": df.count(), "cols": df.columns}
    except Exception as exc:
        results[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
print("VANILLA_RESULT " + json.dumps(results))
"""


def _drive(names: list[str] | None) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER % {"repo": REPO, "names": repr(names)}],
        capture_output=True,
        text=True,
        timeout=1500,
    )
    assert proc.returncode == 0, f"vanilla drive crashed:\n{proc.stderr[-3000:]}"
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith("VANILLA_RESULT ")), None
    )
    assert line, f"no result line in stdout:\n{proc.stdout[-2000:]}"
    results = json.loads(line[len("VANILLA_RESULT ") :])
    failures = {k: v["err"] for k, v in results.items() if "err" in v}
    assert not failures, f"queries failing under a vanilla session: {failures}"
    empty_schema = [k for k, v in results.items() if not v["cols"]]
    assert not empty_schema, f"queries with no columns: {empty_schema}"


def test_hazard_sample_runs_under_vanilla_session():
    """Default-suite tier: the 75-query hazard-class sample."""
    _drive(SAMPLE)


def test_all_queries_run_under_vanilla_session():
    """Release-gate tier: the full registered-query sweep (opt-in, the
    graded-tier parity convention)."""
    import pytest

    if not os.environ.get("SPARK_GRAFT_FULL_PARITY"):
        pytest.skip("full vanilla sweep is opt-in (SPARK_GRAFT_FULL_PARITY=1)")
    _drive(None)
