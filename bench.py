"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "builds": {name_build: sec, ...},
"sf": ...}. "value" totals the WARM serving rows; "builds" carries the
one-time build-inclusive first-run walls of the index-backed families
(r6 split — a build is paid once per session, serving is what repeats).

Methodology (r2+): one UNTIMED warm pass of every headline query first —
it builds the one-time fixtures (ledger tables, bucketed fact copies)
and warms JVM codegen + parquet footers — then the timed pass. The timed
numbers therefore measure the steady-state PLANS, not fixture
construction (r1's ledger_partition_stats overstated ~10× because the
5-append fixture build landed inside its timing). Each timed run is
end-to-end including the driver-side collect of the (small) result
sets — the same work the reference's API handlers do.

r8: each serving row is the MEDIAN of 3 consecutive timed runs, with
per-row [min, max] recorded under "spread" — single-pass recordings
swung ±20% round-to-round on identical binaries (r6 vs r7), forcing
host-state caveats into every cross-round comparison.

r14: trainer-class rows (bpe_learn_merges, bpe_batch_learn_merges) are
priced FRESH-TRAIN — their model cache is evicted before every timed
run (see TRAINER_EVICT below), so those medians are real training
walls, not renders of a memoised merge table. The full per-query
artifact is additionally written to bench_full.json (+ _c{cpus}
variant) so per-query comparisons survive a truncated stdout tail.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakehouse_admin_spark import registry
from lakehouse_admin_spark.session import DEFAULT_CPUS, get_spark

# Headline set: one per operator family — scan+agg, fact-fact join,
# star join, anti-join, top-k, window pagination, drill-down,
# needs_optimize analyzer, exact dedup, minhash LSH, ANN, text stats.
HEADLINE = [
    "pricing_summary",
    "revenue_top_orders",
    "revenue_by_nation",
    "revenue_by_nation_bucketed",
    "revenue_by_nation_plain",
    "orders_without_lineitems",
    "top_events_by_value",
    "page_events",
    "drilldown_events_day",
    "needs_optimize_partitions",
    "dedup_exact",
    "minhash_near_dup",
    "incremental_near_dup",
    "ann_topk_cosine",
    "ann_pq_topk",
    "embedding_near_dup",
    "embedding_lsh_near_dup",
    "text_quality",
    "token_frequencies",
    "contamination_check",
    "sequence_packing",
    "user_sessions",
    "sql_cte_revenue",
    "ledger_partition_stats",
    "multimodal_decode",
    "winnow_overlap_pairs",  # r3: rolling-hash fingerprint overlap
    "ann_ivf_multiprobe",  # r3: multi-probe IVF ANN
    "lang_id_ngram",  # r3: char-trigram profile language ID
    "purchase_last_click_asof",  # r3: as-of join
    "attribution_counts_rangejoin",  # r3: bucketed range join
    "ledger_bucketed_join_revenue",  # r3: in-ledger bucket-map join
    "nn_descent_graph",  # r5: NND index build runs HERE (first in the
    # warm pass), so its `_build` row owns the one-time edge-index cost
    # and the downstream consumers (graph_ann_search, hnsw layer 0)
    # measure serving against the session-cached index
    "graph_ann_search",  # r3: beam walk over the NND k-NN graph
    "ledger_incremental_scan",  # r3: manifest-delta incremental read
    "ledger_merge_upsert",  # r3: MERGE INTO (MOR upsert) round-trip
    "ledger_ivm_rollup",  # r3: incrementally-maintained rollup
    "bigram_lm_xent",  # r3: LM perplexity quality scoring
    "dataset_card",  # r3: one-pass corpus datasheet
    "ann_ivf_pq_topk",  # r5: IVF(√n kmeans cells)+PQ/ADC composition
    "ann_ivf_pq_rerank",  # r5: IVFADC + exact re-rank (FAISS serving shape)
    "hnsw_search",  # r5: hierarchical descent + NND layer builds
    "ledger_sketch_lookup",  # r5: Bloom-sidecar-pruned point lookup
    "ann_incremental_assign",  # r5: delta ingest vs persisted IVF index
    "embedding_lsh_clusters",  # r6: scale-safe cluster output (O(n) labels)
    "ledger_pq_cell_lookup",  # r6: governed-PQ ADC lookup (partition-pruned)
    "ledger_range_scan",  # r8: recent-window scan via the interval index
    "repetition_quality",  # r8: Gopher-style duplicate-n-gram fractions
    "token_entropy",  # r9: unigram information-density quality signal
    "curation_pipeline",  # r6: dedup->quality->budget end-to-end pass
    "multimodal_feature_ann",  # r6: payload featurize -> top-k cosine
    "skewed_event_rollup",  # r6: two-phase salted hot-key aggregate
    "ann_sq_topk",  # r9: SQ8 scalar-quantized asymmetric ANN scan
    "cross_doc_ngram_dup",  # r9: exact cross-doc duplicated 8-grams
    "source_quality_rollup",  # r9: domain-level quality gate (C4-style)
    "ann_filtered_topk",  # r9: pre-filtered vector search (RAG shape)
    "quality_percentile_gate",  # r9: per-lang dynamic threshold gate
    "bpe_learn_merges",  # r9: distributed BPE tokenizer training
    "dedup_keep_list",  # r9: keep/drop verdict the corpus rewrite applies
    "bpe_encode_token_counts",  # r9: encode pass of the trained tokenizer
    "ann_filtered_ivf",  # r9: metadata-gated search on the indexed tier
    "ledger_zorder_scan",  # r9: multi-dim box scan over z-clustered files
    "perplexity_buckets",  # r9: CCNet head/middle/tail per-lang terciles
    "semantic_contamination",  # r9: embedding-space eval-vs-train audit
    "semdedup",  # r10: in-cell semantic dedup on the trained IVF index
    "dsir_importance",  # r10: hashed-ngram importance weights (DSIR)
    "d4_prototype_prune",  # r10: per-cell prototypical-core pruning (D4)
    "embedding_covariance",  # r10: distributed Gram/covariance pass (PCA/OPQ)
    "bpe_batch_learn_merges",  # r10: top-N disjoint merges per round
    "collocations_pmi",  # r10: PMI collocation mining (SGNS matrix)
    "knn_pagerank",  # r10: centrality over the semantic k-NN graph
    "funnel_counts",  # r10: ordered view->click->purchase funnel
    "events_gap_fill",  # r10: dense calendar rollup (gap-fill)
    "cohort_retention",  # r10: weekly signup-cohort retention triangle
    "events_anomaly_zscore",  # r10: z-score monitor over the dense grid
    "dsir_gumbel_topk",  # r10: seeded Gumbel-top-k importance resampling
    "dsir_incremental",  # r10: delta scoring vs the frozen base LM
    "token_heavy_hitters",  # r10: exact φ-heavy-hitters (MG ground truth)
    "ann_opq_pq_topk",  # r10: OPQ-rotated PQ/ADC (FAISS OPQMatrix shape)
    "bm25_topk",  # r10: Okapi BM25 posting-list retrieval
    "rrf_hybrid_topk",  # r10: lexical+semantic reciprocal-rank fusion
    "mmr_diversified_topk",  # r10: greedy MMR re-rank of the shortlist
    "knn_label_predict",  # r10: k-NN majority-vote embedding probe
    "nation_pair_trade_volume",  # r10: Q7-shaped cross-border volume
    "large_volume_customers",  # r10: Q18-shaped HAVING-gated hydration
    "event_transition_matrix",  # r10: first-order Markov behavior model
    "dau_wau_stickiness",  # r10: trailing-window exact-distinct ratio
    "cdc_chunk_dup",  # r10: content-defined chunking cross-doc dups
    "cdc_chunk_jaccard_pairs",  # r10: shift-robust rare-chunk near-dups
    "nation_market_share",  # r10: Q8-shaped conditional share-of-total
    "returned_item_customers",  # r10: Q10-shaped returns ranking
    "min_cost_part_supplier",  # r11: Q2-shaped min-cost supplier join-back
    "part_supplier_diversity",  # r11: Q16-shaped anti-join + count-distinct
    "bulk_red_part_suppliers",  # r11: Q20-shaped nested semi-joins
    "customer_order_distribution",  # r11: Q13-shaped outer-join histogram
    "bm25_incremental",  # r11: frozen-index lexical routing of the delta
    "prefix_filter_jaccard_pairs",  # r11: PPJoin prefix+length+position
    "hard_negative_mining",  # r11: ANCE-style per-anchor triplet mining
    "train_val_split",  # r12: md5-rank stratified holdout assignment
    "cumulative_channel_crossover",  # r12: Q51-shaped running compare
    "rollup_top_months",  # r12: Q67-shaped rollup + per-category top-N
    "ann_binary_hamming_topk",  # r12: 8-byte sign codes, integer scan
    "ann_binary_rerank",  # r12: binary shortlist -> exact cosine funnel
    "daily_type_deviation",  # r12: Q47-shaped integer deviation windows
    "ngram_diversity",  # r12: per-source distinct-n repetition diagnostic
    "cluster_balanced_quota",  # r12: per-cell ceil(N/k) rebalancing verdict
    "ann_prefix_topk",  # r12: Matryoshka half-dim coarse scan (train-free)
    "ann_prefix_rerank",  # r12: prefix shortlist -> exact cosine funnel
    "embedding_drift_stats",  # r12: delta-vs-base retrain trigger
    "heaps_law_curve",  # r12: vocabulary-growth corpus diagnostic
    "skipgram_pmi",  # r12: window-5 SGNS co-occurrence PMI
    "mixture_epoch_plan",  # r12: uniform-recipe repetition calculator
    "events_unpivot_daily",  # r12: pivot->unpivot round trip vs GROUP BY
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    registry.load_all_operators()
    spark = get_spark(app_name="lakehouse-admin-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up JVM/codegen and the parquet reader paths (footers + OS page
    # cache) so query timings measure the plans, not first-job startup.
    spark.range(1000).count()
    from lakehouse_admin_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    # Untimed warm pass: one-time fixture builds (ledger fixtures,
    # bucketed fact materialization, ANN index training) happen HERE,
    # so the timed pass below measures the queries, not their setup. A
    # query that crashes costs its own data point, never the whole
    # artifact — record the error and keep going (r2 lost its entire
    # bench to one broken query aborting the warm pass).
    #
    # For the index-backed families the FIRST run is build-inclusive
    # (k-means train, NN-descent rounds, HNSW layer builds); its wall
    # is reported separately as `<name>_build` so one-time index cost
    # is visible and never conflated with warm serving latency.
    BUILD_HEAVY = {
        "nn_descent_graph",
        "hnsw_search",
        "graph_ann_search",
        "ann_ivf_multiprobe",
        "ann_ivf_pq_topk",
        "ann_ivf_pq_rerank",
        "ann_incremental_assign",
        "ledger_zorder_scan",  # r9: z-order rewrite of the fixture table
        "ann_filtered_ivf",  # r9: shares the IVF index build when first
        "bpe_encode_token_counts",  # r9: merge-table training on first run
        "minhash_near_dup",  # r13: first touch builds the session LSH
        # band-bucket index (the signature aggregate) its whole dedup
        # chain then reads
        "knn_pagerank",  # r13: first touch builds the session exact
        # k-NN edge index (block-matrix tile sweep)
        "embedding_lsh_near_dup",  # r13: first touch builds the session
        # sign-projection band table (signature kernel over the corpus)
        "winnow_overlap_pairs",  # r13: first touch builds the winnow
        # fingerprint index (Arrow kernel) + capped posting lists
        "lang_id_ngram",  # r13: first touch trains the trigram profile
        "dsir_importance",  # r13: first touch folds the hashed-gram
        # bucket counts (the DSIR sufficient statistic)
        "multimodal_feature_ann",  # r13: first touch encodes the
        # feature frame (the multimodal embedding table)
        "bpe_batch_learn_merges",  # r13: first touch trains the batched
        # merge table (the serial trainer was already cache-rendered)
        "cdc_chunk_dup",  # r13: first touch builds the session CDC
        # chunk posting index (tokenize + boundary + slice kernel)
        "ann_opq_pq_topk",  # r13: first touch trains (mu, cov) + the
        # OPQ rotation and encodes the rotated PQ codes ("opq" variant
        # of the pq_index cache)
    }
    errors: dict[str, str] = {}
    builds: dict[str, float] = {}
    for name in HEADLINE:
        try:
            t0 = time.perf_counter()
            registry.QUERIES[name].fn(spark, sf_dir).collect()
            if name in BUILD_HEAVY:
                builds[f"{name}_build"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — must not lose the artifact
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    # Timed pass: MEDIAN OF 3 consecutive runs per query (r8 — three
    # rounds of cross-round comparisons needed host-state caveats on
    # single-pass numbers; the median kills one-off GC/IO outliers).
    # "spread" records each row's [min, max] so a noisy recording is
    # visible in the artifact itself.
    #
    # r14 pricing rule for TRAINER-class rows (r13 verdict #1): a query
    # whose result IS its own driver-memoised model (the BPE merge
    # tables — the timed row would otherwise measure a ~100-row
    # createDataFrame render of the cached answer) has its model cache
    # EVICTED before every timed run, so the timed median is a real
    # fresh-train invocation. The warm pass above still reports the
    # first-touch wall under `builds`; index-SERVING rows (e.g.
    # bpe_encode_token_counts, which consumes the trained table across
    # many invocations) keep riding their session index unchanged — the
    # last timed train repopulates the cache for them.
    from lakehouse_admin_spark import index_registry

    TRAINER_EVICT = {
        name: lambda tier: index_registry.invalidate(tier, "bpe")
        for name in ("bpe_learn_merges", "bpe_batch_learn_merges")
    }
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        if name in errors:
            continue
        spec = registry.QUERIES[name]
        evict = TRAINER_EVICT.get(name)
        walls: list[float] = []
        try:
            for _ in range(3):
                if evict is not None:
                    evict(sf_dir)
                t0 = time.perf_counter()
                rows = spec.fn(spark, sf_dir).collect()
                walls.append(time.perf_counter() - t0)
                assert rows is not None
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        walls.sort()
        timings[name] = round(walls[1], 3)
        spread[name] = [round(walls[0], 3), round(walls[-1], 3)]
    total = round(sum(timings.values()), 3)
    out: dict = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "builds": builds,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    # r14: persist the FULL per-query artifact to stable files so the
    # per-query round-over-round comparison no longer depends on stdout
    # length (the full line overflows a 2000-char stdout tail; PERF_r12/
    # r13 both lost their per-query diff to that). bench_full.json holds
    # the latest run; the _c{cpus} variant keeps the main- and low-core
    # recordings from clobbering each other.
    cpus = out["cpus"] = DEFAULT_CPUS
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in ("bench_full.json", f"bench_full_c{cpus}.json"):
        try:
            with open(os.path.join(here, fname), "w") as fh:
                json.dump(out, fh, indent=1)
        except OSError:
            pass  # a read-only checkout must not lose the stdout artifact
    # Compact trailing summary (<1500 chars): the driver records only a
    # 2000-char stdout TAIL, which the full per-query line above
    # overflows — ending stdout with a small self-contained JSON line
    # guarantees the tail always holds one parseable artifact (the full
    # table survives in BASELINE.md and in this line's family rollup).
    fams: dict[str, list[float]] = {}
    for name, t in timings.items():
        fam = name.split("_", 1)[0]
        fams.setdefault(fam, []).append(t)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    )
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": out["sf"],
        "rows": len(timings),
        "errors": len(errors),
        "family_totals": {
            f: round(sum(v), 3) for f, v in sorted(fams.items())
        },
        "slowest": slowest,
    }
    # r13: [min, max] of the 3 timed runs for the slowest rows, IN the
    # tail-safe line — so a judge can separate host noise from
    # regression without re-running (r11/r12 both needed manual
    # re-adjudication of outlier rows; the full "spread" map above has
    # every row but can overflow a strict tail). Adaptive width: start
    # at the slowest 10 and shrink until the line fits the cap.
    by_slow = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])]
    # cap: the driver records a 2000-char stdout tail; 1800 leaves
    # margin for the newline and any stray tail bytes (the r12 limit of
    # 1500 was tighter than the recorded-tail evidence requires)
    cap = 1800
    for width in (10, 8, 6, 5, 4, 3, 0):
        compact["slowest_spread"] = {
            n: spread[n] for n in by_slow[:width] if n in spread
        }
        if not compact["slowest_spread"]:
            compact.pop("slowest_spread", None)
        if len(json.dumps(compact)) <= cap:
            break
    line = json.dumps(compact)
    # graduated overflow: shed detail keys until the line fits
    for drop in ("slowest_spread", "slowest", "family_totals"):
        if len(line) <= cap:
            break
        compact.pop(drop, None)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
