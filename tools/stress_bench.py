"""Stress-tier scaling bench: run the pipeline-heavy queries over the
synthetic tiers from tools/gen_stress.py (25k/50k/100k docs,
10k/20k/40k vectors) and report per-tier wall times plus the
large/small scaling ratio — the check that no pipeline operator is
super-linear once it stops being overhead-bound.

Also supports a BLOCK_SIZE sweep for the block-matrix kernels
(--sweep-block), measuring the exact k-NN graph build at the s50
vector tier across candidate tile sizes.

Usage:
    python tools/stress_bench.py                 # scaling table
    python tools/stress_bench.py --sweep-block   # BLOCK_SIZE sweep
Prints one JSON line per mode.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_stress import TIERS, build_tier  # noqa: E402

# doc-pipeline + vector-pipeline queries that only read
# documents/embeddings (a stress tier carries just those two tables)
STRESS_QUERIES = [
    "dedup_exact",
    "minhash_near_dup",
    "simhash_near_dup",
    "text_quality",
    "token_frequencies",
    "lang_id_ngram",
    "bigram_lm_xent",
    "embedding_lsh_near_dup",
    "ann_topk_cosine",
    "ann_ivf_multiprobe",
    "ann_pq_topk",
    "ann_ivf_pq_topk",
    "ann_ivf_pq_rerank",
    "nn_descent_graph",
    # r8: the r6 composites (verdict #5 — sf0.1 numbers existed but no
    # s25->s100 scaling evidence)
    "curation_pipeline",
    "multimodal_feature_ann",
    "ledger_pq_cell_lookup",
    # r9: new tiers
    "ann_sq_topk",
    "cross_doc_ngram_dup",
    "source_quality_rollup",
    "quality_percentile_gate",
    "bpe_learn_merges",  # vocab saturates → expect sub-linear
    "bpe_encode_token_counts",
    "perplexity_buckets",
    # semantic_contamination deliberately absent: its workload IS the
    # eval split (both sides scale with the corpus → eval×train brute
    # product), already characterized by the fixed-workload ann_topk
    # rows; at scale the train side swaps to the indexed tiers
    "ann_filtered_topk",
    "dedup_keep_list",
    # r10: new tiers
    "semdedup",  # in-cell pairs on the √n-cell index → ~n^1.5 worst case
    "dsir_importance",  # one tokenize pass + bucket-keyed joins → ~linear
    "d4_prototype_prune",  # linear scan + broadcast centroid join
    "embedding_covariance",  # per-partition Gram → linear, flat shuffle
    "bpe_batch_learn_merges",  # vocab-sized rounds → saturates like bpe_learn
    "collocations_pmi",  # two vocab-keyed aggregates → ~linear
    # r10 (continued): retrieval tier + incremental DSIR + OPQ + probes
    "dsir_incremental",  # frozen-LM delta scoring → base train + O(delta)
    "token_heavy_hitters",  # hash agg + broadcast total → linear, O(k) out
    "bm25_topk",  # posting-list join, df-gated query terms
    "rrf_hybrid_topk",  # two shortlists + full-outer fusion
    "mmr_diversified_topk",  # shortlist + constant-work greedy kernel
    "ann_opq_pq_topk",  # covariance train + rotated PQ/ADC
    "knn_label_predict",  # brute top-k + <=k-row vote
    # r11: lexical ingest gate — base index cached, delta-only scoring
    "bm25_incremental",
    # r12: binary sign-quantized tier + the distinct-n diagnostic
    "ann_binary_hamming_topk",  # 8-byte codes, integer Hamming scan
    "ann_binary_rerank",  # binary shortlist -> exact-cosine funnel
    "ngram_diversity",  # one tokenize pass + count-distinct → ~linear
    "ann_prefix_topk",  # half-dim float scan (train-free coarse tier)
    "ann_prefix_rerank",  # prefix shortlist -> exact-cosine funnel
    "embedding_drift_stats",  # one posexplode pass, 64 groups → linear
    "heaps_law_curve",  # tokenize + vocab-keyed min → ~linear
    "skipgram_pmi",  # 5x the bigram partials, same vocab-keyed shape
    "mixture_epoch_plan",  # tokenize + |sources|-row plan → ~linear
]

# Serving-tier queries take a QUERY WORKLOAD as input; the graded form
# derives it as vec_id % QUERY_STRIDE == 0, so nq GROWS with the corpus
# and every serving query measures as quadratic even when per-query
# cost is right (r4 verdict). For scaling measurement the workload must
# be FIXED: these queries run with QUERY_STRIDE patched per tier so
# nq == STRESS_NQ at every tier (the oracle-graded stride form is
# untouched — this is a bench-only workload shape).
SERVING_QUERIES = {
    "ann_topk_cosine",
    "ann_ivf_multiprobe",
    "ann_pq_topk",
    "ann_ivf_pq_topk",
    "ann_ivf_pq_rerank",
    "multimodal_feature_ann",  # doc-id stride queries, same workload rule
    "ann_sq_topk",  # r9: same fixed-workload rule as the other ANN tiers
    "ann_filtered_topk",
    # r10 (continued): all take the stride query workload
    "bm25_topk",
    "rrf_hybrid_topk",
    "mmr_diversified_topk",
    "ann_opq_pq_topk",
    "knn_label_predict",
    # r12: the binary and prefix tiers take the same stride workload
    "ann_binary_hamming_topk",
    "ann_binary_rerank",
    "ann_prefix_topk",
    "ann_prefix_rerank",
}
STRESS_NQ = 100


def _spark():
    from lakehouse_admin_spark.session import get_spark

    spark = get_spark(app_name="lakehouse-stress-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    return spark


def run_scaling(root: str, only: list[str] | None = None) -> None:
    import lakehouse_admin_spark.operators.retrieval as ret
    import lakehouse_admin_spark.operators.similarity as sim
    from lakehouse_admin_spark import registry

    registry.load_all_operators()
    spark = _spark()
    names = [n for n in STRESS_QUERIES if n in registry.QUERIES]
    if only:  # targeted re-sweep of a subset (new operators)
        names = [n for n in names if n in set(only)]
    base_stride = sim.QUERY_STRIDE
    base_delta = ret.BM25_DELTA
    results: dict[str, dict[str, float]] = {}
    for tier, (nd, nv) in TIERS.items():
        sf_dir = build_tier(root, tier, nd, nv)
        timings: dict[str, float] = {}
        for name in names:
            fn = registry.QUERIES[name].fn
            # fixed workload for serving queries: nq == STRESS_NQ at
            # every tier (stride read at call time by the operators)
            sim.QUERY_STRIDE = (
                max(1, nv // STRESS_NQ) if name in SERVING_QUERIES else base_stride
            )
            if name == "bm25_incremental":
                # the delta stripe is the WORKLOAD (an ingest batch),
                # not data: the graded doc_id%7 form grows with the
                # corpus, so hi/lo would measure nq×posting-mass (the
                # r4 serving-quadratic trap on the lexical tier). Fix
                # it at ~STRESS_NQ docs per tier; the ratio then
                # measures the frozen-index serving path.
                ret.BM25_DELTA = f"doc_id % {max(1, nd // STRESS_NQ)} = 3"
            try:
                fn(spark, sf_dir).collect()  # warm (codegen, caches)
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                timings[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001
                timings[name] = -1.0
                print(f"# {tier}/{name}: {type(exc).__name__}: {exc}"[:300],
                      file=sys.stderr)
            finally:
                sim.QUERY_STRIDE = base_stride
                ret.BM25_DELTA = base_delta
        results[tier] = timings
    tiers = list(TIERS)
    lo, hi = tiers[0], tiers[-1]
    data_ratio = TIERS[hi][0] / TIERS[lo][0]
    ratios = {
        n: round(results[hi][n] / results[lo][n], 2)
        for n in names
        if results[lo].get(n, -1) > 0 and results[hi].get(n, -1) > 0
    }
    print(json.dumps({
        "metric": "stress_scaling",
        "tiers": {t: {"docs": TIERS[t][0], "vectors": TIERS[t][1]} for t in TIERS},
        "timings": results,
        "data_ratio": data_ratio,
        "time_ratio_hi_over_lo": ratios,
        "serving_nq_fixed": STRESS_NQ,
        "serving_queries": sorted(SERVING_QUERIES),
    }))


def run_block_sweep(root: str) -> None:
    import lakehouse_admin_spark.operators.similarity as sim
    from lakehouse_admin_spark import registry

    registry.load_all_operators()
    spark = _spark()
    tier = "s50"
    sf_dir = build_tier(root, tier, *TIERS[tier])
    out: dict[str, float] = {}
    fn = registry.QUERIES["knn_graph"].fn
    for bs in (128, 256, 512, 1024):
        # block_size_for() reads the sim.BLOCK_SIZE cap at call time;
        # at the s50 tier (20k vectors > 8*1024) the cap binds, so the
        # sweep exercises exactly bs-sized tiles
        sim.BLOCK_SIZE = bs
        fn(spark, sf_dir).count()  # warm
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        out[str(bs)] = round(time.perf_counter() - t0, 3)
    print(json.dumps({
        "metric": "block_size_sweep",
        "tier": tier,
        "vectors": TIERS[tier][1],
        "knn_graph_sec_by_block": out,
    }))


def synthetic_manifest_table(warehouse: str, n_files: int, batch: int):
    """A segmented ledger table with ``n_files`` SYNTHETIC manifest
    entries (no data files, no Spark: the metadata plane is pure
    driver-side Python) committed in O(delta) batches so the segment
    chain, size-tiered merges, and manifest-list summaries are exactly
    what a long-lived 10^6-file table carries. File i covers
    k in [i*100, i*100+100) — disjoint ranges, so range predicates
    select a contiguous window."""
    import shutil

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from lakehouse_admin_spark.sources.ledger import LedgerCatalog

    shutil.rmtree(warehouse, ignore_errors=True)
    cat = LedgerCatalog(None, warehouse)
    schema = StructType(
        [StructField("k", LongType()), StructField("v", DoubleType())]
    )
    tbl = cat.create_table("main", "meta_stress", schema, [])

    def entries(lo: int, n: int) -> list[dict]:
        return [
            {
                "file_path": os.path.join(
                    tbl.data_dir, f"f{i:08d}.parquet"
                ),
                "partition": {},
                "record_count": 100,
                "file_size_in_bytes": 1 << 22,
                "spec_id": 0,
                "schema_id": 0,
                "content": 0,
                "file_format": "PARQUET",
                "column_stats": {"k": [i * 100, i * 100 + 99], "v": [0.0, 1.0]},
                "null_counts": {"k": 0, "v": 0},
            }
            for i in range(lo, lo + n)
        ]

    def commit_batch(lo: int, n: int):
        cur = tbl.current_snapshot_id()
        parent = tbl.snapshot(cur) if cur else None
        total = (lo + n)
        return tbl._commit_delta(
            operation="append",
            summary={
                "added-data-files": str(n),
                "added-records": str(n * 100),
                "total-data-files": str(total),
                "total-records": str(total * 100),
            },
            added=entries(lo, n),
            removed=[],
            parent=parent,
        )

    for lo in range(0, n_files, batch):
        commit_batch(lo, min(batch, n_files - lo))
    return tbl, commit_batch


def run_metadata(root: str, n_files: int = 1_000_000, batch: int = 10_000) -> None:
    """Integrated metadata-plane stress row (r9): build a 10^6-file
    segmented snapshot, then measure the COMPOSED paths end to end —
    cold plan_files with a range predicate (manifest-list summary
    skipping + streamed parquet-segment decode + residual pruning),
    the warm indexed plan, the full live materialization it avoids,
    and one more O(delta) commit against the 10^6-file table. Pure
    driver-side Python: no SparkSession is started, so ru_maxrss IS
    the metadata plane's peak RSS."""
    import resource
    import tracemalloc

    from lakehouse_admin_spark.sources import ledger as ledger_mod

    t0 = time.perf_counter()
    tbl, commit_batch = synthetic_manifest_table(
        os.path.join(root, "metadata_plane"), n_files, batch
    )
    build_s = time.perf_counter() - t0

    # one more O(delta) commit against the full-size table (the
    # steady-state ingest shape: lock-hold + merge amortization)
    t0 = time.perf_counter()
    commit_batch(n_files, 100)
    commit_small_s = time.perf_counter() - t0
    n_files += 100

    # fresh window = exactly the last commit's k-range (the "query
    # today's ingest" shape manifest skipping exists for: only the
    # tail segment's body is decoded); old window = 1000 files deep
    # inside the merged base (worst case: the base body must stream)
    fresh_preds = [("k", ">=", (n_files - 100) * 100)]
    old_preds = [
        ("k", ">=", 100_000 * 100),
        ("k", "<", 101_000 * 100),
    ]

    def segments_read(fn):
        reads: list[str] = []
        real_full = ledger_mod.LedgerTable._read_segment
        real_match = ledger_mod.LedgerTable._segment_matching_entries
        ledger_mod.LedgerTable._read_segment = (
            lambda self, name: (reads.append(name), real_full(self, name))[1]
        )
        ledger_mod.LedgerTable._segment_matching_entries = (
            lambda self, name, preds: (
                reads.append(name),
                real_match(self, name, preds),
            )[1]
        )
        try:
            out = fn()
        finally:
            ledger_mod.LedgerTable._read_segment = real_full
            ledger_mod.LedgerTable._segment_matching_entries = real_match
        return out, len(set(reads))

    def clear_caches():
        ledger_mod._SEGMENT_CACHE.clear()
        ledger_mod._LIVE_FILES_CACHE.clear()
        ledger_mod._DATA_FILES_CACHE.clear()
        ledger_mod._EQ_INDEX_CACHE.clear()
        ledger_mod._RANGE_INDEX_CACHE.clear()

    n_segments = len(tbl.snapshot(tbl.current_snapshot_id()).manifest_list)

    def cold_plan(preds):
        clear_caches()
        tracemalloc.start()
        t0 = time.perf_counter()
        files, segs = segments_read(lambda: tbl.plan_files(preds))
        wall = time.perf_counter() - t0
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        return files, segs, wall, peak

    fresh, fresh_segs, fresh_s, fresh_peak = cold_plan(fresh_preds)
    old, old_segs, old_s, old_peak = cold_plan(old_preds)

    # the full materialization the pruned cold plan avoids
    clear_caches()
    tracemalloc.start()
    t0 = time.perf_counter()
    live = tbl.live_files()
    full_s = time.perf_counter() - t0
    _, full_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert len(live) >= n_files

    # warm plans: first builds the (snapshot, column) interval index,
    # the second is the steady-state O(log files + selected) probe
    t0 = time.perf_counter()
    warm1 = tbl.plan_files(fresh_preds)
    warm1_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm2 = tbl.plan_files(fresh_preds)
    warm2_s = time.perf_counter() - t0
    assert {e["file_path"] for e in fresh} == {e["file_path"] for e in warm2}

    print(json.dumps({
        "metric": "metadata_plane_stress",
        "n_files": n_files,
        "n_commits": n_files // batch + 1,
        "n_segments": n_segments,
        "build_total_s": round(build_s, 2),
        "commit_o_delta_s": round(commit_small_s, 3),
        "cold_fresh_window_s": round(fresh_s, 3),
        "cold_fresh_files_selected": len(fresh),
        "cold_fresh_segments_read": fresh_segs,
        "cold_fresh_py_peak_mb": round(fresh_peak / 1e6, 1),
        "cold_old_window_s": round(old_s, 3),
        "cold_old_files_selected": len(old),
        "cold_old_segments_read": old_segs,
        "cold_old_py_peak_mb": round(old_peak / 1e6, 1),
        "full_materialization_s": round(full_s, 3),
        "full_materialization_py_peak_mb": round(full_peak / 1e6, 1),
        "warm_plan_index_build_s": round(warm1_s, 3),
        "warm_plan_indexed_s": round(warm2_s, 4),
        "ru_maxrss_mb": round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
        ),
    }))


def run_bm25_backfill(root: str) -> None:
    """Drive ``bm25_incremental`` in its GRADED form — delta = the
    ``doc_id % 7`` stripe, 1/7 of the corpus, i.e. an UNBOUNDED
    backfill rather than the fixed micro-batch the main scaling sweep
    measures — through BOTH gate shapes (r11 verdict #2):

    - s25/s50: time the broadcast shape (the stripe is under
      BM25_BROADCAST_MAX_DOCS), then patch the bound to 0 and time the
      SHUFFLE shape on the identical workload; at s25 assert the two
      row sets are byte-identical (the gate must never change results).
    - s100: the ~14.3k-doc stripe crosses the bound naturally → the
      shuffle shape, the tier where r11's unconditional broadcast
      OOM-failed. The workload itself is Θ(nq × corpus) HERE BY
      CONSTRUCTION (the 31-token stress vocabulary makes even rarest-3
      posting lists corpus-dense, so nearly every (query, doc) pair
      survives the join — ~1.2B aggregate pairs), so the tier also
      needs shuffle partitions sized to the workload: 32 partitions ×
      ~37M pairs each GC-thrash on humongous hash-map allocations; 256
      × ~4.7M stream. That conf is the knob a 100 TB deployment sizes
      anyway — record it in the artifact.
    """
    import lakehouse_admin_spark.operators.retrieval as ret
    from lakehouse_admin_spark import index_registry, registry

    registry.load_all_operators()
    spark = _spark()
    fn = registry.QUERIES["bm25_incremental"].fn
    base_bound = ret.BM25_BROADCAST_MAX_DOCS
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    out: dict[str, dict] = {}

    def timed(tag: str, tier: str, sf_dir: str):
        tw = time.perf_counter()
        fn(spark, sf_dir).collect()  # warm (index build reused per tier)
        warm = round(time.perf_counter() - tw, 1)
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).collect()
        wall = round(time.perf_counter() - t0, 3)
        print(f"# bm25_backfill {tier}/{tag} warm {warm}s timed {wall}s",
              file=sys.stderr, flush=True)
        return wall, rows

    for tier, (nd, nv) in TIERS.items():
        sf_dir = build_tier(root, tier, nd, nv)
        stripe = nd // 7 + (1 if nd % 7 > 3 else 0)  # docs with id%7==3
        rec: dict = {"delta_docs": stripe}
        try:
            if stripe <= base_bound:
                ret.BM25_BROADCAST_MAX_DOCS = base_bound
                rec["broadcast_s"], brows = timed("broadcast", tier, sf_dir)
                ret.BM25_BROADCAST_MAX_DOCS = 0  # force the shuffle shape
                rec["shuffle_s"], srows = timed("shuffle", tier, sf_dir)
                if tier == "s25":  # gate must never change results
                    same = sorted(map(tuple, brows)) == sorted(map(tuple, srows))
                    rec["shapes_identical"] = same
                    assert same, "broadcast and shuffle shapes diverged"
            else:
                # naturally over the bound → shuffle; size the agg
                # shuffle to the quadratic-by-construction workload.
                # One build-inclusive run: survival + wall is the
                # evidence here (the broadcast form never finished).
                spark.conf.set("spark.sql.shuffle.partitions", "256")
                rec["shuffle_partitions"] = 256
                t0 = time.perf_counter()
                srows = fn(spark, sf_dir).collect()
                rec["shuffle_build_inclusive_s"] = round(
                    time.perf_counter() - t0, 3
                )
                print(f"# bm25_backfill {tier}/shuffle build-inclusive "
                      f"{rec['shuffle_build_inclusive_s']}s",
                      file=sys.stderr, flush=True)
            rec["rows"] = len(srows)
        except Exception as exc:  # noqa: BLE001
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# {tier}/bm25_backfill: {rec['error']}", file=sys.stderr)
        finally:
            ret.BM25_BROADCAST_MAX_DOCS = base_bound
            spark.conf.set("spark.sql.shuffle.partitions", base_parts)
            index_registry.invalidate(sf_dir, "bm25")  # tier index + probes
        out[tier] = rec
    print(json.dumps({
        "metric": "bm25_unbounded_backfill",
        "broadcast_max_docs": base_bound,
        "tiers": {t: {"docs": TIERS[t][0]} for t in TIERS},
        "results": out,
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default="/tmp/lakehouse_stress")
    ap.add_argument("--sweep-block", action="store_true")
    ap.add_argument("--metadata", action="store_true")
    ap.add_argument("--bm25-backfill", action="store_true")
    ap.add_argument("--n-files", type=int, default=1_000_000)
    ap.add_argument(
        "--only", nargs="*", default=None,
        help="scaling mode: sweep only these STRESS_QUERIES names",
    )
    args = ap.parse_args()
    if args.sweep_block:
        run_block_sweep(args.root)
    elif args.metadata:
        run_metadata(args.root, n_files=args.n_files)
    elif args.bm25_backfill:
        run_bm25_backfill(args.root)
    else:
        run_scaling(args.root, only=args.only)


if __name__ == "__main__":
    main()
