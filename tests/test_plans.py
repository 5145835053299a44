"""Plan-shape pins: the performance claims of the headline operators as
assertions over their physical plans (pushdown, pruning, broadcast,
no cartesian, bounded shuffles) plus skew-utility equivalence tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_admin_spark import index_registry as ir
from lakehouse_admin_spark import registry
from lakehouse_admin_spark.functions.skew import salted_aggregate, salted_join
from lakehouse_admin_spark.plans.inspect import (
    exchange_count,
    has_cartesian,
    has_pushed_filters,
    join_strategies,
    read_schema_columns,
)
from lakehouse_admin_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

registry.load_all_operators()


def cached(name, tier=SF_SMOKE):
    """The index registry's entries named ``name`` over ``tier``."""
    import os

    norm = os.path.abspath(tier.rstrip("/"))
    return [e for e in ir.entries() if e["name"] == name and e["tier"] == norm]


def q(name):
    return registry.QUERIES[name].fn


def test_pricing_summary_pushdown_and_pruning(spark):
    df = q("pricing_summary")(spark, SF_SMOKE)
    assert has_pushed_filters(df), "shipdate filter must reach the parquet scan"
    cols = read_schema_columns(df)
    assert "l_comment" not in cols  # nonexistent anyway, but pruning sanity:
    # only the 7 needed columns are read
    assert set(cols) <= {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }


def test_star_join_broadcasts_dims(spark):
    df = q("revenue_by_nation")(spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 3, strategies
    assert not has_cartesian(df)


def test_topk_no_global_sort_exchange(spark):
    df = q("top_events_by_value")(spark, SF_SMOKE)
    # TakeOrderedAndProject: no rangepartitioning exchange
    from lakehouse_admin_spark.plans.inspect import explain_str

    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_anti_join_no_cartesian(spark):
    df = q("orders_without_lineitems")(spark, SF_SMOKE)
    assert not has_cartesian(df)


def test_needs_optimize_single_agg_pass(spark):
    df = q("needs_optimize_partitions")(spark, SF_SMOKE)
    # one shuffle for the rollup aggregate + one for the final orderBy
    assert exchange_count(df) <= 2
    assert not has_cartesian(df)


BRUTE_TIERS = (
    "ann_topk_cosine",
    "knn_label_predict",
    "ann_sq_topk",
    "ann_filtered_topk",
    "ann_binary_hamming_topk",
    "ann_binary_rerank",
    "ann_prefix_topk",
    "ann_prefix_rerank",
    "hard_negative_mining",
    "rrf_hybrid_topk",
    "multimodal_feature_ann",
    "mmr_diversified_topk",
)


def _limit_below_rank_exchange(nodes) -> bool:
    """Some WindowGroupLimit has an Exchange ancestor that itself sits
    under a Window: the partial per-task limit of a rank window."""
    for i, (col, name) in enumerate(nodes):
        if name != "WindowGroupLimit":
            continue
        above = []
        for pcol, pname in reversed(nodes[:i]):
            if pcol < col:
                above.append(pname)
                col = pcol
        if "Exchange" in above and "Window" in above[above.index("Exchange") :]:
            return True
    return False


def test_ann_brute_force_is_broadcast_not_cartesian(spark):
    """Every brute tier plans its deliberate small-side crossJoin as a
    broadcast NLJ (never a CartesianProduct of the big side), ranks
    with no Python boundary, and gets a partial WindowGroupLimit under
    the rank exchange — the JVM bound on the rows each task ships."""
    from lakehouse_admin_spark.plans.inspect import explain_str, plan_tree

    for name in BRUTE_TIERS:
        nodes = plan_tree(explain_str(q(name)(spark, SF_SMOKE), "formatted"))
        names = [n for _c, n in nodes]
        assert "MapInPandas" not in names, name
        assert "BroadcastNestedLoopJoin" in names, name
        assert "CartesianProduct" not in names, name
        assert _limit_below_rank_exchange(nodes), name


def test_plan_sweep_counts_each_operator_once():
    """The committed r14 ann_topk_cosine plan holds one MapInPandas
    node; the details section repeats it, and must not count twice."""
    from pathlib import Path

    from tools.plan_sweep import analyze

    root = Path(__file__).resolve().parent.parent
    flags = analyze((root / "plans/r14/after/ann_topk_cosine.txt").read_text())
    assert flags["n_python"] == 1
    assert flags["n_bnlj"] == 1
    assert flags["n_window"] == 1
    assert flags["n_window_group_limit"] == 2
    assert flags["n_exchange"] == 3


def test_plan_sweep_counts_rdd_scans():
    """The committed r14 minhash_near_dup tree reads five localCheckpoint
    frames: five ``Scan ExistingRDD`` nodes and no local scan."""
    from pathlib import Path

    from tools.plan_sweep import analyze

    root = Path(__file__).resolve().parent.parent
    flags = analyze((root / "plans/r14/after/minhash_near_dup.txt").read_text())
    assert flags["n_rdd_scan"] == 5
    assert flags["n_local_scan"] == 0
    assert flags["n_scans"] == 5


def test_plan_sweep_counts_cache_scans_and_range_exchanges():
    """Committed sf0.1 sweep plans of the token-corpus change. Before it,
    ``text_quality`` range-sorted a parquet scan (one sampling
    exchange); after it, the query reads one cached scan and sorts
    nothing. ``bm25_topk`` reads four cached scans per call; the ten in
    its tree include the scans inside the caches' stored plans, and the
    two range exchanges of the token corpus's stored plan do not count
    either: they ran once, when the cache was built. Its one per-call
    range exchange is the final ``orderBy``."""
    from pathlib import Path

    from tools.plan_sweep import analyze

    root = Path(__file__).resolve().parent.parent / "plans/doc_tokens"
    before = analyze((root / "before/text_quality.txt").read_text())
    after = analyze((root / "after/text_quality.txt").read_text())
    assert (before["n_cache_scan"], before["n_range_exchange"]) == (0, 1)
    assert (after["n_cache_scan"], after["n_range_exchange"]) == (1, 0)
    bm25 = analyze((root / "after/bm25_topk.txt").read_text())
    assert (bm25["n_cache_scan"], bm25["n_range_exchange"]) == (4, 1)


def test_bucketed_star_join_no_fact_exchange(spark):
    """The DEFAULT revenue_by_nation plan (r9: bucketed fact layout)
    must plan the fact-fact join with NO Exchange on either orderkey
    side (bucketed co-location), while matching the unbucketed
    reference plan's results exactly — layout never changes results."""
    from lakehouse_admin_spark.plans.inspect import explain_str

    for name in ("revenue_by_nation", "revenue_by_nation_bucketed"):
        df = q(name)(spark, SF_SMOKE)
        plan = explain_str(df, "simple")
        assert "SortMergeJoin" in plan, name
        assert "Exchange hashpartitioning(l_orderkey" not in plan, name
        assert "Exchange hashpartitioning(o_orderkey" not in plan, name
    plain = q("revenue_by_nation_plain")(spark, SF_SMOKE)
    assert df.collect() == plain.collect()


def test_near_dup_block_decomposition(spark):
    """embedding_near_dup must be the distributed block-matrix plan:
    cogrouped pandas kernel keyed on the block pair, block-pair dim
    broadcast, no cartesian, no driver-side collect of the table."""
    from lakehouse_admin_spark.plans.inspect import explain_str

    df = q("embedding_near_dup")(spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "FlatMapCoGroupsInPandas" in plan
    assert not has_cartesian(df)
    strategies = join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_lsh_near_dup_keyed_and_subset_of_exact(spark):
    """LSH near-dup: candidate join keyed on (band, bucket) — never a
    cartesian — and its verified pairs are a subset of the exact
    all-pairs result (candidates can miss, never invent)."""
    lsh_df = q("embedding_lsh_near_dup")(spark, SF_SMOKE)
    assert not has_cartesian(lsh_df)
    exact = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in q("embedding_near_dup")(spark, SF_SMOKE).collect()
    }
    lsh = {(r.vec_a, r.vec_b, r.cosine) for r in lsh_df.collect()}
    assert lsh <= exact


def test_minhash_bucket_join_bounded_exchanges(spark):
    # assert on the UNCACHED plan: a warmed shingle cache embeds an
    # InMemoryRelation whose inner plan inflates the string-based count
    # CacheManager substitutes ANY matching cached subplan (including
    # persists left by minhash_near_dup), so wipe everything
    spark.catalog.clearCache()
    ir.invalidate(SF_SMOKE, "posting")
    df = q("minhash_band_buckets")(spark, SF_SMOKE)
    # 3 real shuffles (repartition, signature agg, output sort); the
    # string-based count sees one more when the posting-list cache's
    # stored plan is embedded
    assert exchange_count(df) <= 4


def test_ivf_pq_cell_keyed_plan_and_recall(spark):
    """IVF+PQ composition: the ADC candidate join must be keyed on the
    probed cell (broadcast hash joins against the codes side — no
    BroadcastNestedLoopJoin/cartesian like the full-ADC scan's
    deliberate crossJoin), and its results can only differ from the
    full ADC scan by neighbors OUTSIDE the probed cells — candidates
    found in-cell must carry identical approx_dist."""
    df = q("ann_ivf_pq_topk")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    strategies = join_strategies(df)
    # exactly one nested-loop join is allowed: the deliberate broadcast
    # of the |cells|-row centroid table during probing (same shape as
    # ann_ivf_multiprobe); every join TOUCHING THE CODES SIDE is a
    # keyed broadcast hash join
    assert strategies.count("BroadcastNestedLoopJoin") <= 1, strategies
    assert strategies.count("BroadcastHashJoin") >= 2, strategies
    full = {
        (r.query_id, r.neighbor_id): r.approx_dist
        for r in q("ann_pq_topk")(spark, SF_SMOKE).collect()
    }
    probed = {
        (r.query_id, r.neighbor_id): r.approx_dist
        for r in df.collect()
    }
    # same ADC metric wherever both found the pair
    for key in probed.keys() & full.keys():
        assert probed[key] == full[key]
    # every query covered; recall vs full ADC must beat the RANDOM
    # probed-cell mass floor (IVF_PROBES/√n ≈ 0.087 at n=500): trained
    # probing targets the nearest cells, measured 0.20 on this
    # deterministic pipeline — pinned at 0.10
    assert {qid for qid, _ in probed} == {qid for qid, _ in full}
    recall = len(probed.keys() & full.keys()) / len(full)
    assert recall >= 0.10, f"probed ADC recall {recall} below trained-cell floor"


# -- skew utilities ---------------------------------------------------------


def test_multiprobe_ivf_recall_and_plan(spark):
    """Multi-probe IVF over TRAINED √n k-means cells: candidate join
    keyed on the probed cell (no cartesian against the corpus — the
    only cross join is the broadcast centroid probe), full query
    coverage, and recall@k vs brute force well above the random
    probed-mass floor (IVF_PROBES/√n ≈ 0.087 at n=500; trained probing
    measured 0.32 on this deterministic pipeline — pinned at 0.15).
    The label-restricted single-probe (`ann_ivf_topk`, random cells by
    construction) is the untrained baseline it must beat."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in q("ann_topk_cosine")(spark, SF_SMOKE).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in q("ann_ivf_topk")(spark, SF_SMOKE).collect()
    }
    mdf = q("ann_ivf_multiprobe")(spark, SF_SMOKE)
    assert not has_cartesian(mdf)
    multi = {(r.query_id, r.neighbor_id) for r in mdf.collect()}
    recall_single = len(single & brute) / len(brute)
    recall_multi = len(multi & brute) / len(brute)
    assert recall_multi >= 0.15, recall_multi
    assert recall_multi > recall_single, (
        "trained cells must beat the random-label single probe"
    )
    assert {qid for qid, _ in multi} == {qid for qid, _ in brute}


def test_ivf_pq_rerank_dominates_adc_and_plan(spark):
    """IVFADC re-rank: (1) the exact pass must touch only the
    broadcast shortlist — no full-cosine scan (the corpus side joins
    the shortlist by key, never a cartesian); (2) THEOREM pin: any
    brute-force top-k member inside the ADC top-k is necessarily
    re-ranked back into the final top-k (shortlist ⊇ ADC top-k, and a
    globally-best-5 member of the shortlist cannot be displaced by 5
    better shortlist members), so rerank recall vs brute force
    dominates the ADC-only ordering's."""
    df = q("ann_ivf_pq_rerank")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in q("ann_topk_cosine")(spark, SF_SMOKE).collect()
    }
    adc_only = {
        (r.query_id, r.neighbor_id)
        for r in q("ann_ivf_pq_topk")(spark, SF_SMOKE).collect()
    }
    rer = {(r.query_id, r.neighbor_id) for r in df.collect()}
    assert (adc_only & brute) <= rer, (
        "rerank dropped a true neighbor the ADC ordering had found"
    )
    assert len(rer & brute) >= len(adc_only & brute)
    assert {qid for qid, _ in rer} == {qid for qid, _ in brute}


def test_rangejoin_bucketed_not_nested_loop(spark):
    """The bucketed range join must plan as hash joins on (key, bucket);
    the naive inequality-only formulation of the same query plans a
    BroadcastNestedLoopJoin — the per-key cross product the operator
    exists to avoid."""
    from lakehouse_admin_spark.plans.inspect import explain_str

    df = q("attribution_counts_rangejoin")(spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_cartesian(df)
    # counter-example: the un-bucketed inequality join IS a nested loop
    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    naive = p.join(
        c,
        (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
    )
    assert "BroadcastNestedLoopJoin" in explain_str(naive, "simple")


def test_winnow_overlap_keyed_no_cartesian(spark):
    """Winnow overlap pairs: the candidate self-join is keyed on the
    fingerprint (posting-list cost), never a cartesian, and the
    guarantee holds — docs sharing a >= k+w-1-char substring share at
    least one fingerprint."""
    df = q("winnow_overlap_pairs")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    # guarantee check on a synthetic pair with a long shared substring
    from lakehouse_admin_spark.operators.textual import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprint_df,
    )
    import lakehouse_admin_spark.sources.tables as tbl

    shared = "x" * 0 + "the quick brown fox jumps over the lazy dog"
    rows = [(1, "AAAA " + shared), (2, shared + " BBBB")]
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = tbl.load_table
    tbl.load_table = lambda _s, _d, _n: docs
    try:
        import lakehouse_admin_spark.operators.textual as tx

        orig_tx = tx.load_table
        tx.load_table = lambda _s, _d, _n: docs
        try:
            fps = winnow_fingerprint_df(spark, "unused")
            by_doc = {
                r["doc_id"]: set(r["fps"])
                for r in fps.groupBy("doc_id")
                .agg(F.collect_set("fingerprint").alias("fps"))
                .collect()
            }
        finally:
            tx.load_table = orig_tx
    finally:
        tbl.load_table = orig
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"


def test_salted_aggregate_matches_plain(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r["event_type"],): (r["n"], round(r["s"], 2))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = salted_aggregate(
        ev,
        ["event_type"],
        {"n": "count", "value": "sum"},
        salt_col=F.col("event_id"),
        n_salts=8,
    )
    got = {
        (r["event_type"],): (r["n"], round(r["value"], 2)) for r in salted.collect()
    }
    assert got == plain


def test_salted_join_matches_plain(spark):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    users = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .withColumn("tag", F.col("user_id") % 7)
    )
    plain = ev.join(users, "user_id").select("event_id", "tag")
    salted = salted_join(ev, users, "user_id", n_salts=4).select("event_id", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_incremental_near_dup_equals_full_restricted(spark):
    """Incremental (delta vs persisted index) must equal the full
    recompute restricted to pairs touching a delta doc."""
    full = q("minhash_near_dup")(spark, SF_SMOKE).collect()
    incr = q("incremental_near_dup")(spark, SF_SMOKE).collect()
    expect = [r for r in full if r.doc_a % 10 == 0 or r.doc_b % 10 == 0]
    assert sorted(map(tuple, incr)) == sorted(map(tuple, expect))


def test_contamination_broadcasts_eval_grams(spark):
    """The eval-shingle side must broadcast: the probe is a broadcast
    hash join against corpus postings, never a doc-pair shuffle."""
    df = q("contamination_check")(spark, SF_SMOKE)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert not has_cartesian(df)


def test_stratified_sample_single_pass(spark):
    """Rates table broadcasts; the keep-filter runs scan-local, so the
    only exchange is the final presentation sort."""
    df = q("stratified_sample")(spark, SF_SMOKE)
    assert join_strategies(df) == ["BroadcastHashJoin"]
    assert exchange_count(df) <= 1


def test_sequence_packing_one_shuffle(spark):
    """One window cumsum keyed on source + the presentation sort: no
    third exchange may appear."""
    df = q("sequence_packing")(spark, SF_SMOKE)
    assert exchange_count(df) <= 2


def test_ivf_index_cached_and_invalidatable(spark):
    """The trained IVF index is built once per (session, tier) — an
    index is trained once and served many times — and explicitly
    invalidatable after an embeddings rewrite."""
    import lakehouse_admin_spark.operators.similarity as sim

    ir.invalidate(name="ivf")
    assert not cached("ivf")
    c1, _ = sim.ivf_index(spark, SF_SMOKE)
    assert len(cached("ivf")) == 1
    c2, _ = sim.ivf_index(spark, SF_SMOKE)
    assert c1 is c2, "second call must hit the cache"
    assert ir.invalidate(SF_SMOKE, "ivf") == 1
    assert not cached("ivf")


def test_pq_index_cached_and_invalidatable(spark):
    """r12 (r11 verdict #3): the PQ codes/LUT frames are encoded once
    per (session, tier, variant, stride) and served from checkpoint —
    the Arrow encode kernel previously re-ran on every pq-query
    invocation, dominating ann_ivf_pq_topk/_rerank serve latency.
    Cells ride only the "ivf" variant: with_cells on any other
    explicit variant is refused instead of silently dropping them."""
    import lakehouse_admin_spark.operators.similarity as sim

    ir.invalidate(name="pq")
    assert not cached("pq")
    c1, l1 = sim.pq_index(spark, SF_SMOKE, with_cells=False)
    c2, l2 = sim.pq_index(spark, SF_SMOKE, with_cells=False)
    assert c1 is c2 and l1 is l2, "second call must hit the cache"
    ci, _li = sim.pq_index(spark, SF_SMOKE, with_cells=True)
    assert ci is not c1 and "cell" in ci.columns and "cell" not in c1.columns
    assert len(cached("pq")) == 2
    with pytest.raises(ValueError):
        sim.pq_index(spark, SF_SMOKE, with_cells=True, variant="opq")
    assert len(cached("pq")) == 2
    assert ir.invalidate(SF_SMOKE, "pq") == 2
    assert not cached("pq")


def test_sq_topk_recall_and_plan(spark):
    """SQ8 asymmetric scan: same broadcast-queries linear-scan shape as
    the float brute force (no CartesianProduct), and with 255 levels the
    reconstruction error is so small that top-5 recall vs the exact
    float scan must stay near-perfect (pinned ≥ 0.9)."""
    df = q("ann_sq_topk")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    sq = {(r.query_id, r.neighbor_id) for r in df.collect()}
    exact = {
        (r.query_id, r.neighbor_id)
        for r in q("ann_topk_cosine")(spark, SF_SMOKE).collect()
    }
    assert {q_ for q_, _ in sq} == {q_ for q_, _ in exact}
    recall = len(sq & exact) / len(exact)
    assert recall >= 0.9, f"SQ8 recall vs exact collapsed: {recall:.3f}"


def test_cross_doc_ngram_dup_covers_near_dup_docs(spark):
    """Soundness bounds (no doc reports more shared grams than grams)
    plus a fixture-informed coverage pin: the planted near-duplicates
    are contiguous copies, so every member of a 3-gram-Jaccard ≥ 0.5
    pair (ngram_jaccard_pairs) must also surface in the exact 8-gram
    duplication report — the sampled/approximate tiers may only ever
    MISS docs the exact tier finds, never the reverse."""
    rep = {r.doc_id: r for r in q("cross_doc_ngram_dup")(spark, SF_SMOKE).collect()}
    assert rep, "fixture corpus plants near-dups; report must be non-empty"
    for r in rep.values():
        assert 0 < r.n_dup_grams <= r.n_grams
        assert r.dup_share <= 1.0

    pairs = q("ngram_jaccard_pairs")(spark, SF_SMOKE).collect()
    near_dup_docs = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert near_dup_docs, "fixture must contain near-duplicate pairs"
    missing = near_dup_docs - set(rep)
    assert not missing, f"near-dup docs absent from exact 8-gram report: {sorted(missing)[:5]}"


def test_source_quality_rollup_consistent_with_per_doc_gate(spark):
    """The domain rollup's n_kept must equal the per-doc
    quality_filter_pipeline verdicts folded by source, and the
    source_kept decision must be exactly kept_share >= 0.5 (integer
    arithmetic — no float drift can flip the boundary)."""
    from collections import Counter

    from lakehouse_admin_spark.sources.tables import load_table

    per_doc = q("quality_filter_pipeline")(spark, SF_SMOKE).collect()
    src = {
        r.doc_id: r.source
        for r in load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "source"
        ).collect()
    }
    kept_by_src = Counter(src[r.doc_id] for r in per_doc if r.kept)
    docs_by_src = Counter(src[r.doc_id] for r in per_doc)
    roll = q("source_quality_rollup")(spark, SF_SMOKE).collect()
    assert {r.source for r in roll} == set(docs_by_src)
    for r in roll:
        assert r.n_docs == docs_by_src[r.source]
        assert r.n_kept == kept_by_src.get(r.source, 0)
        assert r.source_kept == (r.n_kept / r.n_docs >= 0.5)


def test_ann_filtered_topk_prefilter_semantics(spark):
    """Filtered retrieval must PRE-filter: every neighbor's document
    passes the lang gate, every query still gets k results from the
    eligible set, and the result genuinely differs from post-filtering
    the global top-k (neighbors outside the unfiltered top-5 appear —
    the starvation post-filtering would cause)."""
    from lakehouse_admin_spark.operators.similarity import FILTER_LANG, TOP_K
    from lakehouse_admin_spark.sources.tables import load_table

    df = q("ann_filtered_topk")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    rows = df.collect()
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "lang"
        ).collect()
    }
    assert all(langs[r.neighbor_id] == FILTER_LANG for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, TOP_K + 1)) for v in per_q.values())
    global_topk = {
        (r.query_id, r.neighbor_id)
        for r in q("ann_topk_cosine")(spark, SF_SMOKE).collect()
    }
    fresh = {(r.query_id, r.neighbor_id) for r in rows} - global_topk
    assert fresh, "pre-filter must surface neighbors post-filtering would starve"


def test_quality_percentile_gate_separation(spark):
    """The dynamic gate is monotone by construction — within a
    language every dropped doc's signal is strictly below every kept
    doc's — and a 25th-percentile cutoff keeps at least ~70% of the
    language (ties can only push the kept share UP)."""
    rows = q("quality_percentile_gate")(spark, SF_SMOKE).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert by_lang
    for lang, grp in by_lang.items():
        kept = [r.alpha_ratio for r in grp if r.kept]
        dropped = [r.alpha_ratio for r in grp if not r.kept]
        assert kept, lang
        if dropped:
            # <= not <: alpha_ratio is 6dp-rounded in the output, so a
            # dropped/kept pair straddling the cutoff within 5e-7 can
            # round EQUAL; the monotone law on raw values still holds
            assert max(dropped) <= min(kept), lang
        assert len(kept) / len(grp) >= 0.70, (lang, len(kept), len(grp))
        cuts = {r.lang_cutoff for r in grp}
        assert len(cuts) == 1, f"{lang}: cutoff must be constant per language"


def test_bpe_learn_merges_invariants(spark):
    """BPE training invariants: ranks 1..k; counts strictly positive
    and NON-INCREASING (provable: any pair involving a round-r merged
    symbol had at least as many occurrences in round r-1 as a
    sub-pair, so the argmax can never rise); round 1 merges two single
    chars; symbols stay lowercase-alpha (the [a-z]+ training filter)."""
    import re

    from lakehouse_admin_spark.operators.textual import BPE_MERGES

    rows = q("bpe_learn_merges")(spark, SF_SMOKE).collect()
    assert [r.rank for r in rows] == list(range(1, BPE_MERGES + 1))
    counts = [r.pair_count for r in rows]
    assert all(c > 0 for c in counts)
    assert all(x >= y for x, y in zip(counts, counts[1:])), counts
    assert len(rows[0].left_sym) == 1 and len(rows[0].right_sym) == 1
    assert all(
        re.fullmatch(r"[a-z]+", r.left_sym + r.right_sym) for r in rows
    )


def test_dedup_keep_list_consistent_with_clusters(spark):
    """Keep-list algebra: kept == (doc_id == cluster_id); survivors =
    |docs| − Σ(|cluster|−1); every cluster keeps exactly its minimum;
    singletons are all kept."""
    keep = q("dedup_keep_list")(spark, SF_SMOKE).collect()
    clusters = {r.doc_id: r.cluster_id for r in q("dedup_clusters")(spark, SF_SMOKE).collect()}
    n_docs = len(keep)
    from collections import Counter

    sizes = Counter(clusters.values())
    expected_kept = n_docs - sum(s - 1 for s in sizes.values())
    assert sum(r.kept for r in keep) == expected_kept
    for r in keep:
        assert r.kept == (r.doc_id == r.cluster_id)
        if r.doc_id in clusters:
            assert r.cluster_id == clusters[r.doc_id]
        else:
            assert r.cluster_id == r.doc_id and r.kept


def test_bpe_encode_bounds_and_cached_trainer(spark):
    """Encoding bounds: n_words <= n_bpe_tokens <= n_chars for every
    doc (merges shrink char sequences but never below one token per
    word), chars_per_token >= 1; and the trainer is cached — the
    encode pass must reuse the session's learned merge table, not
    retrain."""
    import lakehouse_admin_spark.operators.textual as tx

    ir.invalidate(name="bpe")
    rows = q("bpe_encode_token_counts")(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_words <= r.n_bpe_tokens <= r.n_chars, r
        assert r.chars_per_token >= 1.0
    [entry] = cached("bpe")
    merges = tx._learn_merges(spark, SF_SMOKE)
    assert cached("bpe")[0]["hits"] == entry["hits"] + 1, "must hit the cache"
    learned = [(r.rank, r.left_sym, r.right_sym, r.pair_count)
               for r in q("bpe_learn_merges")(spark, SF_SMOKE).collect()]
    assert learned == merges


def test_filtered_ivf_consistent_with_filtered_brute(spark):
    """Gated IVF composition: no cartesian against the corpus (only the
    broadcast centroid probe may be a nested loop); every neighbor
    passes the lang gate; wherever the probed search and the exact
    gated brute force find the same pair, the cosine is identical; and
    recall vs the gated brute floor beats the random probed-mass floor
    (same 0.15 pin as the ungated multiprobe)."""
    from lakehouse_admin_spark.operators.similarity import FILTER_LANG
    from lakehouse_admin_spark.sources.tables import load_table

    df = q("ann_filtered_ivf")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastNestedLoopJoin") <= 1, strategies
    rows = df.collect()
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "lang"
        ).collect()
    }
    assert all(langs[r.neighbor_id] == FILTER_LANG for r in rows)
    probed = {(r.query_id, r.neighbor_id): r.cosine for r in rows}
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in q("ann_filtered_topk")(spark, SF_SMOKE).collect()
    }
    for key in probed.keys() & exact.keys():
        assert probed[key] == exact[key]
    recall = len(probed.keys() & exact.keys()) / len(exact)
    assert recall >= 0.15, f"gated probed recall {recall} below trained-cell floor"


def test_perplexity_buckets_tercile_separation(spark):
    """CCNet head/middle/tail: within each language the buckets are
    strictly ordered by score (ties sit in the lower bucket by the <=
    rule), and each holds a nontrivial share — a tercile can't be
    empty or engulf the language."""
    rows = q("perplexity_buckets")(spark, SF_SMOKE).collect()
    by_lang: dict[str, dict[str, list]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(r.xent)
    assert by_lang
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, (lang, set(buckets))
        assert max(buckets["head"]) < min(buckets["middle"]), lang
        assert max(buckets["middle"]) < min(buckets["tail"]), lang
        n = sum(len(v) for v in buckets.values())
        for name, v in buckets.items():
            assert len(v) >= n // 5, (lang, name, len(v), n)


def test_semantic_contamination_total_and_sound(spark):
    """The audit is TOTAL (one row per eval vector — silence never
    reads as cleanliness), sides are disjoint, no cartesian of the big
    side, and every flagged pair really is a cross-split near-dup: its
    cosine must appear among the exact near-dup pairs when it clears
    that operator's threshold."""
    from lakehouse_admin_spark.operators.similarity import (
        EVAL_KEEP_SIM,
        EVAL_MOD_SIM,
    )
    from lakehouse_admin_spark.sources.tables import load_table

    df = q("semantic_contamination")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    rows = df.collect()
    n_eval = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter((F.col("vec_id") % EVAL_MOD_SIM) < EVAL_KEEP_SIM)
        .count()
    )
    assert len(rows) == n_eval
    assert len({r.eval_id for r in rows}) == n_eval
    for r in rows:
        assert r.eval_id % EVAL_MOD_SIM < EVAL_KEEP_SIM
        assert r.nearest_train_id % EVAL_MOD_SIM >= EVAL_KEEP_SIM
        assert r.contaminated == (r.cosine >= 0.9)
    # cross-operator: any audit pair clearing embedding_near_dup's 0.4
    # threshold (which includes every contaminated pair — 0.9 > 0.4)
    # must appear in that operator's exact pair set with the SAME 6dp
    # cosine; near-orthogonal fixtures may flag nothing at 0.9, but
    # the 0.4 tail keeps this pin non-vacuous
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q("embedding_near_dup")(spark, SF_SMOKE).collect()
    }
    checked = 0
    for r in rows:
        if r.cosine >= 0.4:
            key = (
                min(r.eval_id, r.nearest_train_id),
                max(r.eval_id, r.nearest_train_id),
            )
            assert exact.get(key) == r.cosine, (key, r.cosine)
            checked += 1
    assert checked, "0.4-tail pairs must exist for the cross-check to bite"


def test_semdedup_laws(spark):
    """SemDeDup verdict laws: total (one row per vector); the lowest id
    in every cell is always kept; every dropped vector really has a
    lower-id in-cell partner at 6dp cosine >= tau (cross-checked against
    embedding_near_dup's exact pair set, whose 0.4 threshold equals
    SEMDEDUP_TAU); drops are non-vacuous at this fixture."""
    from lakehouse_admin_spark.operators.similarity import SEMDEDUP_TAU
    from lakehouse_admin_spark.sources.tables import load_table

    rows = q("semdedup")(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n and len({r.vec_id for r in rows}) == n
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, grp in by_cell.items():
        lowest = min(grp, key=lambda r: r.vec_id)
        assert lowest.kept, f"cell {cell}: lowest id must be kept"
    cell_of = {r.vec_id: r.cell for r in rows}
    assert SEMDEDUP_TAU == 0.4  # the cross-check leans on the equality
    pairs = {
        (r.vec_a, r.vec_b)
        for r in q("embedding_near_dup")(spark, SF_SMOKE).collect()
    }  # all pairs with 6dp cosine >= 0.4
    dropped = [r.vec_id for r in rows if not r.kept]
    assert dropped, "fixture must produce drops for the laws to bite"
    for v in dropped:
        assert any(
            (a, v) in pairs and cell_of[a] == cell_of[v]
            for a in range(0, v)
            if a in cell_of
        ), f"{v} dropped without an in-cell lower-id near-dup"


def test_dsir_importance_laws(spark):
    """DSIR estimator laws: total over the raw pool (one verdict per
    non-target doc); the selected share matches the top-25% budget up
    to ties; and the estimator actually ranks target-like data up —
    raw ENGLISH docs (the target is an English slice) average a higher
    importance weight than non-English docs."""
    from pyspark.sql import functions as F

    from lakehouse_admin_spark.sources.tables import load_table

    rows = q("dsir_importance")(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    raw = docs.filter(~F.expr("lang = 'en' AND doc_id % 10 < 2"))
    n_raw = raw.count()
    assert len(rows) == n_raw
    assert len({r.doc_id for r in rows}) == n_raw
    share = sum(1 for r in rows if r.selected) / len(rows)
    assert 0.20 <= share <= 0.35, share
    lang_of = {r.doc_id: r.lang for r in raw.select("doc_id", "lang").collect()}
    en = [r.logw for r in rows if lang_of[r.doc_id] == "en"]
    other = [r.logw for r in rows if lang_of[r.doc_id] != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other), (
        "English raw docs must outscore non-English against an English target"
    )


def test_d4_prototype_prune_laws(spark):
    """D4 pruning laws: total (one verdict per vector, cells matching
    semdedup's assignment — both ride ivf_index); within every cell
    each dropped point sits at or below every kept point's d2 (the
    most-prototypical-first rule; <= because d2 is 6dp-rounded);
    singleton cells are kept; drops are non-vacuous and near the 20%
    budget overall."""
    rows = q("d4_prototype_prune")(spark, SF_SMOKE).collect()
    sd = {r.vec_id: r.cell for r in q("semdedup")(spark, SF_SMOKE).collect()}
    assert len(rows) == len(sd)
    assert all(sd[r.vec_id] == r.cell for r in rows)
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    dropped_total = 0
    for cell, grp in by_cell.items():
        kept = [r.d2 for r in grp if r.kept]
        dropped = [r.d2 for r in grp if not r.kept]
        assert kept, f"cell {cell} lost every member"
        if len(grp) == 1:
            assert grp[0].kept
        if dropped:
            assert max(dropped) <= min(kept), cell
        assert len({r.cell_cutoff for r in grp}) == 1
        dropped_total += len(dropped)
    share = dropped_total / len(rows)
    assert 0.05 <= share <= 0.25, share


def test_embedding_covariance_is_psd(spark):
    """The covariance output reassembled into a dense matrix must be
    symmetric PSD (eigvals >= -1e-9 after 6dp rounding), its diagonal
    non-negative, and its trace must equal the sum of per-dim
    variances computed independently — the algebraic signature that
    the distributed Gram kernel really computed E[(x-mu)(x-mu)^T]."""
    import numpy as np

    from lakehouse_admin_spark.operators.similarity import EMB_DIM
    from lakehouse_admin_spark.sources.tables import load_table

    rows = q("embedding_covariance")(spark, SF_SMOKE).collect()
    assert len(rows) == EMB_DIM * (EMB_DIM + 1) // 2
    c = np.zeros((EMB_DIM, EMB_DIM))
    for r in rows:
        c[r.dim_i - 1, r.dim_j - 1] = r.cov
        c[r.dim_j - 1, r.dim_i - 1] = r.cov
    assert (np.diag(c) >= 0).all()
    assert np.linalg.eigvalsh(c).min() >= -1e-9
    emb = np.stack(
        [
            np.asarray(r.embedding, dtype=np.float64)
            for r in load_table(spark, SF_SMOKE, "embeddings").collect()
        ]
    )
    var = ((emb - emb.mean(axis=0)) ** 2).mean(axis=0)
    assert abs(np.trace(c) - var.sum()) < 1e-4


def test_pca_whiten_project_laws(spark):
    """Whitening laws (no SQL oracle — eigen isn't relational): the
    projected components have ~zero mean, IDENTITY covariance on the
    kept subspace (unit variances, ~zero cross-covariances), output is
    total, and dimensionality equals PCA_COMPONENTS."""
    import numpy as np

    from lakehouse_admin_spark.operators.similarity import PCA_COMPONENTS
    from lakehouse_admin_spark.sources.tables import load_table

    rows = q("pca_whiten_project")(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n
    y = np.stack([np.asarray(r.component) for r in rows])
    assert y.shape == (n, PCA_COMPONENTS)
    assert np.abs(y.mean(axis=0)).max() < 1e-4
    cov = (y - y.mean(axis=0)).T @ (y - y.mean(axis=0)) / n
    assert np.abs(np.diag(cov) - 1.0).max() < 1e-3
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-3


def test_binary_funnel_laws(spark):
    """r12: the binary tiers — no cartesian in either plan; the sign
    threshold cache follows the train-hit-evict law; and the FUNNEL
    must earn its keep: exact re-rank over the 50-deep Hamming
    shortlist must recover ≥0.5 recall@5 vs the exact float scan AND
    strictly beat the raw binary top-k's recall (deterministic
    pipeline — fixed fixture, no RNG — so the pins are stable)."""
    import lakehouse_admin_spark.operators.similarity as sim

    topk_df = q("ann_binary_hamming_topk")(spark, SF_SMOKE)
    rerank_df = q("ann_binary_rerank")(spark, SF_SMOKE)
    assert not has_cartesian(topk_df) and not has_cartesian(rerank_df)

    ir.invalidate(name="binary_mu")
    m1 = sim.binary_train_mu(spark, SF_SMOKE)
    assert sim.binary_train_mu(spark, SF_SMOKE) is m1, "must hit the cache"
    assert ir.invalidate(SF_SMOKE, "binary_mu") == 1

    def by_query(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = by_query(q("ann_topk_cosine")(spark, SF_SMOKE))
    binary = by_query(topk_df)
    funnel = by_query(rerank_df)
    rec_b = sum(
        len(exact[k] & binary.get(k, set())) / len(exact[k]) for k in exact
    ) / len(exact)
    rec_f = sum(
        len(exact[k] & funnel.get(k, set())) / len(exact[k]) for k in exact
    ) / len(exact)
    assert rec_f >= 0.5, rec_f
    assert rec_f > rec_b, (rec_f, rec_b)


def test_train_val_split_single_stratum_shuffle(spark):
    """r12: the rank window and the per-source count window must share
    ONE hashpartitioning(source) exchange (plus only the presentation
    sort); split totality and the exact per-stratum val quota are
    checked against the documents table."""
    import math

    from lakehouse_admin_spark.operators.curation import VAL_FRAC
    from lakehouse_admin_spark.plans.inspect import exchange_count, explain_str

    df = q("train_val_split")(spark, SF_SMOKE)
    assert explain_str(df, "simple").count("hashpartitioning(source") == 1
    assert exchange_count(df) <= 2
    rows = df.collect()
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert len(rows) == n  # total: every doc gets exactly one split
    per = {}
    for r in rows:
        a, b = per.setdefault(r.source, [0, 0])
        per[r.source][0 if r.split == "val" else 1] += 1
    for src, (nval, ntrain) in per.items():
        assert nval == math.ceil(VAL_FRAC * (nval + ntrain)), src


def test_pca_whiten_matches_duckdb_numpy_oracle(spark):
    """r12 (r11 verdict #6): an SQL oracle for the eigen step is
    genuinely infeasible on this fixture (random-matrix bulk spectrum,
    relative eigengaps 0.5-7% — power iteration would need ~10^3
    unrolled rounds; see the query's decorator note), so replay the
    ENTIRE pipeline through an independent Spark-free path instead:
    covariance + means from DuckDB relational SQL (the same statements
    the hash-green embedding_covariance oracle uses), then the
    identical canonicalized eigh + whitening + 6dp rounding in numpy.
    Every projected coordinate must match the Spark output exactly."""
    import duckdb
    import numpy as np

    from lakehouse_admin_spark.operators.similarity import (
        EMB_DIM,
        PCA_COMPONENTS,
    )

    rows = q("pca_whiten_project")(spark, SF_SMOKE).collect()
    got = {r.vec_id: list(r.component) for r in rows}

    con = duckdb.connect()
    pq = f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    ids, embs = zip(
        *con.execute(
            f"SELECT vec_id, embedding FROM {pq} ORDER BY vec_id"
        ).fetchall()
    )
    x = np.array([np.asarray(e, dtype=np.float64) for e in embs])
    mu = np.array(
        [
            float(m)
            for _i, m in con.execute(f"""
        SELECT i, AVG(CAST(v AS DOUBLE)) AS m
        FROM (SELECT generate_subscripts(embedding, 1) AS i,
                     unnest(embedding) AS v FROM {pq})
        GROUP BY i ORDER BY i
        """).fetchall()
        ]
    )
    cov_rows = con.execute(f"""
        WITH mu AS (
            SELECT i, AVG(CAST(v AS DOUBLE)) AS m
            FROM (SELECT generate_subscripts(embedding, 1) AS i,
                         unnest(embedding) AS v FROM {pq})
            GROUP BY i
        ),
        cent AS (
            SELECT e.vec_id, t.i,
                   CAST(e.embedding[t.i] AS DOUBLE) - mu.m AS c
            FROM {pq} e
            CROSS JOIN (SELECT UNNEST(range(1, {EMB_DIM + 1})) AS i) t
            JOIN mu ON mu.i = t.i
        ),
        n AS (SELECT COUNT(*) AS n FROM {pq})
        SELECT CAST(a.i AS INT), CAST(b.i AS INT),
               ROUND(SUM(a.c * b.c) / n.n, 6)
        FROM cent a
        JOIN cent b ON a.vec_id = b.vec_id AND a.i <= b.i
        CROSS JOIN n GROUP BY a.i, b.i, n.n
        """).fetchall()
    c = np.zeros((EMB_DIM, EMB_DIM))
    for i, j, v in cov_rows:
        c[i - 1, j - 1] = v
        c[j - 1, i - 1] = v
    evals, evecs = np.linalg.eigh(c)
    idx = np.argsort(evals)[::-1][:PCA_COMPONENTS]
    lam, v = evals[idx], evecs[:, idx]
    for j in range(v.shape[1]):
        k = int(np.argmax(np.abs(v[:, j])))
        if v[k, j] < 0:
            v[:, j] = -v[:, j]
    w = v / np.sqrt(np.maximum(lam, 1e-12))[None, :]
    want = np.round((x - mu[None, :]) @ w, 6)
    assert set(got) == set(int(i) for i in ids)
    for vid, row in zip(ids, want):
        assert got[int(vid)] == list(row), f"vec_id={vid} projection mismatch"


def test_bpe_batch_laws(spark):
    """Batched-BPE laws: round-1 pick-1 equals the sequential trainer's
    first merge (identical pre-merge corpus); within a round, symbols
    of the selected pairs are pairwise disjoint (the commutation
    precondition) and recorded counts are non-increasing by pos; at
    most BPE_BATCH_N picks per round; round 2 exists (the corpus has
    plenty of pairs)."""
    from lakehouse_admin_spark.operators.textual import (
        BPE_BATCH_N,
        BPE_BATCH_ROUNDS,
    )

    rows = q("bpe_batch_learn_merges")(spark, SF_SMOKE).collect()
    seq = q("bpe_learn_merges")(spark, SF_SMOKE).collect()
    first = [r for r in rows if r.round == 1 and r.pos == 1][0]
    assert (first.left_sym, first.right_sym, first.pair_count) == (
        seq[0].left_sym,
        seq[0].right_sym,
        seq[0].pair_count,
    )
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r.round, []).append(r)
    assert set(by_round) == set(range(1, BPE_BATCH_ROUNDS + 1))
    for rnd, grp in by_round.items():
        grp.sort(key=lambda r: r.pos)
        assert len(grp) <= BPE_BATCH_N
        syms = [s for r in grp for s in (r.left_sym, r.right_sym)]
        assert len(syms) == len(set(syms)), f"round {rnd} symbols overlap"
        counts = [r.pair_count for r in grp]
        assert counts == sorted(counts, reverse=True), counts


def test_collocations_pmi_laws(spark):
    """PMI laws: ranks contiguous from 1, non-increasing pmi, every
    pair at/above the count floor, and the top pair's PMI reproduces
    from raw unigram/bigram counts computed independently."""
    import math

    from lakehouse_admin_spark.operators.dedup import tokens_expr
    from lakehouse_admin_spark.operators.textual import PMI_MIN_COUNT
    from lakehouse_admin_spark.sources.tables import load_table

    rows = q("collocations_pmi")(spark, SF_SMOKE).collect()
    assert rows and [r.rank for r in rows] == list(range(1, len(rows) + 1))
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r.pair_count >= PMI_MIN_COUNT for r in rows)
    toks = [
        r.t
        for r in load_table(spark, SF_SMOKE, "documents")
        .select(F.explode(tokens_expr(F.col("text"))).alias("t"))
        .collect()
    ]
    uni: dict[str, int] = {}
    big: dict[tuple, int] = {}
    for t in toks:
        uni[t] = uni.get(t, 0) + 1
    docs_toks = [
        r.ts
        for r in load_table(spark, SF_SMOKE, "documents")
        .select(tokens_expr(F.col("text")).alias("ts"))
        .collect()
    ]
    tb = 0
    for ts in docs_toks:
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            tb += 1
    top = rows[0]
    t_tot = len(toks)
    expect = math.log(
        (big[(top.left_tok, top.right_tok)] / tb)
        / ((uni[top.left_tok] / t_tot) * (uni[top.right_tok] / t_tot))
    )
    assert abs(expect - top.pmi) < 5e-4
    assert big[(top.left_tok, top.right_tok)] == top.pair_count


def test_knn_pagerank_laws(spark):
    """PageRank laws: total (one score per vector); scores form a
    probability-like distribution (sum ~1 — k-NN graphs have no
    dangling nodes, every vertex has exactly k out-edges); every score
    >= the teleport floor (1-d)/n; mass concentrates above uniform for
    some vertices (non-degenerate graph)."""
    from lakehouse_admin_spark.operators.graph_ann import PR_DAMP
    from lakehouse_admin_spark.sources.tables import load_table

    rows = q("knn_pagerank")(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    floor = (1.0 - PR_DAMP) / n
    assert all(r.pagerank >= floor - 1e-9 for r in rows)
    assert max(r.pagerank for r in rows) > 1.0 / n


def test_funnel_counts_laws(spark):
    """Funnel laws: stage user counts are non-increasing (each stage
    requires the previous), stage-1 share is exactly 1.0, and the
    view stage matches an independent distinct-user count."""
    rows = q("funnel_counts")(spark, SF_SMOKE).collect()
    assert [r.stage_no for r in rows] == [1, 2, 3, 4]
    users = [r.users for r in rows]
    assert users == sorted(users, reverse=True)
    assert rows[0].share == 1.0
    ev = load_table(spark, SF_SMOKE, "events")
    n_view = (
        ev.filter(F.col("event_type") == "view").select("user_id").distinct().count()
    )
    assert rows[1].users == n_view


def test_events_gap_fill_laws(spark):
    """Gap-fill laws: the grid is dense (|days| x |types| rows,
    consecutive days with no holes), counts fold back to the exact
    corpus total, and gap_filled marks exactly the zero rows."""
    rows = q("events_gap_fill")(spark, SF_SMOKE).collect()
    days = sorted({r.day for r in rows})
    types = {r.event_type for r in rows}
    assert len(rows) == len(days) * len(types)
    assert (days[-1] - days[0]).days + 1 == len(days), "calendar has holes"
    ev = load_table(spark, SF_SMOKE, "events")
    assert sum(r.n_events for r in rows) == ev.count()
    for r in rows:
        assert r.gap_filled == (r.n_events == 0)


def test_cohort_retention_laws(spark):
    """Retention-triangle laws: every cohort has an offset-0 row with
    retention exactly 1.0 (the signup event itself is activity in the
    cohort week), retention never exceeds 1, offsets are non-negative,
    and active_users <= cohort_users everywhere."""
    rows = q("cohort_retention")(spark, SF_SMOKE).collect()
    assert rows
    cohorts = {r.cohort_week for r in rows}
    zero = {r.cohort_week: r for r in rows if r.week_offset == 0}
    assert set(zero) == cohorts
    for r in zero.values():
        assert r.retention == 1.0 and r.active_users == r.cohort_users
    for r in rows:
        assert r.week_offset >= 0
        assert 0 < r.active_users <= r.cohort_users
        assert r.retention <= 1.0


def test_dsir_gumbel_topk_laws(spark):
    """Gumbel-top-k laws: exactly K draws with contiguous ranks; keys
    non-increasing; the draw is BIASED toward high weights (mean logw
    of the sample exceeds the raw-pool mean — the property importance
    resampling exists for); deterministic across re-runs."""
    from lakehouse_admin_spark.operators.curation import DSIR_SAMPLE_K

    rows = q("dsir_gumbel_topk")(spark, SF_SMOKE).collect()
    assert len(rows) == DSIR_SAMPLE_K
    assert [r.draw_rank for r in rows] == list(range(1, DSIR_SAMPLE_K + 1))
    keys = [r.gumbel_key for r in rows]
    assert keys == sorted(keys, reverse=True)
    pool = q("dsir_importance")(spark, SF_SMOKE).collect()
    pool_mean = sum(r.logw for r in pool) / len(pool)
    samp_mean = sum(r.logw for r in rows) / len(rows)
    assert samp_mean > pool_mean
    again = q("dsir_gumbel_topk")(spark, SF_SMOKE).collect()
    assert [(r.doc_id, r.draw_rank) for r in again] == [
        (r.doc_id, r.draw_rank) for r in rows
    ]


def test_sq_and_bpe_caches_invalidatable(spark):
    """Train once → cache hit (same object) → targeted invalidation
    evicts exactly the tier's entry so a fixture rewrite can't serve a
    stale quantizer or merge table."""
    import lakehouse_admin_spark.operators.similarity as sim
    import lakehouse_admin_spark.operators.textual as tex

    ir.invalidate(name="sq")
    s1 = sim.sq_train_stats(spark, SF_SMOKE)
    assert sim.sq_train_stats(spark, SF_SMOKE) is s1, "must hit the cache"
    assert ir.invalidate(SF_SMOKE, "sq") == 1
    assert ir.invalidate(SF_SMOKE, "sq") == 0

    ir.invalidate(name="bpe")
    m1 = tex._learn_merges(spark, SF_SMOKE)
    assert tex._learn_merges(spark, SF_SMOKE) is m1, "must hit the cache"
    assert ir.invalidate(SF_SMOKE, "bpe") == 1
    assert ir.invalidate(SF_SMOKE, "bpe") == 0


def test_posting_bm25_catalog_caches_invalidatable(spark):
    """r11: the last id(spark)-keyed caches moved to applicationId keys
    with invalidation parity (r10 verdict #4 + ADVICE bm25-leak): the
    dedup posting list, the BM25 corpus frame (persisted once per
    (app, corpus) instead of leaking one per invocation), and the
    fixture catalog handles. Same train-hit-evict law as the rest."""
    import lakehouse_admin_spark.operators.dedup as dd
    import lakehouse_admin_spark.operators.retrieval as ret
    import lakehouse_admin_spark.sources.fixtures as fx

    ir.invalidate(name="posting")
    p1 = dd.exploded_shingles(spark, SF_SMOKE)
    assert dd.exploded_shingles(spark, SF_SMOKE) is p1, "must hit the cache"
    app = spark.sparkContext.applicationId
    assert [e["app"] for e in cached("posting")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "posting") == 1
    assert ir.invalidate(SF_SMOKE, "posting") == 0

    ir.invalidate(name="bm25")
    c1 = ret._bm25_corpus(spark, SF_SMOKE)
    assert ret._bm25_corpus(spark, SF_SMOKE) is c1, "must hit the cache"
    assert [e["app"] for e in cached("bm25")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "bm25") == 1
    assert ir.invalidate(SF_SMOKE, "bm25") == 0

    cat1 = fx.get_catalog(spark)
    assert fx.get_catalog(spark) is cat1, "must hit the cache"
    wh = cat1.warehouse
    assert [e["app"] for e in cached("catalog", wh)] == [app], "appId-keyed"
    assert ir.invalidate(wh, "catalog") == 1
    assert ir.invalidate(wh, "catalog") == 0
    # repopulate: later fixture-backed tests reuse the process warehouse
    assert fx.get_catalog(spark) is not cat1


def test_r13_session_index_caches_invalidatable(spark):
    """r13 session-index caches follow the same train-hit-evict law as
    ivf/pq/graph/posting: build once per (applicationId, tier) → second
    call returns the SAME object → targeted invalidation evicts exactly
    the tier's entries → a second invalidation finds nothing. Covers
    the five new standing indexes: winnow fingerprints + capped posts,
    the lang-ID trigram profile, the DSIR gram-count frame, the
    embedding LSH band table, the multimodal feature frame, and the
    shared (mu, cov) second-moment model."""
    import lakehouse_admin_spark.operators.curation as cur
    import lakehouse_admin_spark.operators.multimodal as mm
    import lakehouse_admin_spark.operators.similarity as sim
    import lakehouse_admin_spark.operators.textual as tex

    app = spark.sparkContext.applicationId

    ir.invalidate(name="winnow")
    p1 = tex._winnow_capped_posts(spark, SF_SMOKE)  # builds fps too
    assert tex._winnow_capped_posts(spark, SF_SMOKE) is p1, "must hit"
    assert tex.winnow_fingerprint_df(spark, SF_SMOKE) is tex.winnow_fingerprint_df(
        spark, SF_SMOKE
    )
    assert {e["app"] for e in cached("winnow")} == {app}, "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "winnow") == 2  # fps + posts
    assert ir.invalidate(SF_SMOKE, "winnow") == 0

    ir.invalidate(name="lang_profile")
    pr1 = tex._session_lang_profile(spark, SF_SMOKE)
    assert tex._session_lang_profile(spark, SF_SMOKE) is pr1, "must hit"
    assert [e["app"] for e in cached("lang_profile")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "lang_profile") == 1
    assert ir.invalidate(SF_SMOKE, "lang_profile") == 0

    ir.invalidate(name="dsir")
    g1 = cur._dsir_gram_counts(spark, SF_SMOKE)
    assert cur._dsir_gram_counts(spark, SF_SMOKE) is g1, "must hit"
    assert [e["app"] for e in cached("dsir")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "dsir") == 1  # only g built here
    assert ir.invalidate(SF_SMOKE, "dsir") == 0

    ir.invalidate(name="lsh_bands")
    b1 = sim._session_lsh_bands(spark, SF_SMOKE)
    assert sim._session_lsh_bands(spark, SF_SMOKE) is b1, "must hit"
    assert [e["app"] for e in cached("lsh_bands")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "lsh_bands") == 1
    assert ir.invalidate(SF_SMOKE, "lsh_bands") == 0

    ir.invalidate(name="mm_features")
    f1 = mm._session_features(spark, SF_SMOKE)
    assert mm._session_features(spark, SF_SMOKE) is f1, "must hit"
    assert [e["app"] for e in cached("mm_features")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "mm_features") == 1
    assert ir.invalidate(SF_SMOKE, "mm_features") == 0

    import lakehouse_admin_spark.operators.dedup as dd

    ir.invalidate(name="cdc_chunks")
    c1 = dd._cdc_chunk_hashes(spark, SF_SMOKE)
    assert dd._cdc_chunk_hashes(spark, SF_SMOKE) is c1, "must hit"
    assert [e["app"] for e in cached("cdc_chunks")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "cdc_chunks") == 1
    assert ir.invalidate(SF_SMOKE, "cdc_chunks") == 0

    ir.invalidate(name="cov")
    m1 = sim._cov_model(spark, SF_SMOKE)
    assert sim._cov_model(spark, SF_SMOKE) is m1, "must hit"
    assert [e["app"] for e in cached("cov")] == [app], "appId-keyed"
    assert ir.invalidate(SF_SMOKE, "cov") == 1
    assert ir.invalidate(SF_SMOKE, "cov") == 0


def test_r14_cache_hygiene(spark):
    """r14 ADVICE sweep: (a) invalidating the OPQ rotation also drops
    the DERIVED 'opq'-variant PQ codes/LUTs (encoded with the dropped
    rotation); (b) every index family normalises its tier key (abspath,
    no trailing slash), so a 'dir/' alias neither double-builds an
    index nor dodges the invalidator; (c) the 'opq' PQ variant is
    served by the shared pq_index body (single cache/evict
    implementation)."""
    import lakehouse_admin_spark.operators.curation as cur
    import lakehouse_admin_spark.operators.dedup as dd
    import lakehouse_admin_spark.operators.graph_ann as ga
    import lakehouse_admin_spark.operators.multimodal as mm
    import lakehouse_admin_spark.operators.retrieval as ret
    import lakehouse_admin_spark.operators.similarity as sim
    import lakehouse_admin_spark.operators.textual as tex

    # (a) + (c): train the rotation (pulls the cov model) + opq codes
    ir.invalidate(name="opq")
    c1, _l1 = sim.opq_pq_index(spark, SF_SMOKE)
    assert sim.opq_pq_index(spark, SF_SMOKE)[0] is c1, "must hit"
    assert sim.pq_index(spark, SF_SMOKE, variant="opq")[0] is c1, (
        "opq_pq_index must be the shared pq_index body"
    )
    assert [e["variant"][0] for e in cached("pq")].count("opq") == 1
    assert cached("cov") and cached("opq")
    assert ir.invalidate(SF_SMOKE, "opq") == 2  # rotation + derived codes
    assert not cached("opq"), "rotation evicted"
    assert "opq" not in [e["variant"][0] for e in cached("pq")], (
        "derived opq codes evicted"
    )

    # (b): one index per family; the trailing-slash alias hits the same
    # entry and invalidates it
    families = [
        ("posting", dd.exploded_shingles),
        ("cdc_chunks", dd._cdc_chunk_hashes),
        ("sq", sim.sq_train_stats),
        ("lang_profile", tex._session_lang_profile),
        ("dsir", cur._dsir_gram_counts),
        ("bm25", ret._bm25_corpus),
        ("mm_features", mm._session_features),
        ("graph", ga._vectors_with_norm),
    ]
    for name, build in families:
        ir.invalidate(SF_SMOKE, name)
        v = build(spark, SF_SMOKE)
        assert build(spark, SF_SMOKE + "/") is v, f"{name}: alias must hit"
        assert len(cached(name)) == 1, name
        assert ir.invalidate(SF_SMOKE + "/", name) == 1, (
            f"{name}: alias-dir invalidation must evict the canonical key"
        )
        assert ir.invalidate(SF_SMOKE, name) == 0, name


def test_bm25_route_frame_broadcast_gated_on_delta_size(spark, monkeypatch):
    """r12 (r11 verdict #2): bm25_route_frame broadcasts its
    delta-proportional (query, term) frame ONLY when the delta is
    batch-sized. Pin BOTH shapes with auto-broadcast disabled so the
    only broadcasts left are the explicit hints: batch-sized delta →
    one more BroadcastHashJoin than the gated-off shape, which must
    instead carry a shuffle join (SortMergeJoin/ShuffledHashJoin) for
    the qterms→postings join — the shape an unbounded backfill rides."""
    import lakehouse_admin_spark.operators.retrieval as ret

    delta = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.expr(ret.BM25_DELTA))
        .limit(10)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = join_strategies(ret.bm25_route_frame(spark, SF_SMOKE, delta))
        monkeypatch.setattr(ret, "BM25_BROADCAST_MAX_DOCS", 0)
        big = join_strategies(ret.bm25_route_frame(spark, SF_SMOKE, delta))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert small.count("BroadcastHashJoin") == big.count("BroadcastHashJoin") + 1, (
        small,
        big,
    )
    assert any(s in ("SortMergeJoin", "ShuffledHashJoin") for s in big), big
    assert not any(s in ("SortMergeJoin", "ShuffledHashJoin") for s in small), small


def test_bm25_base_cache_keyed_by_delta_predicate(spark, monkeypatch):
    """r12 (r11 ADVICE): the frozen 'base' index is defined by the delta
    predicate (base = NOT delta), so a patched BM25_DELTA must MISS the
    cache instead of silently serving an index frozen under a different
    stripe for the same sf_dir."""
    import lakehouse_admin_spark.operators.retrieval as ret

    ir.invalidate(name="bm25")
    b1 = ret._bm25_corpus(spark, SF_SMOKE, base_only=True)
    assert ret._bm25_corpus(spark, SF_SMOKE, base_only=True) is b1
    monkeypatch.setattr(ret, "BM25_DELTA", "doc_id % 7 = 5")
    b2 = ret._bm25_corpus(spark, SF_SMOKE, base_only=True)
    assert b2 is not b1, "different delta stripe must not hit the old base index"
    assert b2[2] != b1[2] or b2[0] is not b1[0]
    monkeypatch.undo()
    assert ret._bm25_corpus(spark, SF_SMOKE, base_only=True) is b1
    ir.invalidate(SF_SMOKE, "bm25")


def test_dsir_incremental_laws(spark):
    """Incremental-DSIR laws: totality (one verdict per delta-stripe
    raw doc, no target or base doc leaks in); the warm path (cached
    frozen LM) returns bit-identical rows to the cold path; targeted
    invalidation evicts exactly the tier's model; and the frozen
    cutoff separates selected from rejected docs exactly."""
    import lakehouse_admin_spark.operators.curation as cur

    ir.invalidate(name="dsir")
    rows = q("dsir_incremental")(spark, SF_SMOKE).collect()
    [entry] = cached("dsir")
    assert entry["variant"] == "frozen_lm"
    docs = load_table(spark, SF_SMOKE, "documents")
    delta_ids = {
        r.doc_id
        for r in docs.filter(
            F.expr(f"({cur._DSIR_DELTA}) AND NOT ({cur._DSIR_TARGET})")
        ).collect()
    }
    got = {r.doc_id for r in rows}
    assert got <= delta_ids
    assert len(got) == len(rows), "one verdict per delta doc"
    # every delta doc with at least one token appears
    assert len(delta_ids - got) <= sum(
        1 for _ in docs.filter(F.expr("trim(text) = ''")).collect()
    )
    _, cutoff = cur._dsir_frozen_lm(spark, SF_SMOKE)
    assert cached("dsir")[0]["hits"] > entry["hits"], "must hit the cache"
    for r in rows:
        assert r.selected == (r.logw >= cutoff)
    warm = q("dsir_incremental")(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, warm)) == sorted(map(tuple, rows))
    assert ir.invalidate(SF_SMOKE, "dsir") == 1
    assert ir.invalidate(SF_SMOKE, "dsir") == 0


def test_opq_rotation_laws(spark):
    """OPQ laws on the trained fixture rotation: R is orthogonal; the
    rotation preserves pairwise L2 distances (so exact rankings are
    untouched); the rotated corpus covariance is diagonal (R
    diagonalizes Σ by construction); the model is cached per tier and
    invalidatable; and the serving query emits TOP_K ranked rows per
    stride query. The VALUE claim — eigenvalue allocation cuts PQ
    quantization error — is pinned on a deterministic anisotropic
    corpus (the fixture itself is near-isotropic, where rotation is a
    no-op by design): rotated error < 0.5× unrotated, and the greedy
    allocation balances bucket log-variance better than contiguous
    PCA grouping (which is WORSE than no rotation at all there)."""
    import numpy as np

    import lakehouse_admin_spark.operators.similarity as sim

    ir.invalidate(name="opq")
    mu, R = sim._opq_rotation(spark, SF_SMOKE)
    assert np.abs(R @ R.T - np.eye(sim.EMB_DIM)).max() < 1e-9
    assert sim._opq_rotation(spark, SF_SMOKE)[1] is R, "must hit the cache"
    orig = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    rot = {
        r.vec_id: np.array(r.embedding)
        for r in sim._rotated_embeddings(spark, SF_SMOKE).collect()
    }
    assert set(rot) == set(orig)
    ks = sorted(orig)[:15]
    for a in ks:
        for b in ks:
            got = np.linalg.norm(rot[a] - rot[b])
            want = np.linalg.norm(orig[a] - orig[b])
            assert abs(got - want) < 1e-4, (a, b, got, want)
    Y = np.stack([rot[i] for i in sorted(rot)])
    cov = (Y - Y.mean(axis=0)).T @ (Y - Y.mean(axis=0)) / len(Y)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-5, "rotated covariance must be diagonal"
    out = q("ann_opq_pq_topk")(spark, SF_SMOKE).collect()
    per_q: dict[int, list[int]] = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, sim.TOP_K + 1)) for v in per_q.values())
    assert set(per_q) == {v for v in orig if v % sim.QUERY_STRIDE == 0}
    assert ir.invalidate(SF_SMOKE, "opq") == 2  # rotation + derived opq codes

    # value law on a deterministic anisotropic corpus (no RNG)
    n, d, M, D = 2000, 64, sim.PQ_M, sim.PQ_D
    idx = np.arange(n * d, dtype=np.float64).reshape(n, d)
    base = np.sin(idx * 0.7391) + np.cos(idx * 0.1931)
    stretch = np.diag(np.linspace(4.0, 0.1, d))
    mix, _ = np.linalg.qr(np.sin(np.outer(np.arange(d), np.arange(d)) * 0.337) + np.eye(d))
    Yc = base @ stretch @ mix.T
    Yc -= Yc.mean(axis=0)
    evals, evecs = np.linalg.eigh(Yc.T @ Yc / n)
    order = np.argsort(evals)[::-1]
    lam, v = evals[order], evecs[:, order]
    buckets = sim.opq_eigenvalue_allocation(lam, M, D)
    rotm = np.zeros((d, d))
    fill = [0] * M
    for i, b in enumerate(buckets):
        rotm[b * D + fill[b], :] = v[:, i]
        fill[b] += 1

    def qerr(X):
        cb = X[:16].reshape(16, M, D)
        Z = X.reshape(len(X), M, D)
        dd = ((Z[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        return dd.min(axis=1).sum()

    assert qerr(Yc @ rotm.T) < 0.5 * qerr(Yc)
    logs = np.log(np.maximum(lam, 1e-12))
    loads = [sum(logs[i] for i in range(d) if buckets[i] == b) for b in range(M)]
    contig = [logs[b * D : (b + 1) * D].sum() for b in range(M)]
    assert max(loads) - min(loads) < max(contig) - min(contig)
    assert all(buckets.count(b) == D for b in range(M))


def test_retrieval_laws(spark):
    """BM25 + RRF hybrid laws: no cartesian in the BM25 plan (the join
    is keyed on the term); the df gate actually prunes stopword-class
    query terms (non-vacuous); every query returns exactly RRF_TOP
    fused hits with ranks 1..RRF_TOP; a doc at rank r in BOTH tiers
    outscores (in RRF) any doc in only one tier at the same rank; and
    the fused score equals 1/(60+lex)+1/(60+sem) recomputed from the
    per-tier rankings."""
    import lakehouse_admin_spark.operators.retrieval as ret

    bm = q("bm25_topk")(spark, SF_SMOKE)
    assert not has_cartesian(bm)
    lex = ret._bm25_ranked(spark, SF_SMOKE, ret.RRF_SHORTLIST).collect()
    fused = q("rrf_hybrid_topk")(spark, SF_SMOKE).collect()
    per_q: dict[int, list] = {}
    for r in fused:
        per_q.setdefault(r.query_id, []).append(r)
    for qid, rows in per_q.items():
        assert sorted(x.rank for x in rows) == list(range(1, ret.RRF_TOP + 1))
    # recompute fusion from the tiers
    lex_rank = {(r.query_id, r.doc_id): r.rank for r in lex}
    emb = load_table(spark, SF_SMOKE, "embeddings")
    import lakehouse_admin_spark.operators.similarity as sim
    qs = {
        r.vec_id: r.embedding
        for r in emb.filter(F.col("vec_id") % sim.QUERY_STRIDE == 0).collect()
    }
    import numpy as np
    all_emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    sem_rank = {}
    for qid, qe in qs.items():
        qv = np.array(qe, dtype=np.float64)
        sims = []
        for cid, cv in all_emb.items():
            if cid == qid:
                continue
            c = round(float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))), 6)
            sims.append((-c, cid))
        sims.sort()
        for i, (_, cid) in enumerate(sims[: ret.RRF_SHORTLIST], start=1):
            sem_rank[(qid, cid)] = i
    for r in fused:
        want = 0.0
        lr = lex_rank.get((r.query_id, r.doc_id))
        sr = sem_rank.get((r.query_id, r.doc_id))
        if lr:
            want += 1.0 / (ret.RRF_K + lr)
        if sr:
            want += 1.0 / (ret.RRF_K + sr)
        assert abs(r.rrf_score - round(want, 6)) < 1e-9, (r, lr, sr, want)
    # df gate non-vacuous: some distinct query-doc token exceeds the cap
    docs = load_table(spark, SF_SMOKE, "documents")
    from lakehouse_admin_spark.operators.dedup import tokens_expr
    tf = (
        docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("tok"))
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.count()
    hot = {r.tok for r in tf.filter(F.col("df") > ret.BM25_MAX_DF_FRAC * n).collect()}
    assert hot, "fixture must have stopword-class terms for the gate to bite"


def test_mmr_diversifies(spark):
    """MMR law: the diversified top-5 is at least as diverse as the
    plain cosine top-5 for every query (mean pairwise cosine within
    the selected set is <= the relevance-only set's), rank 1 is the
    plain argmax (no diversity penalty yet), and picks are a subset of
    the 20-deep shortlist."""
    import numpy as np

    import lakehouse_admin_spark.operators.retrieval as ret

    mmr_rows = q("mmr_diversified_topk")(spark, SF_SMOKE).collect()
    plain = q("ann_topk_cosine")(spark, SF_SMOKE).collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }

    def mean_pair_sim(ids):
        s, c = 0.0, 0
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                va, vb = emb[a], emb[b]
                s += va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
                c += 1
        return s / c

    by_q_mmr: dict[int, list] = {}
    for r in mmr_rows:
        by_q_mmr.setdefault(r.query_id, []).append(r)
    by_q_plain: dict[int, list[int]] = {}
    for r in plain:
        by_q_plain.setdefault(r.query_id, []).append(r.neighbor_id)
    assert set(by_q_mmr) == set(by_q_plain)
    diversified = 0
    for qid, rows in by_q_mmr.items():
        rows.sort(key=lambda r: r.rank)
        mmr_ids = [r.doc_id for r in rows]
        assert rows[0].doc_id == by_q_plain[qid][0], "rank 1 = plain argmax"
        m, p = mean_pair_sim(mmr_ids), mean_pair_sim(by_q_plain[qid])
        assert m <= p + 1e-9, (qid, m, p)
        if m < p - 1e-9:
            diversified += 1
    assert diversified > 0, "diversity penalty must bite somewhere"


def test_knn_label_predict_laws(spark):
    """kNN-probe laws: one verdict per stride query; votes in [1, k];
    the predicted label is the deterministic majority (recomputed from
    the exact top-k neighbor list with the count-desc/label-asc
    tiebreak); correct == (predicted == true)."""
    import lakehouse_admin_spark.operators.similarity as sim

    rows = q("knn_label_predict")(spark, SF_SMOKE).collect()
    emb = load_table(spark, SF_SMOKE, "embeddings")
    n_q = emb.filter(F.col("vec_id") % sim.QUERY_STRIDE == 0).count()
    assert len(rows) == n_q
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    top = {}
    for r in q("ann_topk_cosine")(spark, SF_SMOKE).collect():
        top.setdefault(r.query_id, []).append(r.neighbor_id)
    for r in rows:
        assert 1 <= r.votes <= sim.TOP_K
        counts: dict[int, int] = {}
        for nid in top[r.query_id]:
            counts[labels[nid]] = counts.get(labels[nid], 0) + 1
        want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert r.predicted_label == want[0] and r.votes == want[1]
        assert r.true_label == labels[r.query_id]
        assert r.correct == (r.predicted_label == r.true_label)


def test_tpch_analogues_plan_shapes(spark):
    """The six Q7/Q9/Q12/Q15/Q18/Q21 analogues: no cartesian product
    anywhere, every dimension leg a broadcast join, and the date
    windows pushed into the lineitem parquet scan."""
    for name in [
        "nation_pair_trade_volume",
        "supplier_nation_profit",
        "linestatus_priority_counts",
        "top_revenue_suppliers",
        "large_volume_customers",
        "sole_supplier_orders",
        "nation_market_share",
        "returned_item_customers",
        "part_supplier_diversity",
        "bulk_red_part_suppliers",
        "customer_order_distribution",
    ]:
        df = q(name)(spark, SF_SMOKE)
        assert not has_cartesian(df), name
        strategies = join_strategies(df)
        assert strategies and all(s == "BroadcastHashJoin" for s in strategies), (
            name,
            strategies,
        )
    # Q2's equality join-back connects two aggregates derived from the
    # same (part, supplier) cost frame — statically a shuffle join (no
    # scan stats on an aggregate); AQE broadcasts the per-part-min side
    # at runtime when it fits. Everything else must broadcast.
    df = q("min_cost_part_supplier")(spark, SF_SMOKE)
    assert not has_cartesian(df)
    strategies = join_strategies(df)
    assert strategies.count("SortMergeJoin") <= 1, strategies
    assert strategies.count("BroadcastHashJoin") >= 3, strategies
    assert has_pushed_filters(q("nation_pair_trade_volume")(spark, SF_SMOKE))
    assert has_pushed_filters(q("linestatus_priority_counts")(spark, SF_SMOKE))
    assert has_pushed_filters(q("bulk_red_part_suppliers")(spark, SF_SMOKE))


def test_event_transition_matrix_laws(spark):
    """Markov-matrix laws: each row (current type) sums to 1 within
    rounding; transition counts fold back to the total number of
    consecutive pairs (n_events - n_users, every user contributes
    len-1 transitions); and the single corpus-sized shuffle is the
    user-keyed window (no cartesian)."""
    rows = q("event_transition_matrix")(spark, SF_SMOKE).collect()
    by_cur: dict[str, float] = {}
    total = 0
    for r in rows:
        by_cur[r.event_type] = by_cur.get(r.event_type, 0.0) + r.p
        total += r.n_transitions
    for t, s in by_cur.items():
        assert abs(s - 1.0) < 1e-4, (t, s)
    ev = load_table(spark, SF_SMOKE, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total == n_events - n_users
    assert not has_cartesian(q("event_transition_matrix")(spark, SF_SMOKE))


def test_dau_wau_stickiness_laws(spark):
    """Stickiness laws: one row per active day; DAU <= WAU (a day is
    inside its own trailing window) so stickiness <= 1; the earliest
    day's WAU equals its DAU (no prior days) giving stickiness exactly
    1.0; WAU recomputed naively from (day, user) pairs matches."""
    rows = q("dau_wau_stickiness")(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    du = {(r.day, r.user_id) for r in ev.distinct().collect()}
    days = sorted({d for d, _ in du})
    assert [r.day for r in rows] == days
    import datetime

    for r in rows:
        assert r.dau <= r.wau
        assert r.stickiness <= 1.0
        want = len(
            {
                u
                for d, u in du
                if r.day - datetime.timedelta(days=6) <= d <= r.day
            }
        )
        assert r.wau == want, (r.day, r.wau, want)
    assert rows[0].stickiness == 1.0


def test_cdc_chunk_dup_laws(spark):
    """CDC laws: report rows are genuine cross-doc dups (n_occurrences
    >= n_docs >= 2, chunk lengths positive); and the defining
    shift-robustness property, pinned with the exact md5 boundary rule
    on a synthetic pair — inserting ONE token mid-document leaves the
    majority of chunks shared (only the touched neighborhood
    re-chunks), while fixed-size chunking of the same pair loses every
    chunk after the insertion point."""
    import hashlib

    import lakehouse_admin_spark.operators.dedup as dd

    rows = q("cdc_chunk_dup")(spark, SF_SMOKE).collect()
    assert rows, "fixture near-dups must share chunks"
    for r in rows:
        assert r.n_occurrences >= r.n_docs >= 2
        assert r.n_tokens >= 1

    W, M = dd.CDC_WINDOW, dd.CDC_MOD

    def cdc_chunks(toks):
        bpos = []
        for i in range(W, len(toks) + 1):
            h = hashlib.md5(" ".join(toks[i - W : i]).encode()).hexdigest()
            if int(h[:12], 16) % M == 0:
                bpos.append(i)
        bounds = [0] + bpos + [len(toks)]
        return [
            tuple(toks[bounds[j] + 1 - 1 : bounds[j + 1]])
            for j in range(len(bounds) - 1)
            if bounds[j + 1] > bounds[j]
        ]

    def fixed_chunks(toks, size=16):
        return [tuple(toks[i : i + size]) for i in range(0, len(toks), size)]

    base = [f"w{(i * 7919) % 997}" for i in range(400)]
    edited = base[:200] + ["INSERTED"] + base[200:]
    c_a, c_b = set(cdc_chunks(base)), set(cdc_chunks(edited))
    cdc_shared = len(c_a & c_b) / max(len(c_a), 1)
    f_a, f_b = set(fixed_chunks(base)), set(fixed_chunks(edited))
    fixed_shared = len(f_a & f_b) / max(len(f_a), 1)
    assert cdc_shared >= 0.7, cdc_shared
    assert fixed_shared < cdc_shared, (fixed_shared, cdc_shared)


def test_cdc_chunk_jaccard_pairs_laws(spark):
    """Chunk-Jaccard pair laws: well-formed pairs (a < b, jaccard in
    [0.5, 1], shared_chunks >= 1); on the fixture every CDC pair is
    also a word-3-gram Jaccard near-dup (precision: chunk agreement is
    the coarser, stricter evidence), and CDC recall of the 3-gram
    pairs is >= 0.6 (the chunking is lossy but not blind)."""
    cdc = q("cdc_chunk_jaccard_pairs")(spark, SF_SMOKE).collect()
    assert cdc, "fixture near-dups must produce CDC pairs"
    for r in cdc:
        assert r.doc_a < r.doc_b
        assert 0.5 <= r.jaccard <= 1.0
        assert r.shared_chunks >= 1
    cdc_pairs = {(r.doc_a, r.doc_b) for r in cdc}
    ng_pairs = {
        (r.doc_a, r.doc_b) for r in q("ngram_jaccard_pairs")(spark, SF_SMOKE).collect()
    }
    assert cdc_pairs <= ng_pairs
    assert len(cdc_pairs & ng_pairs) / len(ng_pairs) >= 0.6


def test_prefix_filter_equals_exact_jaccard(spark):
    """PPJoin prefix-filter law (r11): the prefix lemma makes the
    candidate set COMPLETE, so the verified output must be IDENTICAL
    to the full-inverted-join exact baseline — two algorithms, one
    answer. And the point of the algorithm: the candidate pair count
    must be a strict (here ~10x at smoke scale) subset of the full
    posting join's."""
    import lakehouse_admin_spark.operators.dedup as dd

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in q("prefix_filter_jaccard_pairs")(spark, SF_SMOKE).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in q("ngram_jaccard_pairs")(spark, SF_SMOKE).collect()
    }
    assert got == exact and got, "prefix filtering must lose nothing"
    cands = dd._prefix_candidates(spark, SF_SMOKE).count()
    ex = dd.exploded_shingles(spark, SF_SMOKE)
    a = ex.selectExpr("doc_id AS da", "shingle")
    b = ex.selectExpr("doc_id AS db", "shingle")
    full = (
        a.join(b, "shingle")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
        .count()
    )
    assert cands * 2 < full, (cands, full)
    # every surviving pair was a candidate (verification only prunes)
    cand_set = {
        (r.doc_a, r.doc_b) for r in dd._prefix_candidates(spark, SF_SMOKE).collect()
    }
    assert {(x, y) for x, y, _ in got} <= cand_set


def test_hard_negative_mining_laws(spark):
    """Hard-negative miner laws (r11): every anchor yields exactly one
    positive and HARD_NEG_K negatives; the positive shares the
    anchor's label and the negatives don't; negative cosines are
    non-increasing in rank; and the positive is the TRUE same-label
    argmax recomputed independently from raw vectors."""
    import numpy as np

    from lakehouse_admin_spark.operators.similarity import (
        HARD_NEG_K,
        QUERY_STRIDE,
    )

    rows = q("hard_negative_mining")(spark, SF_SMOKE).collect()
    emb = {
        r.vec_id: (np.asarray(r.embedding, dtype=np.float64), r.label)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    anchors = {v for v in emb if v % QUERY_STRIDE == 0}
    by_q: dict[int, dict[str, list]] = {}
    for r in rows:
        by_q.setdefault(r.query_id, {"positive": [], "negative": []})[
            r.kind
        ].append(r)
    assert set(by_q) == anchors
    for qid, kinds in by_q.items():
        qv, ql = emb[qid]
        assert len(kinds["positive"]) == 1
        assert len(kinds["negative"]) == HARD_NEG_K
        pos = kinds["positive"][0]
        assert emb[pos.neighbor_id][1] == ql
        negs = sorted(kinds["negative"], key=lambda r: r.rank)
        assert all(emb[n.neighbor_id][1] != ql for n in negs)
        assert all(
            a.cosine >= b.cosine for a, b in zip(negs, negs[1:])
        ), qid
        # independent argmax over same-label candidates
        best_id, best_c = None, -2.0
        for cid, (cv, cl) in emb.items():
            if cid == qid or cl != ql:
                continue
            c = round(
                float(qv @ cv)
                / (float(np.linalg.norm(qv)) * float(np.linalg.norm(cv))),
                6,
            )
            if c > best_c or (c == best_c and cid < best_id):
                best_id, best_c = cid, c
        assert pos.neighbor_id == best_id and pos.cosine == best_c


def test_daily_type_deviation_shared_window_exchange(spark):
    """r12: all four analytic windows (partition total, partition count,
    lag, lead) must share ONE hashpartitioning(event_type) exchange over
    the daily aggregate frame — the Q47 shape's whole cost is the daily
    pre-aggregation, never a per-window rescan. The 10% predicate is
    integer-exact, so recompute it independently from the daily frame."""
    from lakehouse_admin_spark.plans.inspect import exchange_count, explain_str

    import re

    df = q("daily_type_deviation")(spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # single-key event_type partitioning (the window exchange) appears
    # once; the daily agg's (event_type, day) exchange is the other
    assert len(re.findall(r"hashpartitioning\(event_type#\d+, \d+\)", plan)) == 1
    assert exchange_count(df) <= 3  # daily agg + window + presentation sort
    rows = df.collect()
    assert rows
    daily = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value") * 100, 0).cast("long").alias("cents"))
        .collect()
    )
    totals, counts, cents = {}, {}, {}
    for r in daily:
        totals[r.event_type] = totals.get(r.event_type, 0) + r.cents
        counts[r.event_type] = counts.get(r.event_type, 0) + 1
        cents[(r.event_type, r.day)] = r.cents
    expect = {
        (t, d): c
        for (t, d), c in cents.items()
        if abs(c * counts[t] - totals[t]) * 10 > totals[t]
    }
    assert {(r.event_type, r.day): r.value_cents for r in rows} == expect


def test_ngram_diversity_two_shuffles_and_bounds(spark):
    """r12: the count-distinct plans as a partial (source, gram) collapse
    then a source-keyed re-aggregate — two exchanges plus the
    presentation sort, no joins, no windows; and the metric is a true
    ratio (0 < diversity <= 1, n_distinct <= n_grams, every source
    present)."""
    from lakehouse_admin_spark.plans.inspect import exchange_count, explain_str

    df = q("ngram_diversity")(spark, SF_SMOKE)
    # tokenize repartition + partial (source, gram) collapse + source
    # re-aggregate + presentation sort
    assert exchange_count(df) <= 4
    plan = explain_str(df, "simple")
    assert "Join" not in plan and "Window" not in plan
    rows = df.collect()
    n_sources = (
        load_table(spark, SF_SMOKE, "documents").select("source").distinct().count()
    )
    assert len(rows) == n_sources
    for r in rows:
        assert 0 < r.n_distinct <= r.n_grams
        assert 0.0 < r.diversity <= 1.0
        assert abs(r.diversity - r.n_distinct / r.n_grams) < 1e-6


def test_cluster_balanced_quota_caps_every_cell(spark):
    """r12: the verdict is total (one row per vector), each cluster keeps
    exactly min(|cell|, ceil(N/k)) members, and the kept set within a
    cell is the md5-rank prefix (re-derived independently here). Plan:
    rides the cached IVF index — the only new exchange is the
    cell-partitioned window (+ presentation sort)."""
    import hashlib
    import math

    from lakehouse_admin_spark.operators.similarity import ivf_cell_count

    df = q("cluster_balanced_quota")(spark, SF_SMOKE)
    rows = df.collect()
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n
    k = ivf_cell_count(n)
    cap = (n + k - 1) // k
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cluster, []).append(r)
    for cell, members in by_cell.items():
        kept = [r for r in members if r.keep]
        assert len(kept) == min(len(members), cap), cell
        order = sorted(
            members,
            key=lambda r: (hashlib.md5(str(r.vec_id).encode()).hexdigest(), r.vec_id),
        )
        assert {r.vec_id for r in kept} == {r.vec_id for r in order[: len(kept)]}


def test_prefix_funnel_laws(spark):
    """r12: the Matryoshka tiers — no cartesian in either plan; the
    funnel contract: exact re-rank over the 50-deep prefix-32 shortlist
    must recover ≥0.5 recall@5 vs the exact float scan AND beat (or at
    worst tie) the raw prefix top-k's recall; and the funnel must also
    beat the raw BINARY top-k (32 floats carry more signal than 64 sign
    bits on this fixture). Deterministic pipeline — pins are stable."""
    topk_df = q("ann_prefix_topk")(spark, SF_SMOKE)
    rerank_df = q("ann_prefix_rerank")(spark, SF_SMOKE)
    assert not has_cartesian(topk_df) and not has_cartesian(rerank_df)

    def by_query(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = by_query(q("ann_topk_cosine")(spark, SF_SMOKE))
    prefix = by_query(topk_df)
    funnel = by_query(rerank_df)

    def recall(cand):
        return sum(
            len(exact[k] & cand.get(k, set())) / len(exact[k]) for k in exact
        ) / len(exact)

    rec_p, rec_f = recall(prefix), recall(funnel)
    assert rec_f >= 0.5, rec_f
    assert rec_f >= rec_p, (rec_f, rec_p)
    rec_b = recall(by_query(q("ann_binary_hamming_topk")(spark, SF_SMOKE)))
    assert rec_f > rec_b, (rec_f, rec_b)


def test_embedding_drift_detector_fires_on_shifted_delta(spark, tmp_path):
    """r12: on the pristine fixture the delta stripe is an unbiased
    sample, so (almost) nothing flags; inject a +0.5 shift into one
    dimension of the delta stripe and exactly that dimension must
    cross the z threshold — the detector detects, not just describes."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    from lakehouse_admin_spark.operators.similarity import INCR_VEC_MOD

    clean = q("embedding_drift_stats")(spark, SF_SMOKE).collect()
    assert len(clean) == 64
    assert sum(1 for r in clean if r.drifted) <= 4  # stationary stripe

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    d = t.to_pydict()
    for i, vid in enumerate(d["vec_id"]):
        if vid % INCR_VEC_MOD == 0:
            emb = list(d["embedding"][i])
            emb[0] = emb[0] + 0.5
            d["embedding"][i] = emb
    pq.write_table(pa.table(d), str(tmp_path / "embeddings.parquet"))

    shifted = {
        r.pos: r for r in q("embedding_drift_stats")(spark, str(tmp_path)).collect()
    }
    assert shifted[1].drifted, shifted[1]
    assert shifted[1].drift_z > 10  # a 0.5 shift is unmistakable
    others = [r for p, r in shifted.items() if p != 1]
    assert sum(1 for r in others if r.drifted) <= 4  # only the injected dim


def test_heaps_curve_monotone_and_grows_on_synthetic_corpus(spark, tmp_path):
    """r12: on the fixture the 31-token vocab saturates at bucket 1
    (flat curve — the correct finding, same fixture limitation as the
    Space-Saving eviction note); so ALSO drive a synthetic corpus where
    every doc introduces one novel token and the vocab column must
    strictly grow bucket over bucket. Both runs must be monotone with
    exact final totals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = q("heaps_law_curve")(spark, SF_SMOKE).collect()
    assert [r.bucket for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs <= b.n_docs and a.n_tokens <= b.n_tokens
        assert a.vocab <= b.vocab
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert rows[-1].n_docs == n

    docs = pa.table(
        {
            "doc_id": list(range(100)),
            "text": [f"the common filler w{i}" for i in range(100)],
            "lang": ["en"] * 100,
            "source": ["syn"] * 100,
            "n_chars": [20] * 100,
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    syn = q("heaps_law_curve")(spark, str(tmp_path)).collect()
    assert syn[-1].vocab == 100 + 3  # 100 novel + the, common, filler
    assert syn[-1].n_tokens == 400
    for a, b in zip(syn, syn[1:]):
        assert b.vocab > a.vocab  # every band introduces novel tokens


def test_skipgram_pmi_superset_of_adjacent_pairs(spark):
    """r12: window-5 skip-gram counts include the o=1 (adjacent) slice,
    so any pair surfacing in BOTH top-50 lists must have skipgram
    pair_count >= its bigram pair_count; ranks are contiguous from 1."""
    sg = {(r.left_tok, r.right_tok): r for r in q("skipgram_pmi")(spark, SF_SMOKE).collect()}
    bg = {(r.left_tok, r.right_tok): r for r in q("collocations_pmi")(spark, SF_SMOKE).collect()}
    assert sorted(r.rank for r in sg.values()) == list(range(1, len(sg) + 1))
    shared = set(sg) & set(bg)
    assert shared, "fixture vocab is tiny — the lists must overlap"
    for k in shared:
        assert sg[k].pair_count >= bg[k].pair_count, k


def test_mixture_epoch_plan_discriminates_on_skewed_corpus(spark, tmp_path):
    """r12: on the near-uniform fixture every source lands ~4 epochs
    (budget = 4 corpus-equivalents, uniform target); on a synthetic
    corpus where one source owns ~90% of tokens, the giant must be
    SUBSAMPLED (epochs < 1... wait, budget 4x: giant quota = 4T/2 = 2T
    vs its 0.9T -> 2.2 epochs) — discriminate via ORDER: the giant's
    epochs must be well below the tail's, and quotas must be equal
    integers summing to <= budget."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_admin_spark.operators.curation import MIX_BUDGET_EPOCHS

    rows = q("mixture_epoch_plan")(spark, SF_SMOKE).collect()
    assert rows and all(r.quota_tokens == rows[0].quota_tokens for r in rows)

    texts = ["big " * 90] * 90 + ["small tail doc"] * 10
    docs = pa.table(
        {
            "doc_id": list(range(100)),
            "text": texts,
            "lang": ["en"] * 100,
            "source": ["giant"] * 90 + ["tail"] * 10,
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    plan = {r.source: r for r in q("mixture_epoch_plan")(spark, str(tmp_path)).collect()}
    total = plan["giant"].total_tokens + plan["tail"].total_tokens
    budget = total * MIX_BUDGET_EPOCHS
    assert plan["giant"].quota_tokens == plan["tail"].quota_tokens == budget // 2
    assert plan["giant"].epochs < MIX_BUDGET_EPOCHS < plan["tail"].epochs
    assert plan["tail"].oversampled and plan["tail"].epochs > 100  # 30 tokens vs half-budget
    # exact ratio re-derivation
    assert abs(plan["giant"].epochs - (budget // 2) / plan["giant"].total_tokens) < 1e-4


def test_pmi_totals_parallel_rank_group_limited(spark):
    """r13 pin for the PMI scale fix: corpus totals must NOT ride a
    partition-less WindowExec (r12 shape — a single task holding the
    whole distinct-pair frame, 1e8+ rows at web scale). The fixed shape
    is one-row broadcast aggregates whose branches REUSE the
    pair/unigram shuffles (zero extra corpus passes), and the top-50
    rank executes as a group-limit (TakeOrderedAndProject =
    partition-local top-k + merge), never a single-partition sort of
    the floored pair set."""
    for name in ("collocations_pmi", "skipgram_pmi"):
        df = q(name)(spark, SF_SMOKE)
        assert len(df.collect()) > 0  # materialize THIS plan so AQE finalizes it
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # no unbounded-frame window anywhere (the totals antipattern);
        # the only Window left is the row_number rank (bounded frame)
        assert "unboundedfollowing" not in final.lower(), name
        assert "TakeOrderedAndProject" in final, name
        # totals + ub branches reuse the heavy exchanges: at most the
        # two corpus passes (pair aggregate, unigram aggregate) scan
        # the documents table in the final plan
        assert final.count("ReusedExchange") >= 3, name
        assert final.count("FileScan parquet") <= 2, name


def test_event_type_domain_covers_fixture(spark):
    """r13 ADVICE guard: events_unpivot_daily (and every pivot over the
    declared EVENT_TYPES literal) silently drops any event_type outside
    the tuple — so pin that the fixture's observed domain is a subset
    of the declaration at both local tiers. If the generator ever grows
    a type, this fails loudly instead of the pivot losing rows."""
    from lakehouse_admin_spark.operators.windowed import EVENT_TYPES
    from lakehouse_admin_spark.sources.tables import load_table

    for sf_dir in (SF_SMOKE, "/root/testdata/sf0.01"):
        observed = {
            r.event_type
            for r in load_table(spark, sf_dir, "events")
            .select("event_type")
            .distinct()
            .collect()
        }
        assert observed <= set(EVENT_TYPES), (sf_dir, observed)
