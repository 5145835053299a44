"""Graph-ANN tier: exact k-NN graph invariants and the NN-descent
recall pin against it (the rows-only query's correctness contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_admin_spark import index_registry as ir
from lakehouse_admin_spark import registry
from lakehouse_admin_spark.operators.graph_ann import (
    KNN_K,
    nn_descent_edges,
)
from lakehouse_admin_spark.plans.inspect import has_cartesian
from tests.conftest import SF_SMOKE

registry.load_all_operators()


def q(name):
    return registry.QUERIES[name].fn


def _edge_set(pdf):
    return set(zip(pdf["src"], pdf["dst"]))


def test_knn_graph_shape_and_no_cartesian(spark):
    df = q("knn_graph")(spark, SF_SMOKE)
    assert not has_cartesian(df), "block cogroup must not plan a cartesian"
    pdf = df.toPandas()
    n = pdf["src"].nunique()
    # every vertex has exactly k neighbors, ranks 1..k, no self-loops
    assert len(pdf) == n * KNN_K
    assert (pdf.groupby("src")["rank"].max() == KNN_K).all()
    assert (pdf.groupby("src")["rank"].min() == 1).all()
    assert (pdf["src"] != pdf["dst"]).all()
    # cosine non-increasing within each src's rank order
    for _, grp in pdf.groupby("src"):
        cos = grp.sort_values("rank")["cosine"].to_numpy()
        assert (cos[:-1] >= cos[1:]).all()


def test_nn_descent_recall_against_exact(spark):
    exact = q("knn_graph")(spark, SF_SMOKE).toPandas()
    approx = q("nn_descent_graph")(spark, SF_SMOKE).toPandas()
    ex, ap = _edge_set(exact), _edge_set(approx)
    recall = len(ex & ap) / len(ex)
    # measured 0.978 at sf0.01 with pool=3k, rounds=3; margin for any
    # future fixture drift
    assert recall >= 0.9, f"NN-descent recall@{KNN_K} collapsed: {recall:.3f}"
    # shape: k neighbors per vertex, no self-loops
    n = approx["src"].nunique()
    assert len(approx) == n * KNN_K
    assert (approx["src"] != approx["dst"]).all()


def test_nn_descent_recall_improves_with_rounds(spark):
    exact = _edge_set(q("knn_graph")(spark, SF_SMOKE).toPandas())

    def recall(rounds):
        pdf = nn_descent_edges(spark, SF_SMOKE, rounds=rounds).toPandas()
        return len(exact & _edge_set(pdf)) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 > r0, f"refinement must improve recall ({r0:.3f} -> {r2:.3f})"


def test_graph_search_shape_and_recall(spark):
    """Beam search output invariants + a recall floor against the exact
    brute-force top-k (the walk visits a tiny fraction of nodes, so the
    floor is modest; exactness is the DuckDB oracle's job)."""
    from lakehouse_admin_spark.operators.graph_ann import GS_K

    res = q("graph_ann_search")(spark, SF_SMOKE).toPandas()
    assert set(res.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
    assert (res["query_id"] != res["neighbor_id"]).all()
    per_q = res.groupby("query_id")["rank"]
    assert (per_q.max() <= GS_K).all()
    assert (per_q.min() == 1).all()
    # ranks contiguous, cosine non-increasing in rank
    for _, grp in res.groupby("query_id"):
        g2 = grp.sort_values("rank")
        assert list(g2["rank"]) == list(range(1, len(g2) + 1))
        cos = g2["cosine"].to_numpy()
        assert (cos[:-1] >= cos[1:]).all()
    # beats picking the seeds alone: some true top-k neighbor is found
    brute = q("ann_topk_cosine")(spark, SF_SMOKE).toPandas()
    ex = set(zip(brute["query_id"], brute["neighbor_id"]))
    ap = set(zip(res["query_id"], res["neighbor_id"]))
    recall = len(ex & ap) / len(ex)
    assert recall > 0.0, "graph walk found no true neighbors at all"


def test_knn_graph_matches_brute_force_topk(spark):
    """The graph restricted to the stride-query vertices must agree
    with ann_topk_cosine (same ranking rules) — two independent
    implementations of the same exact computation."""
    from lakehouse_admin_spark.operators.similarity import QUERY_STRIDE

    g = q("knn_graph")(spark, SF_SMOKE)
    brute = q("ann_topk_cosine")(spark, SF_SMOKE).toPandas()
    sub = (
        g.filter(F.col("src") % QUERY_STRIDE == 0)
        .orderBy("src", "rank")
        .toPandas()
    )
    assert list(map(tuple, sub[["src", "dst", "rank"]].values)) == list(
        map(tuple, brute[["query_id", "neighbor_id", "rank"]].values)
    )
    assert (sub["cosine"].to_numpy() == brute["cosine"].to_numpy()).all()


def test_nnd_served_search_recall_vs_exact_served(spark):
    """The DEFAULT serving path walks NN-descent edges; with recall
    >= 0.9 edges (pinned above), the walk over them must find nearly
    the same neighbors as the walk over the exact graph."""
    from lakehouse_admin_spark.operators.graph_ann import graph_ann_search

    nnd_served = graph_ann_search(spark, SF_SMOKE).toPandas()
    exact_served = graph_ann_search(
        spark, SF_SMOKE, edge_source="exact"
    ).toPandas()
    ap = set(zip(nnd_served["query_id"], nnd_served["neighbor_id"]))
    ex = set(zip(exact_served["query_id"], exact_served["neighbor_id"]))
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.9, f"NN-descent-served search recall: {recall:.3f}"


def test_graph_cache_bounded_and_invalidatable(spark):
    """Graph indexes live in the bounded index-registry LRU with
    explicit invalidation — a long-lived server must not leak indexes
    or serve stale edges after an embeddings rewrite."""
    from lakehouse_admin_spark.operators import graph_ann as ga

    def graph_entries():
        return [(e["tier"], e["variant"]) for e in ir.entries() if e["name"] == "graph"]

    ir.invalidate(name="graph")
    assert graph_entries() == []
    ga._undirected_edges(spark, SF_SMOKE)  # populates nnd + edges
    assert len(graph_entries()) == 2
    # scoped invalidation: another tier's entry survives
    variant = ("edges", "nn_descent")
    ir.get(spark, "/other/tier", "graph", lambda: spark.range(1), variant=variant)
    assert ir.invalidate(SF_SMOKE, "graph") == 2
    assert graph_entries() == [("/other/tier", variant)]
    ir.invalidate(name="graph")
    assert graph_entries() == []
    # LRU bound: inserting past the cap evicts the oldest
    dummy = spark.range(1)
    for i in range(ir.MAX_ENTRIES + 3):
        ir.get(spark, f"/t{i}", "graph", lambda: dummy, variant=("layer", 1))
    assert len(ir.entries()) == ir.MAX_ENTRIES
    assert ("/t0", ("layer", 1)) not in graph_entries()
    ir.invalidate(name="graph")


def test_hnsw_levels_geometric_and_deterministic(spark):
    from lakehouse_admin_spark.operators.graph_ann import HNSW_M, hnsw_levels

    lv = hnsw_levels(spark, SF_SMOKE).toPandas()
    lv2 = hnsw_levels(spark, SF_SMOKE).toPandas()
    assert lv.equals(lv2)
    counts = lv.groupby("level").size()
    # geometric shrinkage: each layer ~n/M of the previous (loose 2x band)
    assert counts[0] > counts.get(1, 0) > counts.get(2, -1)
    n = len(lv)
    assert counts.get(1, 0) < 2 * n / HNSW_M


def test_hnsw_search_shape_recall_determinism(spark):
    from lakehouse_admin_spark.operators.graph_ann import GS_K

    res = q("hnsw_search")(spark, SF_SMOKE).toPandas()
    res2 = q("hnsw_search")(spark, SF_SMOKE).toPandas()
    assert res.equals(res2), "HNSW serving must be deterministic"
    assert (res["query_id"] != res["neighbor_id"]).all()
    per_q = res.groupby("query_id")["rank"]
    assert (per_q.max() <= GS_K).all()
    assert (per_q.min() == 1).all()
    brute = q("ann_topk_cosine")(spark, SF_SMOKE).toPandas()
    ex = set(zip(brute["query_id"], brute["neighbor_id"]))
    ap = set(zip(res["query_id"], res["neighbor_id"]))
    assert len(ex & ap) / len(ex) > 0.0
    # the hierarchical descent must cover every query the flat walk does
    assert set(res["query_id"]) == set(brute["query_id"])


def test_eviction_frees_checkpoint_blocks(spark):
    """LRU eviction / invalidation must unpersist the checkpointed
    blocks promptly, not wait for JVM GC (the 'bounded' cache otherwise
    does not bound storage)."""
    def persistent_count():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = persistent_count()
    df = spark.range(100).localCheckpoint()
    assert df.count() == 100
    assert persistent_count() > before
    ir.get(spark, "/free/test", "graph", lambda: df, release=ir.free_checkpoint)
    ir.invalidate("/free/test")
    assert persistent_count() == before, (
        "invalidation must unpersist the checkpointed RDD immediately"
    )


def test_subset_nnd_layer_build_no_crossjoin_and_recall(spark):
    """HNSW upper-layer graphs are built with SUBSET NN-descent (md5-
    bucket init, NoN refinement) — no all-pairs crossJoin anywhere in
    the build (the r4 layer build was a broadcast crossJoin self-join,
    not viable at layer 1 ≈ n/M of the corpus). Pin: the init plan is
    keyed on (seed, bucket); edge quality ≥ 0.5 recall vs the exact
    top-M graph on the layer subset (tiny layers converge fast)."""
    from pyspark.sql import functions as F

    from lakehouse_admin_spark.operators import graph_ann as ga
    from lakehouse_admin_spark.operators.similarity import cosine_expr
    from lakehouse_admin_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    sub = emb.filter(ga._hnsw_level_col() >= 1)
    nl = sub.count()
    assert nl > 10, "layer 1 should hold ~n/6 of the fixture"
    got = ga._subset_nnd_edges(spark, sub, ga.LAYER_POOL, ga.LAYER_ROUNDS, ga.HNSW_M)
    pdf = got.toPandas()
    # every edge stays inside the subset; per-src degree <= M
    ids = {r["vec_id"] for r in sub.select("vec_id").collect()}
    assert set(pdf["src"]) <= ids and set(pdf["dst"]) <= ids
    assert pdf.groupby("src").size().max() <= ga.HNSW_M
    # exact top-M ground truth on the subset (test-only brute force)
    a = sub.select(F.col("vec_id").alias("src"), F.col("embedding").alias("ae"))
    b = sub.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("be"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst",
                F.round(cosine_expr(F.col("ae"), F.col("be")), 6).alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ga.HNSW_M)
        .select("src", "dst")
        .toPandas()
    )
    got_set = _edge_set(pdf)
    exact_set = _edge_set(exact)
    recall = len(got_set & exact_set) / len(exact_set)
    assert recall >= 0.5, f"subset-NND layer recall {recall}"
