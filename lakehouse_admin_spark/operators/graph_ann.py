"""Graph-based ANN over the ``embeddings`` table.

Third recall tier of the similarity stack (see similarity.py for the
brute-force / IVF / PQ tiers; reference parity target: the vector
query surface catalogued in SURVEY.md §2 extensions):

- ``knn_graph``: the EXACT k-nearest-neighbor graph, computed as a
  distributed block-matrix scan: m(m+1)/2 block-pair tiles, one BLAS
  matmul per tile in a cogrouped ``applyInPandas`` kernel, and —
  crucially — only the TILE-LOCAL top-k leaves each kernel (a valid
  pre-aggregation because tile-local selection uses the same
  (cosine desc, id asc) total order as the global rank), so the
  shuffle is O(n·m·k) rows, never the O(n²/B) of the full tile
  output. This is both a graded query (full DuckDB oracle) and the
  ground truth for the NN-descent recall pin.
- ``nn_descent_graph``: NN-Descent (Dong/Moses/Li, WWW 2011) — the
  sub-quadratic build path: start from a deterministic pseudo-random
  graph, iteratively propose neighbors-of-neighbors (the join is keyed
  on the shared intermediate vertex, cost Σ deg(x)² with deg ≤ 2k),
  re-rank each vertex's candidate pool, keep top-k. Per-round
  ``localCheckpoint`` truncates the growing self-join lineage
  (persist alone doubles the PLAN per round — the round-3 label
  propagation lesson). The FIXED round count and closed-form init make
  the whole build SQL-unrollable (:func:`_nnd_cte`), so it is
  hash-graded like everything else; recall against ``knn_graph`` is
  additionally pinned in tests/test_graph_ann.py.

The SERVING tier (``graph_ann_search``, ``hnsw_search``) walks the
NN-descent edges by default — the exact block-matrix build is O(n²)
compute and exists only as the ground-truth/recall-pin path
(``edge_source='exact'``). All oracle CTEs are ``MATERIALIZED``:
DuckDB otherwise inlines a CTE at every reference, and the unrolled
rounds reference the build chain recursively — exponential re-eval.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window

from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.index_registry import free_checkpoint
from lakehouse_admin_spark.operators.similarity import (
    _as_double,
    block_size_for,
    norm_expr,
    pair_dot,
)
from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.tables import load_table

KNN_K = 5  # neighbors per vertex
NND_ROUNDS = 3  # NN-descent refinement rounds
NND_POOL = 3 * KNN_K  # candidate pool per vertex during refinement
# (measured at sf0.01 on the near-orthogonal fixture: pool=k -> 0.38
# recall@5, pool=2k -> 0.85, pool=3k -> 0.978, pool=4k -> 0.999; the
# pool, not the round count, is the dominant recall knob on
# structure-poor data)
NND_A = 48271  # deterministic init multiplier (MINSTD)
NND_B = 1103  # deterministic init offset step


_KNN_ORACLE = f"""
    WITH pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT src, dst, ROUND(cos, 6) AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY src ORDER BY ROUND(cos, 6) DESC, dst
               ) AS INT) AS rank
        FROM pairs
    )
    SELECT src, dst, cosine, rank FROM ranked WHERE rank <= {KNN_K}
    ORDER BY src, rank
"""


@query("knn_graph", oracle=_KNN_ORACLE)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine k-NN graph for EVERY vector (not just the query
    stride): block-matrix tiles, one matmul per tile, tile-local top-k
    out of the kernel, global window re-rank. Shuffle volume is
    O(n·m·k) edge rows (m = n/BLOCK_SIZE tiles per side), the floor
    for an exact all-pairs graph; the kernel never sees more than a
    (B, B) tile at once, so executor memory is flat in n.

    r13: the built graph is a session-cached INDEX (the same contract
    as the NND edge index and the IVF/PQ codebooks — built once per
    (session, tier), deterministic, searched many times): the O(n²/B²)
    tile sweep runs on first touch and every consumer (this query's
    presentation sort, knn_pagerank's power iterations, the exact
    ground-truth edge path) reads the localCheckpoint'd edge list."""
    return exact_knn_index(spark, sf_dir).orderBy("src", "rank")


def exact_knn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached exact k-NN edge index (src, dst, cosine, rank ≤
    KNN_K) over the tier's embeddings — the ground-truth graph every
    graph-analytics consumer shares. A "graph" entry of the index
    registry (invalidate "graph" after an embeddings rewrite);
    deterministic build, so caching never changes results."""

    def build() -> DataFrame:
        return _exact_knn_edges(spark, sf_dir).localCheckpoint()

    return _graph_index(spark, sf_dir, "exact_knn", build)


def _exact_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (uncached) block-matrix exact k-NN build — see
    :func:`knn_graph` for the shape rationale."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    m = max(1, math.ceil(n / block_size_for(n)))
    blocks = emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(m)))
    tile_pairs = spark.range(m).select(
        F.col("id").alias("ba"),
        F.explode(F.sequence(F.col("id"), F.lit(m - 1))).alias("bb"),
    )
    left = blocks.select(
        F.col("vec_id").alias("lvec"), F.col("embedding").alias("lemb"),
        F.col("blk").alias("ba"),
    ).join(F.broadcast(tile_pairs), "ba")
    right = blocks.select(
        F.col("vec_id").alias("rvec"), F.col("embedding").alias("remb"),
        F.col("blk").alias("bb"),
    ).join(F.broadcast(tile_pairs), "bb")

    out_schema = StructType(
        [
            StructField("src", LongType()),
            StructField("dst", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )
    k = KNN_K

    # nested (not module-level) so cloudpickle ships everything BY
    # VALUE — workers under a foreign-cwd driver can't import this pkg
    def tile_kernel(key, lpdf, rpdf):
        def topk_edges(src_ids, dst_ids, sims):
            # tile-local top-k per src row under (cosine desc, dst
            # asc) — the same total order the global window rank
            # uses, so tile-local selection never discards a winner
            out_src, out_dst, out_cos = [], [], []
            for i in range(sims.shape[0]):
                row = sims[i]
                order = np.lexsort((dst_ids, -row))[:k]
                keep = order[row[order] > -2.0]  # drop masked self-pairs
                out_src.append(np.full(len(keep), src_ids[i], dtype=np.int64))
                out_dst.append(dst_ids[keep])
                out_cos.append(row[keep])
            if not out_src:
                return pd.DataFrame({"src": [], "dst": [], "cosine": []})
            return pd.DataFrame(
                {
                    "src": np.concatenate(out_src),
                    "dst": np.concatenate(out_dst),
                    "cosine": np.concatenate(out_cos),
                }
            )

        ba, bb = key
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"src": [], "dst": [], "cosine": []})
        lid = lpdf["lvec"].to_numpy(dtype=np.int64)
        rid = rpdf["rvec"].to_numpy(dtype=np.int64)
        lm = np.stack([np.asarray(v, dtype=np.float64) for v in lpdf["lemb"]])
        rm = np.stack([np.asarray(v, dtype=np.float64) for v in rpdf["remb"]])
        lm = lm / np.linalg.norm(lm, axis=1, keepdims=True)
        rm = rm / np.linalg.norm(rm, axis=1, keepdims=True)
        sims = np.round(lm @ rm.T, 6)
        if ba == bb:
            sims[lid[:, None] == rid[None, :]] = -9.0  # mask self-pairs
            return topk_edges(lid, rid, sims)
        # disjoint tiles carry both edge directions
        fwd = topk_edges(lid, rid, sims)
        bwd = topk_edges(rid, lid, sims.T.copy())
        return pd.concat([fwd, bwd], ignore_index=True)

    cand = (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(tile_kernel, out_schema)
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= KNN_K)
        .select("src", "dst", "cosine", "rank")
        # no presentation sort here: the cached index is unordered; the
        # knn_graph query applies its ORDER BY on top of the checkpoint
    )


def nn_descent_edges(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = NND_ROUNDS,
    pool: int = NND_POOL,
) -> DataFrame:
    """NN-descent build returning (src, dst, cosine, rank) after
    ``rounds`` refinement passes. During refinement each vertex keeps a
    candidate POOL of ``pool`` >= k neighbors (the standard recall
    knob: a larger pool explores more neighbor-of-neighbor paths);
    the final graph is pruned to the top KNN_K. Deterministic:
    MINSTD-seeded initial neighbors, 6dp-rounded cosines, id
    tiebreaks."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    # deterministic pseudo-random init: `pool` proposals per vertex
    init_expr = (
        f"transform(sequence(1, {pool} + 1), "
        f"j -> (src * {NND_A} + j * {NND_B}) % {n})"
    )
    g = (
        emb.select(F.col("vec_id").alias("src"))
        .select("src", F.explode(F.expr(init_expr)).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # Norms are a PER-VERTEX quantity: compute them once on each join
    # side (JVM expression, evaluated n times when the side
    # materializes) instead of a per-EDGE pair_dot — the old 3-call
    # form shipped every candidate pair through Arrow three times
    # (dot + both norms), tripling the build's Python traffic. The
    # sequential-HOF norm also matches the oracle's list_sum order
    # exactly (the einsum norm differed in last-ulp).
    nrm = norm_expr(F.col("embedding"))
    ea = emb.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("se"),
        nrm.alias("sn"),
    )
    eb = emb.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("de"),
        nrm.alias("dn"),
    )
    cos = F.round(
        pair_dot(_as_double(F.col("se")), _as_double(F.col("de")))
        / (F.col("sn") * F.col("dn")),
        6,
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))

    def rank_topk(cand_edges: DataFrame, keep: int) -> DataFrame:
        return (
            cand_edges.join(ea, "src")
            .join(eb, "dst")
            .select("src", "dst", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= keep)
        )

    graph = rank_topk(g, pool).localCheckpoint()
    for _ in range(rounds):
        edges = graph.select("src", "dst")
        und = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # neighbor-of-neighbor proposals, keyed on the shared vertex x:
        # cost Σ deg(x)² with deg(x) <= 2k — never a cross join
        a = und.select(F.col("src").alias("x"), F.col("dst").alias("u"))
        b = und.select(F.col("src").alias("x"), F.col("dst").alias("v"))
        non = (
            a.join(b, "x")
            .filter(F.col("u") != F.col("v"))
            .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
        cand = edges.union(non).distinct()
        # localCheckpoint per round: the self-join lineage otherwise
        # doubles the plan each pass and plan compilation blows up.
        # The superseded round's checkpoint is freed eagerly (blocks
        # otherwise linger until GC — rounds × graph size of storage).
        prev = graph
        graph = rank_topk(cand, pool).localCheckpoint()
        free_checkpoint(prev)
    return graph.filter(F.col("rank") <= KNN_K)


def nnd_index(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = NND_ROUNDS,
    pool: int = NND_POOL,
) -> DataFrame:
    """The NN-descent graph as a SESSION-CACHED INDEX (src, dst,
    cosine, rank): built once per (session, tier), then served from a
    localCheckpoint — the build/serve split a production serving tier
    has (the bench reports the build as its own `*_build` row). The
    final KNN_K-pruned graph is checkpointed and the pool-width build
    intermediate freed, so the resident index is k/pool of the build's
    working set."""

    def build() -> DataFrame:
        wide = nn_descent_edges(spark, sf_dir, rounds=rounds, pool=pool)
        out = wide.localCheckpoint()
        free_checkpoint(wide)  # pool-width intermediate
        return out

    return _graph_index(spark, sf_dir, ("nnd", rounds, pool), build)


# 6dp-rounded all-pairs cosine CTE shared by every unrolled oracle
# (an oracle-side convenience only: the SQL replay may brute-force what
# the Spark side navigates sparsely)
_PAIRS_CTE = """
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    )"""


def _nnd_cte(pool: int = NND_POOL, rounds: int = NND_ROUNDS) -> str:
    """CTE chain replaying the NN-descent build in SQL (requires the
    ``pairs`` CTE in scope; terminates in ``nnd`` = the final
    (src, dst, cos, rn<=KNN_K) edge set). The build has a FIXED round
    count and a closed-form deterministic init, so — like the beam walk
    — it unrolls mechanically: init → rank-to-pool, then per round
    undirect → neighbor-of-neighbor propose → union → re-rank."""
    ctes = [
        f"""
    nvec AS MATERIALIZED (SELECT COUNT(*) AS n FROM embeddings),
    nnd_init AS MATERIALIZED (
        SELECT DISTINCT e.vec_id AS src,
               (e.vec_id * {NND_A} + j.range * {NND_B}) % n.n AS dst
        FROM embeddings e, nvec n, range(1, {pool} + 2) j
        WHERE (e.vec_id * {NND_A} + j.range * {NND_B}) % n.n <> e.vec_id
    ),
    nnd_g0 AS MATERIALIZED (
        SELECT src, dst, cos, rn FROM (
            SELECT i.src, i.dst, p.cos,
                   row_number() OVER (PARTITION BY i.src
                                      ORDER BY p.cos DESC, i.dst) AS rn
            FROM nnd_init i JOIN pairs p ON p.src = i.src AND p.dst = i.dst
        ) WHERE rn <= {pool}
    )"""
    ]
    prev = "nnd_g0"
    for r in range(1, rounds + 1):
        ctes.append(f"""
    nnd_u{r} AS MATERIALIZED (
        SELECT src, dst FROM {prev} UNION SELECT dst, src FROM {prev}
    ),
    nnd_nb{r} AS MATERIALIZED (
        SELECT DISTINCT a.dst AS src, b.dst AS dst
        FROM nnd_u{r} a JOIN nnd_u{r} b ON a.src = b.src
        WHERE a.dst <> b.dst
    ),
    nnd_c{r} AS MATERIALIZED (
        SELECT src, dst FROM {prev} UNION SELECT src, dst FROM nnd_nb{r}
    ),
    nnd_g{r} AS MATERIALIZED (
        SELECT src, dst, cos, rn FROM (
            SELECT c.src, c.dst, p.cos,
                   row_number() OVER (PARTITION BY c.src
                                      ORDER BY p.cos DESC, c.dst) AS rn
            FROM nnd_c{r} c JOIN pairs p ON p.src = c.src AND p.dst = c.dst
        ) WHERE rn <= {pool}
    )""")
        prev = f"nnd_g{r}"
    ctes.append(f"""
    nnd AS MATERIALIZED (SELECT src, dst, cos, rn FROM {prev} WHERE rn <= {KNN_K})""")
    return ",".join(ctes)


GS_SEEDS = 4  # fixed entry points: vec_id < GS_SEEDS
GS_BEAM = 10  # beam width per query during the walk
GS_HOPS = 3  # expansion rounds
GS_K = 5  # final neighbors reported per query


def _gs_oracle() -> str:
    """Unrolled beam-search oracle: DuckDB replays the exact same walk —
    brute-force cosine matrix for the query stride (an oracle-side
    convenience only; it SELECTS just the candidate pairs' values), the
    NN-DESCENT edge build replayed via :func:`_nnd_cte` and made
    undirected, then GS_HOPS rounds of expand → dedup → top-GS_BEAM,
    and a final top-GS_K excluding the query node. Every selection uses
    (cos desc, node asc) on 6dp-rounded cosines, so both engines make
    identical build and beam decisions."""
    from lakehouse_admin_spark.operators.similarity import QUERY_STRIDE

    head = f"""
    WITH {_PAIRS_CTE},
    {_nnd_cte()},
    edges AS MATERIALIZED (
        SELECT src, dst FROM nnd
        UNION SELECT dst AS src, src AS dst FROM nnd
    ),
    cosmat AS MATERIALIZED (
        SELECT src AS qid, dst AS node, cos FROM pairs
        WHERE src % {QUERY_STRIDE} = 0
        UNION ALL
        SELECT vec_id AS qid, vec_id AS node, CAST(1.0 AS DOUBLE) AS cos
        FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
    ),
    b0 AS MATERIALIZED (
        SELECT qid, node, cos FROM cosmat WHERE node < {GS_SEEDS}
    )"""
    rounds = []
    prev = "b0"
    for r in range(1, GS_HOPS + 1):
        rounds.append(f"""
    c{r} AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
            SELECT qid, node FROM {prev}
            UNION ALL
            SELECT b.qid, e.dst AS node FROM {prev} b JOIN edges e ON e.src = b.node
        )
    ),
    b{r} AS MATERIALIZED (
        SELECT qid, node, cos FROM (
            SELECT c.qid, c.node, m.cos,
                   row_number() OVER (PARTITION BY c.qid
                                      ORDER BY m.cos DESC, c.node) AS rn
            FROM c{r} c JOIN cosmat m ON m.qid = c.qid AND m.node = c.node
        ) WHERE rn <= {GS_BEAM}
    )""")
        prev = f"b{r}"
    tail = f"""
    SELECT qid AS query_id, node AS neighbor_id, cos AS cosine,
           CAST(rnk AS INT) AS rank
    FROM (
        SELECT qid, node, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, node) AS rnk
        FROM {prev} WHERE node <> qid
    ) WHERE rnk <= {GS_K}
    ORDER BY query_id, rank
    """
    return head + "," + ",".join(rounds) + tail


def _graph_index(spark: SparkSession, sf_dir: str, variant, build) -> DataFrame:
    """A graph artifact (edge index, HNSW layer graph, seed frame) —
    built once per (session, tier) and searched many times, as a
    localCheckpoint'd "graph" entry of the index registry. Deterministic
    builds, so caching never changes results; invalidate "graph" after
    an embeddings rewrite."""
    return index_registry.get(
        spark, sf_dir, "graph", build, variant=variant, release=free_checkpoint
    )


def _vectors_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm) — the tier's vectors with their L2 norm
    precomputed ONCE and localCheckpoint'd. Every beam-walk hop joins
    broadcast candidates against this side and broadcasts the query set
    built from it; without it each hop re-read the parquet and
    re-evaluated the norm HOF per CANDIDATE row (norms are per-vector,
    not per-candidate). The norm is the identical sqrt(sequential-sum)
    expression the oracles replay, so cached values match
    bit-for-bit."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        return emb.withColumn(
            "nrm", norm_expr(F.col("embedding"))
        ).localCheckpoint()

    return _graph_index(spark, sf_dir, "vecs", build)


def _undirected_edges(
    spark: SparkSession, sf_dir: str, source: str = "nn_descent"
) -> DataFrame:
    """Session-cached undirected k-NN edge list for the serving tier.
    ``source='nn_descent'`` (default) builds sub-quadratically — the
    only shape buildable at 100 TB; ``source='exact'`` uses the
    block-matrix exact graph and exists as the ground-truth/recall-pin
    path. localCheckpoint materializes the index so repeated searches
    never re-run the build."""

    def build() -> DataFrame:
        if source == "exact":
            # reuse the cached exact edge index — already checkpointed
            g = exact_knn_index(spark, sf_dir).select("src", "dst")
        else:
            # reuse the cached NND index — one build feeds both the
            # edge-list consumers and the nn_descent_graph query
            g = nnd_index(spark, sf_dir).select("src", "dst")
        return (
            g.union(g.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint()
        )

    return _graph_index(spark, sf_dir, ("edges", source), build)


@query("graph_ann_search", oracle=_gs_oracle())
def graph_ann_search(
    spark: SparkSession, sf_dir: str, edge_source: str = "nn_descent"
) -> DataFrame:
    """Query-time greedy beam search over the NN-DESCENT k-NN graph
    (the HNSW/NSG serving pattern, single-layer): start every
    stride-100 query at fixed entry points, repeatedly expand the beam
    along (undirected) graph edges, keep the GS_BEAM closest visited
    nodes, report the final top-GS_K. The default edge source is the
    sub-quadratic NN-descent build — the only index buildable at
    100 TB; ``edge_source='exact'`` keeps the block-matrix graph as the
    ground-truth path for recall pins. Cosines are computed ONLY for
    visited candidates — the big embedding table is never shuffled:
    candidate sets (≤ beam·(k+1) rows per query) broadcast against it,
    and the graph is built once and localCheckpoint'd so the walk's H
    rounds reuse it without re-running the build. The driver-graded
    oracle replays BOTH the NN-descent build and the identical walk in
    SQL (:func:`_nnd_cte` + the unrolled hops)."""
    from lakehouse_admin_spark.operators.similarity import QUERY_STRIDE, dot_expr

    vecs = _vectors_with_norm(spark, sf_dir)
    edges = _undirected_edges(spark, sf_dir, edge_source)
    queries = vecs.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )

    def with_cos(cand: DataFrame) -> DataFrame:
        # candidates are tiny (≤ nq·beam·(k+1)) → broadcast them against
        # the cached (vector, norm) side; the big side never shuffles
        # and per-vector norms never recompute per candidate row
        ne = vecs.select(
            F.col("vec_id").alias("node"),
            F.col("embedding").alias("ne"),
            F.col("nrm").alias("nn"),
        )
        cos = dot_expr(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))
        return (
            ne.join(F.broadcast(cand), "node")
            .join(F.broadcast(queries), "query_id")
            .select("query_id", "node", F.round(cos, 6).alias("cos"))
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("node"))
    seeds = queries.select("query_id").crossJoin(
        spark.range(GS_SEEDS).select(F.col("id").alias("node"))
    )
    beam = with_cos(seeds).localCheckpoint()
    for _ in range(GS_HOPS):
        expand = (
            beam.select("query_id", F.col("node").alias("src"))
            .join(edges, "src")
            .select("query_id", F.col("dst").alias("node"))
        )
        cand = beam.select("query_id", "node").union(expand).distinct()
        prev = beam
        beam = (
            with_cos(cand)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= GS_BEAM)
            .drop("rn")
            .localCheckpoint()
        )
        free_checkpoint(prev)
    return (
        beam.filter(F.col("node") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= GS_K)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.col("cos").alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


_NND_ORACLE = f"""
    WITH {_PAIRS_CTE},
    {_nnd_cte()}
    SELECT src, dst, cos AS cosine, CAST(rn AS INT) AS rank
    FROM nnd ORDER BY src, rank
"""


@query("nn_descent_graph", oracle=_NND_ORACLE)
def nn_descent_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph via NN-descent. The build runs a FIXED
    number of refinement rounds from a closed-form deterministic init,
    so the whole fixpoint-free iteration unrolls into a SQL oracle
    (:func:`_nnd_cte`) — hash-graded, not rows-only. The recall pin
    against ``knn_graph`` (exact) in tests/test_graph_ann.py remains
    the quality contract. Served from the session index cache
    (:func:`nnd_index`): the build runs once per (session, tier) and
    the bench reports it as a separate ``*_build`` row."""
    return nnd_index(spark, sf_dir).orderBy("src", "rank")


# ---------------------------------------------------------------------------
# HNSW-style hierarchical serving tier
# ---------------------------------------------------------------------------
HNSW_M = 6  # neighbors per node in upper-layer graphs
HNSW_MAX_LEVEL = 3
_HNSW_U_DEN = float(1 << 32)
LAYER_POOL = 3 * HNSW_M  # subset-NND candidate pool for layer builds
LAYER_ROUNDS = 2  # subset-NND refinement rounds per layer
NND_SEED_GROUP = 6  # md5-bucket group size for the subset-NND init


def _hnsw_level_col():
    """The deterministic level EXPRESSION (computed from vec_id alone,
    so layer membership never needs a join): u = md5-derived uniform in
    (0,1], level = min(MAX, floor(-ln(u)/ln(M)))."""
    u = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(_HNSW_U_DEN)
    return F.least(
        F.lit(HNSW_MAX_LEVEL),
        F.floor(-F.log(u) / math.log(HNSW_M)).cast("int"),
    )


def hnsw_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HNSW level assignment: u = md5-derived uniform in
    (0,1], level = min(MAX, floor(-ln(u)/ln(M))) — the geometric layer
    distribution of Malkov/Yashunin (TPAMI 2020) with the randomness
    replaced by a replayable hash."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return emb.select("vec_id", _hnsw_level_col().alias("level"))


def _subset_nnd_edges(
    spark: SparkSession,
    emb_sub: DataFrame,
    pool: int,
    rounds: int,
    keep: int,
) -> DataFrame:
    """NN-descent over an ARBITRARY node subset (src, dst) — the layer
    builds can't reuse :func:`nn_descent_edges`' closed-form init
    because a subset's ids aren't contiguous. Init instead hashes each
    node into pseudo-random groups of ~NND_SEED_GROUP via seeded md5
    buckets (n_seeds independent groupings ≈ the proposal pool) and
    proposes all within-group pairs — fully distributed (grouped
    self-join keyed on (seed, bucket), never a cross join) and
    replayable in SQL (:func:`_subset_nnd_cte` derives identical
    buckets from the same md5 prefix). Refinement = the standard
    neighbor-of-neighbor rounds with 6dp cosines and id tiebreaks."""
    nl = emb_sub.count()
    if nl <= 1:
        return spark.createDataFrame([], "src bigint, dst bigint")
    nb = max(1, math.ceil(nl / NND_SEED_GROUP))
    n_seeds = max(1, math.ceil(pool / (NND_SEED_GROUP - 1)))
    b = emb_sub.select("vec_id").select(
        "vec_id",
        F.explode(F.array(*[F.lit(j) for j in range(n_seeds)])).alias("seed"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("seed").cast("string"),
                        F.col("vec_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(nb),
    )
    u = b.select(F.col("vec_id").alias("src"), "seed", "bucket")
    v = b.select(F.col("vec_id").alias("dst"), "seed", "bucket")
    g = (
        u.join(v, ["seed", "bucket"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    # per-vertex norms on the join sides (see nn_descent_edges)
    nrm = norm_expr(F.col("embedding"))
    ea = emb_sub.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("se"),
        nrm.alias("sn"),
    )
    eb = emb_sub.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("de"),
        nrm.alias("dn"),
    )
    cos = F.round(
        pair_dot(_as_double(F.col("se")), _as_double(F.col("de")))
        / (F.col("sn") * F.col("dn")),
        6,
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))

    def rank_topk(cand_edges: DataFrame, keep_n: int) -> DataFrame:
        return (
            cand_edges.join(ea, "src")
            .join(eb, "dst")
            .select("src", "dst", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= keep_n)
        )

    graph = rank_topk(g, pool).localCheckpoint()
    for _ in range(rounds):
        edges = graph.select("src", "dst")
        und = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        a = und.select(F.col("src").alias("x"), F.col("dst").alias("u"))
        b2 = und.select(F.col("src").alias("x"), F.col("dst").alias("v"))
        non = (
            a.join(b2, "x")
            .filter(F.col("u") != F.col("v"))
            .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
        cand = edges.union(non).distinct()
        prev = graph
        graph = rank_topk(cand, pool).localCheckpoint()
        free_checkpoint(prev)
    return graph.filter(F.col("rank") <= keep).select("src", "dst")


def _layer_rounds(layer: int) -> int:
    """Subset-NND refinement rounds for upper-layer builds: layer 1
    (~n/M of the corpus) gets the full LAYER_ROUNDS; layers ≥2 hold
    ≤n/M² nodes while the md5-bucket init already proposes ~LAYER_POOL
    candidates per node — a sizable fraction of such a layer — so one
    NoN round converges. Each dropped round removes a rank-join +
    localCheckpoint job from the build critical path (r10 verdict #5:
    the HNSW build was 2× anything else in the bench). The oracle
    interpolates THIS function per layer, so both engines build the
    identical graph."""
    return LAYER_ROUNDS if layer <= 1 else 1


def _descent_rounds(layer: int) -> int:
    """Greedy-improvement rounds per layer during the query descent:
    2 on layer 1 (the last, largest hop toward the layer-0 seed), 1 on
    the geometrically-tiny layers above it (≤n/M² nodes — one expand
    already sees most of such a layer through M edges). Interpolated
    into the oracle unroll, so both engines descend identically; each
    dropped round removes a rank + localCheckpoint job from the
    first-serve critical path (r10 verdict #5)."""
    return 2 if layer <= 1 else 1


def _layer_edges(spark: SparkSession, sf_dir: str, layer: int) -> DataFrame:
    """Undirected M-NN graph among the nodes of one UPPER layer
    (level >= layer), built with SUBSET NN-DESCENT — sub-quadratic in
    the layer size. The r4 version was a broadcast crossJoin self-join:
    fine for the top layers but layer 1 holds ~n/M of the corpus, which
    is neither broadcastable nor all-pairs-scannable at 100 TB. A
    "graph" entry of the index registry (see :func:`_graph_index`)."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        sub = emb.filter(_hnsw_level_col() >= layer)
        g = _subset_nnd_edges(spark, sub, LAYER_POOL, _layer_rounds(layer), HNSW_M)
        und = g.union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        return und.localCheckpoint()

    return _graph_index(spark, sf_dir, ("layer", layer), build)


def _subset_nnd_cte(
    p: str,
    nodes: str,
    pool: int = LAYER_POOL,
    rounds: int = LAYER_ROUNDS,
    keep: int = HNSW_M,
) -> str:
    """CTE chain replaying :func:`_subset_nnd_edges` over the node
    relation ``nodes`` (one vec_id column), all names prefixed ``p``;
    terminates in ``{p}out`` (src, dst). Requires ``pairs`` in scope.
    Buckets derive from the same md5 hex prefix as Spark's
    conv(…,16,10) (the proven-equal hnsw-levels arithmetic)."""
    n_seeds = max(1, math.ceil(pool / (NND_SEED_GROUP - 1)))
    ctes = [f"""
    {p}n AS MATERIALIZED (
        SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {NND_SEED_GROUP}.0) AS BIGINT)) AS nb
        FROM {nodes}
    ),
    {p}b AS MATERIALIZED (
        SELECT v.vec_id, s.seed,
               CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' ||
                    CAST(v.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % (SELECT nb FROM {p}n) AS bucket
        FROM {nodes} v CROSS JOIN (SELECT UNNEST(range({n_seeds})) AS seed) s
    ),
    {p}i AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM {p}b a JOIN {p}b b
          ON a.seed = b.seed AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    {p}g0 AS MATERIALIZED (
        SELECT src, dst, cos, rn FROM (
            SELECT i.src, i.dst, pr.cos,
                   row_number() OVER (PARTITION BY i.src
                                      ORDER BY pr.cos DESC, i.dst) AS rn
            FROM {p}i i JOIN pairs pr ON pr.src = i.src AND pr.dst = i.dst
        ) WHERE rn <= {pool}
    )"""]
    prev = f"{p}g0"
    for r in range(1, rounds + 1):
        ctes.append(f"""
    {p}u{r} AS MATERIALIZED (
        SELECT src, dst FROM {prev} UNION SELECT dst, src FROM {prev}
    ),
    {p}nb{r} AS MATERIALIZED (
        SELECT DISTINCT a.dst AS src, b.dst AS dst
        FROM {p}u{r} a JOIN {p}u{r} b ON a.src = b.src
        WHERE a.dst <> b.dst
    ),
    {p}c{r} AS MATERIALIZED (
        SELECT src, dst FROM {prev} UNION SELECT src, dst FROM {p}nb{r}
    ),
    {p}g{r} AS MATERIALIZED (
        SELECT src, dst, cos, rn FROM (
            SELECT c.src, c.dst, pr.cos,
                   row_number() OVER (PARTITION BY c.src
                                      ORDER BY pr.cos DESC, c.dst) AS rn
            FROM {p}c{r} c JOIN pairs pr ON pr.src = c.src AND pr.dst = c.dst
        ) WHERE rn <= {pool}
    )""")
        prev = f"{p}g{r}"
    ctes.append(f"""
    {p}out AS MATERIALIZED (SELECT src, dst FROM {prev} WHERE rn <= {keep})""")
    return ",".join(ctes)


def _hnsw_oracle() -> str:
    """Unrolled HNSW oracle: levels from the same md5-derived uniform
    (DuckDB parses the hex prefix via CAST('0x'||… AS BIGINT), which
    equals Spark's conv(…,16,10)), per-layer M-NN graphs among
    level>=l nodes built by SUBSET NN-DESCENT (:func:`_subset_nnd_cte`
    — replaying :func:`_subset_nnd_edges`'s md5-bucket init and NoN
    rounds, no all-pairs layer build), the greedy descent unrolled
    layer-by-layer from HNSW_MAX_LEVEL (layers above the realized
    l_max have empty node sets, so their rounds are no-ops —
    equivalent to Spark starting at l_max), then the layer-0 beam walk
    over the NN-descent edges."""
    from lakehouse_admin_spark.operators.similarity import QUERY_STRIDE

    head = f"""
    WITH {_PAIRS_CTE},
    {_nnd_cte()},
    edges AS MATERIALIZED (
        SELECT src, dst FROM nnd
        UNION SELECT dst AS src, src AS dst FROM nnd
    ),
    cosmat AS MATERIALIZED (
        SELECT src AS qid, dst AS node, cos FROM pairs
        WHERE src % {QUERY_STRIDE} = 0
        UNION ALL
        SELECT vec_id AS qid, vec_id AS node, CAST(1.0 AS DOUBLE) AS cos
        FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
    ),
    levels AS MATERIALIZED (
        SELECT vec_id,
               LEAST({HNSW_MAX_LEVEL},
                     CAST(FLOOR(-ln(u) / ln({HNSW_M})) AS INT)) AS level
        FROM (
            SELECT vec_id,
                   (CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                         AS BIGINT) + 1.0) / {_HNSW_U_DEN!r} AS u
            FROM embeddings
        )
    ),
    entry AS MATERIALIZED (
        SELECT vec_id FROM levels ORDER BY level DESC, vec_id LIMIT 1
    ),
    d0 AS MATERIALIZED (
        SELECT qid, node, cos FROM cosmat
        WHERE node = (SELECT vec_id FROM entry)
    )"""
    parts = []
    step = 0
    prev = "d0"
    for layer in range(HNSW_MAX_LEVEL, 0, -1):
        parts.append(f"""
    ln{layer} AS MATERIALIZED (SELECT vec_id FROM levels WHERE level >= {layer}),
    {_subset_nnd_cte(f"l{layer}", f"ln{layer}", rounds=_layer_rounds(layer))},
    le{layer} AS MATERIALIZED (
        SELECT src, dst FROM l{layer}out
        UNION SELECT dst AS src, src AS dst FROM l{layer}out
    )""")
        for _ in range(_descent_rounds(layer)):  # greedy rounds, like Spark
            step += 1
            parts.append(f"""
    dx{step} AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
            SELECT qid, node FROM {prev}
            UNION ALL
            SELECT d.qid, e.dst AS node
            FROM {prev} d JOIN le{layer} e ON e.src = d.node
        )
    ),
    d{step} AS MATERIALIZED (
        SELECT qid, node, cos FROM (
            SELECT x.qid, x.node, m.cos,
                   row_number() OVER (PARTITION BY x.qid
                                      ORDER BY m.cos DESC, x.node) AS rn
            FROM dx{step} x JOIN cosmat m
              ON m.qid = x.qid AND m.node = x.node
        ) WHERE rn <= 1
    )""")
            prev = f"d{step}"
    # layer-0 beam walk seeded by the descended entry
    bprev = prev
    for r in range(1, GS_HOPS + 1):
        parts.append(f"""
    bc{r} AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
            SELECT qid, node FROM {bprev}
            UNION ALL
            SELECT b.qid, e.dst AS node
            FROM {bprev} b JOIN edges e ON e.src = b.node
        )
    ),
    bb{r} AS MATERIALIZED (
        SELECT qid, node, cos FROM (
            SELECT c.qid, c.node, m.cos,
                   row_number() OVER (PARTITION BY c.qid
                                      ORDER BY m.cos DESC, c.node) AS rn
            FROM bc{r} c JOIN cosmat m ON m.qid = c.qid AND m.node = c.node
        ) WHERE rn <= {GS_BEAM}
    )""")
        bprev = f"bb{r}"
    tail = f"""
    SELECT qid AS query_id, node AS neighbor_id, cos AS cosine,
           CAST(rnk AS INT) AS rank
    FROM (
        SELECT qid, node, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, node) AS rnk
        FROM {bprev} WHERE node <> qid
    ) WHERE rnk <= {GS_K}
    ORDER BY query_id, rank
    """
    return head + "," + ",".join(parts) + tail


@query("hnsw_search", oracle=_hnsw_oracle())
def hnsw_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (HNSW-style) ANN serving: greedy descent from the
    top layer's entry point through geometrically-shrinking layer
    graphs, then the layer-0 beam search over the NN-DESCENT edge
    index (sub-quadratic build — the 100 TB path; upper layers are
    geometrically small, so their exact M-NN builds stay cheap). The
    descent gives each query a GOOD layer-0 seed in O(log n) hops
    instead of fixed global seeds. Deterministic (hash levels, 6dp
    cosines, id tie-breaks); the oracle unrolls levels + descent +
    walk per layer (:func:`_hnsw_oracle`), and recall vs the exact
    top-k is pinned in tests/test_graph_ann.py."""
    from lakehouse_admin_spark.operators.similarity import QUERY_STRIDE, dot_expr

    vecs = _vectors_with_norm(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )

    def with_cos(cand: DataFrame) -> DataFrame:
        # cached per-vector norms (see graph_ann_search's with_cos)
        ne = vecs.select(
            F.col("vec_id").alias("node"),
            F.col("embedding").alias("ne"),
            F.col("nrm").alias("nn"),
        )
        cos = dot_expr(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))
        return (
            ne.join(F.broadcast(cand), "node")
            .join(F.broadcast(queries), "query_id")
            .select("query_id", "node", F.round(cos, 6).alias("cos"))
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("node"))

    def build_seeds() -> DataFrame:
        # Upper-layer descent: ~2·l_max fixed checkpoint jobs whose
        # output depends only on (corpus, query set) — both pinned by
        # (sf_dir, QUERY_STRIDE) — so the descended layer-0 seed per
        # query is cached in the bounded LRU and REPEAT serving
        # batches skip straight to the layer-0 beam walk. This is the
        # serving split a production tier runs: descend once per
        # query set, amortize across batches. (Plan-fusing the two
        # greedy rounds per layer was measured SLOWER — wider shuffle
        # stages outweigh the saved job; don't re-try.)
        levels = hnsw_levels(spark, sf_dir)
        top = (
            levels.orderBy(F.desc("level"), F.asc("vec_id")).limit(1).collect()[0]
        )
        l_max, entry = int(top["level"]), int(top["vec_id"])
        # Prebuild every layer graph CONCURRENTLY: the builds touch
        # disjoint cache keys and independent job chains, so Python
        # threads let Spark's scheduler overlap them (local[32] — and a
        # real cluster — is otherwise idle between the tiny per-layer
        # stages). Wall drops from Σ per-layer to ~max per-layer
        # (r10 verdict #5). The descent loop below then reads warm
        # cache entries.
        # ThreadPoolExecutor (not raw Threads): future.result() RE-RAISES
        # a builder failure here instead of printing-and-swallowing it,
        # so a broken layer build fails the query loudly rather than
        # falling back to a silent serial rebuild (r11 ADVICE).
        from concurrent.futures import ThreadPoolExecutor

        layers = list(range(l_max, 0, -1))
        if layers:
            with ThreadPoolExecutor(max_workers=len(layers)) as pool:
                futures = [
                    pool.submit(_layer_edges, spark, sf_dir, la) for la in layers
                ]
                for f in futures:
                    f.result()
        cur = with_cos(
            queries.select("query_id").withColumn("node", F.lit(entry))
        ).localCheckpoint()
        for layer in range(l_max, 0, -1):
            edges_l = _layer_edges(spark, sf_dir, layer)
            for _ in range(_descent_rounds(layer)):  # greedy rounds
                expand = (
                    cur.select("query_id", F.col("node").alias("src"))
                    .join(edges_l, "src")
                    .select("query_id", F.col("dst").alias("node"))
                )
                cand = cur.select("query_id", "node").union(expand).distinct()
                prev = cur
                cur = (
                    with_cos(cand)
                    .withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= 1)
                    .drop("rn")
                    .localCheckpoint()
                )
                free_checkpoint(prev)
        return cur

    # QUERY_STRIDE is read at call time (stress bench and tests patch
    # it), so the query set — and therefore the seed frame — varies
    # with it: it MUST be part of the cache key or a stride change
    # would silently serve seeds for the old query set.
    seeds = _graph_index(spark, sf_dir, ("hnsw_seeds", QUERY_STRIDE), build_seeds)
    # layer 0: beam search seeded by the descended entry per query,
    # over the sub-quadratically-built NN-descent edge index
    edges0 = _undirected_edges(spark, sf_dir)
    beam = seeds
    for _ in range(GS_HOPS):
        expand = (
            beam.select("query_id", F.col("node").alias("src"))
            .join(edges0, "src")
            .select("query_id", F.col("dst").alias("node"))
        )
        cand = beam.select("query_id", "node").union(expand).distinct()
        prev = beam
        beam = (
            with_cos(cand)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= GS_BEAM)
            .drop("rn")
            .localCheckpoint()
        )
        if prev is not seeds:  # the cached seed frame must stay live
            free_checkpoint(prev)
    return (
        beam.filter(F.col("node") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= GS_K)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.col("cos").alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# PageRank over the semantic k-NN graph — graph centrality for selection
# ---------------------------------------------------------------------------
PR_ITERS = 3  # power-iteration rounds (unrolled in the oracle)
PR_DAMP = 0.85  # standard damping


def _knn_pagerank_oracle() -> str:
    pairs = f"""
    WITH pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT src, dst,
               row_number() OVER (
                   PARTITION BY src ORDER BY ROUND(cos, 6) DESC, dst
               ) AS rank
        FROM pairs
    ),
    edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rank <= {KNN_K}),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
    pr0 AS MATERIALIZED (
        SELECT DISTINCT src AS v, (SELECT 1.0 / n FROM nn) AS r FROM edges
    )"""
    rounds = []
    for t in range(1, PR_ITERS + 1):
        rounds.append(f""",
    pr{t} AS MATERIALIZED (
        SELECT p.v,
               (SELECT {1.0 - PR_DAMP} / n FROM nn)
               + {PR_DAMP} * COALESCE(c.s, 0.0) AS r
        FROM pr0 p LEFT JOIN (
            SELECT e.dst AS v, SUM(q.r / {KNN_K}) AS s
            FROM edges e JOIN pr{t - 1} q ON q.v = e.src
            GROUP BY e.dst
        ) c ON c.v = p.v
    )""")
    return (
        pairs
        + "".join(rounds)
        + f"""
    SELECT v AS vec_id, ROUND(r, 8) AS pagerank
    FROM pr{PR_ITERS} ORDER BY vec_id
    """
    )


@query("knn_pagerank", oracle=_knn_pagerank_oracle())
def knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the exact cosine k-NN graph — the
    graph-based representativeness score coreset/selection methods
    rank documents by (a vector's mass grows when many vectors' nearest
    lists point at it). Three unrolled power-iteration rounds with
    standard 0.85 damping; out-degree is exactly KNN_K for every
    vertex, so each round is one edge join + one groupBy(dst) — the
    textbook distributed PageRank step.

    Scale shape: the edge list is n·k rows built once by the
    block-matrix :func:`knn_graph` kernel and persisted across rounds;
    each iteration shuffles at most n·k contribution rows on the dst
    key and n rank rows on the vertex key. Scores are deterministic to
    8dp across engines (sums of ≤n doubles, relative error 1e-16);
    the oracle unrolls all rounds over its own replayed k-NN edges."""
    # n·k rows off the session-cached exact edge index (r13 — each
    # invocation previously re-ran the whole O(n²/B²) tile sweep; the
    # graph is an index, built once per (session, tier) like the NND
    # edge list the beam walkers share); already localCheckpoint'd, so
    # no per-invocation persist
    edges = exact_knn_index(spark, sf_dir).select("src", "dst")
    n = float(
        load_table(spark, sf_dir, "embeddings").select("vec_id").count()
    )
    nodes = edges.select(F.col("src").alias("v")).distinct()
    ranks = nodes.select("v", F.lit(1.0 / n).alias("r"))
    for _t in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["v"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.lit(float(KNN_K))).alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["v"] == contrib["dst"], "left")
            .select(
                "v",
                (
                    F.lit((1.0 - PR_DAMP) / n)
                    + F.lit(PR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("v").alias("vec_id"), F.round("r", 8).alias("pagerank")
    ).orderBy("vec_id")
