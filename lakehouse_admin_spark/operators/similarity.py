"""Similarity search over the ``embeddings`` table (array<float> column).

Training-data-pipeline extension: approximate-nearest-neighbor search.

- ``ann_topk_cosine``: brute-force cosine top-k — the exactness baseline.
  Dot products run as JVM higher-order functions (zip_with + aggregate)
  in double precision; ranking is on the 6-decimal-rounded cosine with an
  id tiebreak so the selected set is deterministic across engines.
- ``ann_ivf_topk``: IVF-style cell restriction with the ``label`` column
  standing in for a cell id — the untrained demonstration tier.
- ``ann_ivf_multiprobe`` / ``ann_ivf_pq_topk`` / ``ann_ivf_pq_rerank``:
  the scale path — a TRAINED coarse quantizer (:func:`ivf_cells`,
  deterministic Lloyd k-means with k ≈ √n cells so probed mass per
  query is ~probes·√n, the FAISS sizing rule), optionally composed
  with PQ/ADC ranking and an exact re-rank of the ADC shortlist (the
  FAISS IVFADC serving shape). Every stage is replayed bit-for-bit by
  the DuckDB oracles (:func:`_kmeans_cte`).
- ``embedding_lsh_near_dup``: sign-random-projection LSH whose
  bits-per-band GROW with the corpus (:func:`lsh_bits_per_band`) so
  candidate volume stays linear in n.
- ``embedding_norms``: the cheap precomputation pass (norms are computed
  once and stored, so repeated queries skip half the arithmetic).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.index_registry import free_checkpoint
from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.tables import load_table

TOP_K = 5
QUERY_STRIDE = 100  # vec_id % stride == 0 → query vector
NEAR_DUP_THRESHOLD = 0.4
BLOCK_SIZE = 512  # MAX vectors per block-matrix tile (measured optimum
# at the s50 stress tier: 128→7.6s, 256→4.2s, 512→3.4s, 1024→3.9s —
# bigger tiles amortize Arrow/task overhead until matmul working sets
# outgrow cache; see BASELINE.md block-size sweep)
LSH_BANDS = 4  # band count b in the 1-(1-s^r)^b recall curve
LSH_TARGET_BUCKET = 8  # target MEAN bucket occupancy n/2^r
LSH_MIN_BITS = 4  # bits-per-band clamp (r)
LSH_MAX_BITS = 16
# Bits per band GROW with the corpus: candidate volume is
# Σ|bucket|² ≈ b·n²/2^r, so a CONSTANT r goes quadratic the moment n
# outgrows 2^r (measured r4 stress: fixed r=8 → 15.8× time at 4×
# rows). Holding mean occupancy n/2^r ≈ LSH_TARGET_BUCKET makes the
# candidate volume ≈ b·n·TARGET — linear in n. The recall curve shifts
# with r as 1-(1-s^r)^b (documented per tier; near-dups at s→1 stay
# caught), and the oracle derives the SAME r from COUNT(*) in SQL.


def block_size_for(n: int) -> int:
    """Block-matrix tile size adapted to the corpus: BLOCK_SIZE-capped,
    but never fewer than ~8 blocks per side so small corpora still get
    m(m+1)/2 ≫ cores tiles of parallelism (read via the module global
    so the bench sweep can patch the cap)."""
    return max(64, min(BLOCK_SIZE, -(-max(int(n), 1) // 8)))


def lsh_bits_per_band(n: int) -> int:
    """The corpus-scaled signature width: smallest r with
    2^r >= ceil(n / LSH_TARGET_BUCKET), clamped to
    [LSH_MIN_BITS, LSH_MAX_BITS]. Integer arithmetic only — the DuckDB
    oracle replays the identical derivation (bit-shift scan, no
    float log2 whose last-ulp could flip a ceil cross-engine)."""
    m = -(-max(int(n), 1) // LSH_TARGET_BUCKET)
    r = max(1, (m - 1).bit_length())
    return max(LSH_MIN_BITS, min(LSH_MAX_BITS, r))


# DoubleType() instance, not "double": the DDL-string form parses via
# an active SparkSession, which need not exist at import time
@pandas_udf(DoubleType())
def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized row-wise dot product: stack the Arrow batch to a
    (batch, dim) float64 matrix and compute one einsum — replaces
    per-element higher-order-function evaluation (~1 µs/element) in
    million-pair similarity joins."""
    ma = np.stack(a.to_numpy())
    mb = np.stack(b.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", ma, mb, dtype=np.float64))


# Catalyst's filter pushdown substitutes an aliased expression into the
# pushed predicate, DUPLICATING the kernel when the alias is filtered on:
# one ArrowEvalPython evaluates every candidate pair for the filter, then
# a SECOND evaluates the survivors again for the projection (measured in
# embedding_lsh_near_dup's r13 baseline plan: 2 ArrowEvalPython nodes over
# the same pair_dot call). pair_dot IS deterministic — this twin is marked
# non-deterministic solely to forbid that rewrite at sites that filter on
# a pair_dot-derived column, so the kernel runs once and the filter stays
# above the projection. Results are identical either way.
pair_dot_once = pair_dot.asNondeterministic()


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] in double precision, sequential array order (portable
    and deterministic — matters for cross-engine rounding stability)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with the per-side L2 norms already materialized as
    columns: the per-pair projection folds ONE array (the dot product)
    instead of three. ``cosine_expr`` inside a pair join re-derives
    both norms for every pair — ~3× the necessary hot-loop arithmetic;
    precomputing per side took semantic_contamination 5.2 s → 2.2 s at
    sf0.1 (commit 9d22975). Values are bit-identical: the norm folds
    see the same arrays, and the division order (dot / (na·nb))
    matches ``cosine_expr``."""
    return dot_expr(a, b) / (na * nb)


def pair_scan_barrier(df: DataFrame) -> DataFrame:
    """Exchange barrier under the brute tiers' broadcast-crossJoin
    candidate side (r14, guide §2.4/§1.1). Whole-stage codegen fuses
    the candidate projection into the BroadcastNestedLoopJoin pair
    loop and evaluates the projected per-VECTOR expressions — sign
    packing, SQ reconstruction, prefix slices, norms — at their USE
    site, i.e. ONCE PER PAIR (nq× per row). Measured at the s25 stress
    tier (10k vectors × 100 queries): the binary hamming pair scan
    dropped 17.8 s → 0.44 s once the 64-CASE-WHEN pack was forced
    map-side. A round-robin repartition materializes the expressions
    exactly once per vector AND spreads the single-row-group fixture
    scan across cores (the fixture parquet is one split → the whole
    nq×n pair loop otherwise runs in ONE task). The shuffled rows are
    the narrow candidate projection (binary codes: 24 B/row — the
    guide-§8 lightweight-proxy rule; float tiers ship the same arrays
    the pair stage needs anyway, one hop early)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def brute_pairs(queries: DataFrame, cands: DataFrame, id_col: str) -> DataFrame:
    """Every (query, candidate) pair of a brute scan, self pairs
    dropped. ``queries`` carries ``query_id`` and is broadcast (the
    small stride set — the big side never shuffles by key and the plan
    is a BroadcastNestedLoopJoin, never a CartesianProduct); ``cands``
    carries ``id_col`` and goes through :func:`pair_scan_barrier`, so
    its per-vector projections run once per vector, not once per pair.
    Rank the scored pairs with :func:`top_k`."""
    return (
        F.broadcast(queries)
        .crossJoin(pair_scan_barrier(cands))
        .filter(F.col(id_col) != F.col("query_id"))
    )


def top_k(
    df: DataFrame, by: str | list[str], order: list[Column], k: int, rank: str = "rank"
) -> DataFrame:
    """The first ``k`` rows per ``by`` group under ``order``, numbered
    1..k in column ``rank``. The filter is a plain ``rank <= k``
    conjunct — the shape Catalyst's InferWindowGroupLimit reads — so
    the physical plan gets a partial ``WindowGroupLimit`` BELOW the
    rank exchange: each map task ships at most k rows per group, not
    every scored pair (``spark.sql.optimizer.windowGroupLimitThreshold``
    defaults to 1000, above every k here). Callers that keep a subset
    of the top k filter further on top of this one."""
    w = Window.partitionBy(by).orderBy(order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def stride_queries(emb: DataFrame, *extra: Column | str) -> DataFrame:
    """The serving query set of the embedding tiers: every
    ``QUERY_STRIDE``-th vector as (``query_id``, ``qe``, ``nq``, *extra)
    with its norm folded once per query (module global read at call
    time — the stress bench patches the stride per tier)."""
    return emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("nq"),
        *extra,
    )


def candidates(emb: DataFrame, *extra: Column | str) -> DataFrame:
    """Every vector as a brute-scan candidate (``neighbor_id``, ``ce``,
    ``nc``, *extra), the counterpart of :func:`stride_queries`."""
    return emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        norm_expr(F.col("embedding")).alias("nc"),
        *extra,
    )


def cosine6(q: str, c: str, nq: str, nc: str) -> Column:
    """6dp-rounded :func:`cosine_from_norms` over named columns."""
    return F.round(cosine_from_norms(F.col(q), F.col(c), F.col(nq), F.col(nc)), 6)


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
               AS l2_norm
    FROM embeddings
    ORDER BY vec_id
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm — the precompute-once pass of a cosine index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.round(norm_expr(F.col("embedding")), 6).alias("l2_norm")
    ).orderBy("vec_id")


_ANN_ORACLE_BODY = """
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe{label_sel}
        FROM embeddings WHERE vec_id % {stride} = 0
    ),
    pairs AS (
        SELECT q.qid, e.vec_id AS cid, q.qe, e.embedding AS ce
        FROM q JOIN embeddings e ON e.vec_id <> q.qid{cell_pred}
    ),
    dots AS (
        SELECT qid, cid,
               list_sum(list_transform(list_zip(qe, ce),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
               sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
               sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        FROM pairs
    ),
    sims AS (SELECT qid, cid, ROUND(dot / (nq * nc), 6) AS cosine FROM dots),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
"""


def _ranked_cosine(pairs: DataFrame, *extra: str) -> DataFrame:
    """Top-``TOP_K`` neighbors per query by 6dp cosine, ``extra``
    columns carried between neighbor and score."""
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        *extra,
        cosine6("qe", "ce", "nq", "nc").alias("cosine"),
    )
    return (
        top_k(sims, "query_id", [F.desc("cosine"), F.asc("neighbor_id")], TOP_K)
        .select("query_id", "neighbor_id", *extra, "cosine", "rank")
        .orderBy("query_id", "rank")
    )


@query(
    "ann_topk_cosine",
    oracle=_ANN_ORACLE_BODY.format(label_sel="", stride=QUERY_STRIDE, cell_pred="", k=TOP_K),
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for every stride-100 query vector:
    broadcast the (small) query set against all candidates — linear
    in candidates, embarrassingly parallel, no shuffle of the big
    side."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = brute_pairs(stride_queries(emb), candidates(emb), "neighbor_id")
    return _ranked_cosine(pairs)


@query(
    "ann_ivf_topk",
    oracle=_ANN_ORACLE_BODY.format(
        label_sel=", label AS qlabel",
        stride=QUERY_STRIDE,
        cell_pred=" AND e.label = q.qlabel",
        k=TOP_K,
    ),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-restricted cosine top-5 (label = cell id stand-in):
    probe only the query's cell — the join is keyed on the cell id, so
    it plans as a shuffle/broadcast by cell, not a cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = stride_queries(emb, F.col("label").alias("qlabel"))
    cands = candidates(emb, F.col("label").alias("clabel"))
    pairs = queries.join(
        cands,
        (F.col("qlabel") == F.col("clabel"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    return _ranked_cosine(pairs)


SQ_LEVELS = 255  # 8-bit scalar quantizer (FAISS SQ8): max code / divisor —
# floor(u*255+0.5) yields codes 0..255, i.e. 256 code points

_SQ_ORACLE = f"""
    WITH stats AS (
        SELECT i, MIN(CAST(v AS DOUBLE)) AS lo, MAX(CAST(v AS DOUBLE)) AS hi
        FROM (SELECT generate_subscripts(embedding, 1) AS i,
                     unnest(embedding) AS v
              FROM embeddings)
        GROUP BY i
    ),
    cand_long AS (
        SELECT vec_id AS cid, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    rec_long AS (
        SELECT cid, c.i,
               CASE WHEN s.hi = s.lo THEN s.lo
                    ELSE s.lo
                         + floor(least(greatest((c.v - s.lo) / (s.hi - s.lo), 0), 1)
                                 * {SQ_LEVELS} + 0.5)
                           / {SQ_LEVELS}.0 * (s.hi - s.lo)
               END AS rv
        FROM cand_long c JOIN stats s USING (i)
    ),
    rec AS (SELECT cid, list(rv ORDER BY i) AS ce FROM rec_long GROUP BY cid),
    q AS (
        SELECT vec_id AS qid, embedding AS qe
        FROM embeddings WHERE vec_id % {{stride}} = 0
    ),
    pairs AS (
        SELECT q.qid, r.cid, q.qe, r.ce
        FROM q JOIN rec r ON r.cid <> q.qid
    ),
    dots AS (
        SELECT qid, cid,
               list_sum(list_transform(list_zip(qe, ce),
                        p -> CAST(p[1] AS DOUBLE) * p[2])) AS dot,
               sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
               sqrt(list_sum(list_transform(ce, x -> x * x))) AS nc
        FROM pairs
    ),
    sims AS (SELECT qid, cid, ROUND(dot / (nq * nc), 6) AS cosine FROM dots),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {{k}}
    ORDER BY query_id, rank
"""


def sq_train_stats(
    spark: SparkSession, sf_dir: str
) -> tuple[list[float], list[float]]:
    """Per-dimension [lo, hi] over the corpus — the SQ8 codebook. One
    map-side-combinable aggregate; 2·d doubles of driver state, trained
    once per (session, tier) in the index registry."""

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        stats = (
            emb.select(F.posexplode("embedding").alias("pos", "v"))
            .groupBy("pos")
            .agg(
                F.min(F.col("v").cast("double")).alias("lo"),
                F.max(F.col("v").cast("double")).alias("hi"),
            )
            .collect()
        )
        stats.sort(key=lambda r: r["pos"])
        return ([float(r["lo"]) for r in stats], [float(r["hi"]) for r in stats])

    return index_registry.get(spark, sf_dir, "sq", build)


@query(
    "ann_sq_topk",
    oracle=_SQ_ORACLE.format(stride=QUERY_STRIDE, k=TOP_K),
)
def ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) asymmetric ANN: per-dimension [lo, hi]
    trained over the corpus, every candidate encoded to an 8-bit code
    (``floor(clip((v-lo)/(hi-lo)) * 255 + 0.5)``), queries kept float,
    scoring cosine(query, reconstructed candidate) — the FAISS
    ``IndexScalarQuantizer`` (QT_8bit) serving shape between brute
    float scan and PQ/ADC.

    Scale shape: training is ONE map-side-combinable aggregate whose
    whole state is 2·d doubles (collected and re-broadcast as literal
    arrays, the IVF-centroid pattern); encoding is a pure projection.
    At 100 TB the int8 codes are a persisted column 4× smaller than
    float32 — the scan-side win this tier exists for — and the scoring
    pass is the same broadcast-queries linear scan as
    :func:`ann_topk_cosine`, just over quarter-width data. Decode +
    dot product stay whole-stage-codegen JVM expressions (floor/ clip
    arithmetic over ``transform``), no Python in the loop."""
    emb = load_table(spark, sf_dir, "embeddings")
    lo_vals, hi_vals = sq_train_stats(spark, sf_dir)
    lo_arr = F.array(*[F.lit(x) for x in lo_vals])
    hi_arr = F.array(*[F.lit(x) for x in hi_vals])

    def recon(col: Column) -> Column:
        # i is transform's 0-based index; element_at is 1-based
        def one(x, i):
            lo = F.element_at(lo_arr, i + 1)
            hi = F.element_at(hi_arr, i + 1)
            span = hi - lo
            u = F.least(
                F.greatest((x.cast("double") - lo) / span, F.lit(0.0)), F.lit(1.0)
            )
            code = F.floor(u * SQ_LEVELS + F.lit(0.5))
            return F.when(span == 0, lo).otherwise(
                lo + code / F.lit(float(SQ_LEVELS)) * span
            )

        return F.transform(col, one)

    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"), recon(F.col("embedding")).alias("ce")
    ).withColumn("nc", norm_expr(F.col("ce")))
    return _ranked_cosine(brute_pairs(stride_queries(emb), cands, "neighbor_id"))


# Binary (sign) quantization: 1 bit per dimension against the per-dim
# corpus mean, packed into two 32-bit halves (BIGINT shifts stay ≤31 —
# bit 63 overflow semantics differ across engines). 64 dims → 8 bytes
# per vector, a 32× cut vs float32: the cheapest serving tier.


def binary_train_mu(spark: SparkSession, sf_dir: str) -> list[float]:
    """Per-dimension corpus mean, 6dp-ROUNDED — the sign threshold.
    The rounding is the cross-engine discipline: Spark's partial-agg
    sum order and DuckDB's differ at the last ulp, and an un-rounded μ
    could flip a `v > μ` bit; rounded to 6dp both engines hold the
    IDENTICAL double, after which the comparison is exact. One
    map-side-combinable aggregate, d doubles of driver state."""

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        rows = (
            emb.select(F.posexplode("embedding").alias("pos", "v"))
            .groupBy("pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("m"))
            .collect()
        )
        rows.sort(key=lambda r: r["pos"])
        return [float(r["m"]) for r in rows]

    return index_registry.get(spark, sf_dir, "binary_mu", build)


_BIN_ORACLE = f"""
    WITH mu AS MATERIALIZED (
        SELECT i, ROUND(AVG(CAST(v AS DOUBLE)), 6) AS m
        FROM (SELECT generate_subscripts(embedding, 1) AS i,
                     unnest(embedding) AS v
              FROM embeddings)
        GROUP BY i
    ),
    mua AS (SELECT list(m ORDER BY i) AS ms FROM mu),
    codes AS MATERIALIZED (
        SELECT e.vec_id,
               list_sum(list_transform(range(32), i ->
                   CASE WHEN CAST(e.embedding[i + 1] AS DOUBLE) > a.ms[i + 1]
                        THEN (1::BIGINT << i) ELSE 0 END)) AS c_lo,
               list_sum(list_transform(range(32), i ->
                   CASE WHEN CAST(e.embedding[i + 33] AS DOUBLE) > a.ms[i + 33]
                        THEN (1::BIGINT << i) ELSE 0 END)) AS c_hi
        FROM embeddings e CROSS JOIN mua a
    ),
    ham AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.c_lo, c.c_lo))
                    + bit_count(xor(q.c_hi, c.c_hi)) AS INT) AS hamming
        FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
    )
    SELECT query_id, neighbor_id, hamming, CAST(rnk AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, hamming,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY hamming, neighbor_id
               ) AS rnk
        FROM ham
    ) WHERE rnk <= {TOP_K}
    ORDER BY query_id, rank
"""


def _hamming_pairs(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, hamming) for every stride query against
    every vector: 64-bit sign codes against the trained per-dim mean
    (``binary_train_mu``), packed into two 32-bit halves, distance as
    two ``bit_count(xor)`` ops. The queries are packed from the raw
    scan (the stride filter pushes below the pack, so only query rows
    pay it); :func:`brute_pairs` puts the 64-CASE-WHEN pack of the
    candidate side behind the barrier — folded into the pair loop it
    ran nq× per vector (17.8 s → 0.44 s on this scan at the s25 stress
    tier), and the shuffled rows are the 24-byte codes, never the
    floats."""
    mu = binary_train_mu(spark, sf_dir)

    def pack(lo_bit: int) -> Column:
        return sum(
            (
                F.when(
                    F.element_at("embedding", i + lo_bit + 1).cast("double")
                    > F.lit(mu[i + lo_bit]),
                    F.lit(1 << i).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                for i in range(32)
            ),
            F.lit(0).cast("long"),
        )

    codes = emb.select("vec_id", pack(0).alias("c_lo"), pack(32).alias("c_hi"))
    queries = codes.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("c_lo").alias("q_lo"),
        F.col("c_hi").alias("q_hi"),
    )
    hamming = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
    )
    return brute_pairs(queries, codes, "vec_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        hamming.cast("int").alias("hamming"),
    )


def _exact_rerank(emb: DataFrame, short: DataFrame) -> DataFrame:
    """The fine stage of every funnel: exact 6dp cosine top-``TOP_K``
    over a (query_id, neighbor_id) shortlist. The shortlist is
    broadcast against the embeddings table (the big side never
    shuffles and is touched only for shortlisted ids); the candidate
    norm is derived AFTER that semi-join (norms only for the
    survivors) but BEFORE the query join, so the broadcast query
    side's norm folds once per query, not once per pair. The query
    side is the stride set by construction, restricted directly:
    re-deriving it FROM ``short`` would execute the coarse subtree
    twice (Spark does not dedupe common subplans)."""
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    pairs = (
        cands.join(F.broadcast(short), "neighbor_id")
        .withColumn("nc", norm_expr(F.col("ce")))
        .join(F.broadcast(stride_queries(emb)), "query_id")
    )
    return _ranked_cosine(pairs)


@query("ann_binary_hamming_topk", oracle=_BIN_ORACLE)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN — the cheapest serving tier below SQ8 and
    PQ: each vector sign-quantizes to 64 bits against the per-dim
    corpus mean (``binary_train_mu``, trained once per tier) and
    candidates rank by HAMMING distance, computed as two
    ``bit_count(xor)`` ops over the packed 32-bit halves — pure
    integer whole-stage-codegen arithmetic, so the DuckDB oracle is
    exact (no FP rounding anywhere past the 6dp-rounded threshold).

    Scale shape: the code table is 8 bytes/vector — at 100 TB of
    float32 embeddings the binary index is ~3 TB and the scan ranks in
    memory-bandwidth terms ~32× cheaper than the float brute force;
    the classic funnel is binary-scan shortlist → SQ8/float re-rank
    (compose with ann_topk_cosine exactly like ann_ivf_pq_rerank).
    Same broadcast-queries linear-scan shape as the other brute tiers
    (:func:`_hamming_pairs`). At corpus scale the rank exchange carries
    at most k 16-byte rows per (query, map task) after the partial
    ``WindowGroupLimit``; the scale remedy for the nq×n pair scan
    itself is bucketing the binary codes (multi-index hamming / LSH on
    code prefixes) — this query is the exactness floor those swap
    into."""
    emb = load_table(spark, sf_dir, "embeddings")
    ham = _hamming_pairs(spark, sf_dir, emb)
    return (
        top_k(ham, "query_id", [F.asc("hamming"), F.asc("neighbor_id")], TOP_K)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .orderBy("query_id", "rank")
    )


BIN_SHORTLIST = 50  # binary shortlist depth re-ranked with exact cosine


_BIN_RERANK_ORACLE = _BIN_ORACLE.replace(
    f"""
    SELECT query_id, neighbor_id, hamming, CAST(rnk AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, hamming,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY hamming, neighbor_id
               ) AS rnk
        FROM ham
    ) WHERE rnk <= {TOP_K}
    ORDER BY query_id, rank
""",
    f"""
    , short AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY hamming, neighbor_id
                   ) AS srn
            FROM ham
        ) WHERE srn <= {BIN_SHORTLIST}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM short s
        JOIN embeddings a ON a.vec_id = s.query_id
        JOIN embeddings b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS rnk
        FROM rer
    ) WHERE rnk <= {TOP_K}
    ORDER BY query_id, rank
""",
)


@query("ann_binary_rerank", oracle=_BIN_RERANK_ORACLE)
def ann_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary funnel — the production shape binary codes exist
    for: (1) Hamming-rank the 8-byte sign codes and keep a
    {BIN_SHORTLIST}-deep shortlist per query (memory-bandwidth-bound
    integer scan, ~32× cheaper traffic than float32), (2) re-rank ONLY
    the shortlist against the raw embeddings with exact 6dp cosine.
    The structural twin of :func:`ann_ivf_pq_rerank` with the binary
    tier as the coarse stage; quantization affects WHICH ~50
    candidates surface, never their final order.

    Scale shape: the shortlist is nq×{BIN_SHORTLIST} rows broadcast
    against the embeddings table (the big side never shuffles and is
    touched only for shortlisted ids); the coarse stage is the
    codegen'd integer scan of ann_binary_hamming_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    ham = _hamming_pairs(spark, sf_dir, emb)
    by_hamming = [F.asc("hamming"), F.asc("neighbor_id")]
    short = top_k(ham, "query_id", by_hamming, BIN_SHORTLIST, rank="srn")
    return _exact_rerank(emb, short.select("query_id", "neighbor_id"))


FILTER_LANG = "en"  # metadata gate of the filtered-retrieval query


@query(
    "ann_filtered_topk",
    oracle=f"""
    WITH gated AS (
        SELECT e.vec_id AS cid, e.embedding AS ce, d.source
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        WHERE d.lang = '{FILTER_LANG}'
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qe
        FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
    ),
    pairs AS (
        SELECT q.qid, g.cid, q.qe, g.ce, g.source
        FROM q JOIN gated g ON g.cid <> q.qid
    ),
    dots AS (
        SELECT qid, cid, source,
               list_sum(list_transform(list_zip(qe, ce),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
               sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
               sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        FROM pairs
    ),
    sims AS (SELECT qid, cid, source, ROUND(dot / (nq * nc), 6) AS cosine FROM dots),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, source, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, source, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the RAG retrieval-with-metadata shape):
    top-5 cosine neighbors per query among only the candidates whose
    joined document passes a metadata gate (``lang = 'en'``), carrying
    the document's ``source`` through to the result.

    PRE-filter semantics — the gate applies before ranking, so every
    query still gets k results from the eligible set (post-filtering a
    global top-k can starve heavily-filtered queries; this is the
    correctness trap of filtered ANN). Scale shape: the metadata gate
    is a key-equality join against the documents dim — at 100 TB it
    rides partition pruning / a broadcast of the gated id set into the
    vector scan, so distance math only runs on eligible rows; the scan
    itself is the same broadcast-queries linear pass as
    :func:`ann_topk_cosine` and swaps in any of the IVF/PQ/graph
    serving tiers unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("lang"), F.col("source")
    )
    gated = emb.join(docs, emb.vec_id == docs.doc_id).filter(
        F.col("lang") == FILTER_LANG
    )
    pairs = brute_pairs(stride_queries(emb), candidates(gated, "source"), "neighbor_id")
    return _ranked_cosine(pairs, "source")


IVF_PROBES = 2  # multi-probe width: nearest cells searched per query
IVF_ITERS = 2  # Lloyd update rounds for the coarse quantizer


def ivf_cell_count(n: int) -> int:
    """k ≈ √n — the FAISS IVF sizing rule: with k cells a probe touches
    ~n/k = √n codes, so per-query cost grows as √n instead of the Θ(n)
    a CONSTANT cell count degenerates to (measured r4 stress: the 20
    label-cells gave 18.4× time at 4× rows). CEIL(SQRT(n)) is replayed
    verbatim in the oracle (IEEE sqrt is correctly rounded — both
    engines agree bit-for-bit)."""
    return max(1, math.ceil(math.sqrt(max(int(n), 1))))


def ivf_cells(
    spark: SparkSession,
    emb: DataFrame,
    iters: int = IVF_ITERS,
    init: str = "lowest",
) -> tuple[DataFrame, DataFrame]:
    """Train the IVF coarse quantizer: deterministic Lloyd k-means with
    k = :func:`ivf_cell_count`, init = the k lowest vec_ids, ``iters``
    update rounds, then a FINAL assignment against the trained
    centroids. Returns ``(cells, centroids)`` as
    ``(vec_id, cell)`` / ``(cell, ce array<double>)`` DataFrames.

    Deterministic and SQL-replayable (:func:`_kmeans_cte` unrolls the
    same rounds in DuckDB): centroid means are 5dp-rounded each round
    (the embedding_centroids convention — partial-aggregation order
    can't flip a value), assignments argmin squared-L2 with
    lowest-cell tiebreak. Scale shape: per round one Arrow-batched
    assignment kernel (broadcast k×dim matrix, one BLAS distance
    matmul per batch — the n·k term lives inside BLAS) plus one
    (cell,dim)-keyed aggregate with map-side partial combine; only the
    k×dim centroid matrix ever reaches the driver."""
    n = emb.count()
    k = ivf_cell_count(n)
    dim = 64
    # init="lowest" (default): the k lowest vec_ids — oracle-replayable
    # (_kmeans_cte). init="hash": the k lowest md5(vec_id) — a
    # deterministic pseudo-random SAMPLE spread across the corpus
    # (distributed TakeOrdered, no global window), the RETRAIN path's
    # init: after drifted ingest the id order correlates with arrival
    # time, so id-ordered init would seed every centroid in the oldest
    # distribution and leave the drifted mass under-quantized.
    if init == "hash":
        ordered = emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    else:
        ordered = emb.orderBy("vec_id")
    init_rows = ordered.limit(k).select("embedding").collect()
    centroids = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in init_rows]
    )

    assign_schema = StructType(
        [StructField("vec_id", LongType()), StructField("cell", IntegerType())]
    )

    def assign_df(cents: np.ndarray) -> DataFrame:
        bc = spark.sparkContext.broadcast(cents)

        # nested so cloudpickle ships by value (foreign-cwd drivers)
        def assign(batches):
            c = bc.value  # (k, dim)
            c_sq = (c * c).sum(axis=1)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
                )
                # full ||x-c||² = ||x||² - 2x·c + ||c||² (BLAS matmul
                # carries the n·k term), 6dp-rounded BEFORE argmin so a
                # last-ulp difference vs the oracle's term-by-term
                # list_sum((x-c)²) cannot flip a near-tied top-2 order;
                # argmin keeps the LOWEST cell id on exact ties — the
                # oracle's (d2, cl) row_number order
                x_sq = (m * m).sum(axis=1)
                d = np.round(
                    x_sq[:, None] - 2.0 * (m @ c.T) + c_sq[None, :], 6
                )
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                        "cell": d.argmin(axis=1).astype(np.int32),
                    }
                )

        return emb.select("vec_id", "embedding").mapInPandas(assign, assign_schema)

    for _ in range(iters):
        a = assign_df(centroids)
        sums = (
            emb.join(a, "vec_id")
            .select(
                "cell", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "v")
            )
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("v"), 5).alias("cv"))
            .collect()
        )
        new_c = centroids.copy()
        for r in sums:
            new_c[r["cell"], r["pos"]] = r["cv"]
        centroids = new_c  # cells with no members keep their centroid
    cells = assign_df(centroids)
    cents_df = spark.createDataFrame(
        [(int(c), [float(x) for x in centroids[c]]) for c in range(k)],
        "cell int, ce array<double>",
    )
    return cells, cents_df


# Session-cached trained IVF indexes per (session, tier): an index is
# TRAINED ONCE and served many times — per-query retraining is not the
# serving shape (at 100 TB the quantizer persists alongside the data).
# Deterministic build, so caching never changes results.
def ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(cells, centroids) for the tier's embeddings — trained on first
    use, then served from the index registry (cells localCheckpoint'd
    so repeated queries never re-run the assignment kernel)."""

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        cells, cents = ivf_cells(spark, emb)
        return cells.localCheckpoint(), cents

    return index_registry.get(spark, sf_dir, "ivf", build, release=free_checkpoint)


def _kmeans_cte(
    iters: int = IVF_ITERS, rel: str = "embeddings", k: int | None = None
) -> str:
    """CTE chain replaying :func:`ivf_cells` in DuckDB over the source
    relation ``rel`` (vec_id + embedding): ``knn`` (n, k), ``kc0``
    (init centroids), per round ``ka{i}`` (argmin assignment,
    lowest-cell ties) and ``kc{i}`` (5dp-rounded per-dim means, empty
    cells keep the previous centroid), terminating in ``kcells``
    (vec_id, cl — the FINAL assignment) and ``kcent`` (cl, ce).
    ``k`` fixes the cell count to a literal (the :func:`kmeans_lloyd`
    replay); default derives the IVF √n rule from the data."""
    d2 = (
        "list_sum(list_transform(list_zip(e.embedding, c.ce), "
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
    )

    def assign_cte(name: str, cents: str) -> str:
        return f"""
    {name} AS MATERIALIZED (
        SELECT vec_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ROUND({d2}, 6), c.cl) AS rn
            FROM {rel} e CROSS JOIN {cents} c
        ) WHERE rn = 1
    )"""

    ctes = [
        f"""
    knn AS MATERIALIZED (
        SELECT COUNT(*) AS n,
               {f"CAST({k} AS INT)" if k is not None
                else "GREATEST(1, CAST(CEIL(SQRT(COUNT(*))) AS INT))"} AS k
        FROM {rel}
    ),
    kc0 AS MATERIALIZED (
        SELECT CAST(rn - 1 AS INT) AS cl,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        FROM (SELECT vec_id, embedding,
                     row_number() OVER (ORDER BY vec_id) AS rn
              FROM {rel})
        WHERE rn <= (SELECT k FROM knn)
    )"""
    ]
    prev = "kc0"
    for i in range(1, iters + 1):
        ctes.append(assign_cte(f"ka{i}", prev))
        ctes.append(f"""
    kc{i} AS MATERIALIZED (
        SELECT p.cl, COALESCE(m.ce, p.ce) AS ce
        FROM {prev} p LEFT JOIN (
            SELECT cl, list(cv ORDER BY dim) AS ce FROM (
                SELECT a.cl, d.dim,
                       ROUND(AVG(CAST(e.embedding[d.dim] AS DOUBLE)), 5) AS cv
                FROM ka{i} a
                JOIN {rel} e ON e.vec_id = a.vec_id
                CROSS JOIN (SELECT UNNEST(range(1, 65)) AS dim) d
                GROUP BY a.cl, d.dim
            ) GROUP BY cl
        ) m ON m.cl = p.cl
    )""")
        prev = f"kc{i}"
    ctes.append(assign_cte("kcells", prev))
    ctes.append(f"""
    kcent AS MATERIALIZED (SELECT cl, ce FROM {prev})""")
    return ",".join(ctes)


# probe-selection CTEs shared by the IVF oracles: stride queries ranked
# against the trained centroids by 6dp cosine, top-IVF_PROBES cells
_KPROBE_CTE = f"""
    q AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS qe
        FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
    ),
    pc AS (
        SELECT q.qid, c.cl,
               ROUND(
                 list_sum(list_transform(list_zip(q.qe, c.ce),
                          p -> CAST(p[1] AS DOUBLE) * p[2]))
                 / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(c.ce, x -> x * x)))), 6) AS pcos
        FROM q CROSS JOIN kcent c
    ),
    probes AS MATERIALIZED (
        SELECT qid, cl FROM (
            SELECT qid, cl,
                   row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, cl) AS pr
            FROM pc
        ) WHERE pr <= {IVF_PROBES}
    )"""


def _ivf_probes_kmeans(
    emb: DataFrame, cents_df: DataFrame, probes: int = IVF_PROBES
) -> DataFrame:
    """(query_id, qe, cell) — the ``probes`` nearest trained cells per
    stride query, ranked by query-to-centroid cosine. Centroids are k
    rows broadcast against the query set — metadata-scale work."""
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("nq"),
    )
    cents_n = cents_df.withColumn("ncell", norm_expr(F.col("ce")))
    pcos = F.round(
        cosine_from_norms(F.col("qe"), F.col("ce"), F.col("nq"), F.col("ncell")), 6
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cell"))
    return (
        queries.crossJoin(F.broadcast(cents_n))
        .withColumn("pcos", pcos)
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= probes)
        .select("query_id", "qe", "nq", "cell")
    )


@query(
    "ann_ivf_multiprobe",
    oracle=f"""
    WITH {{KMEANS}},
    {{KPROBE}},
    pairs AS (
        SELECT q.qid, e.vec_id AS cid, q.qe, e.embedding AS ce
        FROM q
        JOIN probes p ON p.qid = q.qid
        JOIN kcells kc ON kc.cl = p.cl
        JOIN embeddings e ON e.vec_id = kc.vec_id AND e.vec_id <> q.qid
    ),
    dots AS (
        SELECT qid, cid,
               list_sum(list_transform(list_zip(qe, ce),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
               sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
               sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        FROM pairs
    ),
    sims AS (SELECT qid, cid, ROUND(dot / (nq * nc), 6) AS cosine FROM dots),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """.replace("{KMEANS}", _kmeans_cte()).replace("{KPROBE}", _KPROBE_CTE),
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k: rank TRAINED k-means cells by
    query-to-centroid cosine, search the IVF_PROBES nearest cells per
    query.

    The coarse quantizer is deterministic Lloyd k-means with k ≈ √n
    cells (:func:`ivf_cells`) — the cell count GROWS with the corpus,
    so probed mass per query is ~IVF_PROBES·√n instead of the Θ(n) a
    constant cell count degenerates to (the r4 label-cell version
    measured 18.4× time at 4× rows). The whole build + probe + search
    replays in SQL (:func:`_kmeans_cte`).

    Scale shape: centroids are k ≈ √n rows (broadcast); probing is
    queries × k against the broadcast (embarrassingly parallel); the
    candidate join is keyed on the probed cell id, so the big side
    shuffles by cell, never a cross join. Multi-probe is the standard
    recall knob — probes=2 roughly doubles candidates while staying
    k/probes times below brute force."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells, cents = ivf_index(spark, sf_dir)
    probes = _ivf_probes_kmeans(emb, cents).select("query_id", "qe", "nq", "cell")
    cands = emb.join(cells, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("fe"),
        "cell",
        norm_expr(F.col("embedding")).alias("nf"),
    )
    sims = (
        cands.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(F.col("qe"), F.col("fe"), F.col("nq"), F.col("nf")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


@query(
    "ann_filtered_ivf",
    oracle=f"""
    WITH {{KMEANS}},
    {{KPROBE}},
    pairs AS (
        SELECT q.qid, e.vec_id AS cid, q.qe, e.embedding AS ce, d.source
        FROM q
        JOIN probes p ON p.qid = q.qid
        JOIN kcells kc ON kc.cl = p.cl
        JOIN embeddings e ON e.vec_id = kc.vec_id AND e.vec_id <> q.qid
        JOIN documents d ON d.doc_id = e.vec_id AND d.lang = '{FILTER_LANG}'
    ),
    dots AS (
        SELECT qid, cid, source,
               list_sum(list_transform(list_zip(qe, ce),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
               sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
               sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        FROM pairs
    ),
    sims AS (SELECT qid, cid, source, ROUND(dot / (nq * nc), 6) AS cosine FROM dots),
    ranked AS (
        SELECT qid AS query_id, cid AS neighbor_id, source, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, source, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """.replace("{KMEANS}", _kmeans_cte()).replace("{KPROBE}", _KPROBE_CTE),
)
def ann_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-gated search on the INDEXED tier: multi-probe IVF
    (trained √n k-means cells) with the documents-dim lang gate applied
    to the candidates inside the probed cells — the composition a
    production filtered-vector-search serves (the brute
    :func:`ann_filtered_topk` is its exactness floor). The gate rides
    the cell-keyed candidate join, so probed mass shrinks by the filter
    selectivity; probing itself stays query-only (FAISS semantics —
    filters never move the centroids).

    Queries whose probed cells hold fewer than k gated candidates
    return fewer rows — the recall-vs-probes trade the IVF_PROBES knob
    controls, identical in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("lang"), F.col("source")
    )
    cells, cents = ivf_index(spark, sf_dir)
    probes = _ivf_probes_kmeans(emb, cents).select("query_id", "qe", "nq", "cell")
    cands = (
        emb.join(cells, "vec_id")
        .join(docs, emb.vec_id == docs.doc_id)
        .filter(F.col("lang") == FILTER_LANG)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("fe"),
            "cell",
            "source",
            norm_expr(F.col("embedding")).alias("nf"),
        )
    )
    sims = (
        cands.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "source",
            F.round(
                cosine_from_norms(F.col("qe"), F.col("fe"), F.col("nq"), F.col("nf")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "source", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH expl AS (
        SELECT label, UNNEST(range(1, 65)) AS dim, embedding
        FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           ROUND(AVG(CAST(embedding[dim] AS DOUBLE)), 5) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM expl
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell centroid computation — the training half of an IVF index
    (one aggregation pass; at scale this is the k-means "M step").

    posexplode puts (label, dim) on the shuffle key; partial aggregation
    keeps the shuffle at |labels|×64 rows per executor.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "v")
    )
    return (
        expl.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg("v"), 5).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


@query(
    "embedding_near_dup",
    oracle="""
    WITH p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cos, 6) AS cosine
    FROM p WHERE ROUND(cos, 6) >= 0.4
    ORDER BY vec_a, vec_b
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4 — this
    fixture's embeddings are near-orthogonal, so true near-dups don't
    exist and the tail of the cosine distribution stands in).

    Exact all-pairs as a DISTRIBUTED BLOCK-MATRIX decomposition: vectors
    hash into m = ceil(n / BLOCK_SIZE) blocks; the m(m+1)/2 ordered
    block pairs form a tiny broadcast dimension; each side of a
    cogrouped ``applyInPandas`` is keyed on the (block_a, block_b) pair,
    and the kernel computes ONE BLAS matmul per block pair, emitting
    only surviving pairs. No driver ``collect``, no full-table
    broadcast, no cartesian — the join is an equi-join on the block id.
    Replication factor is m per side (total shuffle O(n·m) = O(n²/B)),
    the floor for an EXACT all-pairs scan; ``embedding_lsh_near_dup``
    is the sub-quadratic approximate path with the same verify kernel.
    History: 190 s (pairwise HOFs) → 2.8 s (driver-broadcast kernel,
    r1 'weak': driver OOM at corpus scale) → this, same oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    m = max(1, math.ceil(n / block_size_for(n)))
    blocks = emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(m)))
    # every ordered block pair (ba <= bb), built by explode — no join
    pairs = spark.range(m).select(
        F.col("id").alias("ba"),
        F.explode(F.sequence(F.col("id"), F.lit(m - 1))).alias("bb"),
    )
    # distinct column names per side: the cogroup's two branches share
    # lineage and trip Spark's ambiguous-self-join check otherwise
    left = blocks.select(
        F.col("vec_id").alias("lvec"), F.col("embedding").alias("lemb"),
        F.col("blk").alias("ba"),
    ).join(F.broadcast(pairs), "ba")
    right = blocks.select(
        F.col("vec_id").alias("rvec"), F.col("embedding").alias("remb"),
        F.col("blk").alias("bb"),
    ).join(F.broadcast(pairs), "bb")

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def block_kernel(key, lpdf, rpdf):
        ba, bb = key
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        lid = lpdf["lvec"].to_numpy(dtype=np.int64)
        rid = rpdf["rvec"].to_numpy(dtype=np.int64)
        lm = np.stack([np.asarray(v, dtype=np.float64) for v in lpdf["lemb"]])
        rm = np.stack([np.asarray(v, dtype=np.float64) for v in rpdf["remb"]])
        lm = lm / np.linalg.norm(lm, axis=1, keepdims=True)
        rm = rm / np.linalg.norm(rm, axis=1, keepdims=True)
        sims = np.round(lm @ rm.T, 6)
        if ba == bb:
            # same block on both sides: (x,y) and (y,x) both present
            keep = (sims >= NEAR_DUP_THRESHOLD) & (lid[:, None] < rid[None, :])
            ai, bi = np.nonzero(keep)
            va, vb = lid[ai], rid[bi]
        else:
            # disjoint blocks: each unordered pair appears exactly once
            ai, bi = np.nonzero(sims >= NEAR_DUP_THRESHOLD)
            va = np.minimum(lid[ai], rid[bi])
            vb = np.maximum(lid[ai], rid[bi])
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cosine": sims[ai, bi]})

    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(block_kernel, out_schema)
        .orderBy("vec_a", "vec_b")
    )


def _lsh_weights(n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via an LCG over the
    (hyperplane, dim) index — no RNG state, so the oracle can replay the
    exact weights in SQL: w = ((1103515245·i + 12345) mod 2³¹)/2³¹ − ½.
    Both sides compute r/2³¹ on exact integers (power-of-two divide is
    exact in IEEE double), so the weights agree bitwise. The formula is
    defined for ANY plane index, so the plane count scales with the
    corpus (``LSH_BANDS * lsh_bits_per_band(n)``)."""
    return [
        [
            ((1103515245 * (h * 64 + d + 1) + 12345) % 2147483648) / 2147483648.0 - 0.5
            for d in range(64)
        ]
        for h in range(n_planes)
    ]


def lsh_band_df(emb: DataFrame, r: int) -> DataFrame:
    """(vec_id, band, bucket): sign-random-projection signature with
    ``r`` bits per band (pass ``lsh_bits_per_band(n)``), banded.
    One vectorized Arrow kernel: each batch computes ALL hyperplane
    dots as a single (n,64)@(64,H) matmul (interpreted HOF aggregates
    per row measured ~7 s at sf0.1; the kernel is ~0.1 s).
    Sign is taken on the 6dp-ROUNDED dot so cross-engine summation
    order can't flip a bit — the DuckDB oracle replays the same
    weights and rounding."""
    from pyspark.sql.types import IntegerType

    n_planes = LSH_BANDS * r
    weights = np.array(_lsh_weights(n_planes), dtype=np.float64).T  # (64, H)
    bands_ct = LSH_BANDS
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("band", IntegerType()),
            StructField("bucket", IntegerType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            bits = (np.round(x @ weights, 6) >= 0).astype(np.int64)  # (n, H)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out_ids, out_band, out_bucket = [], [], []
            for j in range(bands_ct):
                bucket = np.zeros(len(ids), dtype=np.int64)
                for i in range(r):
                    bucket += bits[:, j * r + i] << i
                out_ids.append(ids)
                out_band.append(np.full(len(ids), j, dtype=np.int32))
                out_bucket.append(bucket.astype(np.int32))
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_ids),
                    "band": np.concatenate(out_band),
                    "bucket": np.concatenate(out_bucket),
                }
            )

    return emb.mapInPandas(kernel, schema)


def _session_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's localCheckpoint'd (vec_id, band, bucket)
    sign-random-projection band table — the vector tier's LSH index,
    the twin of dedup's minhash band buckets: deterministic LCG
    hyperplanes, built once per (session, tier), read by the near-dup
    pair query and its clusters consumer. r is derived from the corpus
    count at build time (lsh_bits_per_band), so serving pays neither
    the count action nor the signature kernel."""

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        r = lsh_bits_per_band(emb.count())
        return lsh_band_df(emb, r).localCheckpoint()

    return index_registry.get(
        spark, sf_dir, "lsh_bands", build, release=free_checkpoint
    )


def _lsh_cte() -> str:
    """The shared CTE chain replaying the LSH pipeline with
    CORPUS-SCALED geometry: r derived from COUNT(*) via the same
    integer bit-shift scan as :func:`lsh_bits_per_band`, LCG
    hyperplanes for all ``LSH_BANDS * r`` planes → sign bits
    (list-valued, width dynamic in r) → band buckets → colliding
    pairs → exact cosine verify (terminal relation ``ver``)."""
    return f"""geom AS MATERIALIZED (
        SELECT GREATEST({LSH_MIN_BITS}, LEAST({LSH_MAX_BITS}, (
            SELECT CAST(MIN(i) AS INT) FROM range(1, 33) t(i)
            WHERE (1::BIGINT << i)
                  >= CAST(CEIL(nn.n / {LSH_TARGET_BUCKET}.0) AS BIGINT)
        ))) AS r
        FROM (SELECT COUNT(*) AS n FROM embeddings) nn
    ),
    sig AS MATERIALIZED (
        SELECT e.vec_id,
               list_transform(range({LSH_BANDS} * g.r), h ->
                 CASE WHEN ROUND(list_sum(list_transform(range(64), d ->
                   CAST(e.embedding[d + 1] AS DOUBLE) *
                   (CAST((1103515245 * (h * 64 + d + 1) + 12345) % 2147483648 AS DOUBLE)
                    / 2147483648.0 - 0.5))), 6) >= 0 THEN 1 ELSE 0 END) AS bits,
               g.r AS r
        FROM embeddings e CROSS JOIN geom g
    ),
    bands AS MATERIALIZED (
        SELECT s.vec_id, CAST(b.band AS INT) AS band,
               CAST(list_sum(list_transform(range(s.r), i ->
                 s.bits[b.band * s.r + i + 1] * (1::BIGINT << i))) AS INT) AS bucket
        FROM sig s CROSS JOIN (SELECT UNNEST(range({LSH_BANDS})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    ver AS (
        SELECT c.vec_a, c.vec_b,
               ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.vec_a
        JOIN embeddings b ON b.vec_id = c.vec_b
    )"""


def _lsh_oracle() -> str:
    return f"""
    WITH {_lsh_cte()}
    SELECT vec_a, vec_b, cosine FROM ver
    WHERE cosine >= {NEAR_DUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """


def _lsh_clusters_oracle() -> str:
    """LSH pairs → recursive transitive closure → min-id cluster
    labels (the dedup_clusters closure pattern over the vector tier)."""
    return f"""
    WITH RECURSIVE {_lsh_cte()},
    vpairs AS (
        SELECT vec_a, vec_b FROM ver WHERE cosine >= {NEAR_DUP_THRESHOLD}
    ),
    edges AS (
        SELECT vec_a AS a, vec_b AS b FROM vpairs
        UNION
        SELECT vec_b, vec_a FROM vpairs
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach
    GROUP BY a
    ORDER BY vec_id
    """


@query("embedding_lsh_near_dup", oracle=_lsh_oracle())
def embedding_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic near-dup — the 100 TB path: sign-random-projection
    LSH (deterministic LCG hyperplanes, LSH_BANDS bands × r bits with
    r SCALED TO THE CORPUS via :func:`lsh_bits_per_band`) generates
    candidates from band-bucket collisions, so the shuffle key is
    (band, bucket) and candidate volume stays ≈ b·n·TARGET_BUCKET —
    linear in n (a fixed r was measured quadratic: 15.8× at 4× rows);
    survivors get exact cosine verification at the same 0.4 threshold.

    Deterministic end-to-end: the oracle derives the same r from
    COUNT(*) and replays hyperplanes, banding, and verification in
    DuckDB bit-for-bit. Candidate recall vs the exact
    ``embedding_near_dup`` follows the standard 1-(1-s^r)^b curve
    (→1 as s→1, lower at the 0.4 tail as r grows); the graded contract
    is exact agreement on the LSH-candidate set, pinned by
    test_lsh_subset_of_exact."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # the band table comes off the session LSH index (localCheckpoint'd,
    # one signature-kernel run per session/tier) — it feeds both sides
    # of the candidate self-join; previously re-built + re-persisted
    # per invocation (r13)
    bands = _session_lsh_bands(spark, sf_dir)
    a = bands.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
    b = bands.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    nrm = norm_expr(F.col("embedding"))
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        nrm.alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        nrm.alias("norm_b"),
    )
    # verification via the vectorized Arrow dot kernel (pair_dot): the
    # candidate set is ~Σ|bucket|² pairs and interpreted HOF cosines
    # were the bench bottleneck (~3 s at sf0.1 → ~0.3 s vectorized).
    # Norms ride the per-VECTOR join sides (JVM expression, n evals)
    # instead of two more per-PAIR pair_dot calls — the old form
    # tripled the Arrow traffic over the candidate set. pair_dot_once
    # (not pair_dot): the threshold filter below otherwise pushes under
    # the projection and DUPLICATES the Arrow kernel over every
    # candidate pair (r13, guide §4.4 — baseline plan had two
    # ArrowEvalPython nodes for this one call).
    cos = pair_dot_once(
        _as_double(F.col("emb_a")), _as_double(F.col("emb_b"))
    ) / (F.col("norm_a") * F.col("norm_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


@query("embedding_lsh_clusters", oracle=_lsh_clusters_oracle())
def embedding_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS over the vector tier — the SCALE-SAFE output
    shape: ``embedding_lsh_near_dup``'s PAIR output is inherently
    Θ(Σ cluster²) (measured 12.6x output growth at 4x data on a
    constant-cluster fixture — output-bound, not plan-bound), so a
    dedup consumer should take (vec_id, cluster_id = component min)
    instead: O(n) rows regardless of cluster sizes. Pairs-mode remains
    the diagnostic/verification surface. Routed through the hybrid
    union-find / pointer-jumping ``connected_components`` (dedup.py);
    the oracle replays LSH pairs + a recursive transitive closure."""
    from lakehouse_admin_spark.operators.dedup import connected_components

    pairs = embedding_lsh_near_dup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return (
        connected_components(pairs)
        .select(F.col("doc_id").alias("vec_id"), "cluster_id")
        .orderBy("vec_id")
    )


def kmeans_lloyd(
    emb: DataFrame, k: int = 8, iters: int = 3
) -> tuple[np.ndarray, DataFrame]:
    """Lloyd's k-means over the embedding column — the genuinely
    iterative algorithm of the extension set (not SQL-expressible; the
    driver holds only the k×dim centroid matrix between rounds).

    Per round: (1) assignment — broadcast centroid matrix, one
    mapInPandas block kernel computes each batch's nearest centroid via
    a single distance matmul; (2) update — one hash aggregate of
    5dp-rounded per-dimension means (posexplode), new centroids to
    driver. Deterministic AND oracle-replayable (r11 — previously
    rows-only): the ivf_cells conventions exactly — init = the k lowest
    vec_ids, full ||x−c||² 6dp-rounded BEFORE argmin (so a last-ulp gap
    vs the oracle's term-by-term list_sum can't flip a near-tie),
    lowest-cluster tie break, 5dp-rounded means each round —
    so :func:`_kmeans_cte` with a literal ``k`` replays every round.

    Returns (centroids, assignments DataFrame(vec_id, cluster))."""
    spark = emb.sparkSession
    init_rows = (
        emb.orderBy("vec_id").limit(k).select("embedding").collect()
    )
    centroids = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in init_rows]
    )

    assign_schema = StructType(
        [StructField("vec_id", LongType()), StructField("cluster", LongType())]
    )

    def assign_df(cents: np.ndarray) -> DataFrame:
        bc = spark.sparkContext.broadcast(cents)

        # nested so cloudpickle ships it BY VALUE (foreign-cwd drivers)
        def assign(batches):
            c = bc.value  # (k, dim)
            c_sq = (c * c).sum(axis=1)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
                )
                x_sq = (m * m).sum(axis=1)
                d = np.round(x_sq[:, None] - 2.0 * (m @ c.T) + c_sq[None, :], 6)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                        "cluster": d.argmin(axis=1).astype(np.int64),
                    }
                )

        return emb.mapInPandas(assign, assign_schema)

    for _ in range(iters):
        assignments = assign_df(centroids)
        means = (
            emb.join(assignments, "vec_id")
            .select(
                "cluster", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "v")
            )
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("v"), 5).alias("cv"))
            .collect()
        )
        new_c = centroids.copy()
        for r in means:
            new_c[r["cluster"], r["pos"]] = r["cv"]
        # empty clusters keep their previous centroid
        centroids = new_c
    # FINAL assignment against the last round's centroids — the CTE's
    # kcells relation (the pre-r11 version returned the LAST round's
    # assignment against the PREVIOUS centroids, off-by-one vs Lloyd)
    return centroids, assign_df(centroids)


@query(
    "ivf_kmeans_assignments",
    oracle=f"""
    WITH {_kmeans_cte(iters=3, k=8)}
    SELECT vec_id, CAST(cl AS BIGINT) AS cluster
    FROM kcells
    ORDER BY vec_id
    """,
)
def ivf_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell training dump: 3 Lloyd rounds, k=8, deterministic init —
    (vec_id, cluster) for every vector. Hash-checked since r11: the
    kernel follows the ivf_cells rounding conventions (6dp distances
    before argmin, 5dp centroid means, lowest-cluster ties), so the
    unrolled :func:`_kmeans_cte` with a literal k replays all three
    rounds bit-for-bit — this was rows-only only because the old kernel
    skipped the rounding discipline, not because Lloyd's is
    inexpressible."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, assignments = kmeans_lloyd(emb, k=8, iters=3)
    return assignments.orderBy("vec_id")


PQ_M = 8  # subspaces (64 dims → 8 × 8)
PQ_K = 16  # codewords per subspace
PQ_D = 8  # dims per subspace


def _pq_index(
    spark: SparkSession, emb: DataFrame, cell_col: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """The PQ index build shared by the full-ADC and IVF+PQ queries:
    returns ``(codes, query_luts)``. Codebook = subvectors of the 16
    lowest vec_ids (deterministic, no RNG); encoding and LUT
    construction run as Arrow-batched ``mapInPandas`` kernels with the
    tiny (K, M, D) codebook broadcast. ``cell_col`` names an IVF cell
    column on ``emb`` to pass through the encode kernel so the ADC
    join can be keyed on the probed cell."""
    from pyspark.sql.types import ArrayType, IntegerType

    cb_rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(PQ_K).collect()
    )  # 16-row sample
    cb = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in cb_rows]
    ).reshape(PQ_K, PQ_M, PQ_D)
    bc = spark.sparkContext.broadcast(cb)

    # nested so cloudpickle ships them BY VALUE (foreign-cwd drivers)
    def subdists(batch: pd.DataFrame) -> np.ndarray:
        """(n, M, K) rounded squared L2 between subvectors and codewords."""
        x = np.stack(
            [np.asarray(v, dtype=np.float64) for v in batch["embedding"]]
        ).reshape(-1, PQ_M, PQ_D)
        diff = x[:, None, :, :] - bc.value[None, :, :, :]  # (n, K, M, D)
        return np.round((diff * diff).sum(axis=3), 6).transpose(0, 2, 1)

    codes_fields = [
        StructField("vec_id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
    ]
    if cell_col is not None:
        codes_fields.append(StructField(cell_col, IntegerType()))
    codes_schema = StructType(codes_fields)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d2 = subdists(pdf)  # (n, M, K)
            out = {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "codes": list(d2.argmin(axis=2).astype(np.int32)),
            }
            if cell_col is not None:
                out[cell_col] = pdf[cell_col].to_numpy(dtype=np.int32)
            yield pd.DataFrame(out)

    lut_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("lut", ArrayType(ArrayType(DoubleType()))),
        ]
    )

    def build_lut(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d2 = subdists(pdf)  # (n, M, K)
            yield pd.DataFrame(
                {
                    "query_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "lut": [row for row in d2],
                }
            )

    codes = emb.mapInPandas(encode, codes_schema)
    luts = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).mapInPandas(
        build_lut, lut_schema
    )
    return codes, luts


# Session-cached PQ indexes per (session, tier, variant, stride) — the
# same "encode once, serve many" contract as ivf_index: the Arrow
# encode kernel over the full corpus re-ran on EVERY pq-query
# invocation (3× per bench row), dominating ann_ivf_pq_topk/_rerank
# serve latency (r11 verdict #3). Codes AND luts localCheckpoint so a
# warm serve is two checkpoint scans + joins. QUERY_STRIDE is part of
# the key because the stress bench patches it per tier and the lut
# frame bakes it in (the BM25 delta-predicate lesson, r11 ADVICE).
def pq_index(
    spark: SparkSession, sf_dir: str, with_cells: bool = False,
    variant: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(codes, query_luts) for the tier's embeddings — encoded on first
    use, then served from the session cache. ``with_cells`` rides the
    IVF cell id on the code rows (the IVFADC variant; requires/reuses
    the cached :func:`ivf_index`). ``variant="opq"`` encodes the
    OPQ-ROTATED embeddings instead (r14, ADVICE: previously a verbatim
    body copy in ``opq_pq_index`` — the cache/evict logic now exists
    once, the exact drift the r10 ``_adc_ranked`` consolidation was
    meant to prevent). Cells ride only the "ivf" variant: asking for
    them with any other explicit variant is a ``ValueError``."""
    if with_cells and variant not in (None, "ivf"):
        raise ValueError(f"with_cells=True needs variant 'ivf', got {variant!r}")
    variant = variant or ("ivf" if with_cells else "plain")

    def build():
        if variant == "opq":
            emb = _rotated_embeddings(spark, sf_dir)
        else:
            emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
            if variant == "ivf":
                cells, _cents = ivf_index(spark, sf_dir)
                emb = emb.join(cells, "vec_id")
        codes, luts = _pq_index(
            spark, emb, cell_col="cell" if variant == "ivf" else None
        )
        return codes.localCheckpoint(), luts.localCheckpoint()

    return index_registry.get(
        spark, sf_dir, "pq", build, variant=(variant, QUERY_STRIDE),
        release=free_checkpoint,
    )


def opq_pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codes, query_luts) over the OPQ-ROTATED embeddings — the "opq"
    variant of :func:`pq_index` (same registry entry family).
    r13: ``ann_opq_pq_topk`` previously called the raw ``_pq_index``
    builder directly, so the rotate AND encode kernels re-ran over the
    corpus on every invocation — the exact r11-verdict-#3 defect the
    plain/IVF variants were cured of in r12."""
    return pq_index(spark, sf_dir, variant="opq")


def _adc_ranked(codes: DataFrame, queries: DataFrame) -> DataFrame:
    """The shared ADC serving pipeline: broadcast query LUTs × codes
    scan, approx_dist = Σ of {PQ_M} table lookups (zip_with + aggregate,
    all codegen), 6dp-rounded, per-query rank window, top-{TOP_K}.
    Single definition for plain PQ (ann_pq_topk) AND OPQ-rotated PQ
    (ann_opq_pq_topk): the two rankings are intentionally byte-identical
    and previously drifted-apart-able as verbatim copies (r10 ADVICE)."""
    adc = (
        F.broadcast(queries)
        .crossJoin(codes)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("lut"),
                        F.col("codes"),
                        lambda l, c: F.element_at(l, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
        .orderBy("query_id", "rank")
    )


def _pq_oracle() -> str:
    """DuckDB replay of the full PQ pipeline: codebook = subvectors of
    the 16 lowest vec_ids, encode by rounded-L2 argmin (ties → lowest
    codeword), ADC ranking for stride-100 queries."""
    sq = (
        "(CAST(e.embedding[m.m * 8 + d + 1] AS DOUBLE)"
        " - CAST(cb.embedding[m.m * 8 + d + 1] AS DOUBLE))"
    )
    return f"""
    WITH cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, embedding
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
    ),
    subdist AS (
        SELECT e.vec_id, m.m, cb.k,
               ROUND(list_sum(list_transform(range({PQ_D}), d ->
                   {sq} * {sq})), 6) AS d2
        FROM embeddings e
        CROSS JOIN (SELECT UNNEST(range({PQ_M})) AS m) m
        CROSS JOIN cb
    ),
    codes AS (
        SELECT vec_id, m, k AS code FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
            FROM subdist
        ) WHERE rn = 1
    ),
    lut AS (SELECT * FROM subdist WHERE vec_id % {QUERY_STRIDE} = 0),
    adc AS (
        SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(SUM(l.d2), 6) AS approx_dist
        FROM codes c
        JOIN lut l ON l.m = c.m AND l.k = c.code
        WHERE c.vec_id <> l.vec_id
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, neighbor_id, approx_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY approx_dist, neighbor_id
               ) AS INT) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id, approx_dist, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@query("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the memory-bound scale path): each
    vector compresses to 8 one-byte codes (8 subspaces × 16 codewords),
    and queries rank candidates by ADC — summing 8 lookup-table entries
    instead of a 64-dim dot product. At corpus scale the codes table is
    ~8 bytes/vector (vs 256 for raw float32), so a scan ranks in
    memory-bandwidth terms ~32× cheaper; re-ranking survivors against
    raw vectors composes with ann_topk_cosine.

    Deterministic end to end (codebook = subvectors of the 16 lowest
    vec_ids, no RNG; argmin on 6dp-rounded distances with
    lowest-codeword ties), so the DuckDB oracle replays codebook,
    encoding, and ADC bit-for-bit. Encoding runs as an Arrow-batched
    kernel (one broadcast (16,8,8) codebook, one vectorized distance
    per batch); the ADC join broadcasts the tiny query LUTs.
    """
    codes, queries = pq_index(spark, sf_dir, with_cells=False)
    return _adc_ranked(codes, queries)


def _ivf_pq_oracle(tail: str | None = None) -> str:
    """DuckDB replay of the composed IVF+PQ pipeline: the multiprobe
    cell selection (TRAINED sqrt(n) k-means cells via
    :func:`_kmeans_cte`, top-IVF_PROBES cells per query by centroid
    cosine) feeding the PQ/ADC ranking — ADC is summed ONLY over codes
    in the probed cells. ``tail`` replaces the default final ranking
    (the re-rank query appends its shortlist + exact-cosine CTEs
    instead). MATERIALIZED CTEs: subdist is referenced by codes and
    lut, and DuckDB re-inlines per reference otherwise."""
    sq = (
        "(CAST(e.embedding[m.m * 8 + d + 1] AS DOUBLE)"
        " - CAST(cb.embedding[m.m * 8 + d + 1] AS DOUBLE))"
    )
    return f"""
    WITH {_kmeans_cte()},
    {_KPROBE_CTE},
    cb AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, embedding
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
    ),
    subdist AS MATERIALIZED (
        SELECT e.vec_id, m.m, cb.k,
               ROUND(list_sum(list_transform(range({PQ_D}), d ->
                   {sq} * {sq})), 6) AS d2
        FROM embeddings e
        CROSS JOIN (SELECT UNNEST(range({PQ_M})) AS m) m
        CROSS JOIN cb
    ),
    codes AS MATERIALIZED (
        SELECT s.vec_id, kc.cl, s.m, s.k AS code FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
            FROM subdist
        ) s JOIN kcells kc ON kc.vec_id = s.vec_id
        WHERE s.rn = 1
    ),
    lut AS MATERIALIZED (
        SELECT * FROM subdist WHERE vec_id % {QUERY_STRIDE} = 0
    ),
    adc AS MATERIALIZED (
        SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(SUM(l.d2), 6) AS approx_dist
        FROM codes c
        JOIN probes p ON p.cl = c.cl
        JOIN lut l ON l.vec_id = p.qid AND l.m = c.m AND l.k = c.code
        WHERE c.vec_id <> l.vec_id
        GROUP BY 1, 2
    )""" + (tail if tail is not None else f""",
    ranked AS (
        SELECT query_id, neighbor_id, approx_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY approx_dist, neighbor_id
               ) AS INT) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id, approx_dist, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """)


def _ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, approx_dist) — ADC distances restricted
    to the IVF_PROBES probed TRAINED cells per query, the shared front
    half of ``ann_ivf_pq_topk`` and ``ann_ivf_pq_rerank``."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _cells, cents = ivf_index(spark, sf_dir)
    codes, luts = pq_index(spark, sf_dir, with_cells=True)
    probes = _ivf_probes_kmeans(emb, cents).select("query_id", "cell")
    return (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(luts), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("lut"),
                        F.col("codes"),
                        lambda l, c: F.element_at(l, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("approx_dist"),
        )
    )


@query("ann_ivf_pq_topk", oracle=_ivf_pq_oracle())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed PQ/ADC top-k — the composition that makes PQ work at
    100 TB: ``ann_pq_topk`` ADC-scans EVERY code row per query (correct
    but a full scan); here the multiprobe selection over TRAINED √n
    k-means cells (:func:`ivf_cells` + :func:`_ivf_probes_kmeans`)
    bounds ADC to the IVF_PROBES probed cells, so each query touches
    ~probes·√n code rows — and the probed mass now SHRINKS relative to
    the corpus as it grows (constant label-cells measured 18.4× at 4×
    rows; k ≈ √n is the FAISS sizing rule). The plan is two broadcast
    hash joins against the big codes side — probes (nq×probes rows)
    keyed on the CELL id, then the per-query LUTs (nq rows) keyed on
    query_id — the codes table itself never shuffles and never meets
    un-probed queries (pinned: no BroadcastNestedLoopJoin/cartesian in
    tests/test_plans.py). Recall vs the full ADC scan is pinned in
    tests (the probed scan can only lose neighbors OUTSIDE the probed
    cells)."""
    adc = _ivf_pq_adc(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
        .orderBy("query_id", "rank")
    )


PQ_SHORTLIST = 50  # ADC shortlist size re-ranked with exact cosine


_RERANK_TAIL = f""",
    short AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY approx_dist, neighbor_id
                   ) AS srn
            FROM adc
        ) WHERE srn <= {PQ_SHORTLIST}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM short s
        JOIN embeddings a ON a.vec_id = s.query_id
        JOIN embeddings b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS rnk
        FROM rer
    ) WHERE rnk <= {TOP_K}
    ORDER BY query_id, rank
    """


@query("ann_ivf_pq_rerank", oracle=_ivf_pq_oracle(tail=_RERANK_TAIL))
def ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with exact re-rank — the production FAISS serving shape:
    (1) probe the IVF_PROBES nearest trained cells, (2) ADC-rank their
    codes and keep a PQ_SHORTLIST-deep shortlist per query (compressed
    domain, ~8 bytes/vector of memory traffic), (3) re-rank ONLY the
    shortlist against the raw embeddings with exact 6dp cosine and
    report the top-k. The quantization error of PQ affects WHICH ~50
    candidates surface, never their final ordering — recall vs exact
    brute force is pinned in tests above the ADC-only ordering.

    Scale shape: the shortlist is nq×PQ_SHORTLIST rows — broadcast
    against the embeddings table for the exact pass (the big side
    never shuffles and is touched only for shortlisted ids); the front
    half shares :func:`_ivf_pq_adc`'s cell-keyed broadcast joins. The
    oracle replays the whole composition (k-means cells → probes → PQ
    → ADC shortlist → exact re-rank) via the ``tail`` hook of
    :func:`_ivf_pq_oracle`."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    adc = _ivf_pq_adc(spark, sf_dir)
    by_dist = [F.asc("approx_dist"), F.asc("neighbor_id")]
    short = top_k(adc, "query_id", by_dist, PQ_SHORTLIST, rank="srn")
    return _exact_rerank(emb, short.select("query_id", "neighbor_id"))


# ---------------------------------------------------------------------------
# Persisted IVF index + incremental vector ingest
# ---------------------------------------------------------------------------
INCR_VEC_MOD = 10  # vec_id % mod == 0 → the delta ingest



def _persisted_ivf_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The standing IVF index of the EXISTING corpus
    (vec_id % INCR_VEC_MOD != 0): (cells, centroids) trained once per
    session and materialized to parquet (a registry entry whose release
    removes the directory) — the delta pipeline reads the stored index,
    never retraining on the corpus. At 100 TB this is the persisted
    quantizer + assignment table a production vector store maintains
    between ingests (the FAISS train-once model; the dedup tier's
    `_persisted_bucket_index` is the same pattern).
    Returns (cells_path, cents_path)."""

    def build() -> str:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .filter(F.col("vec_id") % INCR_VEC_MOD != 0)
        )
        cells, cents = ivf_cells(spark, emb)
        d = tempfile.mkdtemp(prefix="ivf_index_")
        cells.write.parquet(os.path.join(d, "cells.parquet"))
        cents.write.parquet(os.path.join(d, "cents.parquet"))
        return d

    d = index_registry.get(
        spark, sf_dir, "ivf_base", build,
        release=partial(shutil.rmtree, ignore_errors=True),
    )
    return os.path.join(d, "cells.parquet"), os.path.join(d, "cents.parquet")


def _incr_assign_oracle() -> str:
    d2 = (
        "list_sum(list_transform(list_zip(e.embedding, c.ce), "
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
    )
    return f"""
    WITH exist AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % {INCR_VEC_MOD} <> 0
    ),
    {_kmeans_cte(rel="exist")},
    delta AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % {INCR_VEC_MOD} = 0
    ),
    dassign AS MATERIALIZED (
        SELECT vec_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ROUND({d2}, 6), c.cl) AS rn
            FROM delta e CROSS JOIN kcent c
        ) WHERE rn = 1
    ),
    nn AS (
        SELECT d.vec_id, d.cl, x.vec_id AS nn_id,
               ROUND(list_sum(list_transform(list_zip(de.embedding, x.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(de.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6)
                   AS nn_cosine
        FROM dassign d
        JOIN delta de ON de.vec_id = d.vec_id
        JOIN kcells kc ON kc.cl = d.cl
        JOIN exist x ON x.vec_id = kc.vec_id
    ),
    top1 AS (
        SELECT vec_id, nn_id, nn_cosine FROM (
            SELECT vec_id, nn_id, nn_cosine,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY nn_cosine DESC, nn_id) AS rn
            FROM nn
        ) WHERE rn = 1
    )
    SELECT d.vec_id, CAST(d.cl AS INT) AS cell, t.nn_id, t.nn_cosine
    FROM dassign d LEFT JOIN top1 t ON t.vec_id = d.vec_id
    ORDER BY d.vec_id
    """


@query("ann_incremental_assign", oracle=_incr_assign_oracle())
def ann_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental vector ingest against the PERSISTED IVF index — the
    100 TB ingest pattern for the vector tier (the dedup analog is
    `incremental_near_dup`): the delta (vec_id % 10 == 0) is assigned
    to the FROZEN trained centroids (one Arrow kernel pass over the
    DELTA only — no retraining, no touch of corpus vectors) and linked
    to its nearest EXISTING in-cell neighbor (the dedup/attach
    primitive). Work is |delta| × k for assignment plus
    |delta| × (cell size ≈ √n) for the neighbor link; the delta side
    broadcasts, the corpus joins by its stored cell id.

    Deterministic and fully SQL-replayable: the oracle retrains the
    same k-means on the existing corpus (`_kmeans_cte(rel='exist')`),
    assigns the delta against the final centroids, and links top-1 by
    6dp cosine with id tiebreaks. A delta vector routed to a cell with
    no existing members keeps NULL neighbor columns."""
    cells_path, cents_path = _persisted_ivf_index(spark, sf_dir)
    cent_rows = spark.read.parquet(cents_path).collect()
    k = len(cent_rows)
    centroids = np.zeros((k, 64), dtype=np.float64)
    for r in cent_rows:
        centroids[r["cell"]] = np.asarray(r["ce"], dtype=np.float64)
    bc = spark.sparkContext.broadcast(centroids)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    delta = emb.filter(F.col("vec_id") % INCR_VEC_MOD == 0)

    assign_schema = StructType(
        [StructField("vec_id", LongType()), StructField("cell", IntegerType())]
    )

    def assign(batches):
        c = bc.value
        c_sq = (c * c).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            # full d², 6dp-rounded before argmin (same quantization as
            # ivf_cells / the oracle's ROUND(d2, 6))
            x_sq = (m * m).sum(axis=1)
            d = np.round(x_sq[:, None] - 2.0 * (m @ c.T) + c_sq[None, :], 6)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": d.argmin(axis=1).astype(np.int32),
                }
            )

    dassign = delta.mapInPandas(assign, assign_schema)
    dq = dassign.join(delta, "vec_id").select(
        F.col("vec_id").alias("dvec"),
        "cell",
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("nq"),
    )
    exist_cells = spark.read.parquet(cells_path)  # (vec_id, cell) of corpus
    ne = exist_cells.join(emb, "vec_id").select(
        F.col("vec_id").alias("nn_id"),
        "cell",
        F.col("embedding").alias("ce"),
        norm_expr(F.col("embedding")).alias("nc"),
    )
    w = Window.partitionBy("dvec").orderBy(F.desc("nn_cosine"), F.asc("nn_id"))
    top1 = (
        ne.join(F.broadcast(dq), "cell")
        .select(
            "dvec",
            "nn_id",
            F.round(
                cosine_from_norms(F.col("qe"), F.col("ce"), F.col("nq"), F.col("nc")),
                6,
            ).alias("nn_cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dvec", "nn_id", "nn_cosine")
    )
    return (
        dassign.join(top1, dassign["vec_id"] == top1["dvec"], "left")
        .select("vec_id", F.col("cell").cast("int").alias("cell"), "nn_id", "nn_cosine")
        .orderBy("vec_id")
    )


SEMANTIC_CONTAM_TAU = 0.9  # flag threshold: near-identical embedding
# eval split convention shared with curation.contamination_check
EVAL_MOD_SIM, EVAL_KEEP_SIM = 100, 5


@query(
    "semantic_contamination",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id AS eval_id, embedding AS qe
        FROM embeddings WHERE vec_id % {{m}} < {{k}}
    ),
    tr AS (
        SELECT vec_id AS train_id, embedding AS ce
        FROM embeddings WHERE vec_id % {{m}} >= {{k}}
    ),
    evn AS (
        SELECT eval_id, qe,
               sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        FROM ev
    ),
    trn AS (
        SELECT train_id, ce,
               sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        FROM tr
    ),
    dots AS (
        SELECT eval_id, train_id, nq, nc,
               list_sum(list_transform(list_zip(qe, ce),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot
        FROM evn JOIN trn ON true
    ),
    sims AS (SELECT eval_id, train_id, ROUND(dot / (nq * nc), 6) AS cosine FROM dots),
    best AS (
        SELECT eval_id, train_id AS nearest_train_id, cosine,
               row_number() OVER (PARTITION BY eval_id ORDER BY cosine DESC, train_id) AS r
        FROM sims
    )
    SELECT eval_id, nearest_train_id, cosine,
           cosine >= {SEMANTIC_CONTAM_TAU} AS contaminated
    FROM best WHERE r = 1
    ORDER BY eval_id
    """.format(m=EVAL_MOD_SIM, k=EVAL_KEEP_SIM),
)
def semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark-contamination audit: for every vector
    in the held-out eval split (``vec_id % 100 < 5``, the same split
    convention as the lexical ``contamination_check``), its single
    nearest TRAINING-split neighbor by cosine and a ``contaminated``
    flag at cosine ≥ 0.9 — lexical n-gram overlap misses paraphrases
    and translations; the embedding check is the semantic complement a
    decontamination pass runs alongside it.

    Plan shape: the eval side is the small curated side by
    construction (a benchmark suite, not a corpus), so it broadcasts
    whole — ids, matrix, norms — against ONE Arrow-batched GEMM scan of
    the train side: each batch is a (batch × evals) BLAS product (the
    embedding_near_dup block-kernel precedent) folded into a running
    per-partition top-1, so the exchange carries ≤|evals| candidate
    rows per scan partition into a codegen'd max(struct) aggregate —
    never a scored pair. The r10 variant scored all |eval|×|train|
    pairs as per-row SQL folds and routed them through a pandas
    pre-prune (the regressed 2.5 s row); the GEMM kernel does the same
    arithmetic at memory bandwidth (measured ~3×: 2.2 → ~0.75 s at
    sf0.1). At 100 TB the train side swaps to the IVF/PQ/graph serving
    tiers unchanged — this brute scan is the exactness floor the audit
    is graded on. Every eval vector emits exactly one row, so the
    audit is total — silence is never mistaken for cleanliness.

    Determinism: 6dp-rounded cosines (off-grid, per the repo's
    np.round convention for cosine kernels) with lowest-train-id tie
    break, replayed exactly by the oracle's rank window."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % EVAL_MOD_SIM) < EVAL_KEEP_SIM
    ev_rows = emb.filter(is_eval).select("vec_id", "embedding").collect()
    ids_e = np.asarray([r["vec_id"] for r in ev_rows], dtype=np.int64)
    e_mat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in ev_rows]
    )
    nq = np.sqrt((e_mat * e_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids_e, e_mat.T.copy(), nq))
    tr = emb.filter(~is_eval).select("vec_id", "embedding")
    cand_schema = StructType(
        [
            StructField("eval_id", LongType()),
            StructField("nearest_train_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    # nested so cloudpickle ships it BY VALUE (foreign-cwd drivers)
    def best_per_partition(batches):
        eids, et, enq = bc.value  # (m,), (d, m), (m,)
        m = eids.shape[0]
        run_cos = np.full(m, -np.inf)
        run_id = np.full(m, np.iinfo(np.int64).max)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tid = pdf["vec_id"].to_numpy(dtype=np.int64)
            order = np.argsort(tid, kind="stable")  # id ASC, so the
            tid = tid[order]  # first argmax hit below IS the tie-winner
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )[order]
            nc = np.sqrt((x * x).sum(axis=1))
            sims = np.round((x @ et) / (nc[:, None] * enq[None, :]), 6)
            bi = sims.argmax(axis=0)  # first max = lowest train id
            bcos = sims[bi, np.arange(m)]
            btid = tid[bi]
            better = (bcos > run_cos) | ((bcos == run_cos) & (btid < run_id))
            run_cos = np.where(better, bcos, run_cos)
            run_id = np.where(better, btid, run_id)
        seen = np.isfinite(run_cos)
        if seen.any():
            yield pd.DataFrame(
                {
                    "eval_id": eids[seen],
                    "nearest_train_id": run_id[seen],
                    "cosine": run_cos[seen],
                }
            )

    cands = tr.mapInPandas(best_per_partition, cand_schema)
    # global top-1 as a plain MAX, not a rank window: max(struct(
    # cosine, -train_id)) is lexicographic — highest cosine, lowest
    # train id on ties — and a hash aggregate over the ≤(partitions ×
    # evals) candidate rows, map-side combined.
    best = (
        cands.groupBy("eval_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine"),
                    (-F.col("nearest_train_id")).alias("neg_id"),
                )
            ).alias("b")
        )
        .select(
            "eval_id",
            (-F.col("b.neg_id")).alias("nearest_train_id"),
            F.col("b.cosine").alias("cosine"),
        )
    )
    return best.select(
        "eval_id",
        "nearest_train_id",
        "cosine",
        (F.col("cosine") >= SEMANTIC_CONTAM_TAU).alias("contaminated"),
    ).orderBy("eval_id")


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication inside trained k-means cells
# ---------------------------------------------------------------------------
SEMDEDUP_TAU = 0.4  # in-cell drop threshold — the fixture's embeddings are
# near-orthogonal (true semantic dups don't exist), so the 0.4 tail of the
# cosine distribution stands in, same convention as embedding_near_dup


def _semdedup_oracle() -> str:
    return f"""
    WITH {{KMEANS}},
    nrm AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
        FROM embeddings
    ),
    members AS (
        SELECT k.cl AS cell, n.vec_id, n.embedding, n.nv
        FROM kcells k JOIN nrm n USING (vec_id)
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM members a JOIN members b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND(
            list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / (a.nv * b.nv), 6) >= {SEMDEDUP_TAU}
    )
    SELECT m.vec_id, CAST(m.cell AS INT) AS cell,
           (d.vec_id IS NULL) AS kept
    FROM members m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    ORDER BY m.vec_id
    """.replace("{KMEANS}", _kmeans_cte())


@query("semdedup", oracle=_semdedup_oracle())
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication that only compares INSIDE trained k-means clusters —
    embeddings cluster near-duplicates together, so the quadratic pair
    term is bounded by the cell size instead of the corpus. A vector is
    dropped when a LOWER-id member of its own cell has 6dp cosine ≥
    SEMDEDUP_TAU (keep-lowest-id, the engine's dedup convention; the
    paper keeps one representative per duplicate group — the id rule
    makes that choice deterministic and SQL-replayable). Output is a
    total verdict — one (vec_id, cell, kept) row per vector, the same
    keep-list shape ``dedup_keep_list`` feeds a corpus rewrite with.

    Scale shape: the coarse quantizer is the SAME session-cached
    √n-cell index every IVF tier serves from (:func:`ivf_index` — at
    100 TB SemDeDup rides an index that already exists); the pair join
    is keyed on the cell id, so the shuffle carries each vector once
    per side and in-cell pairs are ~n·(n/k)=n^1.5 worst-case, the
    published bound. Per-side norms precomputed; the oracle replays
    k-means + in-cell pairs + the EXISTS-drop end to end."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells, _ = ivf_index(spark, sf_dir)
    members = emb.join(cells, "vec_id").select(
        "vec_id", "cell", "embedding", norm_expr(F.col("embedding")).alias("nv")
    )
    a = members.select(
        F.col("vec_id").alias("vec_a"),
        "cell",
        F.col("embedding").alias("ea"),
        F.col("nv").alias("na"),
    )
    b = members.select(
        F.col("vec_id").alias("vec_b"),
        "cell",
        F.col("embedding").alias("eb"),
        F.col("nv").alias("nb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            F.round(
                cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")),
                6,
            )
            >= SEMDEDUP_TAU
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("d", F.lit(True))
    )
    return (
        members.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.col("d").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# D4 prototype pruning — diversify after dedup (Tirumala et al. 2023)
# ---------------------------------------------------------------------------
D4_DROP_PCTL = 0.2  # per-cell fraction of most-prototypical points dropped


def _d4_oracle() -> str:
    d2 = (
        "list_sum(list_transform(list_zip(e.embedding, c.ce), "
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
    )
    return f"""
    WITH {{KMEANS}},
    m AS (
        SELECT k.vec_id, k.cl AS cell, ROUND({d2}, 6) AS d2
        FROM kcells k
        JOIN embeddings e ON e.vec_id = k.vec_id
        JOIN kcent c ON c.cl = k.cl
    ),
    cut AS (
        SELECT cell, quantile_cont(d2, {D4_DROP_PCTL}) AS cutoff
        FROM m GROUP BY cell
    )
    SELECT m.vec_id, CAST(m.cell AS INT) AS cell, m.d2,
           ROUND(c.cutoff, 6) AS cell_cutoff,
           m.d2 >= c.cutoff AS kept
    FROM m JOIN cut c USING (cell)
    ORDER BY m.vec_id
    """.replace("{KMEANS}", _kmeans_cte())


@query("d4_prototype_prune", oracle=_d4_oracle())
def d4_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 diversification (Tirumala et al. 2023, arXiv:2308.12284):
    after semantic dedup, DROP the most PROTOTYPICAL points of every
    k-means cluster — the ``D4_DROP_PCTL`` fraction closest to their
    own centroid by squared L2 — because dense cluster cores carry
    redundant training signal while the cell's periphery carries the
    diversity. ``kept = d2 >= per-cell 20th percentile`` (ties keep,
    so singleton cells always survive). One total (vec_id, cell, d2,
    cell_cutoff, kept) verdict per vector — composable with
    :func:`semdedup` exactly as the paper chains them.

    Scale shape: rides the SAME session-cached √n-cell quantizer as
    every IVF tier (:func:`ivf_index`); d2-to-own-centroid is a
    broadcast join against the k-row centroid table and one array fold
    per vector (linear scan, no pairs at all — cheaper than semdedup);
    the per-cell cutoff is an exact interpolated percentile over
    6dp-rounded d2 (identical fold both engines, the ivf assign
    convention) that swaps to ``approx_percentile`` at 100 TB with the
    plan unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells, cents = ivf_index(spark, sf_dir)
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                _as_double(F.col("embedding")),
                F.col("ce"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    m = (
        emb.join(cells, "vec_id")
        .join(F.broadcast(cents), "cell")
        .select("vec_id", "cell", d2.alias("d2"))
    )
    cut = m.groupBy("cell").agg(
        F.expr(f"percentile(d2, {D4_DROP_PCTL})").alias("cutoff")
    )
    return (
        m.join(F.broadcast(cut), "cell")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "d2",
            F.round("cutoff", 6).alias("cell_cutoff"),
            (F.col("d2") >= F.col("cutoff")).alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Distributed covariance — the training pass of PCA-whitening / OPQ
# ---------------------------------------------------------------------------
EMB_DIM = 64  # fixture embedding dimensionality


@query(
    "embedding_covariance",
    oracle=f"""
    WITH mu AS (
        SELECT i, AVG(CAST(v AS DOUBLE)) AS m
        FROM (SELECT generate_subscripts(embedding, 1) AS i,
                     unnest(embedding) AS v
              FROM embeddings)
        GROUP BY i
    ),
    cent AS (
        SELECT e.vec_id, t.i,
               CAST(e.embedding[t.i] AS DOUBLE) - mu.m AS c
        FROM embeddings e
        CROSS JOIN (SELECT UNNEST(range(1, {EMB_DIM + 1})) AS i) t
        JOIN mu ON mu.i = t.i
    ),
    n AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT CAST(a.i AS INT) AS dim_i, CAST(b.i AS INT) AS dim_j,
           ROUND(SUM(a.c * b.c) / n.n, 6) AS cov
    FROM cent a
    JOIN cent b ON a.vec_id = b.vec_id AND a.i <= b.i
    CROSS JOIN n
    GROUP BY a.i, b.i, n.n
    ORDER BY dim_i, dim_j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix of the embedding corpus — the
    one-job training pass every linear preprocessing of a vector index
    starts from (PCA dimensionality reduction, whitening, FAISS's OPQ
    rotation: all eigen-decompose THIS matrix, a d×d driver-side
    solve). Upper triangle only ((d²+d)/2 rows), two-pass centered
    estimator: per-dim means first, then Σ(x−μ)(x−μ)ᵀ/n.

    Scale shape: the kernel is a per-partition BLAS rank-k update —
    each Arrow batch contributes one dense (d,d) Gram of its centered
    rows, so the shuffle carries (d²+d)/2 partial rows PER PARTITION
    (a few KB) regardless of corpus size, and the final reduce is a
    tiny groupBy sum. The mean pass is a map-side-combinable aggregate
    (2·d doubles of driver state, broadcast into the kernel). This is
    the exact-arithmetic floor of the streaming/minibatch covariance
    sketches; the oracle replays both passes relationally."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    mu_rows = (
        emb.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .collect()
    )  # d doubles of model state
    mu = np.zeros(EMB_DIM, dtype=np.float64)
    for r in mu_rows:
        mu[r["pos"]] = float(r["m"])
    bc = spark.sparkContext.broadcast(mu)
    out_schema = StructType(
        [
            StructField("dim_i", IntegerType()),
            StructField("dim_j", IntegerType()),
            StructField("partial", DoubleType()),
        ]
    )
    iu = np.triu_indices(EMB_DIM)

    # nested so cloudpickle ships it BY VALUE (foreign-cwd drivers)
    def gram(batches):
        m = bc.value
        acc = np.zeros((EMB_DIM, EMB_DIM), dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            ) - m[None, :]
            acc += x.T @ x  # one BLAS rank-k update per Arrow batch
            seen = True
        if seen:
            yield pd.DataFrame(
                {
                    "dim_i": (iu[0] + 1).astype(np.int32),
                    "dim_j": (iu[1] + 1).astype(np.int32),
                    "partial": acc[iu],
                }
            )

    return (
        emb.mapInPandas(gram, out_schema)
        .groupBy("dim_i", "dim_j")
        .agg(F.round(F.sum("partial") / F.lit(float(n)), 6).alias("cov"))
        .orderBy("dim_i", "dim_j")
    )


PCA_COMPONENTS = 8  # whitened components kept (top eigenvalues)

def _cov_model(spark: SparkSession, sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """Train (or fetch) the tier's (mu, cov) — the shared second-moment
    model both eigen consumers (PCA whitening, the OPQ rotation)
    decompose; (d²+d)/2 + d doubles of state, trained once per tier:
    one distributed Gram pass (:func:`embedding_covariance` — itself
    computes the mean pass) plus one mean aggregate, driver state
    only."""

    def build():
        cov_rows = embedding_covariance(spark, sf_dir).collect()
        c = np.zeros((EMB_DIM, EMB_DIM))
        for r in cov_rows:
            c[r["dim_i"] - 1, r["dim_j"] - 1] = r["cov"]
            c[r["dim_j"] - 1, r["dim_i"] - 1] = r["cov"]
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        mu_rows = (
            emb.select(F.posexplode("embedding").alias("pos", "v"))
            .groupBy("pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        mu = np.zeros(EMB_DIM)
        for r in mu_rows:
            mu[r["pos"]] = float(r["m"])
        return mu, c

    return index_registry.get(spark, sf_dir, "cov", build)


@query("pca_whiten_project")  # no SQL oracle — documented impossibility
# (r11 verdict #6, investigated r12): the fixture covariance has a
# random-matrix BULK spectrum (top-12 eigenvalues 0.0289..0.0219 at
# sf0.001, relative gaps 0.5-7%), so an unrolled power-iteration/
# deflation oracle — the k-means-CTE trick — would need O(ln(1/eps)/gap)
# ~ 10^3 rounds per component to meet the 1e-3 identity-covariance law,
# and Jacobi needs ~2000 rotations per sweep: neither is expressible as
# a bounded CTE chain. Instead the full pipeline is replayed by an
# INDEPENDENT Spark-free oracle (DuckDB relational covariance + the
# same canonicalized eigh) in tests/test_plans.py::
# test_pca_whiten_matches_duckdb_numpy_oracle, plus the identity-
# covariance law test; the driver records the rows-only check.
def pca_whiten_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening projection — the serving half of the
    :func:`embedding_covariance` training pass: eigen-decompose the
    d×d covariance ON THE DRIVER (a constant-size solve, the same
    place FAISS trains its OPQ rotation), keep the top
    ``PCA_COMPONENTS`` eigenpairs, and project every embedding through
    ``Λ^(-1/2)·Vᵀ·(x−μ)`` so downstream similarity runs in a
    decorrelated, unit-variance space at 1/8 the dimensionality.
    Eigenvector signs are canonicalized (largest-|coordinate| positive)
    so the output is deterministic across BLAS builds.

    Scale shape: training state is the (d²+d)/2-row covariance (flat
    in corpus size, see embedding_covariance) plus a d×R matrix
    broadcast into an Arrow-batch kernel; the projection itself is one
    BLAS GEMM per batch — embarrassingly parallel, no shuffle at all
    beyond the final ORDER BY."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # (mu, cov) off the session model cache — (d²+d)/2 + d doubles of
    # state, not data; one Gram pass per tier instead of one per call
    # (and the old second mean pass is gone entirely — r13)
    mu, c = _cov_model(spark, sf_dir)
    evals, evecs = np.linalg.eigh(c)  # ascending
    idx = np.argsort(evals)[::-1][:PCA_COMPONENTS]
    lam, v = evals[idx], evecs[:, idx]
    # sign canonicalization: the max-|coordinate| of each eigenvector
    # is made positive (eigh's sign is BLAS-dependent)
    for j in range(v.shape[1]):
        k = int(np.argmax(np.abs(v[:, j])))
        if v[k, j] < 0:
            v[:, j] = -v[:, j]
    w = v / np.sqrt(np.maximum(lam, 1e-12))[None, :]  # (d, R): x @ w whitens
    bc = spark.sparkContext.broadcast((mu, w))
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("component", ArrayType(DoubleType())),
        ]
    )

    # nested so cloudpickle ships it BY VALUE (foreign-cwd drivers)
    def project(batches):
        m, ww = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            ) - m[None, :]
            y = np.round(x @ ww, 6)  # one GEMM per Arrow batch
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "component": list(y),
                }
            )

    return emb.mapInPandas(project, out_schema).orderBy("vec_id")


# ---------------------------------------------------------------------------
# OPQ — Optimized Product Quantization (Ge et al., CVPR 2013), the
# parametric variant: rotate the space with an orthogonal matrix R
# derived from the covariance eigendecomposition (principal directions
# permuted across subspaces by EIGENVALUE ALLOCATION, balancing each
# subspace's variance product), then product-quantize the rotated
# vectors. Rotation is distance-preserving (R orthogonal), so exact
# rankings are unchanged while the PQ codebook quantizes a decorrelated,
# variance-balanced space — the preprocessing FAISS's OPQMatrix applies
# before an IVFPQ index.
# ---------------------------------------------------------------------------

def opq_eigenvalue_allocation(evals: np.ndarray, m: int, d_sub: int) -> list[int]:
    """The paper's eigenvalue-allocation step: assign principal
    directions (eigenvalues descending) to ``m`` buckets of ``d_sub``
    slots each, greedily giving each eigenvalue to the open bucket with
    the smallest current log-variance product — balancing the variance
    each PQ subquantizer must cover. Returns, per principal-direction
    index (descending order), its bucket id."""
    order = np.argsort(evals)[::-1]
    logs = np.log(np.maximum(evals[order], 1e-12))
    load = [0.0] * m
    fill = [0] * m
    bucket_of = [0] * len(order)
    for i, lg in enumerate(logs):
        open_b = [b for b in range(m) if fill[b] < d_sub]
        b = min(open_b, key=lambda x: (load[x], x))
        bucket_of[i] = b
        load[b] += lg
        fill[b] += 1
    return bucket_of


def _opq_rotation(spark: SparkSession, sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """Train the OPQ rotation: covariance eigendecomposition (driver
    d×d solve on the distributed Gram pass, the embedding_covariance
    plan), sign-canonicalized eigenvectors, eigenvalue allocation into
    PQ_M buckets of PQ_D — R's rows are the principal directions laid
    out so subspace b owns dims [b·PQ_D, (b+1)·PQ_D). The (mu, R)
    model is d² doubles, trained once per tier; it derives from the
    cached (mu, cov) model, so invalidating "cov" drops it too."""

    def build():
        # shared (mu, cov) model — the same cached Gram pass PCA
        # whitening decomposes
        mu, c = _cov_model(spark, sf_dir)
        evals, evecs = np.linalg.eigh(c)
        order = np.argsort(evals)[::-1]
        lam, v = evals[order], evecs[:, order]
        for j in range(v.shape[1]):  # sign canonicalization (BLAS-stable)
            k = int(np.argmax(np.abs(v[:, j])))
            if v[k, j] < 0:
                v[:, j] = -v[:, j]
        buckets = opq_eigenvalue_allocation(lam, PQ_M, PQ_D)
        # slot each descending principal direction into its bucket's
        # next free row: R @ (x - mu) lands subspace b in dims
        # [b*PQ_D, (b+1)*PQ_D)
        rot = np.zeros((EMB_DIM, EMB_DIM))
        fill = [0] * PQ_M
        for i, b in enumerate(buckets):
            rot[b * PQ_D + fill[b], :] = v[:, i]
            fill[b] += 1
        return mu, rot

    return index_registry.get(spark, sf_dir, "opq", build)


def _rotated_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding) with embedding = round(R(x−μ), 6) — one
    BLAS GEMM per Arrow batch, no shuffle. Centering is shared by all
    vectors so every pairwise L2 distance is EXACTLY preserved."""
    mu, rot = _opq_rotation(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = spark.sparkContext.broadcast((mu, rot.T.copy()))
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )

    # nested so cloudpickle ships it BY VALUE (foreign-cwd drivers)
    def rotate(batches):
        m, rt = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            ) - m[None, :]
            y = np.round(x @ rt, 6)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "embedding": list(y),
                }
            )

    return emb.mapInPandas(rotate, out_schema)


@query("ann_opq_pq_topk")  # no SQL oracle: the rotation is a driver
# eigendecomposition (not relationally expressible — the
# pca_whiten_project precedent); laws pinned in tests/test_plans.py
def ann_opq_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated product quantization ANN: PQ/ADC ranking (the
    ann_pq_topk pipeline — codebook from the 16 lowest vec_ids, ADC =
    8 LUT lookups per candidate) over vectors first rotated by the
    trained OPQ matrix. Same memory economics as plain PQ (~8 bytes a
    vector) but the subquantizers now cover decorrelated,
    variance-balanced subspaces, which is what cuts quantization
    error on anisotropic corpora (real embedding corpora always are).

    Scale shape: training is the covariance pass (shuffle flat in
    corpus size) plus a d×d driver solve, cached per tier in the index
    registry; the rotation adds one GEMM per Arrow
    batch to the encode path and NOTHING to serving (queries rotate
    through the same broadcast matrix before LUT construction); the
    ADC join and ranking are byte-identical to ann_pq_topk (the shared
    :func:`_adc_ranked` pipeline). The rotated codes + LUTs are the
    "opq" variant of :func:`pq_index` — warm serves are two
    checkpoint scans + the ADC join, no rotate/encode kernels."""
    codes, queries = opq_pq_index(spark, sf_dir)
    return _adc_ranked(codes, queries)


@query(
    "knn_label_predict",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe
        FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
    ),
    sims AS (
        SELECT q.qid, e.vec_id AS cid,
               ROUND(list_sum(list_transform(list_zip(q.qe, e.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(q.qe,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(e.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ),
    top AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, cid) AS rank
            FROM sims
        ) WHERE rank <= {TOP_K}
    ),
    votes AS (
        SELECT t.qid, e.label, COUNT(*) AS votes
        FROM top t JOIN embeddings e ON e.vec_id = t.cid
        GROUP BY t.qid, e.label
    ),
    win AS (
        SELECT qid, label AS predicted_label, votes,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY votes DESC, label) AS rn
        FROM votes
    )
    SELECT w.qid AS query_id, eq.label AS true_label, w.predicted_label,
           CAST(w.votes AS BIGINT) AS votes,
           w.predicted_label = eq.label AS correct
    FROM win w JOIN embeddings eq ON eq.vec_id = w.qid
    WHERE w.rn = 1
    ORDER BY query_id
    """,
)
def knn_label_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction — the standard embedding-quality probe
    (and the label-propagation primitive for weakly-labeling a corpus
    from a seed set): each stride query vector takes the majority
    label of its exact cosine top-{5} neighbors (ties → smallest
    label), compared against its own label. The per-query accuracy
    column is what an embedding-pipeline regression gate watches: a
    representation change that drops k-NN accuracy degraded the
    geometry even if downstream training hasn't run yet.

    Scale shape: rides the brute top-k scan (:func:`ann_topk_cosine`:
    broadcast queries, partial WindowGroupLimit under the rank exchange
    — swap in the IVF/graph tier for the same neighbor contract); the
    vote is a ≤k-row-per-query aggregate and the label joins
    broadcast. Deterministic: 6dp cosines, id tiebreaks, smallest-label
    vote ties."""
    emb = load_table(spark, sf_dir, "embeddings")
    top = ann_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    labels = emb.select("vec_id", "label")
    votes = (
        top.join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    win = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("predicted_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )
    truth = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        win.join(F.broadcast(truth), "query_id")
        .select(
            "query_id",
            "true_label",
            "predicted_label",
            "votes",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


HARD_NEG_K = 3  # hard negatives mined per anchor


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe, label AS ql
        FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
    ),
    sims AS (
        SELECT q.qid, e.vec_id AS cid, (e.label = q.ql) AS same,
               ROUND(
                 list_sum(list_transform(list_zip(q.qe, e.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(q.qe,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, cid, same, cosine,
               row_number() OVER (
                   PARTITION BY qid, same ORDER BY cosine DESC, cid
               ) AS rn
        FROM sims
    )
    SELECT qid AS query_id,
           CASE WHEN same THEN 'positive' ELSE 'negative' END AS kind,
           CAST(rn AS INT) AS rank, cid AS neighbor_id, cosine
    FROM ranked
    WHERE (same AND rn = 1) OR (NOT same AND rn <= {HARD_NEG_K})
    ORDER BY query_id, kind, rank
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN hard-negative mining — the scale path
    ``contrastive_triplets`` names: per anchor (stride query vector),
    its nearest SAME-label neighbor (the positive) and its
    {HARD_NEG_K} nearest DIFFERENT-label neighbors (the hard
    negatives) by 6dp cosine. Hard negatives — wrong-class items the
    embedding currently ranks closest — are what make a contrastive
    batch informative; random negatives are almost always already far
    (Xiong et al. 2021, ANCE).

    Scale shape: one brute scan per anchor set (broadcast queries,
    per-side norms) ranked by ONE window keyed on (anchor, same-label)
    and cut at ``rank <= HARD_NEG_K`` BEFORE the positive/negative
    filter — that conjunct is what gives the plan its partial
    WindowGroupLimit (a disjunctive rank filter infers none), so each
    map task ships ≤k rows per anchor side to the rank exchange. The
    exactness floor; the IVF/graph tiers swap in for the same
    contract, which is exactly how ANCE refreshes its negative index.
    Deterministic: 6dp cosines, id tiebreaks, so the all-pairs oracle
    replays both rankings."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = stride_queries(emb, F.col("label").alias("ql"))
    cands = candidates(emb, F.col("label").alias("cl"))
    sims = brute_pairs(queries, cands, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        (F.col("cl") == F.col("ql")).alias("same"),
        cosine6("qe", "ce", "nq", "nc").alias("cosine"),
    )
    by_cosine = [F.desc("cosine"), F.asc("neighbor_id")]
    return (
        top_k(sims, ["query_id", "same"], by_cosine, HARD_NEG_K)
        .filter((F.col("same") & (F.col("rank") == 1)) | ~F.col("same"))
        .select(
            "query_id",
            F.when(F.col("same"), "positive").otherwise("negative").alias("kind"),
            "rank",
            "neighbor_id",
            "cosine",
        )
        .orderBy("query_id", "kind", "rank")
    )


@query(
    "cluster_balanced_quota",
    oracle=f"""
    WITH {_kmeans_cte()},
    ranked AS (
        SELECT vec_id, cl,
               row_number() OVER (
                   PARTITION BY cl
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM kcells
    )
    SELECT r.vec_id, CAST(r.cl AS BIGINT) AS cluster,
           r.rk <= (t.n + t.k - 1) // t.k AS keep
    FROM ranked r CROSS JOIN knn t
    ORDER BY r.vec_id
    """,
)
def cluster_balanced_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling verdict: every vector gets its trained
    IVF cell plus a keep flag that caps each cell at ceil(N/k) members
    — the semantic-cluster rebalancing pass of a curation pipeline
    (flatten the cluster histogram before sampling, so one dominant
    mode can't monopolize the training mix; the cluster-level
    counterpart of ``stratified_sample``'s per-SOURCE quota and the
    selection twin of ``d4_prototype_prune``'s per-cell drop). Within a
    cell the keep set is the md5(vec_id)-rank prefix — the
    train_val_split convention: deterministic, retry-stable, and
    uniform within the cell, so the cap subsamples rather than
    cherry-picks. The cap arithmetic is division-cleared integers
    (``(N + k − 1) // k``), so the boundary cannot round apart
    cross-engine.

    Scale shape: rides the session-cached IVF index (ivf_index — train
    once, serve many); the only new work is ONE window over the cells
    frame partitioned by cell (~√n rows per partition under the √n
    sizing rule) — no joins against the embedding payload, the window
    runs on (vec_id, cell) pairs only. Output is total: |vectors| rows.
    """
    cells, _cents = ivf_index(spark, sf_dir)
    n = cells.count()  # checkpointed frame — a cheap metadata-ish count
    k = ivf_cell_count(n)
    cap = (n + k - 1) // k
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.asc("vec_id")
    )
    return (
        cells.withColumn("rk", F.row_number().over(w))
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cluster"),
            (F.col("rk") <= F.lit(cap)).alias("keep"),
        )
        .orderBy("vec_id")
    )


# Matryoshka / prefix-dimension funnel: MRL-trained embeddings carry
# coarse-to-fine structure, so the FIRST dims alone rank usefully
# (Kusupati et al. 2022, "Matryoshka Representation Learning"). The
# serving funnel ranks on a dim prefix (64/PREFIX_DIMS = 2x less float
# traffic at 32), then re-ranks only a short list at full precision —
# the adaptive-retrieval shape, structurally the ann_binary_rerank twin
# with a float prefix instead of sign bits as the coarse stage.
# PREFIX_DIMS=32 measured on the fixture: funnel recall@5 0.80 at a
# 50-deep shortlist (16 dims gave 0.36 — the synthetic embeddings are
# isotropic, so a quarter-prefix carries too little of the cosine;
# real MRL embeddings front-load variance and would tolerate 16).
PREFIX_DIMS = 32
PFX_SHORTLIST = 50


def _prefix_cos_sql(a: str, b: str) -> str:
    """6dp cosine over the first PREFIX_DIMS list elements (DuckDB)."""
    pa, pb = f"{a}[1:{PREFIX_DIMS}]", f"{b}[1:{PREFIX_DIMS}]"
    return f"""ROUND(list_sum(list_transform(list_zip({pa}, {pb}),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
          (sqrt(list_sum(list_transform({pa}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           sqrt(list_sum(list_transform({pb}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""


_PFX_ORACLE = f"""
    WITH pcos AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_prefix_cos_sql("q.embedding", "c.embedding")} AS pcosine
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
    )
    SELECT query_id, neighbor_id, pcosine, CAST(rnk AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, pcosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY pcosine DESC, neighbor_id
               ) AS rnk
        FROM pcos
    ) WHERE rnk <= {TOP_K}
    ORDER BY query_id, rank
"""


def _prefix_pairs(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, pcosine): 6dp cosine over the first
    PREFIX_DIMS dims for every stride query against every vector. The
    barrier of :func:`brute_pairs` keeps the prefix slice (an array
    copy) and its norm out of the pair loop, where they ran nq× per
    vector."""
    base = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, PREFIX_DIMS).alias("pe")
    ).withColumn("np", norm_expr(F.col("pe")))
    queries = base.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("pe").alias("qpe"),
        F.col("np").alias("nqp"),
    )
    return brute_pairs(queries, base, "vec_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine6("qpe", "pe", "nqp", "np").alias("pcosine"),
    )


@query("ann_prefix_topk", oracle=_PFX_ORACLE)
def ann_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension ANN (the Matryoshka coarse tier): rank by 6dp
    cosine over the FIRST {PREFIX_DIMS} of 64 dims only — 64/{PREFIX_DIMS}
    = 2× less float traffic than the exact scan at the measured
    PREFIX_DIMS=32, no training state at all (the
    one quantized tier with zero build step; binary needs μ, SQ needs
    min/max, PQ needs a codebook). On MRL-trained embeddings the
    prefix carries most of the ranking signal; on this synthetic
    fixture it is deliberately lossy — the funnel law pins how much
    the re-rank stage recovers.

    Scale shape: identical to the other brute tiers (broadcast stride
    queries, linear scan, one rank exchange); the prefix slice prunes
    the per-pair fold from 64 to {PREFIX_DIMS} multiplies and — unlike
    binary codes — needs no second pass over the corpus to build
    anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    by_pcosine = [F.desc("pcosine"), F.asc("neighbor_id")]
    return (
        top_k(_prefix_pairs(emb), "query_id", by_pcosine, TOP_K)
        .select("query_id", "neighbor_id", "pcosine", "rank")
        .orderBy("query_id", "rank")
    )


_PFX_RERANK_ORACLE = f"""
    WITH pcos AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_prefix_cos_sql("q.embedding", "c.embedding")} AS pcosine
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
    ),
    short AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY pcosine DESC, neighbor_id
                   ) AS srn
            FROM pcos
        ) WHERE srn <= {PFX_SHORTLIST}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM short s
        JOIN embeddings a ON a.vec_id = s.query_id
        JOIN embeddings b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS rnk
        FROM rer
    ) WHERE rnk <= {TOP_K}
    ORDER BY query_id, rank
"""


@query("ann_prefix_rerank", oracle=_PFX_RERANK_ORACLE)
def ann_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Matryoshka funnel — adaptive retrieval as served in MRL
    deployments: (1) rank everything by prefix-{PREFIX_DIMS} cosine
    and keep a {PFX_SHORTLIST}-deep shortlist per query, (2) re-rank
    ONLY the shortlist at the full 64 dims with exact 6dp cosine.
    Quantization (here: truncation) decides WHICH ~{PFX_SHORTLIST}
    candidates surface, never their final order — the
    ann_binary_rerank / ann_ivf_pq_rerank funnel contract with a
    train-free float prefix as the coarse stage.

    Scale shape: coarse stage = the prefix linear scan (the partial
    WindowGroupLimit holds the shortlist exchange to ≤{PFX_SHORTLIST}
    rows per (query, map task)); fine stage = the nq×{PFX_SHORTLIST} shortlist
    broadcast against the embeddings table, so the big side never
    shuffles and full vectors are touched only for shortlisted ids."""
    emb = load_table(spark, sf_dir, "embeddings")
    by_pcosine = [F.desc("pcosine"), F.asc("neighbor_id")]
    short = top_k(_prefix_pairs(emb), "query_id", by_pcosine, PFX_SHORTLIST, rank="srn")
    return _exact_rerank(emb, short.select("query_id", "neighbor_id"))


DRIFT_Z = 3.0  # standard-error z threshold flagging a drifted dimension


@query(
    "embedding_drift_stats",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id % {INCR_VEC_MOD} = 0 AS is_delta,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    stats AS (
        SELECT CAST(pos AS INT) AS pos,
               ROUND(AVG(CASE WHEN NOT is_delta THEN v END), 6) AS mu_base,
               ROUND(AVG(CASE WHEN NOT is_delta THEN v * v END), 6) AS sq_base,
               ROUND(AVG(CASE WHEN is_delta THEN v END), 6) AS mu_delta,
               CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
        FROM ex GROUP BY pos
    )
    SELECT pos, mu_base, mu_delta,
           ROUND(ABS(mu_delta - mu_base) /
                 sqrt(ROUND(sq_base - mu_base * mu_base, 6) / n_delta), 4)
               AS drift_z,
           ROUND(ABS(mu_delta - mu_base) /
                 sqrt(ROUND(sq_base - mu_base * mu_base, 6) / n_delta), 4)
               > {DRIFT_Z} AS drifted
    FROM stats ORDER BY pos
    """,
)
def embedding_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-dimension mean of the DELTA ingest
    stripe (vec_id % {INCR_VEC_MOD} == 0 — the ann_incremental_assign
    convention) against the base corpus, scored as a standard-error
    z (|μ_Δ − μ_B| / √(σ²_B / n_Δ)). This is the retrain trigger of
    the incremental-vector story: `ann_incremental_assign` serves the
    delta against FROZEN centroids, which is only sound while the
    delta looks like the base — a dimension with drift_z > {DRIFT_Z}
    says the quantizer is stale and the hash-init retrain path
    (ivf_cells(init='hash')) should run.

    Cross-engine discipline: every FP component (both means, the
    second moment, the variance) is 6dp-ROUNDED before entering the
    next arithmetic step, so the z and its boolean threshold are
    computed from identical doubles on both engines — stddev is
    deliberately NOT taken from the engines' native aggregate
    (Welford vs sum-of-squares partials differ at the last ulp).

    Scale shape: ONE posexplode pass into a 64-group aggregate with
    conditional partials (map-side combinable — the shuffle carries
    64×|partitions| partial rows); no joins, output is exactly d rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        (F.col("vec_id") % INCR_VEC_MOD == 0).alias("is_delta"),
        F.posexplode(F.col("embedding")).alias("pos0", "v0"),
    ).select(
        "is_delta",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("v0").cast("double").alias("v"),
    )
    base = lambda c: F.when(~F.col("is_delta"), c)  # noqa: E731
    delt = lambda c: F.when(F.col("is_delta"), c)  # noqa: E731
    stats = ex.groupBy("pos").agg(
        F.round(F.avg(base(F.col("v"))), 6).alias("mu_base"),
        F.round(F.avg(base(F.col("v") * F.col("v"))), 6).alias("sq_base"),
        F.round(F.avg(delt(F.col("v"))), 6).alias("mu_delta"),
        F.sum(delt(F.lit(1)).otherwise(0)).cast("long").alias("n_delta"),
    )
    var_b = F.round(F.col("sq_base") - F.col("mu_base") * F.col("mu_base"), 6)
    z = F.round(
        F.abs(F.col("mu_delta") - F.col("mu_base"))
        / F.sqrt(var_b / F.col("n_delta")),
        4,
    )
    return stats.select(
        "pos",
        "mu_base",
        "mu_delta",
        z.alias("drift_z"),
        (z > DRIFT_Z).alias("drifted"),
    ).orderBy("pos")
