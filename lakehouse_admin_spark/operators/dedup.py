r"""Deduplication operators over the ``documents`` table.

Extensions beyond the reference surface (the reference dedups only file
paths and task chunks, backend/internal/iceberg_client.go:143-153,
service_tasks.go:273-280); these are the large-scale training-data
pipeline versions:

- exact dedup: normalize → md5 fingerprint → hash aggregate
- n-gram Jaccard near-dup: inverted-index join on 3-gram shingles
  (never a cartesian product — the join key IS the shingle)
- MinHash + LSH banding: deterministic md5-based minhash so the DuckDB
  oracle can replay the exact same signatures in SQL
- SimHash: 48-bit signature + banded Hamming-distance pairing

All hashing is md5-derived (portable across Spark and DuckDB) and every
operator is a declarative DataFrame pipeline — shuffles are keyed on
fingerprint/shingle/band, which is exactly how these scale to 100 TB
(the shingle join is the standard inverted-index formulation; hot
shingles can be dropped by document-frequency filtering, see
``max_shingle_df``).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.index_registry import free_checkpoint
from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.tables import load_table

NUM_HASHES = 16          # minhash signature length
LSH_BANDS = 4            # bands × rows_per_band == NUM_HASHES
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 48

# Manku-style block-permutation candidate generation (Manku, Jain &
# Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07): the
# 48-bit signature splits into 6 blocks of 8 bits; candidates key on
# every C(6,3)=20 combination of 3 blocks (24-bit keys). A pair within
# Hamming distance 3 dirties at most 3 blocks, so at least 3 blocks
# are clean and SOME 3-block combination matches exactly (pigeonhole —
# candidate generation stays COMPLETE for Hamming <= 3). Versus
# contiguous 12-bit bands, the key space grows 2^12 -> 2^24, so
# random-pair collisions per table shrink by 4096x: candidate mass
# tracks true-duplicate mass instead of n^2/4096 at corpus scale.
SIMHASH_BLOCKS = 6
SIMHASH_COMBO_K = 3      # clean blocks required = pigeonhole for d<=3
_SIMHASH_BLOCK_WIDTH = SIMHASH_BITS // SIMHASH_BLOCKS  # 8
_SIMHASH_BLOCK_MASK = (1 << _SIMHASH_BLOCK_WIDTH) - 1

from itertools import combinations as _combinations  # noqa: E402

SIMHASH_COMBOS: list[tuple[int, int, int]] = list(
    _combinations(range(SIMHASH_BLOCKS), SIMHASH_COMBO_K)
)


def tokens_expr(text: Column) -> Column:
    r"""Lowercased whitespace tokens, empties dropped (portable:
    DuckDB ``list_filter(string_split_regex(lower(x),'\s+'), ...)``)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` with its token array ``w``: the tier's one token
    corpus, tokenized once per (session, tier) and held as the
    registry's ``"doc_tokens"`` entry. Every text, card, BM25 and
    shingle consumer reads it, so no serve tokenizes again.

    Layout: range-partitioned on ``doc_id`` (``defaultParallelism``
    ranges) and sorted within each range. The cached scan reports that
    partitioning and ordering, so an ``orderBy("doc_id")`` needs no
    exchange, sampling job or sort, and any aggregate or window keyed
    on a superset of ``doc_id`` (or an alias of it) needs no shuffle.
    The range boundaries come from a sample seeded per RDD, so they may
    differ between sessions; no consumer's output depends on them.
    Consumers filter above the cached relation, so a filter never
    re-inlines the tokenizer below the exchange.
    """

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return (
            docs.repartitionByRange(spark.sparkContext.defaultParallelism, "doc_id")
            .select(
                "doc_id", "lang", "source", "n_chars", "text",
                tokens_expr(F.col("text")).alias("w"),
            )
            .sortWithinPartitions("doc_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return index_registry.get(
        spark, sf_dir, "doc_tokens", build, release=lambda df: df.unpersist()
    )


def shingles_expr(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined). Docs shorter than
    n tokens produce an empty array (guard needed: Spark's sequence(1, 0)
    would count *down*, not return empty)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


def exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) posting list — the inverted index. Persisted:
    every dedup consumer (minhash signatures, candidate verification,
    set sizes) reads it, and plain (long, string) columns cache far
    cheaper than array<string> batches.

    Built from the tier's token corpus (:func:`doc_tokens`, its base in
    the registry, so invalidating the corpus drops it too): the
    tokenizer never runs here, and the posting rows keep the corpus's
    ``doc_id`` range layout, so doc-keyed aggregates over them (set
    sizes, minhash signatures) need no shuffle. Explode in the SAME
    select as the shingle construction: routing the array through
    another projection/alias lets the Generate-inferred size() > 0
    predicate re-inline it, so every row builds its shingles twice.
    At 100 TB this index would be a materialized table; the shape is
    identical. Built once per (session, tier) in the index registry.
    """

    def build():
        return (
            doc_tokens(spark, sf_dir)
            .filter(F.size("w") >= 3)
            .select("doc_id", F.explode(shingles_expr(F.col("w"))).alias("shingle"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return index_registry.get(
        spark, sf_dir, "posting", build, release=lambda df: df.unpersist()
    )


def jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    restrict_docs: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    Formulation: explode to (doc, shingle), self-join on shingle with
    doc_a < doc_b, count common shingles, join per-doc set sizes, compute
    |∩| / (|A|+|B|-|∩|). The shuffle key is the shingle, so cost is
    Σ df(shingle)² — at 100 TB you cap df (stopword shingles carry no
    dedup signal) and/or pass ``restrict_docs`` (a DataFrame of doc_id)
    to verify only LSH candidates: the semi-join prunes the posting list
    BEFORE the quadratic shingle join, which is what keeps minhash
    verification proportional to candidate count, not corpus size.

    Set sizes are computed over the full corpus semantics either way
    (sizes are per-doc, unaffected by pruning).
    """
    ex = exploded_shingles(spark, sf_dir)
    if restrict_docs is not None:
        # Materialise: the pruned posting list feeds three consumers
        # (both join sides + set sizes); without it the semi-join would
        # be recomputed for each. localCheckpoint, not persist (r14):
        # identical one-compute semantics, but the lineage cut keeps
        # every consumer's plan checkpoint-scan-sized and the blocks
        # free with the GC (a per-invocation persist leaked one cached
        # frame per serving call).
        ex = ex.join(
            F.broadcast(restrict_docs.select("doc_id").distinct()), "doc_id", "left_semi"
        ).localCheckpoint()
    # set sizes are computed BEFORE any df-capping: |A| and |B| keep
    # exact semantics; the cap only thins the intersection candidates
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    if max_shingle_df is not None:
        # 100 TB knob: drop shingles occurring in more than
        # max_shingle_df docs before the quadratic join — stopword-like
        # shingles dominate Σ df² while carrying no dedup signal. This
        # UNDERCOUNTS |∩| for pairs sharing capped shingles (jaccard
        # becomes a lower bound), which is the standard recall/cost
        # trade; leave None for exact semantics.
        hot = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM (SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents)
    GROUP BY fingerprint
    ORDER BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5 of normalized text, keep-lowest-id policy.

    Scale: one hash aggregate keyed on the 128-bit fingerprint; partial
    aggregation means each executor emits one row per local fingerprint.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("fingerprint")
    )


_ORACLE_SHINGLES = r"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(w) - 1, 1)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        FROM tok
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh WHERE len(shingles) > 0),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM ex GROUP BY doc_id)
"""


@query(
    "ngram_jaccard_pairs",
    oracle=_ORACLE_SHINGLES
    + """
    , common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(common / CAST(sa.set_size + sb.set_size - common AS DOUBLE), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(common / CAST(sa.set_size + sb.set_size - common AS DOUBLE), 4) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard ≥ 0.5 via
    inverted-index join (the exact-verification baseline for minhash)."""
    return jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard").orderBy(
        "doc_a", "doc_b"
    )


def _prefix_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) candidate pairs by PREFIX FILTERING (PPJoin,
    Xiao et al., WWW'08 §3.1): order every doc's shingles by GLOBAL
    rarity (df ASC, shingle ASC — any shared total order works), keep
    only the first ``|S| − ⌈τ·|S|⌉ + 1`` per doc, and join on those
    prefix shingles. The prefix lemma: two sets with overlap ≥ ⌈τ·|S|⌉
    must collide inside these prefixes, so the candidate set is
    COMPLETE for Jaccard ≥ τ while the join touches only the rarest
    sliver of each posting list — the frequent shingles that dominate
    Σdf² in the full inverted join never enter it. ⌈τ·|S|⌉ is exact
    cross-engine: τ=0.5 times an integer is exact in double."""
    ex = exploded_shingles(spark, sf_dir)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    dfr = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    wd = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    pref = (
        ex.join(dfr, "shingle")
        .join(sizes, "doc_id")
        .withColumn("pos", F.row_number().over(wd))
        .filter(
            F.col("pos")
            <= F.col("set_size")
            - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("set_size")).cast("int")
            + 1
        )
        .select("doc_id", "shingle", "set_size", "pos")
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("set_size").alias("sa"),
        F.col("pos").alias("pa"),
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("set_size").alias("sb"),
        F.col("pos").alias("pb"),
    )
    # Two more PPJoin prunes inside the join condition, both output-
    # preserving (the equality pin vs the exact baseline holds):
    # - length filter: J ≥ τ forces min(|A|,|B|) ≥ τ·max(|A|,|B|)
    #   (the intersection fits in the smaller set, the union contains
    #   the larger);
    # - position filter: a collision at 1-based prefix positions
    #   (pa, pb) bounds the achievable overlap by 1 + min(|A|−pa,
    #   |B|−pb) (everything ordered after the match, plus the match),
    #   which must reach the τ-equivalent overlap ⌈τ/(1+τ)·(|A|+|B|)⌉
    #   — for τ=1/2 that is ⌈(|A|+|B|)/3⌉, computed as the INTEGER
    #   (sa+sb+2) div 3 so both engines agree exactly.
    return (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("sa", "sb")
                >= F.lit(JACCARD_THRESHOLD) * F.greatest("sa", "sb")
            )
            & (
                1 + F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
                >= F.expr("(sa + sb + 2) div 3")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


@query(
    "prefix_filter_jaccard_pairs",
    oracle=_ORACLE_SHINGLES
    + f"""
    , dfr AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle),
    pref AS (
        SELECT doc_id, shingle, set_size, pos FROM (
            SELECT e.doc_id, e.shingle, s.set_size,
                   row_number() OVER (
                       PARTITION BY e.doc_id ORDER BY d.df, e.shingle
                   ) AS pos
            FROM ex e
            JOIN dfr d USING (shingle)
            JOIN sizes s USING (doc_id)
        ) WHERE pos <= set_size
                       - CAST(CEIL({JACCARD_THRESHOLD} * set_size) AS INT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         AND LEAST(a.set_size, b.set_size)
             >= {JACCARD_THRESHOLD} * GREATEST(a.set_size, b.set_size)
         AND 1 + LEAST(a.set_size - a.pos, b.set_size - b.pos)
             >= (a.set_size + b.set_size + 2) // 3
    ),
    common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS common
        FROM cand c
        JOIN ex ea ON ea.doc_id = c.doc_a
        JOIN ex eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(common / CAST(sa.set_size + sb.set_size - common AS DOUBLE), 4)
               AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(common / CAST(sa.set_size + sb.set_size - common AS DOUBLE), 4)
          >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.5 near-dup pairs via PREFIX FILTERING — the
    third candidate-generation strategy in the dedup family (full
    inverted join: exact but Σdf²; minhash LSH: cheap but
    probabilistic; prefix filter: exact AND cheap — PPJoin's insight
    that only each set's rarest ``|S|−⌈τ|S|⌉+1`` shingles can witness
    a ≥τ pair). Candidates are verified with exact set intersections,
    so the output is IDENTICAL to ``ngram_jaccard_pairs`` — pinned by
    a test — while the quadratic join runs only over prefix posting
    lists.

    Scale shape: the df rank is one vocabulary-sized aggregate over
    the cached posting frame; the candidate join's cost is Σ over
    PREFIX shingles of df_prefix² — rare-by-construction, the exact
    mass the full join wastes on stopword shingles is gone.
    Verification is candidate-bounded: each pair re-joins only its own
    two shingle sets (broadcast candidates at fixture scale; the same
    joins shuffle on (doc, shingle) unchanged when the candidate frame
    outgrows a broadcast)."""
    # localCheckpoint (r14): the candidate frame feeds BOTH branches of
    # the cand_docs union below — unmaterialized, the df-rank window +
    # prefix self-join pipeline ran TWICE per invocation (measured:
    # candidates are ~2.7 s of the row's ~2.9 s at sf0.1), and the
    # formatted plan re-expanded it into a 108-Exchange tree the
    # optimizer re-walked every call (guide §3.3: materialise to
    # truncate; the blocks free with the GC)
    cand = _prefix_candidates(spark, sf_dir).localCheckpoint()
    # Verification = the SHARED minhash-verification path: prune the
    # posting list to docs appearing in any candidate, then the
    # common-count join over the pruned postings (jaccard_pairs with
    # restrict_docs — the same contract LSH verification uses). Two
    # rejected alternatives, both measured: force-broadcasting the
    # candidate PAIRS OOMs on a dup-dense corpus (candidates are
    # quadratic there), and re-joining each candidate's full shingle
    # set (cand ⋈ ex ⋈ ex) costs Σ_cand|S(a)| — 7× the direct join at
    # the dup-dense stress tier. The doc-level semi prune is never
    # worse than the full join (dense ⇒ every doc survives ⇒ same
    # join) and collapses with the candidates when they're sparse —
    # the realistic corpus — e.g. 53 docs instead of 500 at sf0.001.
    # Completeness: every true pair's BOTH docs are candidate docs,
    # and the ≥τ threshold inside jaccard_pairs discards the
    # non-candidate pairs among them exactly like the full join would.
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    return (
        jaccard_pairs(spark, sf_dir, restrict_docs=cand_docs)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


DUP_NGRAM_N = 8  # exact duplicated-span gram width (tokens)


@query(
    "cross_doc_ngram_dup",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(w) - {DUP_NGRAM_N - 2}, 1)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS shingles
        FROM tok WHERE len(w) >= {DUP_NGRAM_N}
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS gram FROM sh WHERE len(shingles) > 0),
    shared AS (SELECT gram FROM ex GROUP BY gram HAVING COUNT(*) >= 2),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM ex GROUP BY doc_id),
    hits AS (
        SELECT doc_id, COUNT(*) AS n_dup_grams
        FROM ex JOIN shared USING (gram) GROUP BY doc_id
    )
    SELECT h.doc_id, n_dup_grams, n_grams,
           ROUND(n_dup_grams / CAST(n_grams AS DOUBLE), 4) AS dup_share
    FROM hits h JOIN sizes s USING (doc_id)
    ORDER BY doc_id
    """,
)
def cross_doc_ngram_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document duplicated-n-gram report (the exact
    substring-dedup signal of Lee et al., *Deduplicating Training Data
    Makes Language Models Better*, at word-8-gram granularity): for
    each document, how many of its distinct 8-grams appear verbatim in
    at least one OTHER document, and that count's share of the doc's
    grams. Only contaminated docs are emitted — the worklist an exact
    span-removal pass consumes. Complements the SAMPLED winnow
    fingerprints (textual.py) with the exact answer.

    Plan shape: ONE tokenize+explode pass over the corpus. Doc
    frequency per gram is a window count over the gram-partitioned
    posting list (no per-gram doc lists — a boilerplate gram shared by
    millions of docs streams through the window, it never collects),
    then one groupBy(doc_id) folds both the gram total and the shared
    count. Two shuffles total (gram, then doc_id) + the presentation
    sort — never a doc-pair join, and no recomputation of the
    tokenizer (the naive 3-consumer shape re-tokenized the corpus
    three times). At 100 TB the posting list is the same materialized
    inverted index the minhash tier reads."""
    docs = load_table(spark, sf_dir, "documents")
    ex = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", tokens_expr(F.col("text")).alias("w"))
        .filter(F.size("w") >= DUP_NGRAM_N)
        .select(
            "doc_id",
            F.explode(shingles_expr(F.col("w"), n=DUP_NGRAM_N)).alias("gram"),
        )
    )
    # shingles_expr is per-doc distinct → count over the gram window
    # counts DOCS; is_dup tags every posting of a cross-doc gram
    from pyspark.sql import Window

    w = Window.partitionBy("gram")
    tagged = ex.withColumn("is_dup", F.count("*").over(w) >= 2)
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup_grams"),
            F.count("*").alias("n_grams"),
        )
        .filter(F.col("n_dup_grams") > 0)
        .select(
            "doc_id",
            "n_dup_grams",
            "n_grams",
            F.round(
                F.col("n_dup_grams") / F.col("n_grams").cast("double"), 4
            ).alias("dup_share"),
        )
        .orderBy("doc_id")
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig array<string>) — deterministic md5-based minhash.

    sig[j] = min over shingles of md5(j || ':' || shingle). Lexicographic
    min over a uniform hex hash is a valid minhash permutation and is
    bit-for-bit reproducible in any engine with md5 — which is what makes
    the LSH pipeline oracle-checkable.

    Computed as ONE hash aggregate over the exploded posting list (16
    partial mins per doc) — no arrays in flight, fully partial-
    aggregatable, the same shape at any corpus size. Consumers that
    only need band buckets should go through
    :func:`_session_band_buckets` (the cached index) instead.
    """
    return _sig_from_exploded(exploded_shingles(spark, sf_dir))


def _sig_from_exploded(ex: DataFrame) -> DataFrame:
    """(doc_id, sig) from a (doc_id, shingle) posting list — ONE hash
    aggregate, 16 partial mins per doc."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"h{j}")
        for j in range(NUM_HASHES)
    ]
    agg = ex.groupBy("doc_id").agg(*aggs)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{j}") for j in range(NUM_HASHES)]).alias("sig")
    )


def _session_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached full-corpus LSH band-bucket index (band, band_key,
    doc_id) — the standing minhash index the incremental path persists
    to parquet for the base stripe (``_persisted_bucket_index``), here
    for the whole tier, read by every batch consumer (minhash_band_buckets,
    minhash_near_dup and its dedup_clusters / dedup_keep_list /
    curation_pipeline / contrastive_triplets chain). ~LSH_BANDS rows per
    doc, localCheckpoint'd so consumers read materialized blocks instead
    of re-running the 16-hash minhash signature aggregate; derived from
    the posting list, so dropping that drops this."""
    return index_registry.get(
        spark,
        sf_dir,
        "minhash_buckets",
        lambda: _band_buckets_from_sig(minhash_signatures(spark, sf_dir)).localCheckpoint(),
        release=free_checkpoint,
    )


def _band_buckets_from_sig(sig: DataFrame) -> DataFrame:
    """(band, band_key, doc_id) LSH banding of a signature table."""
    rows_per_band = NUM_HASHES // LSH_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat(*[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])
            ).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ]
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bk"))
        .select(F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"), "doc_id")
    )


@query(
    "minhash_band_buckets",
    oracle=_ORACLE_SHINGLES
    + """
    , sig AS (
        SELECT doc_id,
               [list_aggregate(list_transform(shingles, x -> md5(CAST(j AS VARCHAR) || ':' || x)), 'min')
                FOR j IN range(0, 16)] AS sig
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, UNNEST(range(0, 4)) AS band, sig FROM sig
    )
    SELECT band,
           md5(sig[band*4+1] || sig[band*4+2] || sig[band*4+3] || sig[band*4+4]) AS band_key,
           doc_id
    FROM bands
    ORDER BY band, band_key, doc_id
    """,
)
def minhash_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band assignment: 16 minhashes → 4 bands × 4 rows; band_key =
    md5 of the concatenated band slice. Docs sharing (band, band_key) are
    near-dup candidates. Exposed as a query so the signature/banding math
    is oracle-pinned end-to-end."""
    # One explode instead of a 4-way union: the (expensive) signature
    # pipeline is evaluated once per row, not once per band. r13: reads
    # the session bucket index; only the presentation sort runs per
    # invocation.
    return _session_band_buckets(spark, sf_dir).orderBy(
        "band", "band_key", "doc_id"
    )


@query(
    "minhash_near_dup",
    oracle=_ORACLE_SHINGLES
    + """
    , sig AS (
        SELECT doc_id,
               [list_aggregate(list_transform(shingles, x -> md5(CAST(j AS VARCHAR) || ':' || x)), 'min')
                FOR j IN range(0, 16)] AS sig
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (SELECT doc_id, UNNEST(range(0, 4)) AS band, sig FROM sig),
    keyed AS (
        SELECT band,
               md5(sig[band*4+1] || sig[band*4+2] || sig[band*4+3] || sig[band*4+4]) AS band_key,
               doc_id
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keyed a JOIN keyed b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT a.doc_id AS ca, b.doc_id AS cb, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 4) AS jaccard
    FROM cand c
    JOIN common ON common.ca = c.doc_a AND common.cb = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 4) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection with exact-Jaccard verification:
    shingle → 16 minhashes → 4-band LSH → candidate pairs → verify ≥ 0.5.

    Scale: this is the 100 TB path — candidate generation shuffles on
    (band, band_key) so cost is proportional to bucket sizes, not n²; the
    verification join only touches candidate pairs.
    """
    # The (tiny: 4 rows/doc) bucket table comes off the session index —
    # it feeds a self-join plus the candidate-doc extraction, and the
    # checkpoint means no consumer ever re-runs the md5 signature
    # pipeline (r13; previously re-built + re-persisted per invocation).
    buckets = _session_band_buckets(spark, sf_dir)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # localCheckpoint, not persist (r14): same one-compute semantics
        # for the three consumers, but the lineage truncation keeps the
        # verification side's optimizer tree candidate-sized, and the
        # blocks free with the GC — a per-invocation .persist() here is
        # never unpersisted, so repeated serving leaked cached frames
        .localCheckpoint()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    verified = jaccard_pairs(spark, sf_dir, restrict_docs=cand_docs).select(
        "doc_a", "doc_b", "jaccard"
    )
    return cand.join(verified, ["doc_a", "doc_b"]).orderBy("doc_a", "doc_b")


INCR_DELTA_MOD = 10  # doc_id % 10 == 0 → the "newly ingested" delta


def _persisted_bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing LSH index: band buckets of the EXISTING corpus
    (doc_id % INCR_DELTA_MOD != 0), materialized to parquet once per
    session (a registry entry whose release removes the directory) and
    read back — the delta pipeline joins against this stored table,
    never recomputing corpus signatures. At 100 TB this is the
    persisted posting/bucket table a production dedup service
    maintains between ingests."""

    def build() -> str:
        d = tempfile.mkdtemp(prefix="lsh_index_")
        ex = exploded_shingles(spark, sf_dir).filter(
            F.col("doc_id") % INCR_DELTA_MOD != 0
        )
        _band_buckets_from_sig(_sig_from_exploded(ex)).write.parquet(
            os.path.join(d, "buckets.parquet")
        )
        return d

    d = index_registry.get(
        spark, sf_dir, "lsh_base", build,
        release=partial(shutil.rmtree, ignore_errors=True),
    )
    return spark.read.parquet(os.path.join(d, "buckets.parquet"))


@query(
    "incremental_near_dup",
    oracle=_ORACLE_SHINGLES
    + """
    , sig AS (
        SELECT doc_id,
               [list_aggregate(list_transform(shingles, x -> md5(CAST(j AS VARCHAR) || ':' || x)), 'min')
                FOR j IN range(0, 16)] AS sig
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (SELECT doc_id, UNNEST(range(0, 4)) AS band, sig FROM sig),
    keyed AS (
        SELECT band,
               md5(sig[band*4+1] || sig[band*4+2] || sig[band*4+3] || sig[band*4+4]) AS band_key,
               doc_id
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keyed a JOIN keyed b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
    ),
    common AS (
        SELECT a.doc_id AS ca, b.doc_id AS cb, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 4) AS jaccard
    FROM cand c
    JOIN common ON common.ca = c.doc_a AND common.cb = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 4) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: the delta ingest (doc_id % 10 == 0) is checked
    against the PERSISTED LSH index of the existing corpus — and among
    itself — without recomputing corpus signatures. Signature work is
    proportional to the DELTA; the index join shuffles on (band,
    band_key) exactly like the full pipeline.

    Correctness contract: because band keys are per-doc deterministic,
    the incremental result must equal the FULL recompute restricted to
    pairs touching a delta doc — which is precisely what the oracle
    computes (full pipeline + delta-pair filter). Verification uses the
    same exact-Jaccard join at ≥ 0.5.
    """
    index = _persisted_bucket_index(spark, sf_dir)
    delta_ex = exploded_shingles(spark, sf_dir).filter(
        F.col("doc_id") % INCR_DELTA_MOD == 0
    )
    # localCheckpoint, not persist (r14): the delta signature aggregate
    # runs once for both its consumers (union + join probe side) and
    # the lineage cut collapses the formatted plan's re-expanded
    # signature subtrees (80 Exchange entries of optimizer text per
    # invocation); blocks free with the GC instead of leaking
    delta = _band_buckets_from_sig(_sig_from_exploded(delta_ex)).localCheckpoint()
    everything = index.unionByName(delta)
    d = delta.alias("d")
    e = everything.alias("e")
    cand = (
        d.join(
            e,
            (F.col("d.band") == F.col("e.band"))
            & (F.col("d.band_key") == F.col("e.band_key"))
            & (F.col("d.doc_id") != F.col("e.doc_id")),
        )
        .select(
            F.least(F.col("d.doc_id"), F.col("e.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("e.doc_id")).alias("doc_b"),
        )
        .distinct()
        .localCheckpoint()  # r14: see minhash_near_dup's cand note
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    verified = jaccard_pairs(spark, sf_dir, restrict_docs=cand_docs).select(
        "doc_a", "doc_b", "jaccard"
    )
    return cand.join(verified, ["doc_a", "doc_b"]).orderBy("doc_a", "doc_b")


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash bigint) — 48-bit SimHash over unigram tokens.

    Token hash = first 12 hex chars of md5 as int (portable). Bit k of the
    signature is 1 iff Σ_tokens (±1 per token's bit k) > 0. Computed as a
    single exploded aggregate: 48 conditional sums, then bit-packed.
    48 bits keeps the packed value double-safe (< 2^53) for any engine
    that routes integers through floats, and is discriminative enough
    that banded Hamming pairing stays selective on small vocabularies.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens_expr(F.col("text"))).alias("tok")
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long"))
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << k)) != 0, 1).otherwise(-1)
        ).alias(f"b{k}")
        for k in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    packed = None
    for k in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.cast("long").alias("simhash"))


def _simhash_oracle() -> str:
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h & {1 << k}) != 0 THEN 1 ELSE -1 END) AS b{k}"
        for k in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(SIMHASH_BITS)
    )
    return rf"""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h FROM tok
    ),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM hashed GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM bits
    )"""


@query(
    "simhash_signatures",
    oracle=_simhash_oracle() + "\n    SELECT doc_id, simhash FROM sigs ORDER BY doc_id",
)
def simhash_signatures_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature per document (see simhash_signatures)."""
    return simhash_signatures(spark, sf_dir).orderBy("doc_id")


def _simhash_combo_values() -> str:
    return ", ".join(
        f"({t}, {c[0]}, {c[1]}, {c[2]})" for t, c in enumerate(SIMHASH_COMBOS)
    )


def _simhash_pairs_cte() -> str:
    """Block-permutation candidate CTEs (through ``pairs``) shared by
    the pair and cluster oracles."""
    return f"""
    , combos(tbl, i0, i1, i2) AS (VALUES {_simhash_combo_values()}),
    keyed AS (
        SELECT s.doc_id, s.simhash, c.tbl,
               ((s.simhash >> (c.i0 * {_SIMHASH_BLOCK_WIDTH})) & {_SIMHASH_BLOCK_MASK})
               + (((s.simhash >> (c.i1 * {_SIMHASH_BLOCK_WIDTH})) & {_SIMHASH_BLOCK_MASK}) * 256)
               + (((s.simhash >> (c.i2 * {_SIMHASH_BLOCK_WIDTH})) & {_SIMHASH_BLOCK_MASK}) * 65536)
                   AS band_key
        FROM sigs s CROSS JOIN combos c
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sa, b.simhash AS sb
        FROM keyed a JOIN keyed b
          ON a.tbl = b.tbl AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )"""


@query(
    "simhash_near_dup",
    oracle=_simhash_oracle()
    + _simhash_pairs_cte()
    + """
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Manku block-permutation candidate
    generation (6 blocks of 8 bits, keys = every C(6,3)=20 3-block
    combination — see SIMHASH_COMBOS) then the exact Hamming <= 3
    filter via bit_count(xor).

    Completeness: <= 3 differing bits dirty <= 3 of the 6 blocks, so 3
    clean blocks always exist and their combination collides — the
    final pair set is exactly all pairs at Hamming <= 3, identical to
    any complete banding, and the oracle replays the same block keys.

    Scale: join keys are 24-bit block combinations + table id, so
    random-pair collisions per table are n^2/2^24 — candidate mass
    tracks TRUE duplicate mass, not a constant-bucket-count quadratic
    (the failure mode of contiguous 12-bit bands at corpus scale). The
    20-way key explode is map-side; the join shuffles on (tbl, key).
    """
    sig = simhash_signatures(spark, sf_dir)

    def combo_key(c: tuple[int, int, int]) -> Column:
        b0 = F.shiftrightunsigned(
            F.col("simhash"), c[0] * _SIMHASH_BLOCK_WIDTH
        ).bitwiseAND(F.lit(_SIMHASH_BLOCK_MASK))
        b1 = F.shiftrightunsigned(
            F.col("simhash"), c[1] * _SIMHASH_BLOCK_WIDTH
        ).bitwiseAND(F.lit(_SIMHASH_BLOCK_MASK))
        b2 = F.shiftrightunsigned(
            F.col("simhash"), c[2] * _SIMHASH_BLOCK_WIDTH
        ).bitwiseAND(F.lit(_SIMHASH_BLOCK_MASK))
        return b0 + b1 * 256 + b2 * 65536

    keyed = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[combo_key(c) for c in SIMHASH_COMBOS])).alias(
            "tbl", "band_key"
        ),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= 3).orderBy("doc_a", "doc_b")


@query(
    "simhash_clusters",
    oracle=_simhash_oracle().replace("WITH tok", "WITH RECURSIVE tok")
    + _simhash_pairs_cte()
    + """
    , spairs AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sa, sb)) <= 3
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM spairs
        UNION
        SELECT doc_b, doc_a FROM spairs
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach
    GROUP BY a
    ORDER BY doc_id
    """,
)
def simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CLUSTERS — the scale-safe output shape (the
    `embedding_lsh_clusters` / `dedup_clusters` pattern applied to the
    SimHash tier): Hamming<=3 pairs route through connected components
    to O(n) (doc_id, cluster_id = component min) labels; pairs-mode
    output is inherently quadratic in cluster size and remains the
    diagnostic surface."""
    pairs = simhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    return (
        connected_components(pairs)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")
    )


# Driver union-find cutover: ~100 B/edge collected ⇒ 1M edges ≈ 100 MB
# driver heap, comfortably safe at default driver memory. Above it, the
# distributed label-propagation path (pointer-jumping, O(log diameter)
# rounds) takes over — it is equivalence-tested against union-find
# including long-diameter components, so the threshold is a latency
# knob, not a correctness cliff.
DRIVER_CC_EDGE_LIMIT = 1_000_000


def connected_components(
    pairs: DataFrame, max_iter: int = 25, driver_limit: int = DRIVER_CC_EDGE_LIMIT
) -> DataFrame:
    """Connected components by smallest-id label propagation: every doc
    in a near-dup pair gets cluster_id = min doc_id of its component.

    Hybrid execution, both paths producing identical labels:
    - pair set under ``driver_limit`` (the overwhelmingly common case —
      LSH already shrank the graph to actual near-dup edges, orders of
      magnitude smaller than the corpus): collect the EDGES (not the
      corpus) and run union-find on the driver. One job, O(E α(E)).
    - larger: iterative min-label propagation — one shuffle per round,
      converging in O(component diameter) rounds; the driver only sees
      the per-round convergence count."""
    spark = pairs.sparkSession
    pairs = pairs.persist()
    n_edges = pairs.count()
    if n_edges <= driver_limit:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs.select("doc_a", "doc_b").collect():
            a, b = r["doc_a"], r["doc_b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by smaller root so the representative is the min id
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        rows = sorted((doc, find(doc)) for doc in parent)
        return spark.createDataFrame(rows, "doc_id long, cluster_id long")
    # persist: edges feed every iteration's join — without a
    # materialization boundary each round would re-derive the (possibly
    # expensive) pair pipeline upstream
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .persist()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("cluster_id").alias("neighbor_label"))
        )
        propagated = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("neighbor_label"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer-jump (path compression): replace each label by ITS
        # OWN label. Plain min-propagation spreads one hop per round —
        # a chain component of diameter d would need d rounds and
        # max_iter would silently truncate it; with jumping the spread
        # doubles per round, so convergence is O(log d) and max_iter=25
        # covers any component up to ~2^25 hops.
        parents = propagated.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("parent_label"),
        )
        # localCheckpoint (not persist): iterative self-referencing
        # plans double in size every round — persist caches the DATA but
        # keeps the logical plan, and by ~10 rounds plan compilation
        # itself OOMs. Checkpointing truncates the lineage so each round
        # starts from a materialized leaf. (On a real cluster with
        # unreliable executors, use spark.sparkContext.setCheckpointDir +
        # .checkpoint() for a fault-tolerant cut instead.)
        new_labels = (
            propagated.join(parents, "cluster_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("parent_label"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels


# minhash -> LSH -> verify -> transitive closure, terminating in
# ``reach`` — shared by dedup_clusters and the end-to-end curation
# pipeline oracle (which labels representatives the same way)
_CLUSTER_LABEL_CTES = """
    , sig AS (
        SELECT doc_id,
               [list_aggregate(list_transform(shingles, x -> md5(CAST(j AS VARCHAR) || ':' || x)), 'min') FOR j IN range(0, 16)] AS sig
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (SELECT doc_id, UNNEST(range(0, 4)) AS band, sig FROM sig),
    keyed AS (
        SELECT band,
               md5(sig[band*4+1] || sig[band*4+2] || sig[band*4+3] || sig[band*4+4]) AS band_key,
               doc_id
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keyed a JOIN keyed b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT a.doc_id AS ca, b.doc_id AS cb, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN common ON common.ca = c.doc_a AND common.cb = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 4) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )"""


@query(
    "dedup_clusters",
    oracle=_ORACLE_SHINGLES.replace("WITH tok", "WITH RECURSIVE tok")
    + _CLUSTER_LABEL_CTES
    + """
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach
    GROUP BY a
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: minhash pairs → connected components →
    (doc_id, cluster_id = component minimum). The keep-one-per-cluster
    dedup decision is then `keep where doc_id == cluster_id`.

    The oracle replays the whole chain in SQL: deterministic minhash →
    LSH → verified pairs → recursive transitive closure → min label."""
    pairs = minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    return (
        connected_components(pairs)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")
    )


@query(
    "dedup_keep_list",
    oracle=_ORACLE_SHINGLES.replace("WITH tok", "WITH RECURSIVE tok")
    + _CLUSTER_LABEL_CTES
    + """
    , clusters AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS kept
    FROM documents d LEFT JOIN clusters c USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION the training corpus actually consumes: every
    document with its near-dup cluster id (its own id when it belongs
    to no cluster) and ``kept`` — keep-lowest-id-per-cluster, so the
    surviving corpus is singletons plus one representative per
    near-dup component. Closes the loop from detection
    (:func:`minhash_near_dup` → :func:`dedup_clusters`) to the
    keep/drop verdict a rewrite pass applies.

    Scale shape: the cluster frame is output-bounded (docs touched by
    any near-dup pair, tiny on a healthy corpus), so the gate is a
    broadcast LEFT join against the corpus scan — the same pattern as
    the source blocklist; no new shuffles beyond the cluster chain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(spark, sf_dir)
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return (
        docs.join(F.broadcast(clusters), "doc_id", "left")
        .select(
            "doc_id",
            cid.alias("cluster_id"),
            (cid == F.col("doc_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


_TRIPLET_A, _TRIPLET_B, _TRIPLET_C = 48271, 1103, 9973


def _triplets_oracle() -> str:
    from lakehouse_admin_spark.registry import QUERIES

    pair_sql = QUERIES["minhash_near_dup"].oracle
    return f"""
    WITH pairs AS ({pair_sql}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    base AS (
        SELECT doc_a AS anchor, doc_b AS positive,
               (doc_a * {_TRIPLET_A} + doc_b * {_TRIPLET_B}) % n.n_docs AS n0,
               n.n_docs AS n_docs
        FROM pairs CROSS JOIN n
    )
    SELECT anchor, positive,
           CASE WHEN n0 <> anchor AND n0 <> positive THEN n0
                WHEN (n0 + {_TRIPLET_C}) % n_docs <> anchor
                     AND (n0 + {_TRIPLET_C}) % n_docs <> positive
                    THEN (n0 + {_TRIPLET_C}) % n_docs
                ELSE (n0 + 2 * {_TRIPLET_C}) % n_docs END AS negative
    FROM base
    ORDER BY anchor, positive
    """


@query("contrastive_triplets", oracle=_triplets_oracle())
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining: (anchor, positive) = the LSH
    near-dup pairs; negative = a deterministic pseudo-random document
    (MINSTD mix of the pair ids mod corpus size, skipping collisions
    with the pair — three candidates spaced by a prime are always
    distinct mod N, so at most two can collide). The negative draw
    costs one projection on top of the near-dup join; at 100 TB
    hard-negative mining would swap the draw for an ANN lookup, same
    pipeline shape. Deterministic end to end — the oracle replays the
    LSH pairs AND the draw."""
    pairs = minhash_near_dup(spark, sf_dir).select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("positive")
    )
    # corpus size as a one-row broadcast aggregate (the oracle's n CTE
    # + CROSS JOIN), not an eager .count() driver action — keeps the
    # query a single lazy job (r13); all-integer modular arithmetic is
    # unchanged
    n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    nd = F.col("n_docs")
    n0 = (F.col("anchor") * _TRIPLET_A + F.col("positive") * _TRIPLET_B) % nd
    n1 = (n0 + _TRIPLET_C) % nd
    n2 = (n0 + 2 * _TRIPLET_C) % nd

    def ok(c):
        return (c != F.col("anchor")) & (c != F.col("positive"))

    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "anchor",
            "positive",
            F.when(ok(n0), n0).when(ok(n1), n1).otherwise(n2).alias("negative"),
        )
        .orderBy("anchor", "positive")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) — the rolling-hash chunker behind
# dedup storage systems (LBFS/Venti lineage) applied to the corpus:
# chunk boundaries land where a hash of the trailing token window hits
# a modulus, so INSERTIONS only perturb the chunks they touch — unlike
# fixed-size chunking, where one inserted token shifts every later
# boundary. Cross-doc duplicated chunks are the shift-robust exact-dup
# signal complementing cross_doc_ngram_dup's fixed n-grams.
# ---------------------------------------------------------------------------
CDC_WINDOW = 4  # trailing tokens hashed per boundary test
CDC_MOD = 16  # boundary when h % MOD == 0 → mean chunk ≈ 16 tokens


def _cdc_chunk_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_hash, n_tokens) — one row per CDC chunk
    occurrence; the chunker shared by the dup report and the
    chunk-Jaccard pair miner. Pure JVM array algebra in the scan. The
    chunk-level twin of the shingle posting list: deterministic md5
    boundaries, localCheckpoint'd once per (session, tier), because
    the dup report fans the chunker into four consumer subtrees and
    Spark does not dedupe common subplans."""
    return index_registry.get(
        spark,
        sf_dir,
        "cdc_chunks",
        lambda: _cdc_chunk_hashes_build(spark, sf_dir).localCheckpoint(),
        release=free_checkpoint,
    )


def _cdc_chunk_hashes_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    d = docs.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", toks.alias("toks")
    )
    w = CDC_WINDOW
    bpos = F.when(
        F.size("toks") >= w,
        F.expr(
            f"filter(sequence({w}, size(toks)), i -> "
            f"pmod(conv(substring(md5(concat_ws(' ', slice(toks, i - {w - 1}, {w}))), 1, 12), 16, 10), {CDC_MOD}) = 0)"
        ),
    ).otherwise(F.array().cast("array<int>"))
    b = d.select(
        "doc_id",
        "toks",
        F.concat(
            F.array(F.lit(0)), bpos.cast("array<int>"), F.array(F.size("toks"))
        ).alias("bounds"),
    )
    ch = b.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(bounds) - 1), j -> "
                "slice(toks, element_at(bounds, j) + 1, "
                "element_at(bounds, j + 1) - element_at(bounds, j))), "
                "c -> size(c) > 0)"
            )
        ).alias("chunk"),
    )
    return ch.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_hash"),
        F.size("chunk").alias("n_tokens"),
    )


@query(
    "cdc_chunk_dup",
    oracle=rf"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    w AS (
        SELECT doc_id, toks,
               list_filter(range({CDC_WINDOW}, len(toks) + 1),
                   i -> CAST(('0x' || substr(md5(array_to_string(
                            list_slice(toks, i - {CDC_WINDOW - 1}, i), ' ')),
                            1, 12)) AS BIGINT) % {CDC_MOD} = 0
               ) AS bpos
        FROM d
    ),
    b AS (
        SELECT doc_id, toks,
               list_concat([0], list_concat(bpos, [len(toks)])) AS bounds
        FROM w
    ),
    ch AS (
        SELECT doc_id,
               UNNEST(list_filter(
                   list_transform(range(1, len(bounds)),
                       j -> list_slice(toks, bounds[j] + 1, bounds[j + 1])),
                   c -> len(c) > 0)) AS chunk
        FROM b
    ),
    h AS (
        SELECT doc_id, md5(array_to_string(chunk, ' ')) AS chunk_hash,
               len(chunk) AS n_tokens
        FROM ch
    )
    SELECT chunk_hash, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM h
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash
    """,
)
def cdc_chunk_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup report: tokens chunk at
    positions where the md5 of the trailing {4}-token window hits
    ``% 16 == 0`` (mean chunk ≈ 16 tokens), and the report lists every
    chunk appearing in ≥2 distinct documents. Because boundaries
    derive from CONTENT, an insertion or deletion only re-chunks its
    local neighborhood — the property backup/dedup stores build on and
    what makes this the shift-robust complement to fixed-n-gram
    duplicate detection (cross_doc_ngram_dup).

    Scale shape: chunking is pure JVM array algebra inside the scan
    (window hashes, boundary filter, slice transform — no Python, no
    shuffle); the only corpus-sized exchange keys on the CHUNK HASH
    for a partial-combinable (n_docs, n_occurrences) fold, so cost is
    chunk mass, never a doc pair. Deterministic md5 boundaries make
    the oracle replay chunking bit-for-bit."""
    h = _cdc_chunk_hashes(spark, sf_dir)
    return (
        h.groupBy("chunk_hash")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("chunk_hash"))
    )


CDC_PAIR_DF_CAP = 20  # chunks in more docs than this are dropped from
# the pair evidence (near-zero signal, longest posting lists)
CDC_PAIR_TAU = 0.5  # rare-chunk Jaccard threshold


@query(
    "cdc_chunk_jaccard_pairs",
    oracle=rf"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    w AS (
        SELECT doc_id, toks,
               list_filter(range({CDC_WINDOW}, len(toks) + 1),
                   i -> CAST(('0x' || substr(md5(array_to_string(
                            list_slice(toks, i - {CDC_WINDOW - 1}, i), ' ')),
                            1, 12)) AS BIGINT) % {CDC_MOD} = 0
               ) AS bpos
        FROM d
    ),
    b AS (
        SELECT doc_id, toks,
               list_concat([0], list_concat(bpos, [len(toks)])) AS bounds
        FROM w
    ),
    ch AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               md5(array_to_string(UNNEST(list_filter(
                   list_transform(range(1, len(bounds)),
                       j -> list_slice(toks, bounds[j] + 1, bounds[j + 1])),
                   c -> len(c) > 0)), ' ')) AS chunk_hash
        FROM b
    ),
    rare AS MATERIALIZED (
        SELECT chunk_hash FROM ch
        GROUP BY chunk_hash HAVING COUNT(*) <= {CDC_PAIR_DF_CAP}
    ),
    cr AS MATERIALIZED (SELECT ch.* FROM ch JOIN rare USING (chunk_hash)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM cr GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_chunks
        FROM cr a JOIN cr b
          ON b.chunk_hash = a.chunk_hash AND b.doc_id > a.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b, CAST(s.shared_chunks AS BIGINT) AS shared_chunks,
           ROUND(s.shared_chunks /
                 CAST(sa.n + sb.n - s.shared_chunks AS DOUBLE), 6) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE s.shared_chunks / CAST(sa.n + sb.n - s.shared_chunks AS DOUBLE)
          >= {CDC_PAIR_TAU}
    ORDER BY doc_a, doc_b
    """,
)
def cdc_chunk_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by RARE-CHUNK Jaccard ≥ 0.5 over the CDC
    chunk sets — the shift-robust complement to word-3-gram Jaccard
    (:func:`ngram_jaccard_pairs`): an insertion that shifts every
    3-gram after the edit leaves the CDC chunk set almost intact, so
    edited near-dups keep a high score here. Chunks appearing in more
    than {20} documents are dropped from the evidence on BOTH sides of
    the ratio (they carry near-zero signal and own the longest posting
    lists — the same economy as BM25's df gate).

    Scale shape: candidate pairs come from the chunk-hash posting join
    (never all pairs); the df cap bounds each posting list, so pair
    volume is Σ df² over rare chunks, and the Jaccard fold is one
    partial-combinable aggregate keyed on the pair."""
    ch = _cdc_chunk_hashes(spark, sf_dir).select("doc_id", "chunk_hash").distinct()
    rare = (
        ch.groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CDC_PAIR_DF_CAP)
        .select("chunk_hash")
    )
    cr = ch.join(rare, "chunk_hash")
    sizes = cr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = cr.select(F.col("doc_id").alias("doc_a"), "chunk_hash")
    bb = cr.select(F.col("doc_id").alias("doc_b"), "chunk_hash")
    shared = (
        a.join(bb, "chunk_hash")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared_chunks") / (
        F.col("na") + F.col("nb") - F.col("shared_chunks")
    ).cast("double")
    return (
        shared.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= CDC_PAIR_TAU)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared_chunks").cast("long").alias("shared_chunks"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
