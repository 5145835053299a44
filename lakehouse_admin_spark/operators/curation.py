r"""Training-corpus curation operators over the ``documents`` table.

The downstream half of a pretraining data pipeline (no counterpart in
the reference, which manages tables, not corpora): deterministic
stratified sampling, benchmark-contamination detection, concat-and-chunk
sequence packing, mixture-weight computation, and PII pattern counts.

Everything is built-in Spark SQL (JVM-side, whole-stage codegen) — no
Python UDFs — and every randomized-looking step is md5-derived so the
DuckDB oracle replays it bit-for-bit:

- sampling keeps a doc when ``substr(md5(doc_id), 1, 4)`` falls below a
  per-source hex threshold — rate control with zero RNG state, stable
  under re-runs and partition changes (the property a 100 TB pipeline
  needs: re-executing a failed stage must not change the sample).
- contamination joins corpus 5-gram shingles against a broadcast eval
  set; the shuffle key is the shingle, never a doc pair, so cost is the
  posting-list size, not |corpus| × |eval|.
- packing is one window cumsum per source partition: chunk ids are
  arithmetic over the running token count, not a sequential scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.index_registry import free_checkpoint
from lakehouse_admin_spark.operators.dedup import doc_tokens, shingles_expr, tokens_expr
from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.tables import load_table

# Per-source sampling rates as 16-bit hex thresholds: a doc survives when
# the first 4 hex chars of md5(doc_id) sort below the threshold, so
# '4000' keeps ~25%, 'c000' ~75%. Even/odd sources get different rates to
# make the stratification visible in the output.
SAMPLE_THRESHOLDS = {f"src{i}": ("c000" if i % 2 == 0 else "4000") for i in range(20)}

SEQ_LEN = 256  # tokens per packed training sequence (concat-and-chunk)

# Deterministic eval split for the contamination check: ~5% of doc ids.
EVAL_MOD, EVAL_KEEP = 100, 5

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def _sample_key() -> F.Column:
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)


@query(
    "stratified_sample",
    oracle=r"""
    WITH rates AS (
        SELECT 'src' || CAST(i AS VARCHAR) AS source,
               CASE WHEN i % 2 = 0 THEN 'c000' ELSE '4000' END AS threshold
        FROM range(0, 20) t(i)
    )
    SELECT d.doc_id, d.source, r.threshold
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.threshold
    ORDER BY d.doc_id
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source downsampling: md5-keyed keep decision
    against a broadcast per-source threshold table.

    The rates table joins broadcast (20 rows); the keep predicate is a
    scan-local projection+filter, so the whole sample is one pass with
    no shuffle — and the same doc survives no matter how the input is
    partitioned or how many times a stage retries.
    """
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [(s, t) for s, t in SAMPLE_THRESHOLDS.items()], "source string, threshold string"
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(_sample_key() < F.col("threshold"))
        .select("doc_id", "source", "threshold")
        .orderBy("doc_id")
    )


@query(
    "contamination_check",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 1)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
               )) AS shingles
        FROM tok WHERE len(w) >= 4
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
    eval_grams AS (
        SELECT DISTINCT shingle FROM ex WHERE doc_id % 100 < 5
    ),
    corpus AS (SELECT * FROM ex WHERE doc_id % 100 >= 5),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN eval_grams e ON c.shingle = e.shingle
        GROUP BY c.doc_id
    )
    SELECT h.doc_id, h.n_shared, s.n_shingles,
           ROUND(h.n_shared / CAST(s.n_shingles AS DOUBLE), 4) AS overlap
    FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
    ORDER BY h.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination report: for each corpus document, the
    count and share of its distinct 4-gram shingles that also occur in
    the held-out eval split (doc_id % 100 < 5).

    Plan shape: one shingle posting list, split into eval/corpus sides;
    the eval side is distinct-ed and broadcast (the eval set is the
    small, curated side by construction), so the probe is a broadcast
    hash join against the corpus postings — no shuffle keyed on doc
    pairs, and the corpus side streams. Only contaminated docs
    (n_shared > 0) are emitted, which is the report a decontamination
    pass consumes.
    """
    docs = load_table(spark, sf_dir, "documents")
    ex = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", tokens_expr(F.col("text")).alias("w"))
        .filter(F.size("w") >= 4)
        .select("doc_id", F.explode(shingles_expr(F.col("w"), n=4)).alias("shingle"))
    )
    is_eval = (F.col("doc_id") % EVAL_MOD) < EVAL_KEEP
    eval_grams = ex.filter(is_eval).select("shingle").distinct()
    corpus = ex.filter(~is_eval)
    # r13 (guide §2.3/§2.4): sizes and hits were two separate
    # aggregations of the corpus postings (two doc_id shuffles + a
    # join, and a third tokenize+shingle pass for the sizes branch).
    # One LEFT join against the broadcast distinct eval-gram set tags
    # each posting (multiplicity 1 — eval_grams is distinct), so ONE
    # groupBy(doc_id) folds both the total and the shared count; the
    # inner-join semantics of `hits` become the n_shared > 0 filter.
    marked = corpus.join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "shingle", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("hit").alias("n_shared"),
            F.count("*").alias("n_shingles"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            F.round(F.col("n_shared") / F.col("n_shingles").cast("double"), 4).alias("overlap"),
        )
        .orderBy("doc_id")
    )


@query(
    "sequence_packing",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        FROM tok WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens, start_tok,
           CAST(start_tok // {SEQ_LEN} AS BIGINT) AS first_chunk,
           CAST((start_tok + n_tokens - 1) // {SEQ_LEN} AS BIGINT) AS last_chunk
    FROM cum
    ORDER BY doc_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    doc_id order within each source and cut into SEQ_LEN-token training
    sequences; each doc's span of chunk ids is pure arithmetic over the
    running token count.

    One window cumsum per source partition — the shuffle is keyed on
    source, and chunk assignment needs no sequential pass. At 100 TB
    the partition key becomes (source, shard) with per-shard chunk-id
    offsets composed the same way (cumsum of shard totals), which keeps
    every window bounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    # repartition BY SOURCE (not round-robin): it satisfies the window's
    # required hashpartitioning(source) so no second exchange appears,
    # while still spreading the tokenizer off the single-row-group scan.
    toks = (
        docs.repartition("source")
        .select("doc_id", "source", tokens_expr(F.col("text")).alias("w"))
        .select("doc_id", "source", F.size("w").cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = toks.withColumn("start_tok", F.coalesce(F.sum("n_tokens").over(win), F.lit(0)))
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_tok",
        (F.col("start_tok") / SEQ_LEN).cast("long").alias("first_chunk"),
        ((F.col("start_tok") + F.col("n_tokens") - 1) / SEQ_LEN).cast("long").alias("last_chunk"),
    ).orderBy("doc_id")


@query(
    "mixture_weights",
    oracle=r"""
    WITH tok AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    per_source AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM tok GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           ROUND(total_tokens / CAST(SUM(total_tokens) OVER () AS DOUBLE), 6) AS actual_share,
           ROUND(0.05 / (total_tokens / CAST(SUM(total_tokens) OVER () AS DOUBLE)), 4)
               AS weight_to_uniform
    FROM per_source
    ORDER BY source
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token shares and the sampling weight that would move
    the mixture to uniform (1/20 per source) — the bookkeeping behind a
    domain-mixing config.

    Partial-aggregating groupBy to 20 rows, then a trivial global
    window over those 20 rows; the expensive side is map-side combined
    and nothing larger than the source list is ever shuffled.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("source", F.size(tokens_expr(F.col("text"))).cast("long").alias("n_tokens"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )
    total = Window.partitionBy()
    share = F.col("total_tokens") / F.sum("total_tokens").over(total).cast("double")
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(share, 6).alias("actual_share"),
        F.round(F.lit(1.0 / len(SAMPLE_THRESHOLDS)) / share, 4).alias("weight_to_uniform"),
    ).orderBy("source")


RESERVOIR_N = 100  # fixed-size deterministic sample


@query(
    "deterministic_reservoir",
    oracle=f"""
    SELECT doc_id, source, rank FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    AS INT) AS rank
        FROM documents
    ) WHERE rank <= {RESERVOIR_N}
    ORDER BY rank
    """,
)
def deterministic_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample without RNG state: the N smallest
    md5(doc_id) values. Equivalent in distribution to reservoir
    sampling, but deterministic — a retried or re-partitioned 100 TB
    job reproduces the identical sample, and the selection is a
    distributed top-N (per-partition TakeOrdered + k-row merge), never
    a global sort or a stateful sequential pass."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    # orderBy + limit plans as TakeOrderedAndProject (per-partition
    # top-N + k-row merge); the rank window then runs over N rows only
    topn = (
        docs.select("doc_id", "source", key.alias("_k"))
        .orderBy("_k", "doc_id")
        .limit(RESERVOIR_N)
    )
    w = Window.orderBy("_k", "doc_id")
    return (
        topn.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "source", "rank")
        .orderBy("rank")
    )


VAL_FRAC = 0.125  # held-out fraction per source (exact binary double:
# 0.125 * n computes identically in Spark and DuckDB, so the CEIL
# boundary can never disagree cross-engine — the ROUND(a/b) lesson)


@query(
    "train_val_split",
    oracle=f"""
    SELECT doc_id, source, split FROM (
        SELECT doc_id, source,
               CASE WHEN row_number() OVER (
                        PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    <= CEIL({VAL_FRAC} * COUNT(*) OVER (PARTITION BY source))
                    THEN 'val' ELSE 'train' END AS split
        FROM documents
    ) ORDER BY doc_id
    """,
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val split — the assignment every
    training pipeline needs BEFORE contamination checks make sense: per
    source, the VAL_FRAC fraction with the smallest md5(doc_id) goes to
    'val', the rest to 'train'. md5-rank (not modulo) keeps the split
    exact per stratum (ceil(frac·n) docs, never ±1 drift from id gaps),
    reproducible under retries/repartitioning, and independent of
    ingestion order — new docs added later perturb only the boundary
    ranks of their own source.

    Scale shape: one shuffle on the stratum key feeding BOTH windows
    (rank and per-source count share the partitioning — Spark plans a
    single exchange); no join, no driver state. A pathologically hot
    source concentrates its rank window on one partition — the same
    documented caveat as every per-source rollup here (AQE skew
    handling; or pre-aggregate counts and broadcast them to shard the
    rank by salted sub-windows if a stratum outgrows an executor)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    wc = Window.partitionBy("source")
    return (
        docs.select("doc_id", "source")
        .withColumn("_rn", F.row_number().over(ws))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("_rn") <= F.ceil(F.lit(VAL_FRAC) * F.col("_n")),
                F.lit("val"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


# Quality-filter chain thresholds (applied in order; a doc's
# fail_reason is the FIRST tripped filter, the usual pipeline telemetry)
MIN_TOKENS = 25
MIN_ALPHA_RATIO = 0.81


@query(
    "quality_filter_pipeline",
    oracle=rf"""
    WITH m AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS BIGINT)
                   AS n_tokens,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / CAST(length(text) AS DOUBLE) AS alpha_ratio,
               (regexp_matches(text, '{PII_EMAIL}')
                OR regexp_matches(text, '{PII_PHONE}')) AS has_pii
        FROM documents
    )
    SELECT doc_id, n_tokens, ROUND(alpha_ratio, 6) AS alpha_ratio,
           CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
                WHEN alpha_ratio < {MIN_ALPHA_RATIO} THEN 'low_alpha'
                WHEN has_pii THEN 'pii'
                ELSE NULL END AS fail_reason,
           (n_tokens >= {MIN_TOKENS} AND alpha_ratio >= {MIN_ALPHA_RATIO}
            AND NOT has_pii) AS kept
    FROM m
    ORDER BY doc_id
    """,
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained quality filters with per-document verdicts: token-count
    floor, alphabetic-character ratio, PII presence — `fail_reason` is
    the first tripped filter (the telemetry a curation pipeline reports
    per drop), `kept` the surviving mask.

    One projection pass over the scan (all measures are codegen'd
    expressions); at 100 TB the same frame feeds both the kept-corpus
    write and the per-reason drop accounting without a second scan."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_expr(F.col("text"))).cast("long")
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.length(
        "text"
    ).cast("double")
    has_pii = (F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0)) > 0) | (
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), 0)) > 0
    )
    m = docs.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        has_pii.alias("has_pii"),
    )
    fail = (
        F.when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("alpha_ratio") < MIN_ALPHA_RATIO, "low_alpha")
        .when(F.col("has_pii"), "pii")
        .otherwise(F.lit(None).cast("string"))
    )
    kept = (
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("alpha_ratio") >= MIN_ALPHA_RATIO)
        & ~F.col("has_pii")
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        fail.alias("fail_reason"),
        kept.alias("kept"),
    ).orderBy("doc_id")


# Domain-level gate: a source survives when at least half its docs pass
# the per-doc quality chain (C4/RefinedWeb-style URL/domain filtering —
# aggregate quality, not per-doc, decides whole-domain drops)
SOURCE_KEEP_SHARE = 0.5


@query(
    "source_quality_rollup",
    oracle=rf"""
    WITH m AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS BIGINT)
                   AS n_tokens,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / CAST(length(text) AS DOUBLE) AS alpha_ratio,
               (regexp_matches(text, '{PII_EMAIL}')
                OR regexp_matches(text, '{PII_PHONE}')) AS has_pii
        FROM documents
    ),
    v AS (
        SELECT source, n_tokens, alpha_ratio,
               (n_tokens >= {MIN_TOKENS} AND alpha_ratio >= {MIN_ALPHA_RATIO}
                AND NOT has_pii) AS kept
        FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN kept THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 4)
               AS kept_share,
           ROUND(AVG(CAST(n_tokens AS DOUBLE)), 2) AS avg_tokens,
           ROUND(AVG(alpha_ratio), 4) AS avg_alpha,
           (SUM(CASE WHEN kept THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE))
               >= {SOURCE_KEEP_SHARE} AS source_kept
    FROM v
    GROUP BY source
    ORDER BY source
    """,
)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation rollup: per source, doc count, per-doc
    quality-gate pass count/share (same chain as
    :func:`quality_filter_pipeline`), mean token count, mean alphabetic
    ratio, and the SOURCE-level keep decision (``kept_share >= 0.5``) —
    the C4/RefinedWeb pattern where aggregate domain quality, not the
    individual page, decides whole-domain drops.

    Plan shape: one projection pass computes the per-doc measures, one
    map-side-combinable groupBy(source) folds them; the keep decision
    is exact integer arithmetic (n_kept/n_docs), so the boundary cannot
    drift between engines. At 100 TB sources are the natural partition
    key of a crawl corpus, so this agg shuffles tiny pre-combined
    state, and the emitted blocklist is a broadcast-sized dim for the
    follow-up filter join."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_expr(F.col("text"))).cast("long")
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.length(
        "text"
    ).cast("double")
    has_pii = (F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0)) > 0) | (
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), 0)) > 0
    )
    kept = (
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("alpha_ratio") >= MIN_ALPHA_RATIO)
        & ~F.col("has_pii")
    )
    v = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "source",
            n_tokens.alias("n_tokens"),
            alpha_ratio.alias("alpha_ratio"),
            has_pii.alias("has_pii"),
        )
        .withColumn("kept", kept)
    )
    share = F.sum(F.when(F.col("kept"), 1).otherwise(0)) / F.count("*").cast("double")
    return (
        v.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            F.round(share, 4).alias("kept_share"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 2).alias("avg_tokens"),
            F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha"),
            (share >= SOURCE_KEEP_SHARE).alias("source_kept"),
        )
        .orderBy("source")
    )


# Dynamic-threshold gate: keep docs at or above their language's 25th
# percentile of alphabetic ratio ("keep the top 75% per language" — the
# per-distribution cutoff pattern used for perplexity filtering, where a
# single global threshold over-prunes whole languages)
GATE_PCTL = 0.25


@query(
    "quality_percentile_gate",
    oracle=rf"""
    WITH m AS (
        SELECT doc_id, lang,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / CAST(length(text) AS DOUBLE) AS alpha_ratio
        FROM documents
    ),
    cut AS (
        SELECT lang, quantile_cont(alpha_ratio, {GATE_PCTL}) AS cutoff
        FROM m GROUP BY lang
    )
    SELECT m.doc_id, m.lang,
           ROUND(m.alpha_ratio, 6) AS alpha_ratio,
           ROUND(c.cutoff, 6) AS lang_cutoff,
           m.alpha_ratio >= c.cutoff AS kept
    FROM m JOIN cut c USING (lang)
    ORDER BY m.doc_id
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic per-language quality threshold: keep every document at
    or above its language's 25th percentile of alphabetic ratio — the
    per-distribution cutoff pattern (CCNet-style perplexity buckets)
    that a single global threshold cannot express without over-pruning
    whole languages whose signal distribution sits lower.

    The cutoff is the EXACT interpolated percentile (Spark
    ``percentile`` == DuckDB ``quantile_cont``, both the (n-1)·p linear
    interpolation), computed per language in one groupBy and broadcast
    back — the per-group state is one sorted-summary per language, and
    the keep decision compares the raw doubles (both engines derive
    bit-identical ratios from the same integer lengths, so the boundary
    cannot drift). At 100 TB exact percentile becomes
    ``approx_percentile`` with a pinned accuracy — the plan shape
    (tiny per-lang cutoff dim, broadcast gate join) is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id",
        "lang",
        (
            F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
            / F.length("text").cast("double")
        ).alias("alpha_ratio"),
    )
    cut = m.groupBy("lang").agg(
        F.expr(f"percentile(alpha_ratio, {GATE_PCTL})").alias("cutoff")
    )
    return (
        m.join(F.broadcast(cut), "lang")
        .select(
            "doc_id",
            "lang",
            F.round("alpha_ratio", 6).alias("alpha_ratio"),
            F.round("cutoff", 6).alias("lang_cutoff"),
            (F.col("alpha_ratio") >= F.col("cutoff")).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "pii_counts",
    oracle=rf"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '{PII_EMAIL}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(text, '{PII_PHONE}'))) AS BIGINT) AS n_phones,
           CAST(SUM(CASE WHEN regexp_matches(text, '{PII_EMAIL}')
                           OR regexp_matches(text, '{PII_PHONE}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_docs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def pii_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure report: per-source counts of email- and phone-shaped
    matches plus how many documents carry at least one. The detection is
    regexp_extract_all in the scan projection (codegen'd, no UDF); a
    scrubbing pass would reuse the same patterns with regexp_replace.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_emails = F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0))
    n_phones = F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), 0))
    return (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "source",
            n_emails.alias("e"),
            n_phones.alias("p"),
            ((n_emails > 0) | (n_phones > 0)).cast("int").alias("flagged"),
        )
        .groupBy("source")
        .agg(
            F.sum("e").cast("long").alias("n_emails"),
            F.sum("p").cast("long").alias("n_phones"),
            F.sum("flagged").cast("long").alias("n_flagged_docs"),
        )
        .orderBy("source")
    )


# Overlapping token-window chunking (the RAG / context-window prep step)
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@query(
    "doc_chunks",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             UNNEST(range(0, CASE WHEN len(w) <= {CHUNK_TOKENS} THEN 1
                          ELSE CAST(ceil((len(w) - {CHUNK_TOKENS}) / {_CHUNK_STRIDE}.0) AS BIGINT) + 1 END))
               AS chunk_idx
      FROM t WHERE len(w) > 0
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS BIGINT) AS start_token,
           CAST(len(w[CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS INTEGER)
                      :CAST(chunk_idx * {_CHUNK_STRIDE} + {CHUNK_TOKENS} AS INTEGER)]) AS BIGINT)
             AS n_tokens,
           w[CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS INTEGER)] AS first_token
    FROM c ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: 64-token chunks with 16-token
    overlap (stride 48), final partial chunk kept — the windowing step
    that fans documents out to embedding / context-window units.

    All in-row array arithmetic (sequence + slice), no shuffle at all:
    the explode multiplies rows ~n_tokens/stride-fold but stays inside
    the scan stage, so at 100 TB this is a map-only fan-out whose
    output feeds the embedding stage's repartition."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", tokens_expr(F.col("text")).alias("w"))
        .withColumn("n", F.size("w"))
        .filter(F.col("n") > 0)
    )
    n_chunks = F.when(F.col("n") <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.ceil((F.col("n") - CHUNK_TOKENS) / float(_CHUNK_STRIDE)) + 1
    )
    c = t.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    )
    start = F.col("chunk_idx") * _CHUNK_STRIDE + 1
    chunk = F.slice(F.col("w"), start, CHUNK_TOKENS)
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.element_at(F.col("w"), start.cast("int")).alias("first_token"),
    ).orderBy("doc_id", "chunk_idx")


@query("dataset_card", oracle=r"""
    WITH t AS (
        SELECT doc_id, lang, source, n_chars,
               len(list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x != '')) AS n_tokens,
               md5(text) AS fp
        FROM documents
    ),
    dups AS (
        SELECT CAST(SUM(c - 1) AS BIGINT) AS dup_docs
        FROM (SELECT fp, COUNT(*) AS c FROM t GROUP BY fp)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           ROUND(AVG(n_tokens), 4) AS avg_doc_tokens,
           ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS en_share,
           (SELECT dup_docs FROM dups) AS exact_dup_docs
    FROM t
    """)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card — the summary block of a corpus datasheet:
    doc/token/lang/source counts, average length, language share, and
    the exact-duplicate count (md5 fingerprints). Reads the tier's
    token corpus (``dedup.doc_tokens``), so a serve never tokenizes:
    one scan of the cached corpus + one fingerprint aggregate; every
    number is replayed by the oracle from raw rows."""
    t = doc_tokens(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        F.size("w").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    dup_docs = (
        t.groupBy("fp")
        .agg((F.count(F.lit(1)) - 1).alias("extra"))
        .agg(F.sum("extra").cast("long").alias("exact_dup_docs"))
    )
    card = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_tokens"), 4).alias("avg_doc_tokens"),
        F.round(
            F.sum((F.col("lang") == "en").cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("en_share"),
    )
    return card.crossJoin(F.broadcast(dup_docs))


def _curation_pipeline_oracle() -> str:
    from lakehouse_admin_spark.operators.dedup import (
        _CLUSTER_LABEL_CTES,
        _ORACLE_SHINGLES,
    )

    return (
        _ORACLE_SHINGLES.replace("WITH tok", "WITH RECURSIVE tok")
        + _CLUSTER_LABEL_CTES
        + rf"""
    , labels AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    ),
    q AS (
        SELECT d.doc_id, d.source,
               CAST(len(list_filter(string_split_regex(lower(d.text), '\s+'), x -> x != '')) AS BIGINT)
                   AS n_tokens,
               length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g'))
                   / CAST(length(d.text) AS DOUBLE) AS alpha_ratio,
               (regexp_matches(d.text, '{PII_EMAIL}')
                OR regexp_matches(d.text, '{PII_PHONE}')) AS has_pii,
               l.cluster_id
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ),
    verdicts AS (
        SELECT source, n_tokens,
               (cluster_id IS NULL OR cluster_id = doc_id) AS rep,
               (n_tokens >= {MIN_TOKENS} AND alpha_ratio >= {MIN_ALPHA_RATIO}
                AND NOT has_pii) AS quality_ok
        FROM q
    )
    SELECT source,
           CAST(SUM(CASE WHEN rep AND quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN NOT rep THEN 1 ELSE 0 END) AS BIGINT) AS dup_dropped,
           CAST(SUM(CASE WHEN rep AND NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS quality_dropped,
           CAST(SUM(CASE WHEN rep AND quality_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM verdicts
    GROUP BY source
    ORDER BY source
    """
    )


@query("curation_pipeline", oracle=_curation_pipeline_oracle())
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data curation pass, composed from the
    engine's own operators: minhash near-dup clustering keeps one
    representative per cluster (the component-minimum doc — exactly
    ``dedup_clusters``' labels), survivors pass the quality gate
    (token floor, alpha ratio, PII — ``quality_filter_pipeline``'s
    conditions), and the output is the per-source curation ledger a
    pipeline reports: kept docs, dup drops, quality drops, kept token
    budget. Dedup precedence: a non-representative is counted as a dup
    drop regardless of quality (dedup runs first in a real pipeline).

    Scale shape: cluster labels ride the sub-quadratic LSH + CC path;
    the quality gate is one codegen'd projection over the scan; the
    final aggregate is one map-side-combined groupBy(source). The
    oracle replays the entire chain — minhash, banding, verification,
    transitive closure, quality, and the fold — in one SQL statement."""
    from lakehouse_admin_spark.operators.dedup import (
        connected_components,
        minhash_near_dup,
    )

    labels = connected_components(
        minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    )
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_expr(F.col("text"))).cast("long")
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.length(
        "text"
    ).cast("double")
    has_pii = (F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0)) > 0) | (
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), 0)) > 0
    )
    q = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            "source",
            n_tokens.alias("n_tokens"),
            alpha_ratio.alias("alpha_ratio"),
            has_pii.alias("has_pii"),
        )
        .join(F.broadcast(labels), "doc_id", "left")
    )
    rep = F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    quality_ok = (
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("alpha_ratio") >= MIN_ALPHA_RATIO)
        & ~F.col("has_pii")
    )
    v = q.select(
        "source",
        "n_tokens",
        rep.alias("rep"),
        quality_ok.alias("quality_ok"),
    )
    return (
        v.groupBy("source")
        .agg(
            F.sum((F.col("rep") & F.col("quality_ok")).cast("int"))
            .cast("long")
            .alias("kept_docs"),
            F.sum((~F.col("rep")).cast("int")).cast("long").alias("dup_dropped"),
            F.sum((F.col("rep") & ~F.col("quality_ok")).cast("int"))
            .cast("long")
            .alias("quality_dropped"),
            F.sum(
                F.when(F.col("rep") & F.col("quality_ok"), F.col("n_tokens")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw-pool document by how much a bag of
# hashed n-gram features looks like a curated TARGET corpus, then keep
# the top slice. The published estimator: bucket unigrams+bigrams into B
# hash buckets, fit Laplace-smoothed bucket LMs over target and raw, and
# weight each doc by sum_b count_db * log(p_target(b) / p_raw(b)).
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 512  # hashed feature dimension B
DSIR_KEEP_PCTL = 0.75  # keep the top 25% of the raw pool by importance
# target split: a deterministic curated slice (English docs in the low
# doc_id stripe); the raw pool is everything else, including other langs
_DSIR_TARGET = "lang = 'en' AND doc_id % 10 < 2"


_DSIR_W_CTE = rf"""
    WITH tok AS (
        SELECT doc_id, ({_DSIR_TARGET}) AS is_target,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_target, UNNEST(toks) AS g FROM tok
        UNION ALL
        SELECT doc_id, is_target,
               UNNEST(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM tok
    ),
    hb AS (
        SELECT doc_id, is_target,
               CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT)
                   % {DSIR_BUCKETS} AS bucket
        FROM grams
    ),
    bc AS (
        SELECT bucket,
               SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
        FROM hb GROUP BY bucket
    ),
    tots AS (
        SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS nt,
               SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS nr
        FROM hb
    ),
    db AS (
        SELECT doc_id, bucket, COUNT(*) AS cdb
        FROM hb WHERE NOT is_target GROUP BY doc_id, bucket
    ),
    w AS (
        SELECT db.doc_id,
               CAST(SUM(cdb) AS BIGINT) AS n_grams,
               ROUND(SUM(cdb * ln(((bc.ct + 1.0) / (tots.nt + {DSIR_BUCKETS}.0))
                         / ((bc.cr + 1.0) / (tots.nr + {DSIR_BUCKETS}.0)))), 4)
                   AS logw
        FROM db JOIN bc USING (bucket) CROSS JOIN tots
        GROUP BY db.doc_id
    )
    """


@query(
    "dsir_importance",
    oracle=_DSIR_W_CTE
    + rf""",
    cut AS (SELECT quantile_cont(logw, {DSIR_KEEP_PCTL}) AS cutoff FROM w)
    SELECT w.doc_id, w.n_grams, w.logw, w.logw >= c.cutoff AS selected
    FROM w CROSS JOIN cut c
    ORDER BY w.doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): per-document importance
    weight of every RAW-pool doc against a curated TARGET split, from
    Laplace-smoothed hashed-n-gram bucket LMs —
    ``logw = Σ_b c_db · ln(p_tgt(b)/p_raw(b))`` over B=512 md5 buckets
    of unigrams+bigrams — plus a ``selected`` verdict keeping the top
    25% by weight (the resampling budget; the deterministic
    top-percentile rule stands in for the paper's Gumbel draw so both
    engines agree bit-for-bit).

    Scale shape: ONE tokenize+explode pass over the corpus with a
    broadcastable B-row bucket LM pair — the per-doc weight is a join
    on the bucket id and a map-side-combinable sum, so the only
    corpus-sized shuffle keys are (bucket) and (doc_id, bucket). The
    cutoff is the exact interpolated percentile over 4dp-ROUNDED
    weights (rounding before the cutoff makes both engines interpolate
    identical inputs — per-doc float sums are order-sensitive in the
    last ulp); at 100 TB it swaps to ``approx_percentile`` with the
    plan shape unchanged, and the bucket LMs train once per target."""
    w = _dsir_weights(spark, sf_dir)
    cut = w.agg(F.expr(f"percentile(logw, {DSIR_KEEP_PCTL})").alias("cutoff"))
    return (
        w.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "n_grams",
            "logw",
            (F.col("logw") >= F.col("cutoff")).alias("selected"),
        )
        .orderBy("doc_id")
    )


def _dsir_gram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or fetch) the session (doc_id, is_target, bucket, cdb)
    hashed-gram bucket counts — the DSIR sufficient statistic every
    estimator consumer re-aggregates (the paper precomputes exactly
    this hashed-n-gram representation once), built once per (session,
    tier) in the index registry. EAGERLY localCheckpoint'd — the
    consumers fan out as CONCURRENT subtrees of one action (broadcast
    builds run in parallel with the main stages), and an unmaterialized
    cache makes them race: each racer re-runs the full tokenize
    pipeline before any of them populates the cache (measured r13:
    dsir_importance 2.4→4.3 s after the totals went lazy, back to
    1.9 s with the eager cut)."""
    return index_registry.get(
        spark, sf_dir, "dsir", lambda: _dsir_gram_counts_build(spark, sf_dir),
        variant="gram_counts", release=free_checkpoint,
    )


def _dsir_gram_counts_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    B = DSIR_BUCKETS
    toks = tokens_expr(F.col("text"))
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id",
        F.expr(_DSIR_TARGET).alias("is_target"),
        toks.alias("toks"),
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat(
                F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select(
            "doc_id",
            "is_target",
            F.explode(F.concat(F.col("toks"), bigrams)).alias("g"),
        )
        .withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring(F.md5("g"), 1, 12), 16, 10).cast("long"), F.lit(B)
            ),
        )
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count("*").alias("cdb"))
        .localCheckpoint()
    )


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, logw) — the DSIR estimator frame over the raw
    pool (shared by the percentile gate and the Gumbel resampler).
    ONE tokenize+explode pass per SESSION (the cached gram-count
    frame); bc / totals / per-doc frames all re-aggregate that bounded
    frame (≤ docs×B rows) instead of re-running the explode (Spark
    does not dedupe common subplans)."""
    g = _dsir_gram_counts(spark, sf_dir)
    B = DSIR_BUCKETS
    bc = g.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("cdb")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(F.col("cdb"))).alias("cr"),
    )
    # LM mass totals as a one-row aggregate folded into bc itself (the
    # oracle's tots CTE): re-aggregating the B-row bc frame costs
    # nothing and keeps the whole weights frame LAZY — the previous
    # eager .collect() forced a separate driver job per invocation
    # before any consumer could even build its plan (r13). Summing bc
    # instead of g is the same exact integer total.
    tot = bc.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
    )
    db = g.filter(~F.col("is_target")).select("doc_id", "bucket", "cdb")
    rb = F.log(
        ((F.col("ct") + 1.0) / (F.col("nt").cast("double") + B))
        / ((F.col("cr") + 1.0) / (F.col("nr").cast("double") + B))
    )
    return (
        db.join(F.broadcast(bc.crossJoin(F.broadcast(tot))), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cdb").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("cdb") * rb), 4).alias("logw"),
        )
    )


DSIR_SAMPLE_K = 100  # resampled budget (Gumbel-top-k draw size)
_GUMBEL_DENOM = float((1 << 48) + 1)  # md5-48-bit → uniform in (0,1)


@query(
    "dsir_gumbel_topk",
    oracle=_DSIR_W_CTE
    + rf""",
    keyed AS (
        SELECT doc_id, logw,
               ROUND(logw - ln(-ln(
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                         AS BIGINT) + 1) / {_GUMBEL_DENOM}
               )), 4) AS gumbel_key
        FROM w
    )
    SELECT doc_id, logw, gumbel_key,
           CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS INT)
               AS draw_rank
    FROM keyed
    ORDER BY draw_rank LIMIT {DSIR_SAMPLE_K}
    """,
)
def dsir_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING half of DSIR, faithful to the paper: a
    Gumbel-top-k draw of {100} documents proportional to their
    importance weights — ``key = logw + Gumbel(0,1)``, take the k
    largest — with the Gumbel noise derived from a SEEDED md5 uniform
    (``u = (h48(doc_id)+1)/(2^48+1)``, ``g = −ln(−ln u)``) so the
    "random" draw is deterministic, re-executable after stage retries,
    and bit-replayable by the oracle (the same property every sampling
    op in this engine has). The percentile gate in
    :func:`dsir_importance` is the deterministic-budget variant; this
    is the stochastic-sampling variant — both consume the same
    :func:`_dsir_weights` frame.

    Scale shape: the weights frame is the DSIR estimator (one
    tokenize pass, broadcast bucket LMs); the draw adds one projection
    and a top-k — TakeOrdered over n keys, never a global sort of
    anything larger."""
    w = _dsir_weights(spark, sf_dir)
    h48 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    u = (h48 + F.lit(1)) / F.lit(_GUMBEL_DENOM)
    key = F.round(F.col("logw") - F.log(-F.log(u)), 4)
    win = Window.orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
    return (
        w.select("doc_id", "logw", key.alias("gumbel_key"))
        .withColumn("draw_rank", F.row_number().over(win).cast("int"))
        .filter(F.col("draw_rank") <= DSIR_SAMPLE_K)
        .orderBy("draw_rank")
    )


# ---------------------------------------------------------------------------
# Incremental DSIR — the production serving shape of the estimator: the
# bucket LMs and the keep/drop threshold are trained ONCE on the frozen
# base corpus, then every NEW (delta) document is scored against that
# frozen model with one delta-only scan. Nothing corpus-sized is ever
# recomputed when data arrives — the same never-rescan contract as
# ann_incremental_assign / incremental_near_dup.
# ---------------------------------------------------------------------------
_DSIR_DELTA = "doc_id % 7 = 3"  # the delta stripe (new arrivals); target
# docs are never delta (kind precedence: target > delta > raw)

def _dsir_frozen_lm(spark: SparkSession, sf_dir: str) -> tuple[list[float], float]:
    """Train the frozen DSIR model on the BASE corpus (everything
    outside the delta stripe): per-bucket Laplace-smoothed log-ratios
    ``rb = ln(p_tgt(b)/p_raw(b))`` for all B buckets (buckets with no
    base mass get the smoothing-only ratio — they still carry signal:
    an unseen bucket is evidence against the smaller corpus), plus the
    keep threshold = the DSIR_KEEP_PCTL percentile of the base raw
    pool's own weights. Model state is B doubles + 1 scalar, cached per
    (session, tier) as the "frozen_lm" variant of the registry's "dsir"
    entry, and broadcastable; the training pass is the same single
    tokenize+fold as :func:`_dsir_weights`."""
    return index_registry.get(
        spark, sf_dir, "dsir", lambda: _dsir_train_lm(spark, sf_dir),
        variant="frozen_lm",
    )


def _dsir_train_lm(spark: SparkSession, sf_dir: str) -> tuple[list[float], float]:
    from pyspark.storagelevel import StorageLevel

    B = DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.expr(f"({_DSIR_TARGET}) OR NOT ({_DSIR_DELTA})"))
    toks = tokens_expr(F.col("text"))
    t = base.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", F.expr(_DSIR_TARGET).alias("is_target"), toks.alias("toks")
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat(
                F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = (
        t.select(
            "doc_id",
            "is_target",
            F.explode(F.concat(F.col("toks"), bigrams)).alias("g"),
        )
        .withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring(F.md5("g"), 1, 12), 16, 10).cast("long"), F.lit(B)
            ),
        )
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count("*").alias("cdb"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bc_rows = (
        g.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_target"), F.col("cdb")).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("is_target"), 0).otherwise(F.col("cdb"))).alias("cr"),
        )
        .collect()
    )  # ≤ B rows of model state
    nt = float(sum(r["ct"] for r in bc_rows))
    nr = float(sum(r["cr"] for r in bc_rows))
    # rb for every bucket, including base-unseen ones (ct = cr = 0)
    rb = [math.log((1.0 / (nt + B)) / (1.0 / (nr + B)))] * B
    for r in bc_rows:
        rb[int(r["bucket"])] = math.log(
            ((r["ct"] + 1.0) / (nt + B)) / ((r["cr"] + 1.0) / (nr + B))
        )
    rb_df = spark.createDataFrame(
        [(i, rb[i]) for i in range(B)], "bucket long, rb double"
    )
    w_base = (
        g.filter(~F.col("is_target"))
        .join(F.broadcast(rb_df), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("cdb") * F.col("rb")), 4).alias("logw"))
    )
    cutoff = float(
        w_base.agg(F.expr(f"percentile(logw, {DSIR_KEEP_PCTL})").alias("c")).collect()[
            0
        ]["c"]
    )
    g.unpersist()
    return rb, cutoff


@query(
    "dsir_incremental",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               CASE WHEN ({_DSIR_TARGET}) THEN 't'
                    WHEN {_DSIR_DELTA} THEN 'd'
                    ELSE 'r' END AS kind,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id, kind, UNNEST(toks) AS g FROM tok
        UNION ALL
        SELECT doc_id, kind,
               UNNEST(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM tok
    ),
    hb AS MATERIALIZED (
        SELECT doc_id, kind,
               CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT)
                   % {DSIR_BUCKETS} AS bucket
        FROM grams
    ),
    bc AS MATERIALIZED (
        SELECT bucket,
               SUM(CASE WHEN kind = 't' THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN kind = 'r' THEN 1 ELSE 0 END) AS cr
        FROM hb WHERE kind <> 'd' GROUP BY bucket
    ),
    tots AS (
        SELECT SUM(CASE WHEN kind = 't' THEN 1 ELSE 0 END) AS nt,
               SUM(CASE WHEN kind = 'r' THEN 1 ELSE 0 END) AS nr
        FROM hb WHERE kind <> 'd'
    ),
    w_base AS (
        SELECT db.doc_id,
               ROUND(SUM(cdb * ln(((bc.ct + 1.0) / (tots.nt + {DSIR_BUCKETS}.0))
                         / ((bc.cr + 1.0) / (tots.nr + {DSIR_BUCKETS}.0)))), 4)
                   AS logw
        FROM (SELECT doc_id, bucket, COUNT(*) AS cdb
              FROM hb WHERE kind = 'r' GROUP BY 1, 2) db
        JOIN bc USING (bucket) CROSS JOIN tots
        GROUP BY db.doc_id
    ),
    cut AS (SELECT quantile_cont(logw, {DSIR_KEEP_PCTL}) AS cutoff FROM w_base),
    w_delta AS (
        SELECT db.doc_id, CAST(SUM(cdb) AS BIGINT) AS n_grams,
               ROUND(SUM(cdb * ln(
                   ((COALESCE(bc.ct, 0) + 1.0) / (tots.nt + {DSIR_BUCKETS}.0))
                   / ((COALESCE(bc.cr, 0) + 1.0) / (tots.nr + {DSIR_BUCKETS}.0))
               )), 4) AS logw
        FROM (SELECT doc_id, bucket, COUNT(*) AS cdb
              FROM hb WHERE kind = 'd' GROUP BY 1, 2) db
        LEFT JOIN bc USING (bucket) CROSS JOIN tots
        GROUP BY db.doc_id
    )
    SELECT w.doc_id, w.n_grams, w.logw, w.logw >= c.cutoff AS selected
    FROM w_delta w CROSS JOIN cut c
    ORDER BY w.doc_id
    """,
)
def dsir_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR: score DELTA documents (the ``doc_id % 7 = 3``
    raw-pool stripe, standing in for newly-arrived data) against the
    FROZEN base model — bucket LMs and the keep threshold trained once
    on everything outside the stripe by :func:`_dsir_frozen_lm` — so
    admitting new data costs one delta-only scan plus a broadcast join
    against B=512 doubles. New docs are judged by yesterday's
    threshold, exactly how a production ingest gate works: the base
    corpus is never re-tokenized and the cutoff never drifts as deltas
    arrive (contrast :func:`dsir_importance`, which re-ranks the whole
    pool). Buckets the base corpus never produced still score via the
    Laplace smoothing-only ratio, so unseen features penalize toward
    the larger pool rather than being dropped.

    Scale shape: warm-path cost is O(delta) — the documents scan
    carries the pushed-down stripe predicate, the LM join is a
    broadcast of B rows, and the per-doc weight is one
    map-side-combinable sum. The model (B doubles + 1 cutoff scalar)
    is cached per (session, tier) in the index registry; invalidate
    "dsir" after a rewrite — the ann_incremental_assign contract applied
    to data selection."""
    rb, cutoff = _dsir_frozen_lm(spark, sf_dir)
    B = DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.expr(_DSIR_DELTA) & ~F.expr(_DSIR_TARGET))
    toks = tokens_expr(F.col("text"))
    # repartition BEFORE tokenizing: the parquet is a handful of row
    # groups, and the regex tokenizer is the CPU cost — without this
    # the delta scan runs ~single-task
    t = delta.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", toks.alias("toks")
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat(
                F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rb_df = spark.createDataFrame(
        [(i, rb[i]) for i in range(B)], "bucket long, rb double"
    )
    db = (
        t.select("doc_id", F.explode(F.concat(F.col("toks"), bigrams)).alias("g"))
        .withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring(F.md5("g"), 1, 12), 16, 10).cast("long"), F.lit(B)
            ),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cdb"))
    )
    return (
        db.join(F.broadcast(rb_df), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cdb").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("cdb") * F.col("rb")), 4).alias("logw"),
        )
        .select(
            "doc_id",
            "n_grams",
            "logw",
            (F.col("logw") >= F.lit(cutoff)).alias("selected"),
        )
        .orderBy("doc_id")
    )


MIX_BUDGET_EPOCHS = 4  # token budget = this many corpus-equivalents


@query(
    "mixture_epoch_plan",
    oracle=rf"""
    WITH tok AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    per_source AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM tok GROUP BY source
    ),
    plan AS (
        SELECT source, total_tokens,
               (SUM(total_tokens) OVER () * {MIX_BUDGET_EPOCHS})
                   // COUNT(*) OVER () AS quota_tokens
        FROM per_source
    )
    SELECT source, total_tokens, CAST(quota_tokens AS BIGINT) AS quota_tokens,
           ROUND(quota_tokens / CAST(total_tokens AS DOUBLE), 4) AS epochs,
           quota_tokens / CAST(total_tokens AS DOUBLE) > 1.0 AS oversampled
    FROM plan ORDER BY source
    """,
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe repetition plan: flatten the source mixture to
    UNIFORM under a {MIX_BUDGET_EPOCHS}-corpus-equivalent token budget
    — each source's quota is budget // n_sources and ``epochs`` is how
    many passes over that source the quota buys (the repetition factor
    a LLaMA/Gopher-style data recipe publishes per source; >1 means the
    source is oversampled/repeated, <1 means subsampled — feed the <1
    rows to `stratified_sample` and the >1 rows to the packing stage
    with a repeat count). Complements `mixture_weights` (which reports
    the CURRENT shares): this is the prescription, that is the
    diagnosis. Quota arithmetic is integer (`(T·{MIX_BUDGET_EPOCHS})
    // S`); the epochs ratio is one double division rounded 4dp —
    bit-identical cross-engine.

    Scale shape: one tokenize pass into a |sources|-row aggregate; the
    budget/count windows run over that tiny frame (unpartitioned
    window over |sources| rows, not the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("source", tokens_expr(F.col("text")).alias("w"))
        .select("source", F.size("w").cast("long").alias("n_tokens"))
    )
    per_source = toks.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("total_tokens")
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    plan = per_source.select(
        "source",
        "total_tokens",
        (F.sum("total_tokens").over(w) * MIX_BUDGET_EPOCHS).alias("budget"),
        F.count(F.lit(1)).over(w).alias("n_sources"),
    ).selectExpr(
        "source",
        "total_tokens",
        # integer DIV — the oracle's // exactly, no double detour
        "CAST(budget DIV n_sources AS LONG) AS quota_tokens",
    )
    epochs = F.col("quota_tokens") / F.col("total_tokens").cast("double")
    return plan.select(
        "source",
        "total_tokens",
        "quota_tokens",
        F.round(epochs, 4).alias("epochs"),
        (epochs > 1.0).alias("oversampled"),
    ).orderBy("source")
