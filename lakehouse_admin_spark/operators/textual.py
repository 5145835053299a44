r"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline extensions (no counterpart in the reference, which
handles no document data): token counting, quality scoring, stopword-based
language scoring, and content fingerprinting. Everything is built-in
Spark SQL (JVM-side, whole-stage codegen) — no Python UDFs — so the same
expressions run unchanged over 100 TB of documents.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.index_registry import free_checkpoint
from lakehouse_admin_spark.operators.dedup import doc_tokens, tokens_expr
from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.tables import load_table


# Tiny per-language marker lexicons for the n-gram/stopword language
# heuristic. Deliberately minimal — the operator shape (token join against
# a broadcast lexicon) is what matters at scale.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


@query(
    "text_stats",
    oracle=r"""
    SELECT doc_id,
           n_chars,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS BIGINT)
               AS n_tokens,
           CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x != ''))) AS BIGINT)
               AS n_distinct_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: char count, token count, vocabulary
    size. One narrow projection per row."""
    t = doc_tokens(spark, sf_dir)
    return t.select(
        "doc_id",
        "n_chars",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size("w").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("w")).cast("long").alias("n_distinct_tokens"),
    ).orderBy("doc_id")


@query(
    "text_quality",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    )
    SELECT doc_id, lang,
           ROUND(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
                 / CAST(len(w) AS DOUBLE), 4) AS stopword_ratio,
           ROUND(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) AS ttr,
           ROUND(list_avg(list_transform(w, x -> CAST(length(x) AS DOUBLE))), 4) AS avg_token_len
    FROM t
    WHERE len(w) > 0
    ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, type-token ratio, mean token
    length — the standard cheap filters of a pretraining data pipeline.
    All array expressions, vectorized JVM-side."""
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    tagged = doc_tokens(spark, sf_dir).filter(F.size("w") > 0)
    return tagged.select(
        "doc_id",
        "lang",
        F.round(
            F.size(F.filter(F.col("w"), lambda x: F.array_contains(stop_arr, x)))
            / F.size("w").cast("double"),
            4,
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.array_distinct("w")) / F.size("w").cast("double"), 4
        ).alias("ttr"),
        F.round(
            F.aggregate(
                F.col("w"),
                F.lit(0.0),
                lambda acc, x: acc + F.length(x).cast("double"),
            )
            / F.size("w").cast("double"),
            4,
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


@query(
    "lang_stopword_scores",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(AVG(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
                     / CAST(len(w) AS DOUBLE)), 4) AS avg_en_score
    FROM t
    WHERE len(w) > 0
    GROUP BY lang
    ORDER BY lang
    """,
)
def lang_stopword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic aggregated per labeled language: average
    English-stopword hit-rate. (Real lang-ID = argmax over per-language
    lexicons; the per-language score column is the building block.)"""
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    tagged = doc_tokens(spark, sf_dir).filter(F.size("w") > 0)
    score = F.size(F.filter(F.col("w"), lambda x: F.array_contains(stop_arr, x))) / F.size(
        "w"
    ).cast("double")
    return (
        tagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(F.avg(score), 4).alias("avg_en_score"),
        )
        .orderBy("lang")
    )


@query(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
           md5(lower(trim(text))) AS content_md5,
           CAST(('0x' || substr(md5(lower(trim(text))), 1, 15)) AS BIGINT) AS fingerprint60
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full md5 plus a 60-bit integer prefix
    (join-friendly numeric fingerprint). Portable across engines."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return docs.select(
        "doc_id",
        fp.alias("content_md5"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint60"),
    ).orderBy("doc_id")


# Character-trigram language profiles (Cavnar/Trenkle "N-Gram-Based
# Text Categorization", SDAIR 1994): top-M trigrams per labeled
# language, rank weights M..1. Integer scoring keeps cross-engine
# comparison exact (no float argmax ties).
NGRAM_PROFILE_M = 50


_LANG_ID_NGRAM_ORACLE = f"""
    WITH s AS (SELECT doc_id, lang, lower(trim(text)) AS s FROM documents),
    g AS (
        SELECT doc_id, lang, UNNEST(list_transform(range(1, length(s) - 1),
               i -> substring(s, CAST(i AS INTEGER), 3))) AS gram
        FROM s WHERE length(s) >= 3
    ),
    counts AS (SELECT lang, gram, COUNT(*) AS cnt FROM g GROUP BY lang, gram),
    profile AS (
        SELECT lang, gram, CAST({NGRAM_PROFILE_M} - rnk + 1 AS BIGINT) AS weight
        FROM (
            SELECT lang, gram, row_number() OVER (
                PARTITION BY lang ORDER BY cnt DESC, gram) AS rnk
            FROM counts
        ) WHERE rnk <= {NGRAM_PROFILE_M}
    ),
    scores AS (
        SELECT g.doc_id, p.lang, CAST(SUM(p.weight) AS BIGINT) AS score
        FROM g JOIN profile p ON g.gram = p.gram
        GROUP BY g.doc_id, p.lang
    )
    SELECT doc_id, lang AS predicted, score FROM (
        SELECT doc_id, lang, score, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, lang) AS r
        FROM scores
    ) WHERE r = 1
    ORDER BY doc_id
    """


def _char_trigrams(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """(*cols, gram) — one exploded character-trigram row per position,
    normalization (lower/trim/length-gate) identical for the training
    and classification passes."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(*cols, F.lower(F.trim(F.col("text"))).alias("s"))
        .filter(F.length("s") >= 3)
        .select(
            *cols,
            F.explode(
                F.expr("transform(sequence(1, length(s) - 2, 1), i -> substring(s, i, 3))")
            ).alias("gram"),
        )
    )


def _session_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (or fetch) the per-language top-M trigram profile (lang,
    gram, weight) — |langs|×NGRAM_PROFILE_M rows of model state, the
    same contract as the BPE merge table / SQ stats / DSIR bucket LMs:
    deterministic per tier, localCheckpoint'd once per session in the
    index registry, broadcast into every classify pass."""
    from pyspark.sql.window import Window

    def build():
        counts = (
            _char_trigrams(spark, sf_dir, "lang")
            .groupBy("lang", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        rw = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
        return (
            counts.withColumn("rnk", F.row_number().over(rw))
            .filter(F.col("rnk") <= NGRAM_PROFILE_M)
            .select(
                "lang",
                "gram",
                (F.lit(NGRAM_PROFILE_M) - F.col("rnk") + 1).cast("long").alias("weight"),
            )
            .localCheckpoint()
        )

    return index_registry.get(
        spark, sf_dir, "lang_profile", build, release=free_checkpoint
    )


@query("lang_id_ngram", oracle=_LANG_ID_NGRAM_ORACLE)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by character-trigram profiles: train top-M trigrams
    per labeled language with rank weights M..1, classify each document
    by the max integer weight-sum (tie → lexicographic language).

    Scale shape: the profile is |langs|*M rows — a trained model,
    session-cached (localCheckpoint) and broadcast; classification is
    ONE gram pass over the corpus (explode + broadcast join + per-doc
    aggregation), linear in corpus characters with no big-side shuffle
    until the per-doc aggregate. r13: training previously re-ran per
    invocation through a per-call persist of the full exploded gram
    frame — serving now pays one corpus pass instead of two and leaks
    nothing."""
    from pyspark.sql.window import Window

    profile = _session_lang_profile(spark, sf_dir)
    grams = _char_trigrams(spark, sf_dir, "doc_id")
    scores = (
        grams.select("doc_id", "gram")
        .join(F.broadcast(profile.withColumnRenamed("lang", "plang")), "gram")
        .groupBy("doc_id", "plang")
        .agg(F.sum("weight").cast("long").alias("score"))
    )
    pw = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("plang"))
    return (
        scores.withColumn("r", F.row_number().over(pw))
        .filter(F.col("r") == 1)
        .select("doc_id", F.col("plang").alias("predicted"), "score")
        .orderBy("doc_id")
    )


# Winnowing parameters (Schleimer/Wilkerson/Aiken, "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD 2003): k-gram size,
# window width, hot-fingerprint document-frequency cap, and the
# candidate-pair thresholds.
WINNOW_K = 8
WINNOW_W = 4
WINNOW_DF_CAP = 20
WINNOW_MIN_SHARED = 5
WINNOW_MIN_OVERLAP = 0.5

# Portable polynomial k-gram hash (Karp-Rabin): Horner over the
# codepoint array, base 131 mod 2^31-1. One ascii() per character
# (computed once into ``cs``) plus 8 integer ops per position — vs the
# r3 md5-per-position design this is ~n cheap ops instead of n digest
# calls, and the arithmetic is bit-identical in DuckDB (ascii/%/* on
# BIGINT), so the oracle replays it exactly.
_WINNOW_B = 131
_WINNOW_M = (1 << 31) - 1
_WINNOW_CODES = "transform(sequence(1, length(s), 1), i -> ascii(substring(s, i, 1)))"


def _horner(term: Callable[[int], str]) -> str:
    h = f"cast({term(0)} as bigint)"
    for j in range(1, WINNOW_K):
        h = f"(({h}) * {_WINNOW_B} + {term(j)}) % {_WINNOW_M}"
    return h


def _make_winnow_kernel():
    """Arrow-batched winnow kernel factory: per doc, codepoints ->
    vectorized Horner rolling hash (7 int64 vector ops) ->
    sliding-window minima -> unique fingerprints. All numpy; no
    per-character Python. The integer arithmetic (base/modulus/Horner
    order) is replayed exactly by the DuckDB oracle, so the kernel
    stays hash-portable. Factory-nested so cloudpickle ships the
    function BY VALUE (a module-level function pickles by reference
    and breaks under a driver running from a foreign cwd)."""
    k, w, b, m = WINNOW_K, WINNOW_W, _WINNOW_B, _WINNOW_M

    def kernel(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids: list[int] = []
            fps: list = []
            for doc_id, s in zip(pdf["doc_id"], pdf["s"]):
                n = len(s) - k + 1
                if n < w:
                    continue
                if s.isascii():
                    codes = np.frombuffer(s.encode(), np.uint8).astype(np.int64)
                else:  # match DuckDB/Spark ascii(): full code points
                    codes = np.fromiter(map(ord, s), np.int64, len(s))
                acc = codes[0:n].copy()
                for j in range(1, k):
                    acc = (acc * b + codes[j : j + n]) % m
                mins = sliding_window_view(acc, w).min(axis=1)
                ids.append(doc_id)
                fps.append(np.unique(mins))
            counts = [len(u) for u in fps]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(np.asarray(ids, np.int64), counts)
                    if ids
                    else np.array([], np.int64),
                    "fingerprint": np.concatenate(fps)
                    if fps
                    else np.array([], np.int64),
                }
            )

    return kernel


def winnow_fingerprint_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fingerprint) rows via winnowing: Karp-Rabin hash of
    every k-char gram, keep the minimum of each w-wide sliding window,
    distinct per doc. Guarantees every shared substring of length
    >= k + w - 1 shares at least one fingerprint — the partial-overlap
    detector whole-doc md5 (doc_fingerprints) cannot provide.

    Normalization (lower/trim/length-gate) stays JVM-side; the hash +
    window-minima run in one Arrow-batched numpy kernel (r4: replaced
    the r3 built-in-expression design — Spark higher-order-function
    lambdas are interpreted per element and substring(s, i, k) walks
    O(i) chars, so the expression form paid ~n^2 char walks per doc;
    the vectorized kernel is a handful of O(n) int64 vector ops).
    The fingerprint index is the MOSS "standing index": localCheckpoint'd
    once per (session, tier) in the index registry; consumers read
    materialized blocks."""

    def build():
        docs = load_table(spark, sf_dir, "documents")
        prepped = (
            docs.select("doc_id", F.lower(F.trim(F.col("text"))).alias("s"))
            .filter(F.length("s") >= WINNOW_K + WINNOW_W - 1)
            .repartition(spark.sparkContext.defaultParallelism)
        )
        return prepped.mapInPandas(
            _make_winnow_kernel(), "doc_id long, fingerprint long"
        ).localCheckpoint()

    return index_registry.get(
        spark, sf_dir, "winnow", build, variant="fps", release=free_checkpoint
    )


def _winnow_capped_posts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(fingerprint, ds) df-capped posting lists over the fingerprint
    index — the second (derived) index frame; one collect_list shuffle
    at build, then read by both the pair expansion and the per-doc
    sizes."""

    def build():
        return (
            winnow_fingerprint_df(spark, sf_dir)
            .groupBy("fingerprint")
            .agg(F.collect_list("doc_id").alias("ds"))
            .filter(F.size("ds") <= WINNOW_DF_CAP)
            .localCheckpoint()
        )

    return index_registry.get(
        spark, sf_dir, "winnow", build, variant="posts", release=free_checkpoint
    )


_WINNOW_FP_SQL = f"""
    WITH s AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
    g AS (SELECT doc_id, s, length(s) - {WINNOW_K} + 1 AS n
          FROM s WHERE length(s) - {WINNOW_K} + 1 >= {WINNOW_W}),
    c AS (SELECT doc_id, n, list_transform(range(1, length(s)+1),
            i -> ascii(substring(s, CAST(i AS INTEGER), 1))) AS cs
          FROM g),
    h AS (SELECT doc_id, n, list_transform(range(1, n+1),
            i -> {_horner(lambda j: f'cs[CAST(i + {j} AS INTEGER)]')}) AS hs
          FROM c),
    win AS (SELECT doc_id, list_distinct(list_transform(range(1, n - {WINNOW_W} + 2),
            j -> list_min(hs[CAST(j AS INTEGER):CAST(j + {WINNOW_W} - 1 AS INTEGER)]))) AS fps
          FROM h),
    fp AS (SELECT doc_id, UNNEST(fps) AS fingerprint FROM win)
"""


@query(
    "winnow_fingerprints",
    oracle=_WINNOW_FP_SQL
    + """
    SELECT doc_id, fingerprint FROM fp ORDER BY doc_id, fingerprint
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling-hash fingerprints, exploded (the full
    fingerprint set is the correctness surface — the oracle replays
    hash, window minima, and dedup exactly)."""
    return winnow_fingerprint_df(spark, sf_dir).orderBy("doc_id", "fingerprint")


@query(
    "winnow_overlap_pairs",
    oracle=_WINNOW_FP_SQL
    + f"""
    , capped AS (
        SELECT * FROM fp WHERE fingerprint IN (
            SELECT fingerprint FROM fp GROUP BY fingerprint
            HAVING COUNT(*) <= {WINNOW_DF_CAP})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS m FROM capped GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM capped a JOIN capped b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.shared_fps,
           ROUND(p.shared_fps * 1.0 / LEAST(sa.m, sb.m), 6) AS overlap
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE p.shared_fps * 1.0 / LEAST(sa.m, sb.m) >= {WINNOW_MIN_OVERLAP}
    ORDER BY doc_a, doc_b
    """,
)
def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidate pairs via the winnow inverted index:
    ONE shuffle on fingerprint builds posting lists (collect_list),
    hot fingerprints are df-capped in the same aggregate (a boilerplate
    gram can't go quadratic), candidate pairs are generated in-array
    from each bounded posting list (<= cap*(cap-1)/2 per fingerprint),
    then counted; containment overlap = shared / min(|A|,|B|).

    r4: replaced the posting-list SELF-JOIN (which broadcast the whole
    547k-row fingerprint set and scanned the cache 8x) with the
    collect_list + in-array pair expansion — the classic pair-count
    shape whose shuffle volume is sum of capped posting-list sizes,
    never |docs|^2. Per-doc sizes reuse the capped posting lists
    (r13: off the session index — no per-call kernel run or persist)."""
    posts = _winnow_capped_posts(spark, sf_dir)
    sizes = (
        posts.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    # all unordered doc pairs within one posting list, canonicalized
    # (doc_a < doc_b); fps is distinct per doc so ds has no repeats
    pair_expr = (
        "flatten(transform(sequence(0, size(ds) - 2), i -> "
        "transform(sequence(i + 1, size(ds) - 1), j -> "
        "struct(least(ds[i], ds[j]) AS doc_a, greatest(ds[i], ds[j]) AS doc_b))))"
    )
    pairs = (
        posts.filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"))
    overlap = F.col("shared_fps") / F.least(F.col("ma"), F.col("mb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(overlap >= WINNOW_MIN_OVERLAP)
        .select(
            "doc_a", "doc_b", "shared_fps", F.round(overlap, 6).alias("overlap")
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "token_frequencies",
    oracle=r"""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS tok
        FROM documents
    )
    GROUP BY tok
    ORDER BY tok
    """,
)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token/document frequencies — the vocabulary-building pass.

    Scale: explode + two-level hash aggregate; partial aggregation
    collapses each executor's token counts before the shuffle."""
    tok = doc_tokens(spark, sf_dir).select("doc_id", F.explode("w").alias("tok"))
    return (
        tok.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy("tok")
    )


@query(
    "bpe_token_counts",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""BPE-ish pre-tokenization counts: word tokens (\w+) and
    punctuation tokens ([^\w\s]) — the standard byte-pair-encoder
    pre-split, counted JVM-side with regexp_extract_all."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0)).cast("long").alias("n_word_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0)).cast("long").alias("n_punct_tokens"),
    ).orderBy("doc_id")


BPE_MERGES = 4  # learned merge rounds (unrolled verbatim in the oracle)


def _bpe_cte_chain(rounds: int = BPE_MERGES) -> str:
    """Shared DuckDB CTE chain replaying BPE training (the _kmeans_cte
    trick): word-freq vocab, per round a pair-frequency CTE, an argmax
    CTE (count DESC, then (a, b) lexicographic), and a sequence-rewrite
    CTE applying the merge with the same double ``replace`` both
    engines use. Ends at ``s{rounds}`` — the vocab with fully merged
    symbol sequences, keyed by word. All-integer/string arithmetic."""
    parts = [
        r"""
    WITH tok AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(w) AS word FROM tok)
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY word
    ),
    s0 AS (
        SELECT word, freq,
               '|' || array_to_string(string_split(word, ''), '|') || '|' AS seq
        FROM wf
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    , pr{r} AS (
        SELECT freq,
               UNNEST(list_transform(range(1, greatest(len(syms), 1)),
                      i -> syms[i] || ' ' || syms[i+1])) AS pair
        FROM (SELECT freq,
                     list_filter(string_split(seq, '|'), x -> x != '') AS syms
              FROM s{r - 1})
    ),
    m{r} AS (
        SELECT string_split(pair, ' ')[1] AS a,
               string_split(pair, ' ')[2] AS b,
               SUM(freq) AS cnt
        FROM pr{r} GROUP BY pair
        ORDER BY SUM(freq) DESC, a, b LIMIT 1
    ),
    s{r} AS (
        SELECT word, freq,
               replace(replace(seq,
                   (SELECT '|' || a || '|' || b || '|' FROM m{r}),
                   (SELECT '|' || a || b || '|' FROM m{r})),
                   (SELECT '|' || a || '|' || b || '|' FROM m{r}),
                   (SELECT '|' || a || b || '|' FROM m{r})) AS seq
        FROM s{r - 1}
    )""")
    return "".join(parts)


def _bpe_oracle(rounds: int = BPE_MERGES) -> str:
    selects = [
        f"SELECT {r} AS rank, a AS left_sym, b AS right_sym, CAST(cnt AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, rounds + 1)
    ]
    return (
        _bpe_cte_chain(rounds)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY rank"
    )


@query("bpe_learn_merges", oracle=_bpe_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al.): learn the
    first 4 merge rules from corpus word frequencies — per round, count
    adjacent symbol pairs weighted by word frequency, pick the most
    frequent pair (ties broken lexicographically), and apply the merge
    to every word's symbol sequence. Output: (rank, left_sym,
    right_sym, pair_count) — the merge table a tokenizer ships.

    Scale shape: training state is the VOCABULARY (word, freq, symbol
    sequence) — corpus-sized text collapses to a vocab-sized frame in
    one map-side-combinable agg, exactly how SentencePiece/HF trainers
    shard corpus counting. Each round is one pair-frequency aggregate
    over the vocab plus a 1-row argmax (the learned merge — the model
    itself, k rows total) broadcast back as a literal rewrite; the
    symbol sequences stay strings rewritten by a codegen'd double
    `replace` (left-to-right non-overlapping twice == BPE's
    merge-everywhere application, same operator in DuckDB). ASCII
    [a-z]+ words only, so the '|' delimiter can never collide with a
    symbol."""
    merges = _learn_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count bigint"
    ).orderBy("rank")


def _bpe_vocab_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, seq) — the vocab frame BPE trains on; seq is the
    '|'-delimited symbol sequence."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(tokens_expr(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    seq0 = F.concat(
        F.lit("|"),
        F.concat_ws("|", F.filter(F.split("word", ""), lambda x: x != "")),
        F.lit("|"),
    )
    return wf.select("word", "freq", seq0.alias("seq"))


def _apply_merge(df: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every vocab sequence with one merge — double l-t-r
    replace == BPE merge-everywhere (the DuckDB oracle uses the same
    operator twice)."""
    pat, rep = F.lit(f"|{a}|{b}|"), F.lit(f"|{a}{b}|")
    return df.withColumn(
        "seq", F.replace(F.replace(F.col("seq"), pat, rep), pat, rep)
    )


def _pair_counts(cur: DataFrame) -> DataFrame:
    """(a, b, cnt) — adjacent-symbol pair frequencies over the vocab
    frame's current sequences (one map-side-combinable aggregate)."""
    syms = F.filter(F.split("seq", r"\|"), lambda x: x != "")
    # guard: sequence(1, 0) counts DOWN in Spark — emit no pairs
    # for single-symbol words
    pair_arr = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        cur.select("freq", F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .select(
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("a"),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("b"),
            "cnt",
        )
    )


def _learn_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    """The learned merge table: k rows of model state, trained once per
    (session, tier) in the index registry and reused for encoding."""
    return index_registry.get(
        spark, sf_dir, "bpe", lambda: _train_merges(spark, sf_dir)
    )


def _train_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    from pyspark.storagelevel import StorageLevel

    base = _bpe_vocab_base(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    cur = base
    merges: list[tuple[int, str, str, int]] = []
    try:
        for r in range(1, BPE_MERGES + 1):
            top = (
                _pair_counts(cur)
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            merges.append((r, a, b, cnt))
            cur = _apply_merge(cur, a, b)
    finally:
        base.unpersist()  # the model is the k-row merge list
    return merges


@query(
    "bpe_encode_token_counts",
    oracle=_bpe_cte_chain()
    + f"""
    , vocab AS (
        SELECT word,
               CAST(len(list_filter(string_split(seq, '|'), x -> x != '')) AS BIGINT)
                   AS n_sym
        FROM s{BPE_MERGES}
    ),
    dw AS (
        SELECT doc_id, word
        FROM (SELECT doc_id,
                     UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x != '')) AS word
              FROM documents)
        WHERE regexp_matches(word, '^[a-z]+$')
    )
    SELECT dw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
           ROUND(SUM(length(dw.word)) / CAST(SUM(v.n_sym) AS DOUBLE), 4)
               AS chars_per_token
    FROM dw JOIN vocab v USING (word)
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """,
)
def bpe_encode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING pass with the learned merge table: apply the 4
    trained merges to the vocabulary, then join each document's words
    (with multiplicity) to their post-merge symbol counts — per doc,
    word count, BPE token count, character count, and chars/token (the
    compression a tokenizer buys). The train→encode round trip of a
    tokenizer pipeline, both halves graded.

    Scale shape: the merge table comes from the cached trainer (k rows
    of driver state); encoding rewrites only the VOCAB (k sequential
    `replace` projections), and the corpus-sized work is one word join
    against that vocab — broadcast when the vocab is small, shuffle
    otherwise — plus one groupBy(doc_id). [a-z]+ words only, as
    trained; docs with no such words are absent (inner-join
    semantics, same as the oracle)."""
    merges = _learn_merges(spark, sf_dir)
    vocab = _bpe_vocab_base(spark, sf_dir)
    for _r, a, b, _cnt in merges:
        vocab = _apply_merge(vocab, a, b)
    syms = F.filter(F.split("seq", r"\|"), lambda x: x != "")
    vocab = vocab.select("word", F.size(syms).cast("long").alias("n_sym"))
    docs = load_table(spark, sf_dir, "documents")
    dw = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
    )
    return (
        dw.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.round(
                F.sum(F.length("word")) / F.sum("n_sym").cast("double"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


@query(
    "tf_idf",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS tok
        FROM documents
        WHERE doc_id < 100
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS n,
               SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS doc_len
        FROM tok GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY tok
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok)
    SELECT tf.doc_id, tf.tok,
           CAST(tf.n AS BIGINT) AS term_count,
           ROUND((tf.n / CAST(tf.doc_len AS DOUBLE))
                 * ln(n_docs.n / CAST(df.doc_freq AS DOUBLE)), 6) AS tfidf
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n_docs
    ORDER BY tf.doc_id, tf.tok
    """,
)
def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring over a 100-doc slice: term frequency × inverse
    document frequency, the canonical sparse text featurization.

    Scale: two hash aggregates (per-doc-term, per-term) + one broadcast
    of the document count; the per-term document frequencies join back
    on the token — all partial-aggregatable, no n² anywhere."""
    tok = (
        doc_tokens(spark, sf_dir)
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.explode("w").alias("tok"))
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("term_count"))
    doc_len = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doc_len"))
    df = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("doc_freq"))
    # one-row broadcast aggregate, not a .count() driver action: the
    # eager count re-ran the tokenize+explode subplan as its own job
    # (r13; mirrors the oracle's n_docs CTE + CROSS JOIN exactly)
    n_docs = tok.agg(F.count_distinct("doc_id").alias("n_docs"))
    return (
        tf.join(F.broadcast(doc_len), "doc_id")
        .join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "term_count",
            F.round(
                (F.col("term_count") / F.col("doc_len").cast("double"))
                * F.log(
                    F.col("n_docs").cast("double")
                    / F.col("doc_freq").cast("double")
                ),
                6,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "tok")
    )


# per-language marker lexicons for argmax language identification; the
# corpus vocabulary is synthetic, so markers are drawn from it — the
# OPERATOR SHAPE (broadcast lexicon join + argmax) is the point
LANG_LEXICONS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "query": ("query", "scan", "filter", "join", "sort"),
    "data": ("data", "table", "row", "column", "value"),
}


@query(
    "lang_id_argmax",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    scores AS (
        SELECT doc_id,
               ROUND(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
                     / CAST(len(w) AS DOUBLE), 6) AS s_en,
               ROUND(len(list_filter(w, x -> x IN ('query','scan','filter','join','sort')))
                     / CAST(len(w) AS DOUBLE), 6) AS s_query,
               ROUND(len(list_filter(w, x -> x IN ('data','table','row','column','value')))
                     / CAST(len(w) AS DOUBLE), 6) AS s_data
        FROM t WHERE len(w) > 0
    )
    SELECT doc_id, s_en, s_query, s_data,
           CASE
             WHEN s_en >= s_query AND s_en >= s_data THEN 'en'
             WHEN s_query >= s_data THEN 'query'
             ELSE 'data'
           END AS predicted
    FROM scores
    ORDER BY doc_id
    """,
)
def lang_id_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by argmax over per-lexicon hit-rates (ties broken by
    lexicon order, exactly mirrored in the oracle CASE)."""
    t = doc_tokens(spark, sf_dir).filter(F.size("w") > 0)
    def hit_rate(words):
        # single-arg lambda factory — a two-parameter lambda would be
        # interpreted by PySpark as (element, index)
        arr = F.array(*[F.lit(x) for x in words])
        return lambda x: F.array_contains(arr, x)

    score_cols = {}
    for lang, words in LANG_LEXICONS.items():
        score_cols[f"s_{lang}"] = F.round(
            F.size(F.filter(F.col("w"), hit_rate(words)))
            / F.size("w").cast("double"),
            6,
        )
    scored = t.select("doc_id", *[c.alias(n) for n, c in score_cols.items()])
    predicted = (
        F.when(
            (F.col("s_en") >= F.col("s_query")) & (F.col("s_en") >= F.col("s_data")), "en"
        )
        .when(F.col("s_query") >= F.col("s_data"), "query")
        .otherwise("data")
    )
    return scored.withColumn("predicted", predicted).orderBy("doc_id")


# Count-min sketch geometry: depth x width cells, md5-derived row
# hashes. Width >> heavy-hitter vocabulary keeps overcounts near zero;
# the estimate is provably >= exact (only hash collisions inflate it).
CM_DEPTH = 4
CM_WIDTH = 1024
CM_TOPN = 20


def _cm_cell(i_col, token_col):
    """Portable cell index: first 8 md5-hex chars of 'i:token' mod width
    (identical arithmetic in the DuckDB oracle)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(i_col.cast("string"), F.lit(":"), token_col)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % CM_WIDTH
    )


@query(
    "cm_token_counts",
    oracle=rf"""
    WITH tok AS (
      SELECT UNNEST(list_filter(string_split_regex(lower(text), '\s+'), x -> x != ''))
             AS token
      FROM documents
    ),
    cells AS (
      SELECT i,
             CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT)
               % {CM_WIDTH} AS cell,
             COUNT(*) AS cnt
      FROM tok CROSS JOIN range({CM_DEPTH}) t(i)
      GROUP BY 1, 2
    ),
    top_exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM tok GROUP BY token ORDER BY exact_count DESC, token LIMIT {CM_TOPN}
    ),
    lookups AS (
      SELECT te.token, te.exact_count, c.cnt
      FROM top_exact te
      CROSS JOIN range({CM_DEPTH}) t(i)
      JOIN cells c ON c.i = t.i
       AND c.cell = CAST(('0x' || substring(md5(CAST(t.i AS VARCHAR) || ':' || te.token), 1, 8)) AS BIGINT)
                    % {CM_WIDTH}
    )
    SELECT token, exact_count, CAST(MIN(cnt) AS BIGINT) AS cm_count
    FROM lookups GROUP BY token, exact_count
    ORDER BY exact_count DESC, token
    """,
)
def cm_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimates vs exact counts for the
    top-N tokens. The sketch build is one groupBy over (row, cell) —
    CM_DEPTH×CM_WIDTH cells of state regardless of corpus size, partial-
    aggregatable and mergeable (cells add), which is why a 100 TB
    frequency estimate is a metadata-sized object. Deterministic md5
    row hashes make the ESTIMATE itself oracle-checkable, and
    cm_count >= exact_count by construction (collisions only add)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    idx = spark.range(CM_DEPTH).select(F.col("id").alias("i"))
    cells = (
        tok.crossJoin(F.broadcast(idx))
        .groupBy("i", _cm_cell(F.col("i"), F.col("token")).alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top_exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(CM_TOPN)
    )
    lookups = (
        top_exact.crossJoin(F.broadcast(idx))
        .withColumn("cell", _cm_cell(F.col("i"), F.col("token")))
        .join(cells, ["i", "cell"])
    )
    return (
        lookups.groupBy("token", "exact_count")
        .agg(F.min("cnt").cast("long").alias("cm_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
    )


@query(
    "bigram_lm_xent",
    oracle=r"""
    WITH docs2 AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    big AS (
        SELECT doc_id,
               UNNEST(list_transform(range(2, len(w) + 1),
                                     i -> {'w1': w[i-1], 'w2': w[i]})) AS b
        FROM docs2 WHERE len(w) >= 2
    ),
    bigf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM big),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bigf GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bigf GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT UNNEST(w) AS tok FROM docs2))
    SELECT bigf.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS xent
    FROM bigf JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY 1
    ORDER BY 1
    """,
)
def bigram_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring (the CCNet/KenLM perplexity
    filter, re-expressed deterministically): train an add-one-smoothed
    BIGRAM model on the corpus itself, score every document by its
    mean negative log-likelihood (cross-entropy, nats) — unusually
    repetitive or incoherent documents stand out at the tails.

    Scale shape: bigrams are built IN-ROW (transform over the token
    array — no shuffle to form them); the model is two hash aggregates
    (bigram counts, unigram-context counts); scoring joins the bigram
    stream against the count tables on their natural keys — exactly
    the shuffle a distributed LM scorer needs, nothing more. Everything
    is integer counts + one ln(), so the DuckDB oracle replays it to
    6dp.

    r13: the unigram-context counts are DERIVED from the bigram counts
    (``c1 = Σ_w2 c2`` — exact integer identity), so the w1-keyed
    shuffle of the full bigram stream is gone; the c1 branch re-
    aggregates the vocab²-bounded c2 frame and shares c2's (w1,w2)
    exchange via ReuseExchange. The vocabulary size rides as a one-row
    broadcast aggregate instead of a separate ``.count()`` driver
    action (which re-executed the tokenize subplan as its own job)."""
    toks = doc_tokens(spark, sf_dir).select("doc_id", "w")
    big = (
        toks.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(w)), "
                    "i -> struct(element_at(w, i - 1) AS w1, element_at(w, i) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = toks.select(F.explode("w").alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    nll = -F.log(
        (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v").cast("double"))
    )
    return (
        big.join(c2, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("xent"),
        )
        .orderBy("doc_id")
    )


@query(
    "repetition_quality",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    g AS (
        SELECT doc_id, lang, w,
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]) AS b,
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS tg
        FROM t WHERE len(w) >= 3
    )
    SELECT doc_id, lang,
           ROUND(1.0 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
               AS dup_word_frac,
           ROUND(1.0 - len(list_distinct(b)) / CAST(len(b) AS DOUBLE), 4)
               AS dup_bigram_frac,
           ROUND(1.0 - len(list_distinct(tg)) / CAST(len(tg) AS DOUBLE), 4)
               AS dup_trigram_frac
    FROM g
    ORDER BY doc_id
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals (Rae et al.
    2021 §A1.1: "fraction of duplicate n-grams"): per document, the
    duplicated fraction of words, bigrams, and trigrams — high values
    flag boilerplate/spam that the token-level filters (text_quality)
    miss. All JVM array expressions over one scan: tokens once, n-gram
    arrays derived in-expression, no shuffle until the final sort.
    Docs under 3 tokens are excluded (their trigram set is empty)."""
    t = doc_tokens(spark, sf_dir).filter(F.size("w") >= 3)

    def ngrams(n: int):
        # 0-based Spark array indexing: w[i] ... w[i+n-1]
        return F.expr(
            "transform(sequence(0, size(w) - %d), i -> %s)"
            % (n, " || ' ' || ".join(f"w[i + {j}]" for j in range(n)))
        )

    def dup_frac(col: Column) -> Column:
        return F.round(
            F.lit(1.0) - F.size(F.array_distinct(col)) / F.size(col).cast("double"),
            4,
        )

    return t.select(
        "doc_id",
        "lang",
        dup_frac(F.col("w")).alias("dup_word_frac"),
        dup_frac(ngrams(2)).alias("dup_bigram_frac"),
        dup_frac(ngrams(3)).alias("dup_trigram_frac"),
    ).orderBy("doc_id")


# Real per-language function-word lexicons: the heads of the public
# frequency lists in sources/nl_fixtures.py (the same heads every
# stopword package ships). 12 words per language keeps the oracle CASE
# readable while the hit-rate signal stays strong — function words
# dominate running text.
def _nl_lexicons() -> dict[str, tuple[str, ...]]:
    from lakehouse_admin_spark.sources.nl_fixtures import WORDLISTS

    return {lang: words[:12] for lang, words in sorted(WORDLISTS.items())}


def _lang_id_lexicon_oracle() -> str:
    lex = _nl_lexicons()
    langs = list(lex)  # sorted: tie-break order
    score_sql = ",\n               ".join(
        "ROUND(len(list_filter(w, x -> x IN (%s))) / CAST(len(w) AS DOUBLE), 6) AS s_%s"
        % (", ".join(f"'{w}'" for w in words), lang)
        for lang, words in lex.items()
    )
    case = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{o}" for o in langs[i + 1:]]
        case.append(
            ("WHEN %s THEN '%s'" % (" AND ".join(conds), lang))
            if conds
            else f"ELSE '{lang}'"
        )
    return r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    scores AS (
        SELECT doc_id,
               %s
        FROM t WHERE len(w) > 0
    )
    SELECT doc_id, %s,
           CASE %s END AS predicted
    FROM scores
    ORDER BY doc_id
    """ % (
        score_sql,
        ", ".join(f"s_{lang}" for lang in langs),
        " ".join(case),
    )


@query("lang_id_lexicon", oracle=_lang_id_lexicon_oracle())
def lang_id_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by argmax over REAL per-language function-word
    lexicons (frequency-list heads — the production stopword-lexicon
    heuristic, vs lang_id_argmax's synthetic-corpus lexicons). One
    broadcast-free projection: each score is a JVM array filter over
    the token array; argmax ties break toward the lexicographically
    first language, mirrored exactly in the oracle CASE. Graded for
    ACCURACY on the NL corpus in tests/test_nl_textual.py."""
    lex = _nl_lexicons()
    langs = list(lex)
    t = doc_tokens(spark, sf_dir).filter(F.size("w") > 0)

    def hit_rate(words):
        arr = F.array(*[F.lit(x) for x in words])
        return lambda x: F.array_contains(arr, x)

    scored = t.select(
        "doc_id",
        *[
            F.round(
                F.size(F.filter(F.col("w"), hit_rate(words)))
                / F.size("w").cast("double"),
                6,
            ).alias(f"s_{lang}")
            for lang, words in lex.items()
        ],
    )
    predicted = None
    for i, lang in enumerate(langs):
        if i == len(langs) - 1:
            predicted = predicted.otherwise(lang)
            break
        cond = None
        for o in langs[i + 1:]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        predicted = (
            F.when(cond, lang) if predicted is None else predicted.when(cond, lang)
        )
    return scored.withColumn("predicted", predicted).orderBy("doc_id")


@query(
    "token_entropy",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, len(w) AS n_tokens,
               list_transform(list_distinct(w),
                              tk -> len(list_filter(w, x -> x = tk))) AS cnts
        FROM t WHERE len(w) > 0
    ),
    e AS (
        SELECT doc_id, lang, n_tokens,
               list_sum(list_transform(cnts,
                   cnt -> -(cnt / CAST(n_tokens AS DOUBLE))
                          * log2(cnt / CAST(n_tokens AS DOUBLE)))) AS ent
        FROM c
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(ent, 4) AS entropy,
           ROUND(CASE WHEN n_tokens > 1 THEN ent / log2(n_tokens)
                      ELSE 0.0 END, 4) AS norm_entropy
    FROM e
    ORDER BY doc_id
    """,
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram TOKEN ENTROPY — the information-density
    quality signal (Gopher-family pipelines gate on it: near-zero =
    degenerate repetition, near-max = random noise; natural prose sits
    between). norm_entropy divides by log2(n_tokens) so documents of
    different lengths compare on [0, 1].

    Entirely JVM array expressions over one scan — sort the token
    array once, then fold RUN LENGTHS through a struct accumulator
    (each run = one distinct token's count): O(N log N) per document,
    no explode, no shuffle beyond the final orderBy, so the plan is
    embarrassingly parallel at 100 TB and stays safe on pathologically
    long documents (a per-distinct filter-count would be O(V·N)). The
    sum over distinct tokens is order-invariant, so Spark's run order
    and DuckDB's distinct order agree at the pinned rounding."""
    t = doc_tokens(spark, sf_dir).filter(F.size("w") > 0)
    n = F.size("w").cast("double")

    def term(run):
        p = run.cast("double") / n
        return -p * F.log2(p)

    def step(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        closed = F.when(
            acc["prev"].isNull() | same, F.lit(0.0)
        ).otherwise(term(acc["run"]))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            (acc["ent"] + closed).alias("ent"),
        )

    ent = F.aggregate(
        F.array_sort("w"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("ent"),
        ),
        step,
        lambda acc: acc["ent"]
        + F.when(acc["run"] > 0, term(acc["run"])).otherwise(F.lit(0.0)),
    )
    return t.select(
        "doc_id",
        "lang",
        F.size("w").cast("long").alias("n_tokens"),
        F.round(ent, 4).alias("entropy"),
        F.round(
            F.when(F.size("w") > 1, ent / F.log2(n)).otherwise(F.lit(0.0)), 4
        ).alias("norm_entropy"),
    ).orderBy("doc_id")


@query(
    "perplexity_buckets",
    oracle=r"""
    WITH docs2 AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    big AS (
        SELECT doc_id,
               UNNEST(list_transform(range(2, len(w) + 1),
                                     i -> {'w1': w[i-1], 'w2': w[i]})) AS b
        FROM docs2 WHERE len(w) >= 2
    ),
    bigf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM big),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bigf GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bigf GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT UNNEST(w) AS tok FROM docs2)),
    xent AS (
        SELECT bigf.doc_id,
               ROUND(AVG(-ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS xent
        FROM bigf JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        GROUP BY 1
    ),
    scored AS (
        SELECT x.doc_id, d.lang, x.xent
        FROM xent x JOIN documents d USING (doc_id)
    ),
    cuts AS (
        SELECT lang,
               quantile_cont(xent, 0.3333333333333333) AS t1,
               quantile_cont(xent, 0.6666666666666666) AS t2
        FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.xent,
           CASE WHEN s.xent <= c.t1 THEN 'head'
                WHEN s.xent <= c.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s JOIN cuts c USING (lang)
    ORDER BY s.doc_id
    """,
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: per LANGUAGE, tercile the
    bigram-LM cross-entropy (:func:`bigram_lm_xent`) and label each
    document head (lowest perplexity third — the cleanest text),
    middle, or tail — the bucket assignment CCNet uses to weight (or
    drop) crawl data per language instead of one global threshold.

    Scale shape: scoring is the existing LM plan; the cutoffs are one
    exact interpolated percentile pair per language (Spark
    ``percentile`` == DuckDB ``quantile_cont``) broadcast back — the
    quality_percentile_gate mechanics, driven by a learned signal
    instead of a surface ratio. Buckets compare the 6dp-ROUNDED score
    on both sides, so engine summation order cannot flip a boundary.
    At 100 TB the tercile becomes ``approx_percentile`` with pinned
    accuracy; the plan shape (tiny per-lang cutoff dim, broadcast
    gate join) is unchanged."""
    xent = bigram_lm_xent(spark, sf_dir).select("doc_id", "xent")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = xent.join(docs, "doc_id")
    cuts = scored.groupBy("lang").agg(
        # double literals, NOT 1.0/3: Spark SQL parses 1.0 as DECIMAL, so
        # 1.0/3 is decimal division (0.333333) while DuckDB's is a double —
        # the cutoff position would differ between engines
        F.expr("percentile(xent, 0.3333333333333333)").alias("t1"),
        F.expr("percentile(xent, 0.6666666666666666)").alias("t2"),
    )
    bucket = (
        F.when(F.col("xent") <= F.col("t1"), "head")
        .when(F.col("xent") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select("doc_id", "lang", "xent", bucket.alias("bucket"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Batched BPE — the 50k-merge production shape: top-N disjoint merges
# per round instead of one, so a full tokenizer train needs k/N rounds
# ---------------------------------------------------------------------------
BPE_BATCH_ROUNDS = 2  # aggregation rounds (each = one Spark job wave)
BPE_BATCH_N = 3  # merges adopted per round (symbol-disjoint greedy)
BPE_BATCH_WINDOW = 16  # candidate window ranked per round (model state)


def _bpe_batch_cte_chain(
    rounds: int = BPE_BATCH_ROUNDS,
    n: int = BPE_BATCH_N,
    w: int = BPE_BATCH_WINDOW,
) -> str:
    """DuckDB chain replaying the BATCHED trainer round for round: pair
    counts, a ranked top-``w`` window, ``n`` greedy symbol-disjoint
    selections (each g-CTE = "first window pair sharing no symbol with
    any earlier selection"), and one rewrite applying all selected
    merges (disjoint symbols ⇒ the double-replaces commute). COALESCE
    guards make an empty selection an identity replace ('~' can never
    appear in [a-z]+ symbols)."""
    parts = [
        r"""
    WITH tok AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(w) AS word FROM tok)
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY word
    ),
    s0 AS (
        SELECT word, freq,
               '|' || array_to_string(string_split(word, ''), '|') || '|' AS seq
        FROM wf
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    , pr{r} AS MATERIALIZED (
        SELECT freq,
               UNNEST(list_transform(range(1, greatest(len(syms), 1)),
                      i -> syms[i] || ' ' || syms[i+1])) AS pair
        FROM (SELECT freq,
                     list_filter(string_split(seq, '|'), x -> x != '') AS syms
              FROM s{r - 1})
    ),
    tw{r} AS MATERIALIZED (
        SELECT a, b, cnt, rn FROM (
            SELECT a, b, cnt,
                   row_number() OVER (ORDER BY cnt DESC, a, b) AS rn
            FROM (
                SELECT string_split(pair, ' ')[1] AS a,
                       string_split(pair, ' ')[2] AS b,
                       SUM(freq) AS cnt
                FROM pr{r} GROUP BY pair
            )
        ) WHERE rn <= {w}
    ),
    g{r}_1 AS MATERIALIZED (SELECT a, b, cnt, rn FROM tw{r} WHERE rn = 1)""")
        for i in range(2, n + 1):
            excl = " UNION ".join(
                f"SELECT a AS s FROM g{r}_{j} UNION SELECT b AS s FROM g{r}_{j}"
                for j in range(1, i)
            )
            parts.append(f""",
    g{r}_{i} AS MATERIALIZED (
        SELECT a, b, cnt, rn FROM tw{r} t
        WHERE t.a NOT IN (SELECT s FROM ({excl}))
          AND t.b NOT IN (SELECT s FROM ({excl}))
        ORDER BY t.rn LIMIT 1
    )""")
        expr = "seq"
        for i in range(1, n + 1):
            pat = f"COALESCE((SELECT '|' || a || '|' || b || '|' FROM g{r}_{i}), '|~|')"
            rep = f"COALESCE((SELECT '|' || a || b || '|' FROM g{r}_{i}), '|~|')"
            expr = f"replace(replace({expr},\n            {pat},\n            {rep}),\n            {pat},\n            {rep})"
        parts.append(f""",
    s{r} AS MATERIALIZED (
        SELECT word, freq,
        {expr} AS seq
        FROM s{r - 1}
    )""")
    return "".join(parts)


def _bpe_batch_oracle() -> str:
    selects = [
        f"SELECT CAST({r} AS INT) AS round, CAST({i} AS INT) AS pos, "
        f"a AS left_sym, b AS right_sym, CAST(cnt AS BIGINT) AS pair_count "
        f"FROM g{r}_{i}"
        for r in range(1, BPE_BATCH_ROUNDS + 1)
        for i in range(1, BPE_BATCH_N + 1)
    ]
    return (
        _bpe_batch_cte_chain()
        + "\n    SELECT round, pos, left_sym, right_sym, pair_count FROM (\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ) ORDER BY round, pos"
    )


@query("bpe_batch_learn_merges", oracle=_bpe_batch_oracle())
def bpe_batch_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BPE training — the shape a production 50k-merge
    tokenizer run needs: each aggregation round ranks a top-W candidate
    window and adopts the N best SYMBOL-DISJOINT pairs greedily (pairs
    sharing no symbol cannot create or destroy each other's
    adjacencies, so their merge-everywhere rewrites commute — applying
    them in one pass is exact), cutting the number of corpus-touching
    rounds from k to ~k/N. The recorded count of a later in-round pick
    is its PRE-BATCH frequency — the standard batched-BPE bookkeeping
    (counts refresh at the next round's aggregate).

    Scale shape: identical per-round plan to :func:`bpe_learn_merges`
    (one map-side-combinable pair aggregate over the vocab-sized
    frame), but the driver pulls a W-row ranked window instead of a
    1-row argmax — still model-state-sized — and the rewrite applies N
    codegen'd double-replaces per round. The oracle unrolls every
    round: ranked window, N greedy exclusion CTEs, COALESCE-guarded
    identity replaces for short selections; all-integer/string → exact
    hash.

    r13: the learned batch merge table is MODEL STATE, cached per
    (session, tier) exactly like the serial trainer's
    ``_learn_merges`` (which ``bpe_learn_merges`` has rendered from its
    cache since r9) — training runs once per session; the query renders
    the rows."""
    rows = _learn_batch_merges(spark, sf_dir)
    return spark.createDataFrame(
        rows, "round int, pos int, left_sym string, right_sym string, pair_count bigint"
    ).orderBy("round", "pos")


def _learn_batch_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, str, str, int]]:
    """Train (or fetch) the batched merge table — the "batch" variant
    of the registry's "bpe" entry, so invalidating "bpe" drops both
    trainers' models for a tier."""
    return index_registry.get(
        spark, sf_dir, "bpe", lambda: _train_batch_merges(spark, sf_dir),
        variant="batch",
    )


def _train_batch_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, str, str, int]]:
    from pyspark.storagelevel import StorageLevel

    base = _bpe_vocab_base(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    cur = base
    rows: list[tuple[int, int, str, str, int]] = []
    try:
        for r in range(1, BPE_BATCH_ROUNDS + 1):
            top = (
                _pair_counts(cur)
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(BPE_BATCH_WINDOW)
                .collect()
            )  # W rows of model state
            used: set[str] = set()
            chosen: list[tuple[str, str, int]] = []
            for t in top:
                if len(chosen) >= BPE_BATCH_N:
                    break
                if t["a"] in used or t["b"] in used:
                    continue
                chosen.append((t["a"], t["b"], int(t["cnt"])))
                used.update((t["a"], t["b"]))
            for pos, (a, b, cnt) in enumerate(chosen, 1):
                rows.append((r, pos, a, b, cnt))
            for a, b, _cnt in chosen:
                cur = _apply_merge(cur, a, b)
    finally:
        base.unpersist()
    return rows


# ---------------------------------------------------------------------------
# PMI collocations — corpus-level association mining
# ---------------------------------------------------------------------------
PMI_MIN_COUNT = 5  # bigram count floor (PMI is noise below small counts)
PMI_TOP = 50  # collocations reported


@query(
    "collocations_pmi",
    oracle=rf"""
    WITH tok AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM (SELECT UNNEST(toks) AS w FROM tok) GROUP BY w
    ),
    tot AS (SELECT SUM(cu) AS t FROM uni),
    big AS (
        SELECT string_split(pair, ' ')[1] AS a,
               string_split(pair, ' ')[2] AS b,
               CAST(COUNT(*) AS BIGINT) AS cb
        FROM (
            SELECT UNNEST(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS pair
            FROM tok
        ) GROUP BY pair
    ),
    btot AS (SELECT SUM(cb) AS tb FROM big),
    pmi AS (
        SELECT big.a, big.b, big.cb,
               ROUND(ln((big.cb / CAST(btot.tb AS DOUBLE))
                        / ((ua.cu / CAST(tot.t AS DOUBLE))
                           * (ub.cu / CAST(tot.t AS DOUBLE)))), 4) AS pmi
        FROM big
        JOIN uni ua ON ua.w = big.a
        JOIN uni ub ON ub.w = big.b
        CROSS JOIN tot CROSS JOIN btot
        WHERE big.cb >= {PMI_MIN_COUNT}
    )
    SELECT a AS left_tok, b AS right_tok, cb AS pair_count, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, a, b) AS INT) AS rank
    FROM pmi
    ORDER BY rank LIMIT {PMI_TOP}
    """,
)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{50} collocations by pointwise mutual information —
    ``PMI(a,b) = ln(p(a,b) / (p(a)p(b)))`` over adjacent token pairs
    with a count floor (the classic collocation-extraction /
    phrase-mining signal; word2vec's SGNS objective factorizes exactly
    this matrix, Levy & Goldberg 2014). All probabilities derive from
    exact integer counts, so both engines compute bit-identical
    doubles before the 4dp round.

    Scale shape: two map-side-combinable aggregates (unigrams,
    bigrams) over one tokenize pass; the PMI join is keyed on the
    token (vocab-sized, zipf-friendly — the count floor prunes the
    heavy tail before the join). The corpus totals are one-row
    aggregates of the SAME shuffled frames broadcast back via
    crossJoin — fully parallel partial aggregation whose branches
    reuse the pair/unigram exchanges (plan-pinned: no partition-less
    WindowExec, which would funnel the whole distinct-pair frame
    through one task at web scale). The top-50 rank executes as a
    group-limit (partition-local top-50 + merge), never a
    single-partition sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        toks.alias("toks")
    )
    uni = (
        base.select(F.explode("toks").alias("w"))
        # semantically redundant (explode yields non-null tokens) but
        # load-bearing: the inner joins below infer isnotnull on the
        # keys and push it into THIS branch only, which would break
        # exchange canonicalization — stating it here keeps the totals
        # branch's subtree identical, so the shuffle is reused
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    pair_arr = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat(
                F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # corpus totals are ONE-ROW aggregates of the already-aggregated
    # frames, broadcast back via crossJoin — fully parallel partial
    # aggregation, no driver collect() (which would re-execute the
    # tokenize subplan per scalar — the dsir_importance lesson) and no
    # partition-less window (the r12 windowed totals executed as a
    # single-task WindowExec over the ENTIRE distinct-pair frame: free
    # at sf0.1, an OOM funnel at web scale where distinct pairs reach
    # 1e8+). ReuseExchange dedupes the shared groupBy shuffle, so the
    # totals branch costs zero extra corpus passes (plan-pinned).
    big_all = (
        base.select(F.explode(pair_arr).alias("pair"))
        # redundant for the same exchange-reuse reason as uni's filter
        .filter(
            F.split_part("pair", F.lit(" "), F.lit(1)).isNotNull()
            & F.split_part("pair", F.lit(" "), F.lit(2)).isNotNull()
        )
        .groupBy("pair")
        .agg(F.count("*").alias("cb"))
    )
    big = big_all.filter(F.col("cb") >= PMI_MIN_COUNT).select(
        F.split_part("pair", F.lit(" "), F.lit(1)).alias("a"),
        F.split_part("pair", F.lit(" "), F.lit(2)).alias("b"),
        "cb",
    )
    # both corpus totals ride ONE single-row frame (pair total PRE-floor)
    totals = big_all.agg(F.sum("cb").alias("tb")).crossJoin(
        uni.agg(F.sum("cu").alias("t"))
    )
    ua = uni.select(F.col("w").alias("a"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("cu").alias("cbu"))
    pmi = F.round(
        F.log(
            (F.col("cb") / F.col("tb").cast("double"))
            / (
                (F.col("ca") / F.col("t").cast("double"))
                * (F.col("cbu") / F.col("t").cast("double"))
            )
        ),
        4,
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    scored = (
        big.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(totals))
        .withColumn("pmi", pmi)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= PMI_TOP)
        .select(
            F.col("a").alias("left_tok"),
            F.col("b").alias("right_tok"),
            F.col("cb").alias("pair_count"),
            "pmi",
            "rank",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Heavy hitters — the φ-frequent-items problem over the corpus token
# stream. The exact batch answer below is the ground truth the
# streaming Misra-Gries summary (streaming/heavy_hitters.py) is pinned
# against: MG guarantees its candidate set is a SUPERSET of these rows
# with bounded count underestimates, using k counters of state instead
# of a vocabulary-sized hash table.
# ---------------------------------------------------------------------------
HH_K = 200  # φ = 1/200: a heavy hitter owns > 0.5% of all tokens — the
# Zipf head is scale-invariant, so the output stays ~30 rows at any SF


@query(
    "token_heavy_hitters",
    oracle=rf"""
    WITH tok AS (
        SELECT UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x != '')) AS tok
        FROM documents
    ),
    c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    n AS (SELECT SUM(cnt) AS n FROM c)
    SELECT tok, CAST(cnt AS BIGINT) AS cnt,
           ROUND(cnt / CAST(n.n AS DOUBLE), 6) AS share
    FROM c CROSS JOIN n
    WHERE cnt > n.n / {HH_K}.0
    ORDER BY cnt DESC, tok
    """,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy hitters over the corpus token stream: every token
    whose count exceeds N/{200} of the N total tokens, with its corpus
    share. The output is the Zipf head — a scale-invariant ~30 rows
    regardless of corpus size — which is what makes the problem
    stream-summarizable at all (Misra-Gries holds k counters because
    at most k−1 items can each own more than 1/k of the stream).

    Scale shape: one tokenize+explode pass into a two-level hash
    aggregate (map-side partial collapse per executor), then a
    broadcast of the single total-count scalar back over the
    vocabulary-sized count frame; the output is O(k). The streaming
    twin (streaming/heavy_hitters.py) answers the same question with
    O(k) state per partition and no second pass — its candidate set is
    law-pinned as a superset of exactly these rows."""
    tok = doc_tokens(spark, sf_dir).select(F.explode("w").alias("tok"))
    c = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    n = c.agg(F.sum("cnt").cast("double").alias("n"))
    return (
        c.crossJoin(F.broadcast(n))
        .filter(F.col("cnt") > F.col("n") / HH_K)
        .select(
            "tok",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
        .orderBy(F.desc("cnt"), F.asc("tok"))
    )


DIVERSITY_N = 3  # word-gram width for the distinct-n diversity metric


@query(
    "ngram_diversity",
    oracle=rf"""
    WITH tok AS (
        SELECT source,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    ex AS (
        SELECT source,
               UNNEST(list_transform(
                   range(1, greatest(len(w) - {DIVERSITY_N - 2}, 1)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        FROM tok WHERE len(w) >= {DIVERSITY_N}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           ROUND(COUNT(DISTINCT gram) / CAST(COUNT(*) AS DOUBLE), 6) AS diversity
    FROM ex GROUP BY source ORDER BY source
    """,
)
def ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source: the share of word-{DIVERSITY_N}-gram
    OCCURRENCES that are distinct types (distinct-n of Li et al. 2016,
    applied corpus-side as in the Gopher/MassiveText repetition
    diagnostics). A source whose ratio collapses is template spam —
    the aggregate twin of the per-doc ``repetition_quality`` gate and
    the per-doc ``cross_doc_ngram_dup`` worklist: this one says which
    SOURCE to down-weight in ``mixture_weights``, not which document
    to drop.

    Scale shape: one tokenize pass, trigram occurrences kept
    NON-distinct (diversity is about occurrences), then a single
    groupBy(source) with count + count(distinct gram) — Spark plans
    the distinct as a partial (source, gram) collapse before the
    source-keyed exchange, so the shuffle carries type counts, not the
    occurrence stream. No joins, no windows; output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    idx = F.sequence(F.lit(1), F.size("w") - (DIVERSITY_N - 1))
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("w"), F.col("i") + k) for k in range(DIVERSITY_N)]
    )
    ex = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("source", tokens_expr(F.col("text")).alias("w"))
        .filter(F.size("w") >= DIVERSITY_N)
        .select("source", F.explode(idx).alias("i"), "w")
        .select("source", gram.alias("gram"))
    )
    return (
        ex.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gram").alias("n_distinct"),
        )
        .select(
            "source",
            "n_grams",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_grams").cast("double"), 6).alias(
                "diversity"
            ),
        )
        .orderBy("source")
    )


HEAPS_BUCKETS = 10  # doc_id value-band checkpoints of the growth curve


@query(
    "heaps_law_curve",
    oracle=rf"""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ),
    thr AS (
        SELECT b, lo + ((hi - lo) * b) // {HEAPS_BUCKETS} AS t
        FROM bounds CROSS JOIN (SELECT UNNEST(range(1, {HEAPS_BUCKETS + 1})) AS b)
    ),
    tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS w
        FROM documents
    ),
    doc_b AS (
        SELECT d.doc_id, len(d.w) AS n_tok, MIN(t.b) AS b_first
        FROM tok d JOIN thr t ON t.t >= d.doc_id
        GROUP BY d.doc_id, len(d.w)
    ),
    tok_first AS (
        SELECT tok, MIN(doc_id) AS ft
        FROM (SELECT doc_id, UNNEST(w) AS tok FROM tok)
        GROUP BY tok
    ),
    vocab_b AS (
        SELECT MIN(t.b) AS b_first, v.tok
        FROM tok_first v JOIN thr t ON t.t >= v.ft
        GROUP BY v.tok
    ),
    per_b AS (
        SELECT t.b,
               (SELECT COUNT(*) FROM doc_b d WHERE d.b_first <= t.b) AS n_docs,
               (SELECT COALESCE(SUM(d.n_tok), 0) FROM doc_b d
                WHERE d.b_first <= t.b) AS n_tokens,
               (SELECT COUNT(*) FROM vocab_b v WHERE v.b_first <= t.b) AS vocab
        FROM thr t
    )
    SELECT CAST(b AS INT) AS bucket, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens, CAST(vocab AS BIGINT) AS vocab
    FROM per_b ORDER BY bucket
    """,
)
def heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct-token
    (vocab) and total-token counts at {HEAPS_BUCKETS} doc_id value-band
    checkpoints — the corpus diagnostic behind tokenizer sizing and
    dedup-payoff forecasts (vocab ~ K·Tokens^β; a corpus whose curve
    flattens early is repetitive, one that stays steep keeps paying
    for more vocab). Checkpoints are VALUE bands of doc_id (integer
    arithmetic ``lo + ((hi−lo)·b)//{HEAPS_BUCKETS}``), not rank
    deciles — rank would need a global sort / order statistic, value
    bands need only the 2-value bounds row (the gap-fill calendar
    precedent).

    Scale shape: one tokenize pass feeds (a) a per-doc token count and
    (b) a vocab-keyed MIN(doc_id) first-occurrence aggregate; each
    then takes its bucket from a broadcast {HEAPS_BUCKETS}-row
    threshold join and folds into {HEAPS_BUCKETS} partials, with the
    cumulative sums a window over the {HEAPS_BUCKETS}-row frame —
    corpus-sized data crosses the wire once, as vocab-keyed partials."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", tokens_expr(F.col("text")).alias("w")
    )
    # bounds come straight off the documents scan (NOT the repartitioned
    # tokenize frame): doc_id min/max needs no tokens and no round-robin
    # exchange, and with parquet aggregate pushdown it is answered from
    # footer statistics alone (r13; same rows either way)
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    b_lit = spark.range(1, HEAPS_BUCKETS + 1).select(F.col("id").alias("b"))
    thr = F.broadcast(
        b_lit.crossJoin(F.broadcast(bounds)).selectExpr(
            "b",
            # integer DIV — the oracle's // exactly, no double detour
            f"CAST(lo + (((hi - lo) * b) DIV {HEAPS_BUCKETS}) AS LONG) AS t",
        )
    )
    doc_b = (
        tok.select("doc_id", F.size("w").cast("long").alias("n_tok"))
        .join(thr, F.col("t") >= F.col("doc_id"))
        .groupBy("doc_id", "n_tok")
        .agg(F.min("b").alias("b_first"))
        .groupBy("b_first")
        .agg(
            F.count(F.lit(1)).alias("docs_at"),
            F.sum("n_tok").alias("toks_at"),
        )
    )
    vocab_b = (
        tok.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("ft"))
        .join(thr, F.col("t") >= F.col("ft"))
        .groupBy("tok")
        .agg(F.min("b").alias("b_first"))
        .groupBy("b_first")
        .agg(F.count(F.lit(1)).alias("vocab_at"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    # the per-bucket partials are ≤{HEAPS_BUCKETS} rows — broadcast them
    # (r13: the planner defaulted these aggregate⋈aggregate joins to
    # sort-merge, two needless exchanges+sorts per join)
    return (
        thr.select("b")
        .join(F.broadcast(doc_b), F.col("b") == F.col("b_first"), "left")
        .drop("b_first")
        .join(F.broadcast(vocab_b), F.col("b") == F.col("b_first"), "left")
        .drop("b_first")
        .select(
            F.col("b").cast("int").alias("bucket"),
            F.sum(F.coalesce(F.col("docs_at"), F.lit(0))).over(w).alias("n_docs"),
            F.sum(F.coalesce(F.col("toks_at"), F.lit(0))).over(w).alias("n_tokens"),
            F.sum(F.coalesce(F.col("vocab_at"), F.lit(0))).over(w).alias("vocab"),
        )
        .orderBy("bucket")
    )


SKIPGRAM_WINDOW = 5  # max token offset of a co-occurrence pair (SGNS k)


@query(
    "skipgram_pmi",
    oracle=rf"""
    WITH tok AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM (SELECT UNNEST(toks) AS w FROM tok) GROUP BY w
    ),
    tot AS (SELECT SUM(cu) AS t FROM uni),
    pairs AS (
        SELECT UNNEST(flatten(list_transform(range(1, len(toks)), i ->
                   list_transform(range(1, least({SKIPGRAM_WINDOW}, len(toks) - i) + 1), o ->
                       toks[i] || ' ' || toks[i + o])))) AS pair
        FROM tok WHERE len(toks) >= 2
    ),
    big AS (
        SELECT string_split(pair, ' ')[1] AS a,
               string_split(pair, ' ')[2] AS b,
               CAST(COUNT(*) AS BIGINT) AS cb
        FROM pairs GROUP BY pair
    ),
    btot AS (SELECT SUM(cb) AS tb FROM big),
    pmi AS (
        SELECT big.a, big.b, big.cb,
               ROUND(ln((big.cb / CAST(btot.tb AS DOUBLE))
                        / ((ua.cu / CAST(tot.t AS DOUBLE))
                           * (ub.cu / CAST(tot.t AS DOUBLE)))), 4) AS pmi
        FROM big
        JOIN uni ua ON ua.w = big.a
        JOIN uni ub ON ub.w = big.b
        CROSS JOIN tot CROSS JOIN btot
        WHERE big.cb >= {PMI_MIN_COUNT}
    )
    SELECT a AS left_tok, b AS right_tok, cb AS pair_count, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, a, b) AS INT) AS rank
    FROM pmi
    ORDER BY rank LIMIT {PMI_TOP}
    """,
)
def skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP} skip-gram PMI pairs at window {SKIPGRAM_WINDOW} —
    the ACTUAL matrix word2vec's SGNS factorizes (Levy & Goldberg
    2014 is stated for window-k co-occurrence, not just bigrams):
    ordered (earlier, later) token pairs at offsets 1..{SKIPGRAM_WINDOW},
    scored ln(p(a,b)/(p(a)p(b))) with the same count floor as
    `collocations_pmi` (whose adjacent pairs are this query's o=1
    slice). All probabilities derive from exact integer counts —
    bit-identical doubles on both engines before the 4dp round.

    Scale shape: pair generation is per-doc ARRAY algebra in the scan
    (a nested transform unrolls the {SKIPGRAM_WINDOW} offsets — no
    positions self-join, which would shuffle the corpus against
    itself); then the collocations_pmi shape exactly — one
    map-side-combinable pair aggregate (~{SKIPGRAM_WINDOW}× the bigram
    partials), vocab-keyed broadcast joins, one-row broadcast totals
    reusing the same exchanges, top-{PMI_TOP} as a group-limit over
    the floored pair set (see `collocations_pmi` for the plan pins)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.repartition(spark.sparkContext.defaultParallelism).select(
        tokens_expr(F.col("text")).alias("toks")
    )
    uni = (
        base.select(F.explode("toks").alias("w"))
        # semantically redundant (explode yields non-null tokens) but
        # load-bearing: the inner joins below infer isnotnull on the
        # keys and push it into THIS branch only, which would break
        # exchange canonicalization — stating it here keeps the totals
        # branch's subtree identical, so the shuffle is reused
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    pair_arr = F.when(
        F.size("toks") >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1),
                        F.least(F.lit(SKIPGRAM_WINDOW), F.size("toks") - i),
                    ),
                    lambda o: F.concat(
                        F.element_at("toks", i),
                        F.lit(" "),
                        F.element_at("toks", i + o),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # corpus totals: one-row aggregates broadcast back via crossJoin —
    # same shape (and same rationale) as collocations_pmi above; the
    # r12 windowed totals were a single-task WindowExec over the whole
    # distinct-pair frame, which at window-5 web scale is 5× worse
    # than the bigram case
    big_all = (
        base.select(F.explode(pair_arr).alias("pair"))
        # redundant for the same exchange-reuse reason as uni's filter
        .filter(
            F.split_part("pair", F.lit(" "), F.lit(1)).isNotNull()
            & F.split_part("pair", F.lit(" "), F.lit(2)).isNotNull()
        )
        .groupBy("pair")
        .agg(F.count("*").alias("cb"))
    )
    big = big_all.filter(F.col("cb") >= PMI_MIN_COUNT).select(
        F.split_part("pair", F.lit(" "), F.lit(1)).alias("a"),
        F.split_part("pair", F.lit(" "), F.lit(2)).alias("b"),
        "cb",
    )
    # both corpus totals ride ONE single-row frame (pair total PRE-floor)
    totals = big_all.agg(F.sum("cb").alias("tb")).crossJoin(
        uni.agg(F.sum("cu").alias("t"))
    )
    ua = uni.select(F.col("w").alias("a"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("cu").alias("cbu"))
    pmi = F.round(
        F.log(
            (F.col("cb") / F.col("tb").cast("double"))
            / (
                (F.col("ca") / F.col("t").cast("double"))
                * (F.col("cbu") / F.col("t").cast("double"))
            )
        ),
        4,
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    scored = (
        big.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(totals))
        .withColumn("pmi", pmi)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= PMI_TOP)
        .select(
            F.col("a").alias("left_tok"),
            F.col("b").alias("right_tok"),
            F.col("cb").alias("pair_count"),
            "pmi",
            "rank",
        )
        .orderBy("rank")
    )
