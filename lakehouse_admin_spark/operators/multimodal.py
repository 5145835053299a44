"""Multimodal column handling: opaque binary payloads + typed metadata.

Training-data-pipeline extension (no counterpart in the reference).
Images/audio/video are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extract / frame-sample run as
Arrow-batched ``mapInPandas`` pipelines — the real 100 TB plumbing
(schema, batch shape, partitioning) with the codec itself stubbed:
this container ships no image/audio libraries, so the decode core is a
DETERMINISTIC FAKE (clearly marked) deriving pixel dimensions from the
payload hash. Swapping in PIL/ffmpeg touches only `_decode_payload`.

Payloads here are synthesized from the documents fixture (utf-8 bytes),
which keeps every byte count oracle-checkable in DuckDB.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.index_registry import free_checkpoint
from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.tables import load_table

FEATURE_DIM = 16


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct) — the canonical
    multimodal carrier shape: opaque bytes + typed metadata."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime_type"),
            F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _make_decoder():
    """DETERMINISTIC FAKE decode (stub for PIL/ffmpeg/etc.): derives
    (width, height, codec) from the payload hash. Replace the nested
    body with a real decoder — the Spark plumbing does not change.

    Factory-nested so cloudpickle serializes it BY VALUE: executor
    Python workers need no importable copy of this package (the driver
    may run from any cwd — a vanilla-session drive caught exactly this)."""

    def decode_payload(payload: bytes) -> tuple[int, int, str]:
        import hashlib as _hashlib

        h = _hashlib.md5(payload).digest()
        width = 16 + h[0] % 240
        height = 16 + h[1] % 240
        codec = ["raw", "rle", "lz"][h[2] % 3]
        return width, height, codec

    return decode_payload


_decode_payload = _make_decoder()


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("codec", StringType()),
    ]
)


def decode_batches(df: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow batches in, decoded metadata out.

    This is the hot-path shape for binary processing at scale: batches
    stream through Python once (no per-row UDF calls), the binary column
    is dropped as early as possible, and output is a narrow typed frame.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_payload(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "codec": [d[2] for d in decoded],
                }
            )

    return df.mapInPandas(decode, DECODED_SCHEMA)


FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Feature extraction over binary payloads (deterministic fake:
    md5-seeded values in [0,1)); same mapInPandas batch shape a real
    vision encoder would use (payload → fixed-dim float vector)."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                h = hashlib.md5(p).digest()
                feats.append([h[i % 16] / 255.0 for i in range(dim)])
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "features": feats})

    return df.mapInPandas(featurize, FEATURES_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_offset_bytes", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(df: DataFrame, n_frames: int = 4, frame_bytes: int = 64) -> DataFrame:
    """Frame sampling for "video" payloads: emit n evenly-spaced byte
    windows per payload — a row-expanding mapInPandas (1 → n rows), the
    shape a real ffmpeg frame sampler produces."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_offset_bytes": [], "frame": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n = max(len(p), 1)
                for i in range(n_frames):
                    off = (i * n) // n_frames
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_offset_bytes"].append(off)
                    out["frame"].append(bytes(p[off : off + frame_bytes]))
            yield pd.DataFrame(out)

    return df.mapInPandas(sample, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           lang, source
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata projection of the binary carrier (byte counts are
    utf-8 octet lengths — oracle-checkable exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    mm = attach_binary_payload(docs)
    return mm.select(
        "doc_id",
        F.col("meta.mime_type").alias("mime_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
    ).orderBy("doc_id")


@query(
    "multimodal_decode",
    # the decode stub is md5-deterministic, so the whole pipeline is
    # replayable in SQL: byte i of md5(text) is two hex chars decoded by
    # strpos arithmetic (DuckDB md5() hashes the VARCHAR's utf-8 bytes —
    # identical input to the Python stub's md5(payload))
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS hx
      FROM documents
    ), b AS (
      SELECT doc_id, n_bytes,
        (strpos('0123456789abcdef', substring(hx,1,1))-1)*16
          + (strpos('0123456789abcdef', substring(hx,2,1))-1) AS b0,
        (strpos('0123456789abcdef', substring(hx,3,1))-1)*16
          + (strpos('0123456789abcdef', substring(hx,4,1))-1) AS b1,
        (strpos('0123456789abcdef', substring(hx,5,1))-1)*16
          + (strpos('0123456789abcdef', substring(hx,6,1))-1) AS b2
      FROM h
    )
    SELECT doc_id, n_bytes,
           16 + b0 % 240 AS width,
           16 + b1 % 240 AS height,
           CASE b2 % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'rle' ELSE 'lz' END AS codec
    FROM b ORDER BY doc_id
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode pipeline end-to-end (the decode core is the documented
    deterministic stub, so the DuckDB oracle replays it exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_batches(attach_binary_payload(docs)).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    # 4 evenly-spaced 64-byte windows per payload; offsets and window
    # lengths are pure arithmetic over octet_length
    oracle="""
    WITH f AS (
      SELECT d.doc_id,
             CAST(g.range AS INTEGER) AS frame_idx,
             GREATEST(CAST(octet_length(encode(d.text)) AS BIGINT), 1) AS n,
             CAST(octet_length(encode(d.text)) AS BIGINT) AS n_real
      FROM documents d CROSS JOIN range(4) g
    )
    SELECT doc_id, frame_idx,
           (frame_idx * n) // 4 AS frame_offset_bytes,
           CAST(LEAST(64, GREATEST(n_real - (frame_idx * n) // 4, 0)) AS INTEGER)
             AS frame_bytes
    FROM f ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline (4 frames per payload; frame bytes are
    length-projected so the result is oracle-hashable)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_binary_payload(docs))
    return frames.select(
        "doc_id", "frame_idx", "frame_offset_bytes", F.length("frame").alias("frame_bytes")
    ).orderBy("doc_id", "frame_idx")


EMBED_STUB_DIM = 8


@query("doc_embed_stub", oracle=f"""
    SELECT doc_id,
           CAST(t.j AS BIGINT) AS dim,
           ROUND(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                         CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0, 6) AS val
    FROM documents, UNNEST(range(0, {EMBED_STUB_DIM})) AS t(j)
    ORDER BY doc_id, dim
    """)
def doc_embed_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ENCODING plumbing (the embed-the-dataset batch-inference
    pass): an Arrow-batched ``mapInPandas`` kernel plays the model
    server — here a documented md5 stub (vector[j] derived from
    md5(doc_id:j)), in production the same kernel shape hosts a real
    encoder with per-batch model reuse. Each batch builds its vectors
    as one ndarray then explodes to (doc_id, dim, val) rows so the
    result is hash-comparable; the DuckDB oracle replays the hash
    bit-for-bit. No shuffle: the encode is map-only over the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dim = EMBED_STUB_DIM

    def make_kernel():
        def kernel(batches):
            import hashlib

            import numpy as np
            import pandas as pd

            for pdf in batches:
                ids = pdf["doc_id"].to_numpy()
                n = len(ids)
                vals = np.empty((n, dim), dtype=np.float64)
                for i, d in enumerate(ids):
                    for j in range(dim):
                        h = hashlib.md5(f"{d}:{j}".encode()).hexdigest()
                        vals[i, j] = round(int(h[:8], 16) / 4294967296.0, 6)
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(ids, dim),
                        "dim": np.tile(np.arange(dim, dtype=np.int64), n),
                        "val": vals.ravel(),
                    }
                )

        return kernel

    out_schema = "doc_id bigint, dim bigint, val double"
    return (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(make_kernel(), out_schema)
        .orderBy("doc_id", "dim")
    )


_MM_ANN_TOPK = 5


def _feature_ann_oracle() -> str:
    # digest byte i of md5(utf8(text)) = hex pair at (i*2+1, 2)
    feat = (
        "list_transform(range(16), i -> "
        "CAST(('0x' || substr(md5(text), CAST(i AS INT) * 2 + 1, 2)) AS BIGINT)"
        " / 255.0)"
    )
    return f"""
    WITH f AS MATERIALIZED (
        SELECT doc_id, {feat} AS feat FROM documents
    ),
    q AS (SELECT doc_id AS query_id, feat AS qf FROM f WHERE doc_id % 100 = 0),
    sims AS (
        SELECT q.query_id, f.doc_id AS neighbor_id,
               ROUND(
                 list_sum(list_transform(list_zip(q.qf, f.feat), p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(q.qf, x -> x * x)))
                    * sqrt(list_sum(list_transform(f.feat, x -> x * x)))), 6) AS cosine
        FROM q CROSS JOIN f
        WHERE f.doc_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(rnk AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM sims
    ) WHERE rnk <= {_MM_ANN_TOPK}
    ORDER BY query_id, rank
    """


def _make_featurizer():
    """Arrow-batched md5 feature encoder (double precision — the
    float32 carrier in extract_features would quantize away oracle
    bit-parity). Factory-nested so cloudpickle ships it BY VALUE."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                h = _hashlib.md5(p).digest()
                feats.append([h[i % 16] / 255.0 for i in range(16)])
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "feat": feats})

    return featurize


def _session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or fetch) the session (doc_id, feat) feature frame — the
    multimodal tier's EMBEDDING TABLE: in a real pipeline the encoder
    runs once per asset and the features are a standing, materialized
    asset every retrieval query reads. Payloads run through the encode
    kernel exactly once per (session, tier), payload dropped at the
    kernel boundary, localCheckpoint'd in the index registry."""

    def build():
        docs = load_table(spark, sf_dir, "documents")
        payloads = attach_binary_payload(docs).select("doc_id", "payload")
        return payloads.mapInPandas(
            _make_featurizer(), "doc_id bigint, feat array<double>"
        ).localCheckpoint()

    return index_registry.get(
        spark, sf_dir, "mm_features", build, release=free_checkpoint
    )


@query("multimodal_feature_ann", oracle=_feature_ann_oracle())
def multimodal_feature_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval plumbing end to end: binary payloads run
    through the (stub) vision-encoder kernel — one Arrow batch pass,
    payload dropped immediately after featurizing — and the resulting
    fixed-dim vectors serve brute-force top-k cosine for the stride
    queries, exactly the shape a real image-similarity pipeline has
    (encode once, rank on the narrow feature frame). The fake encoder
    is md5-derived, so the oracle re-derives the features from the
    same bytes and replays the ranking — a hash match proves the whole
    decode->featurize->rank chain. The exact scan is the baseline; at
    corpus scale the feature frame feeds the same IVF/PQ/graph tiers
    as the embeddings table."""
    from lakehouse_admin_spark.operators import similarity as _sim

    # the encoded feature frame comes off the session cache — the
    # kernel ran once at build; serving reads materialized (doc_id,
    # feat) rows, and the query side filters that same frame (the
    # stride read at call time, so the stress bench can fix nq per
    # tier; default 100 matches the oracle's literal)
    vecs = _session_features(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), F.col("feat").alias("embedding")
    )
    queries, cands = _sim.stride_queries(vecs), _sim.candidates(vecs)
    pairs = _sim.brute_pairs(queries, cands, "neighbor_id")
    sims = pairs.select(
        "query_id", "neighbor_id", _sim.cosine6("qe", "ce", "nq", "nc").alias("cosine")
    )
    by_cosine = [F.desc("cosine"), F.asc("neighbor_id")]
    return (
        _sim.top_k(sims, "query_id", by_cosine, _MM_ANN_TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )
