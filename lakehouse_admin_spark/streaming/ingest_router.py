"""Streaming ingest router: newly-arrived documents stream in and each
micro-batch is routed to its lexical nearest neighbors in the FROZEN
base corpus via the shared BM25 serving body
(``operators/retrieval.bm25_route_frame``) — the streaming surface of
``bm25_incremental``, i.e. the near-duplicate / similar-content gate a
training-data pipeline runs AT INGEST TIME instead of as a nightly
batch.

Shape: ``foreachBatch`` (not a stateful operator) — routing needs the
posting-list JOIN against the persisted base index, which is ordinary
batch DataFrame algebra per micro-batch; the only state is the frozen
index itself, owned by the per-(session, corpus) cache in retrieval.py
(built once on the first batch, reused by every later one — the
dsir/epoch story). Because each document routes independently, ANY
split of the arrivals into micro-batches produces the identical union
of routes — the stream==batch equivalence test feeds the graded delta
stripe through 3 out-of-order drops and matches ``bm25_incremental``'s
rows exactly.

At 100 TB: the stream is the ingest firehose; per batch the work is
O(batch posting mass) against a shared immutable index — no state
shuffle, no corpus rescan, and a re-trained index epoch is one
``index_registry.invalidate(tier, "bm25")`` + warm rebuild away.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from lakehouse_admin_spark.operators.retrieval import bm25_route_frame


def make_route_batch(spark: SparkSession, sf_dir: str, out_dir: str):
    """The foreachBatch body, exposed so the replay test can invoke it
    twice with the SAME batch_id and assert the second write replaces
    (not duplicates) the first — the exactly-once-per-batch contract."""

    def route_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = bm25_route_frame(spark, sf_dir, batch_df)
        (
            out.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_{batch_id}")
            )
        )

    return route_batch


def bm25_ingest_router_stream(
    spark: SparkSession,
    sf_dir: str,
    arrivals: DataFrame,
    out_dir: str,
) -> StreamingQuery:
    """Start the router: ``arrivals`` is a STREAMING (doc_id, text, …)
    frame; each micro-batch's routes land as parquet under
    ``out_dir/batch_<batch_id>``. The path is DETERMINISTIC in the
    Structured-Streaming batch_id and written with mode("overwrite"),
    so a batch replayed after a crash-before-checkpoint overwrites its
    own earlier (possibly partial) attempt instead of double-writing —
    exactly-once per batch_id, matching the checkpoint's replay
    contract. Returns the query handle; callers own
    ``awaitTermination``."""
    route_batch = make_route_batch(spark, sf_dir, out_dir)

    return (
        arrivals.writeStream.foreachBatch(route_batch)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join(out_dir, "_checkpoint"),
        )
        .start()
    )
