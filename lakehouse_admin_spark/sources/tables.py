"""Parquet source layer for the driver-generated test tables.

The reference's scans are Iceberg/Glue metadata reads (reference:
backend/internal/iceberg_client.go:329-406 — list namespaces/tables,
plan files). Here the equivalent "catalog" for the analytics surface is a
directory of parquet tables; the ledger format (sources/ledger.py) adds
snapshot/partition/file metadata on top for the admin surface.

Scale note: ``spark.read.parquet`` paths produce a FileSourceScanExec with
predicate pushdown + column pruning; nothing in this module collects data
to the driver.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (lazy parquet scan).

    ``events.ts`` has drifted across testdata generations, so the load is
    type-driven rather than generation-driven, decided once per call
    from the parquet footer:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
      (PARQUET_TYPE_ILLEGAL), so we read nanos as long
      (`spark.sql.legacy.parquet.nanosAsLong`) and rebuild a microsecond
      timestamp — lossless (fixture timestamps are µs-aligned). The
      flag is session-global and changes every later parquet read, so
      it is set only for this form.
    - parquet timestamp[us] without the UTC flag: Spark 4 infers
      TIMESTAMP_NTZ (`spark.sql.parquet.inferTimestampNTZ.enabled`
      defaults true), which event-time APIs (`unix_micros`, watermarks)
      reject. Cast to TIMESTAMP_LTZ — value-preserving under the UTC
      session timezone set in session.py.

    Both normalizations are codegen'd projections, not UDFs; the scan
    keeps predicate pushdown + column pruning.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    ts = pq.ParquetDataset(path).schema.field("ts").type
    if pa.types.is_timestamp(ts) and ts.unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for Spark SQL use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
