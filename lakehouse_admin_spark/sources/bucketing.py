"""Bucketed table layout for co-located (shuffle-free) joins.

The star joins' one unavoidable shuffle is lineitem⋈orders on orderkey
(SCALING.md). Bucketing both fact tables on the join key at write time
moves that shuffle from EVERY query to ONE write: Spark's bucketed scan
reports hashpartitioning(orderkey) so SortMergeJoin plans with no
Exchange on either side.

This is the 100 TB answer for repeated fact-fact joins; locally the
bucketed copies are written once per session into a managed warehouse
dir. (Spark bucketing requires saveAsTable — the managed-catalog
variant of the ledger's directory layout.)
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from lakehouse_admin_spark import index_registry


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """One-time bucketed materialization (overwrites)."""
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # the in-memory catalog is session-scoped but managed-table
    # locations persist on disk — clear a stale location from a prior
    # session or saveAsTable refuses
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, table_name.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    writer = df.write.bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.mode("overwrite").format("parquet").saveAsTable(table_name)


def get_bucketed_fact_pair(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-cached bucketed copies of lineitem and orders, bucketed
    (and sorted) on their orderkey — built ONCE per (session, sf tier)
    as an index-registry entry whose release drops both tables; every
    subsequent star join reuses the co-located layout. This is the
    write-once/join-many trade the reference's warehouse would make at
    100 TB: the one fact-fact shuffle moves from every query into a
    single materialization. Table names derive from the normalised
    tier path, so two tiers sharing a basename never share tables."""
    from lakehouse_admin_spark.sources.tables import load_table

    def build() -> tuple[str, str]:
        norm = os.path.abspath(sf_dir.rstrip("/"))
        tag = hashlib.sha1(norm.encode()).hexdigest()[:16]
        ln, rn = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
        write_bucketed(
            load_table(spark, sf_dir, "lineitem"), ln, "l_orderkey",
            sort_col="l_orderkey",
        )
        write_bucketed(
            load_table(spark, sf_dir, "orders"), rn, "o_orderkey",
            sort_col="o_orderkey",
        )
        return ln, rn

    def release(names: tuple[str, str]) -> None:
        if spark.sparkContext._jsc is None:
            # a stopped session's DROP still runs and would delete the
            # on-disk location a later session's same-named table uses
            return
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    ln, rn = index_registry.get(
        spark, sf_dir, "bucketed_facts", build, release=release
    )
    return spark.table(ln), spark.table(rn)


def bucketed_join_pair(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    key_left: str,
    key_right: str,
    n_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Materialize both sides bucketed on their join keys and return the
    bucketed scans. A subsequent equi-join on those keys plans without
    exchanges (pinned in tests/test_bucketing.py)."""
    write_bucketed(left, left_name, key_left, n_buckets, sort_col=key_left)
    write_bucketed(right, right_name, key_right, n_buckets, sort_col=key_right)
    return spark.table(left_name), spark.table(right_name)
