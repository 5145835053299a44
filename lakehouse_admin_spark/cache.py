"""Metadata cache: Spark-managed tables replacing the reference's MySQL
cache (reference: backend/internal/service_refresh.go, migrations
20251120183135_add_tables.sql).

The reference refreshes per-table with DELETE + chunked INSERTs of 100
rows (service_refresh.go:121-199); here each refresh is one dynamic
partition overwrite (the cache parquet is partitioned by
(database, table), so refreshing one table replaces exactly its
partition — M5). Stale-table cleanup (J1) is the cached-minus-live
anti-join instead of `funk.Difference` over Go slices
(service_refresh.go:82-89,234-239).

The cache exists for the same reason as the reference's: summaries over
many tables become ONE aggregation over the cached partitions table
instead of N metadata round-trips (the reference's N+1 pattern,
service_metadata.go:36-66 — SURVEY §3.1)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from lakehouse_admin_spark.metadata import local_frame, partitions_df, snapshots_df
from lakehouse_admin_spark.operators.analyze import OptimizeSettings
from lakehouse_admin_spark.sources.ledger import LedgerCatalog

_TABLE_KEY_SCHEMA = StructType(
    [StructField("database", StringType()), StructField("table", StringType())]
)


class MetadataCache:
    def __init__(self, spark: SparkSession, cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def _path(self, entity: str) -> str:
        return os.path.join(self.cache_dir, entity)

    def _exists(self, entity: str) -> bool:
        p = self._path(entity)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f.startswith("database=") for f in os.listdir(p)
        )

    def read(self, entity: str) -> DataFrame:
        if not self._exists(entity):
            raise KeyError(f"cache entity {entity!r} is empty — refresh first")
        return self.spark.read.parquet(self._path(entity))

    # ------------------------------------------------------------------
    # refresh (M5)
    # ------------------------------------------------------------------
    def _build_entity(
        self,
        catalog: LedgerCatalog,
        database: str,
        name: str,
        entity: str,
        settings: OptimizeSettings | None = None,
    ) -> DataFrame:
        """One table's fresh cache rows for ``partitions`` or
        ``snapshots`` (JSON-flattened so the cache parquet schema is
        stable across tables with different partition specs).

        Decode-cost audit (r9): the SNAPSHOTS entity reads snapshot
        JSON summaries only — zero segment-body decodes (pinned in
        test_parquet_segments.py). The PARTITIONS entity aggregates
        per-file record counts/sizes/partition values, so the entry
        decode is INHERENT to it — the projected (kind, file_path)
        read cannot serve it; at 10^6 files it rides the parquet
        manifest when one exists (files_df's distributed tier)."""
        tbl = catalog.table(database, name)
        if entity == "partitions":
            return (
                partitions_df(tbl, settings)
                .withColumn("database", F.lit(database))
                .withColumn("table", F.lit(name))
                .withColumn("partition_json", F.to_json(F.col("partition")))
                .withColumn("browse_json", F.to_json(F.col("partition_browse")))
                .drop("partition", "partition_browse", "partition_key")
            )
        if entity == "snapshots":
            return (
                snapshots_df(tbl)
                .withColumn("database", F.lit(database))
                .withColumn("table", F.lit(name))
                .withColumn("summary_json", F.to_json(F.col("summary")))
                .drop("summary", "committed_at")
            )
        raise KeyError(f"unknown cache entity {entity!r}")

    def refresh_entity(
        self,
        catalog: LedgerCatalog,
        database: str,
        name: str,
        entity: str,
        settings: OptimizeSettings | None = None,
    ) -> DataFrame:
        """Partial refresh of ONE entity for one table (reference:
        service_refresh.go RefreshPartitions/RefreshSnapshots behind
        GET /api/refresh/:db/:table/partitions|snapshots). Dynamic
        partition overwrite replaces exactly this table's slice; returns
        the refreshed rows (the handlers echo them back)."""
        df = self._build_entity(catalog, database, name, entity, settings)
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("database", "table").parquet(self._path(entity))
        return self.cached(entity, database, name)

    def refresh_table(
        self,
        catalog: LedgerCatalog,
        database: str,
        name: str,
        settings: OptimizeSettings | None = None,
    ) -> dict[str, int]:
        """Refresh one table's cached partitions + snapshots: dynamic
        partition overwrite replaces exactly this table's cache slice
        (the DELETE+INSERT of service_refresh.go:121-199 as one
        distributed write)."""
        counts = {}
        for entity in ("partitions", "snapshots"):
            counts[entity] = self.refresh_entity(
                catalog, database, name, entity, settings
            ).count()
        return counts

    # ------------------------------------------------------------------
    # cached reads (the /api/metadata listings)
    # ------------------------------------------------------------------
    def cached(self, entity: str, database: str, table: str) -> DataFrame:
        """Cached rows for one (database, table) without touching the
        live catalog (reference: handler_metadata.go:36-54 — SELECT from
        the MySQL cache). The cache parquet is Hive-partitioned on
        (database, table), so this read partition-prunes to exactly one
        directory regardless of catalog size."""
        return self.read(entity).filter(
            (F.col("database") == database) & (F.col("table") == table)
        )

    def refresh_all(
        self, catalog: LedgerCatalog, settings: OptimizeSettings | None = None
    ) -> dict[str, int]:
        n = {"tables": 0, "partitions": 0, "snapshots": 0}
        live: list[tuple[str, str]] = []
        for db in catalog.list_databases():
            for t in catalog.list_tables(db):
                counts = self.refresh_table(catalog, db, t, settings)
                live.append((db, t))
                n["tables"] += 1
                n["partitions"] += counts["partitions"]
                n["snapshots"] += counts["snapshots"]
        n["stale_removed"] = self.remove_stale(live)
        return n

    # ------------------------------------------------------------------
    # stale cleanup (J1 + M6)
    # ------------------------------------------------------------------
    def stale_tables(self, live: list[tuple[str, str]]) -> list[tuple[str, str]]:
        """Cached (database, table) pairs no longer in the live catalog —
        left_anti join, the Spark form of funk.Difference."""
        if not self._exists("partitions"):
            return []
        cached = self.read("partitions").select("database", "table").distinct()
        live_df = local_frame(self.spark, live, _TABLE_KEY_SCHEMA)
        stale = cached.join(live_df, ["database", "table"], "left_anti")
        return sorted((r["database"], r["table"]) for r in stale.collect())

    def remove_stale(self, live: list[tuple[str, str]]) -> int:
        """Cascade-delete stale tables' cache slices (M6; the reference
        deletes partitions/snapshots/tasks rows per table,
        service_refresh.go:297-316). Hive-layout cache → drop the
        partition directories."""
        import shutil

        stale = self.stale_tables(live)
        for db, t in stale:
            for entity in ("partitions", "snapshots"):
                p = os.path.join(self._path(entity), f"database={db}", f"table={t}")
                if os.path.isdir(p):
                    shutil.rmtree(p)
        return len(stale)

    # ------------------------------------------------------------------
    # cached summaries (3.1 without the N+1)
    # ------------------------------------------------------------------
    def table_summaries(self, database: str | None = None) -> DataFrame:
        """Per-table summary in ONE aggregation over cached partitions
        joined with snapshot counts — replaces the reference's
        two-queries-per-table pattern."""
        parts = self.read("partitions")
        snaps = self.read("snapshots")
        if database is not None:
            parts = parts.filter(F.col("database") == database)
            snaps = snaps.filter(F.col("database") == database)
        psum = parts.groupBy("database", "table").agg(
            F.count(F.lit(1)).alias("partition_count"),
            F.coalesce(F.sum("file_count"), F.lit(0)).alias("file_count"),
            F.coalesce(F.sum("record_count"), F.lit(0)).alias("record_count"),
            F.coalesce(F.sum("total_data_file_size_in_bytes"), F.lit(0)).alias(
                "total_data_file_size_in_bytes"
            ),
            F.coalesce(F.max("needs_optimize"), F.lit(False)).alias("needs_optimize"),
        )
        ssum = snaps.groupBy("database", "table").agg(
            F.count(F.lit(1)).alias("snapshot_count"),
            F.max("snapshot_id").alias("latest_snapshot_id"),
        )
        return psum.join(ssum, ["database", "table"], "left").orderBy("database", "table")
