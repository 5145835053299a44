"""LakehouseAdmin — the engine facade.

One object offering the reference application's full API surface
(reference route table: backend/main.go:37-100) re-expressed as library
calls over Spark: browse (databases/tables/summaries/drill-down/files),
describe, refresh, integrity, settings, task planning/execution, and
the maintenance procedures. A user of the reference's HTTP API finds
each endpoint's behavior under the same name here.

| reference endpoint                       | here |
|------------------------------------------|------|
| GET /api/browse/databases                | list_databases() |
| GET /api/browse/:db/tables               | list_tables_with_summaries(db) |
| POST /api/browse/:db/:t/partitions       | drilldown(db, t, selected) |
| POST /api/browse/:db/:t/files            | list_partition_files(db, t, selected) |
| GET /api/tables/:t (describe)            | describe(db, t) |
| GET /api/refresh/:db/:t                  | refresh(db, t) |
| GET /api/integrity/:db/:t                | integrity(db, t) |
| GET/PUT /api/settings                    | settings |
| POST /api/tasks/:db/:t/optimize          | plan_optimize(db, t, …) |
| POST /api/tasks/:db/:t/expire_snapshots  | enqueue_expire(db, t, …) |
| POST /api/tasks/:db/:t/remove_orphans    | enqueue_orphans(db, t) |
| GET /api/tasks (+counts)                 | tasks.list() / tasks.counts() |
| POST /api/tasks/:id/retry                | tasks.retry(id) |
| worker loop                              | run_worker() |
| POST /api/iceberg/:db/:t/rollback        | rollback(db, t, snapshot_id) |
| GET /api/browse/:db/:t (summary)         | table_summary(db, t) |
| GET /api/metadata/:db/:t/partitions      | cached_partitions(db, t) |
| GET /api/metadata/:db/:t/snapshots       | cached_snapshots(db, t) |
| POST /api/maintenance/:db/expire-snapshots | enqueue_expire_batch(db, tables, days) |
| POST /api/maintenance/:db/remove-orphan-files | enqueue_orphans_batch(db, tables) |
| POST /api/maintenance/:db/optimize       | enqueue_optimize_batch(db, tables, from, to) |
| POST /api/tasks/callback/:id/result      | tasks.procedure_callback(id, ...) |
| POST /api/tasks/:db/retry-all            | tasks.retry_all(db) |
| GET /api/refresh/tables                  | refresh_tables() |
| GET /api/refresh/:db                     | refresh_database(db) |
| GET /api/refresh/:db/:t/partitions       | refresh_partitions(db, t) |
| GET /api/refresh/:db/:t/snapshots        | refresh_snapshots(db, t) |
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession

from lakehouse_admin_spark import maintenance as mnt
from lakehouse_admin_spark import metadata as md
from lakehouse_admin_spark import tasks as tsk
from lakehouse_admin_spark.cache import MetadataCache
from lakehouse_admin_spark.catalog import describe_table
from lakehouse_admin_spark.functions.partitions import synth_partition_filters
from lakehouse_admin_spark.integrity import integrity_report
from lakehouse_admin_spark.settings import SettingsStore
from lakehouse_admin_spark.sources.ledger import LedgerCatalog, LedgerTable, PartitionField


class LakehouseAdmin:
    def __init__(self, spark: SparkSession, warehouse: str, state_dir: str | None = None):
        self.spark = spark
        self.catalog = LedgerCatalog(spark, warehouse)
        state_dir = state_dir or os.path.join(warehouse, "_admin")
        os.makedirs(state_dir, exist_ok=True)
        self.settings = SettingsStore(os.path.join(state_dir, "settings.json"))
        self.cache = MetadataCache(spark, os.path.join(state_dir, "cache"))
        self.tasks = tsk.TaskQueue(
            concurrency=self.settings.get_int("task_concurrency"),
            persist_path=os.path.join(state_dir, "tasks.jsonl"),
        )

    # -- browse --------------------------------------------------------
    def list_databases(self) -> list[str]:
        return self.catalog.list_databases()

    def list_tables_with_summaries(self, database: str) -> DataFrame:
        """§3.1 without the N+1: per-table totals folded on the driver
        over the cached partitions."""
        return self.cache.table_summaries(database)

    def describe(self, database: str, table: str) -> dict:
        return describe_table(self.catalog, database, table)

    def drilldown(self, database: str, table: str, selected: dict[str, str]) -> DataFrame:
        tbl = self.catalog.table(database, table)
        return md.drilldown(tbl, selected, self.settings.optimize_settings())

    def list_partition_files(
        self, database: str, table: str, selected: dict[str, str]
    ) -> DataFrame:
        """File listing for a fully-selected partition: browse-field
        selections go through P9 synthesis into raw predicates."""
        tbl = self.catalog.table(database, table)
        raw = synth_partition_filters(tbl.partition_spec(), selected)
        return md.list_files(tbl, raw)

    # -- tables --------------------------------------------------------
    def create_table(self, database, name, schema, spec: list[PartitionField]) -> LedgerTable:
        return self.catalog.create_table(database, name, schema, spec)

    def table(self, database: str, name: str) -> LedgerTable:
        return self.catalog.table(database, name)

    # -- refresh / integrity ------------------------------------------
    def refresh(self, database: str, table: str) -> dict[str, int]:
        return self.cache.refresh_table(
            self.catalog, database, table, self.settings.optimize_settings()
        )

    def refresh_all(self) -> dict[str, int]:
        return self.cache.refresh_all(self.catalog, self.settings.optimize_settings())

    def integrity(self, database: str, table: str) -> dict:
        return integrity_report(self.catalog.table(database, table))

    def refresh_partitions(self, database: str, table: str) -> DataFrame:
        """Partial refresh: recompute + return this table's cached
        partitions only (reference: handler_refresh.go RefreshPartitions)."""
        return self.cache.refresh_entity(
            self.catalog, database, table, "partitions", self.settings.optimize_settings()
        )

    def refresh_snapshots(self, database: str, table: str) -> DataFrame:
        """Partial refresh: recompute + return this table's cached
        snapshots only (reference: handler_refresh.go RefreshSnapshots)."""
        return self.cache.refresh_entity(self.catalog, database, table, "snapshots")

    def refresh_database(self, database: str) -> dict[str, int]:
        """Refresh every table in one database (reference:
        service_refresh.go RefreshDatabase)."""
        n = {"tables": 0, "partitions": 0, "snapshots": 0}
        for t in self.catalog.list_tables(database):
            counts = self.cache.refresh_table(
                self.catalog, database, t, self.settings.optimize_settings()
            )
            n["tables"] += 1
            n["partitions"] += counts["partitions"]
            n["snapshots"] += counts["snapshots"]
        return n

    def refresh_tables(self) -> dict[str, int]:
        """Sync the cached table list against the live catalog: drop
        cache slices for tables that no longer exist (reference:
        service_refresh.go:62-89 RefreshAllTables — list live, diff
        stored, delete stale)."""
        live = [
            (db, t)
            for db in self.catalog.list_databases()
            for t in self.catalog.list_tables(db)
        ]
        return {"tables": len(live), "stale_removed": self.cache.remove_stale(live)}

    # -- cached metadata listings (reference: handler_metadata.go) -----
    def cached_partitions(self, database: str, table: str) -> DataFrame:
        return self.cache.cached("partitions", database, table)

    def cached_snapshots(self, database: str, table: str) -> DataFrame:
        return self.cache.cached("snapshots", database, table)

    def table_summary(self, database: str, table: str) -> dict:
        """Single-table summary from the cache (reference:
        handler_browse.go:101-115 TableSummary): that table's cached
        totals, summed on the driver."""
        row = self.cache.table_summary(database, table)
        if row is None:
            raise KeyError(f"table {database}.{table} not in cache — refresh first")
        return row

    # -- metadata tables ----------------------------------------------
    def snapshots(self, database: str, table: str) -> DataFrame:
        return md.snapshots_df(self.catalog.table(database, table))

    def partitions(self, database: str, table: str) -> DataFrame:
        return md.partitions_df(
            self.catalog.table(database, table), self.settings.optimize_settings()
        )

    # -- tasks ---------------------------------------------------------
    def plan_optimize(
        self,
        database: str,
        table: str,
        date_from: dt.date,
        date_until: dt.date,
        chunking: str = "daily",
    ) -> list[tsk.Task]:
        return tsk.plan_optimize_tasks(
            self.tasks,
            self.catalog,
            database,
            table,
            date_from,
            date_until,
            chunking=chunking,
            delay_hours=self.settings.get_int("needs_optimize_delay_hours"),
            settings=self.settings.optimize_settings(),
        )

    def enqueue_expire(self, database: str, table: str, retention_days: int) -> tsk.Task:
        return self.tasks.enqueue(
            database,
            table,
            tsk.KIND_EXPIRE,
            {"retention_days": tsk.clamp_retention_days(retention_days)},
        )

    def enqueue_orphans(self, database: str, table: str) -> tsk.Task:
        return self.tasks.enqueue(database, table, tsk.KIND_ORPHANS, {})

    # -- batch maintenance (reference: handler_maintenance.go,
    #    service_tasks.go:138-186,298-330) --------------------------------
    @staticmethod
    def _enqueue_batch(tables: list[str], enqueue_one) -> dict:
        """Per-table enqueue with per-table failure isolation; the
        reference's BatchEnqueueResult shape (task_ids as strings —
        int64-in-JS pinning, like Task.to_json)."""
        result = {"task_ids": [], "enqueued_count": 0, "failed_tables": []}
        for table in tables:
            try:
                ids = enqueue_one(table)
            except Exception as exc:  # noqa: BLE001 — isolate per table
                result["failed_tables"].append({"table": table, "error": str(exc)})
                continue
            result["task_ids"].extend(str(i) for i in ids)
            result["enqueued_count"] += len(ids)
        return result

    def enqueue_expire_batch(
        self, database: str, tables: list[str], retention_days: int
    ) -> dict:
        def one(t: str) -> list[int]:
            self.catalog.table(database, t)  # existence check → failed_tables
            return [self.enqueue_expire(database, t, retention_days).id]

        return self._enqueue_batch(tables, one)

    def enqueue_orphans_batch(self, database: str, tables: list[str]) -> dict:
        def one(t: str) -> list[int]:
            self.catalog.table(database, t)  # existence check → failed_tables
            return [self.enqueue_orphans(database, t).id]

        return self._enqueue_batch(tables, one)

    def enqueue_optimize_batch(
        self,
        database: str,
        tables: list[dict],
        date_from: dt.date,
        date_until: dt.date,
    ) -> dict:
        """Batch optimize across tables, one planned chunk-task set per
        table (reference: service_tasks.go:150-186 EnqueueOptimizeBatch;
        normalization per normalizeBatchOptimizeTables:500-520 —
        trim, drop empties, first-occurrence dedupe)."""
        if date_from > date_until:
            raise ValueError("from date must be before or equal to the to date")
        normalized: list[tuple[str, str]] = []
        seen: set[str] = set()
        for spec in tables:
            name = (spec.get("table") or "").strip()
            if not name or name in seen:
                continue
            seen.add(name)
            normalized.append((name, (spec.get("chunk_by") or "daily").strip()))
        if not normalized:
            raise ValueError("at least one table must be provided")
        result = {"task_ids": [], "enqueued_count": 0, "failed_tables": []}
        for name, chunk_by in normalized:
            try:
                planned = self.plan_optimize(
                    database, name, date_from, date_until, chunking=chunk_by
                )
            except Exception as exc:  # noqa: BLE001
                result["failed_tables"].append({"table": name, "error": str(exc)})
                continue
            result["task_ids"].extend(str(t.id) for t in planned)
            result["enqueued_count"] += len(planned)
        return result

    def run_worker(self, max_tasks: int = 100) -> int:
        return tsk.run_worker_cycle(self.tasks, self.catalog, max_tasks)

    def run_maintenance_cycle(self, lookback_days: int = 30) -> list[tsk.Task]:
        return tsk.run_maintenance_cycle(
            self.tasks,
            self.catalog,
            lookback_days=lookback_days,
            settings=self.settings.optimize_settings(),
        )

    # -- mutations -----------------------------------------------------
    def rollback(self, database: str, table: str, snapshot_id: int) -> dict:
        result = mnt.rollback_to_snapshot(self.catalog.table(database, table), snapshot_id)
        self.refresh(database, table)  # reference refreshes after rollback
        return result

    # -- SQL surface ---------------------------------------------------
    def register_metadata_views(self, database: str, table: str) -> None:
        """Expose `{table}__snapshots/files/partitions` as temp views so
        the whole admin surface is queryable via spark.sql."""
        tbl = self.catalog.table(database, table)
        md.snapshots_df(tbl).createOrReplaceTempView(f"{table}__snapshots")
        md.files_df(tbl).createOrReplaceTempView(f"{table}__files")
        md.partitions_df(tbl, self.settings.optimize_settings()).createOrReplaceTempView(
            f"{table}__partitions"
        )
