"""File-integrity check: expected-from-snapshot minus listed-on-storage.

The reference walks S3 under the table's /data/ prefix and diffs against
the current snapshot's planned file set with Go maps
(reference: backend/internal/service_file_integrity.go:44-80,130-192).
Spark-first this is a left_anti join of two single-column DataFrames —
the same shape it would keep at billions of files (both sides stream;
no driver-side set)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lakehouse_admin_spark.metadata import PATH_SCHEMA, arrow_table, local_frame
from lakehouse_admin_spark.sources.ledger import LedgerTable


def expected_files_df(table: LedgerTable, snapshot_id: int | None = None) -> DataFrame:
    """The snapshot's referenced paths via the PROJECTED segment read
    (kind + file_path columns) — an integrity sweep never needs entry
    stats, so it must not pay the entry-document decode (or populate
    the live-list cache) on a 10^6-file table."""
    sid = snapshot_id if snapshot_id is not None else table.current_snapshot_id()
    if sid is None:
        rows: list[tuple[str]] = []
    else:
        rows = [(p,) for p in sorted(table.snapshot_live_paths(table.snapshot(sid)))]
    return local_frame(table.spark, arrow_table(rows, PATH_SCHEMA))


def listed_files_df(spark: SparkSession, data_dir: str) -> DataFrame:
    """Storage listing. Local walk here; on object storage this becomes
    a distributed listing (e.g. binaryFile scan of the prefix selecting
    only `path`) — the join below is unchanged."""
    rows = []
    for dirpath, _d, filenames in os.walk(data_dir):
        for fn in filenames:
            if fn.endswith(".parquet"):
                rows.append((os.path.join(dirpath, fn),))
    return local_frame(spark, arrow_table(rows, PATH_SCHEMA))


def missing_files(table: LedgerTable, snapshot_id: int | None = None) -> list[str]:
    """Files the snapshot references that storage no longer has —
    sorted, like the reference's response
    (service_file_integrity.go:66-80)."""
    expected = expected_files_df(table, snapshot_id)
    listed = listed_files_df(table.spark, table.data_dir)
    missing = expected.join(listed, "file_path", "left_anti")
    return sorted(r["file_path"] for r in missing.collect())


def integrity_report(table: LedgerTable) -> dict:
    m = missing_files(table)
    return {
        "database": table.database,
        "table": table.name,
        "snapshot_id": table.current_snapshot_id(),
        "missing_file_count": len(m),
        "missing_files": m,
        "ok": not m,
    }
