"""Metadata tables and summaries over ledger tables.

Spark-first re-expression of the reference's metadata surface:
- snapshots scan (reference: backend/internal/service_iceberg.go:46-79)
- files scan with content/partition filters
  (reference: backend/internal/service_browse_files.go:193-215)
- partition stats roll-up A1 + needs_optimize
  (reference: backend/internal/iceberg_client.go:163-220,
   service_iceberg.go:117-224)
- table summaries A3/A4 (reference: backend/internal/service_metadata.go:36-66)
- partition drill-down A2 (reference: backend/internal/handler_browse.go:137-178)

The file/snapshot inventories are small (O(files), O(snapshots)) and
held on the driver, so :func:`local_frame` hands them to Spark as one
Arrow table: the plan leaf is a ``LocalRelation``, the optimizer folds
the Filter/Project above it (``ConvertToLocalRelation``), and a browse
read that filters down to a few rows runs no Spark job at all. Above
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default)
Spark itself turns the Arrow batches into an RDD scan, so a large
inventory plans as a distributed scan with no change here. Tables with a
parquet manifest skip the driver entirely (:func:`files_df`); every
aggregation below is shaped for either leaf (no collect before
aggregation).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_admin_spark.operators.analyze import OptimizeSettings, file_rollup
from lakehouse_admin_spark.sources.ledger import LedgerTable

SNAPSHOT_SCHEMA = StructType(
    [
        StructField("snapshot_id", LongType()),
        StructField("parent_id", LongType(), nullable=True),
        StructField("committed_at_ms", LongType()),
        StructField("operation", StringType()),
        StructField("summary", MapType(StringType(), StringType())),
    ]
)

FILE_SCHEMA = StructType(
    [
        StructField("content", LongType()),
        StructField("file_path", StringType()),
        StructField("file_format", StringType()),
        StructField("spec_id", LongType()),
        StructField("partition", MapType(StringType(), StringType())),
        StructField("record_count", LongType()),
        StructField("file_size_in_bytes", LongType()),
    ]
)

PATH_SCHEMA = StructType([StructField("file_path", StringType())])

HISTORY_SCHEMA = StructType(
    [
        StructField("made_current_at_ms", LongType()),
        StructField("snapshot_id", LongType()),
        StructField("parent_id", LongType(), nullable=True),
        StructField("is_current_ancestor", BooleanType()),
    ]
)


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver-held ``rows`` (tuples in ``schema`` field order; map
    columns as dicts) as a DataFrame whose plan leaf is a
    ``LocalRelation``. The rows travel as one Arrow table typed by
    ``schema``, so no pickled-RDD scan is built and a Filter/Project
    over the frame is folded at optimization time. Empty ``rows`` give
    an empty frame of the same schema."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def snapshots_df(table: LedgerTable) -> DataFrame:
    """The `{t}.snapshots` metadata table. Default operation is
    "unknown" when absent (reference: service_iceberg.go:62-66)."""
    rows = [
        (
            s.snapshot_id,
            s.parent_id,
            s.committed_at_ms,
            s.operation or "unknown",
            {k: str(v) for k, v in s.summary.items()},
        )
        for s in table.snapshots()
    ]
    df = local_frame(table.spark, rows, SNAPSHOT_SCHEMA)
    return df.withColumn(
        "committed_at", F.timestamp_millis(F.col("committed_at_ms"))
    )


def files_df(table: LedgerTable, snapshot_id: int | None = None) -> DataFrame:
    """The `{t}.files` metadata table (optionally time-traveled).

    Two-tier source: when a parquet manifest exists for the snapshot
    (written by ``LedgerTable.write_manifest`` / the
    ``rewrite_manifests`` maintenance procedure), this is a DISTRIBUTED
    parquet scan — predicate pushdown and column pruning reach the
    manifest, and nothing O(files) is materialized on the driver, which
    is what keeps partition analytics viable at 10⁶-10⁷ files. Small or
    freshly-committed tables fall back to the in-memory JSON entries,
    as a :func:`local_frame`."""
    sid = snapshot_id if snapshot_id is not None else table.current_snapshot_id()
    if sid is not None and table.has_manifest(sid):
        return table.spark.read.schema(FILE_SCHEMA).parquet(table.manifest_path(sid))
    rows = [
        (
            e.get("content", 0),
            e["file_path"],
            e.get("file_format", "PARQUET"),
            e.get("spec_id", 0),
            {k: (None if v is None else str(v)) for k, v in e["partition"].items()},
            e["record_count"],
            e["file_size_in_bytes"],
        )
        for e in table.live_files(sid)
    ]
    return local_frame(table.spark, rows, FILE_SCHEMA)


def partitions_df(
    table: LedgerTable, settings: OptimizeSettings | None = None
) -> DataFrame:
    """Per-partition stats: the `$partitions` scan + needs_optimize.

    One conditional aggregation over the file inventory (A1+A7+§2.9) —
    replaces the reference's per-file Go map fold
    (iceberg_client.go:188-219) with a hash aggregate keyed on the
    partition map."""
    from lakehouse_admin_spark.functions.partitions import normalize_map_expr

    files = files_df(table).filter(F.col("content") == 0)
    specs = table.all_specs()
    keyed = files.withColumn(
        "partition_key",
        F.to_json(F.col("partition")) if any(specs.values()) else F.lit("{}"),
    )
    # spec_id participates in the grouping: after partition evolution,
    # files written under different specs are distinct partitions even
    # if their tuples collide (reference keeps spec_id on every
    # partition row, types.go:31-42). Every map in a group serialises to
    # the same JSON, so it is the same map and `first` carries it
    # exactly. The key stays the JSON string: grouping by the map itself
    # ignores key order.
    rolled = file_rollup(
        keyed,
        ["partition_key", "spec_id"],
        F.first("partition").alias("partition"),
        settings=settings,
    )
    # raw map + browse-normalized map (hidden transforms expanded to
    # zero-padded year/month/day), normalized PER SPEC VERSION
    browse = None
    for sid, spec in sorted(specs.items()):
        expr = normalize_map_expr(spec, F.col("partition"))
        branch = (F.col("spec_id") == sid, expr)
        browse = F.when(*branch) if browse is None else browse.when(*branch)
    return rolled.withColumn("partition_browse", browse)


def table_summary(table: LedgerTable, settings: OptimizeSettings | None = None) -> dict:
    """A3+A4 merged: one aggregation over partitions + snapshot count
    (reference runs these as two SQL queries per table,
    service_metadata.go:36-66; here it is one job + one len())."""
    parts = partitions_df(table, settings)
    agg = parts.agg(
        F.count(F.lit(1)).alias("partition_count"),
        F.coalesce(F.sum("file_count"), F.lit(0)).alias("file_count"),
        F.coalesce(F.sum("record_count"), F.lit(0)).alias("record_count"),
        F.coalesce(F.sum("total_data_file_size_in_bytes"), F.lit(0)).alias(
            "total_data_file_size_in_bytes"
        ),
        F.coalesce(F.max("needs_optimize"), F.lit(False)).alias("needs_optimize"),
    ).collect()[0]
    return {
        "database": table.database,
        "name": table.name,
        "partition_count": agg["partition_count"],
        "file_count": agg["file_count"],
        "record_count": agg["record_count"],
        "total_data_file_size_in_bytes": agg["total_data_file_size_in_bytes"],
        "needs_optimize": bool(agg["needs_optimize"]),
        "snapshot_count": len(table.snapshots()),
        "current_snapshot_id": table.current_snapshot_id(),
    }


def drilldown(
    table: LedgerTable,
    selected: dict[str, str],
    settings: OptimizeSettings | None = None,
) -> DataFrame:
    """Partition drill-down: aggregate the *next* partition level under
    the selected prefix — `GROUP BY 1 ORDER BY 1` with roll-up sums and
    needs-optimize counts (reference: handler_browse.go:137-178).
    """
    from lakehouse_admin_spark.functions.partitions import browse_fields

    fields = browse_fields(table.partition_spec())
    depth = len(selected)
    if depth >= len(fields):
        raise ValueError(
            f"all {len(fields)} partition levels already selected for "
            f"{table.database}.{table.name}"
        )
    next_field = fields[depth]
    parts = partitions_df(table, settings)
    for k, v in selected.items():
        parts = parts.filter(F.col("partition_browse")[k] == v)
    return (
        parts.groupBy(F.col("partition_browse")[next_field].alias("name"))
        .agg(
            F.sum("file_count").alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("total_data_file_size_in_bytes").alias("total_data_file_size_in_bytes"),
            F.coalesce(F.max("needs_optimize"), F.lit(False)).alias("needs_optimize"),
            F.sum(F.col("needs_optimize").cast("int")).alias("needs_optimize_count"),
        )
        .orderBy(F.asc("name"))
    )


def list_files(
    table: LedgerTable,
    partition_filters: dict[str, str] | None = None,
) -> DataFrame:
    """Data files of one (possibly fully-specified) partition, largest
    first — the `$files` listing `WHERE content = 0 AND CAST(
    partition.<k> AS VARCHAR)='<v>' ORDER BY file_size_in_bytes DESC,
    file_path ASC` (reference: service_browse_files.go:193-215)."""
    df = files_df(table).filter(F.col("content") == 0)
    for k, v in (partition_filters or {}).items():
        df = df.filter(F.col("partition")[k] == v)
    return df.select(
        "content",
        "file_path",
        "file_format",
        "spec_id",
        "partition",
        "record_count",
        "file_size_in_bytes",
    ).orderBy(F.desc("file_size_in_bytes"), F.asc("file_path"))


def history_df(table: LedgerTable) -> DataFrame:
    """The `{t}.history` view: every commit with its parent and whether
    it is an ancestor of the current snapshot (rollbacks fork lineage —
    commits on the abandoned branch show is_current_ancestor = false,
    matching Iceberg's history-table semantics)."""
    snaps = table.snapshots()
    current = table.current_snapshot_id()
    by_id = {s.snapshot_id: s for s in snaps}
    ancestors: set[int] = set()
    cursor = current
    while cursor is not None and cursor in by_id:
        ancestors.add(cursor)
        cursor = by_id[cursor].parent_id
    # rollback commits adopt the TARGET's file set but keep the commit
    # chain via parent_id; the "rolled-back-to" summary key restores the
    # logical lineage hop
    rows = [
        (
            s.committed_at_ms,
            s.snapshot_id,
            s.parent_id,
            s.snapshot_id in ancestors,
        )
        for s in snaps
    ]
    df = local_frame(table.spark, rows, HISTORY_SCHEMA)
    return df.withColumn("made_current_at", F.timestamp_millis(F.col("made_current_at_ms")))
