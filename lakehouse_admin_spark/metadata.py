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
held on the driver, so every admin answer is produced once, as one Arrow
table: :func:`snapshot_table`, :func:`listing_table`,
:func:`drilldown_table` and :func:`partition_rollup`. The HTTP server
serializes that table directly (``server.df_rows``) and builds no
DataFrame. The DataFrame functions (:func:`snapshots_df`,
:func:`list_files`, :func:`drilldown`, :func:`partitions_df`) are
:func:`local_frame` adapters over the same producers for library callers
and the registered queries: the plan leaf is a ``LocalRelation``, the
optimizer folds the Filter/Project above it
(``ConvertToLocalRelation``), and a read that filters down to a few rows
runs no Spark job at all. Above
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default)
Spark itself turns the Arrow batches into an RDD scan. Tables with a
parquet manifest skip the driver for the file inventory
(:func:`files_df`): their listing filters and sorts in Spark and
collects one partition's files as Arrow, and the per-partition roll-up
over it is one Spark aggregate per snapshot, whose result (one row per
partition) is kept on the driver (:func:`partition_rollup`) and serves
every later read of that snapshot.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
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
        StructField("committed_at", TimestampType()),
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

DRILLDOWN_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("file_count", LongType()),
        StructField("record_count", LongType()),
        StructField("total_data_file_size_in_bytes", LongType()),
        StructField("needs_optimize", BooleanType(), nullable=False),
        StructField("needs_optimize_count", LongType()),
    ]
)

HISTORY_SCHEMA = StructType(
    [
        StructField("made_current_at_ms", LongType()),
        StructField("snapshot_id", LongType()),
        StructField("parent_id", LongType(), nullable=True),
        StructField("is_current_ancestor", BooleanType()),
    ]
)


def local_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """A driver-held Arrow ``table`` as a DataFrame whose plan leaf is a
    ``LocalRelation``: no pickled-RDD scan is built and a Filter/Project
    over the frame is folded at optimization time. The Spark schema is
    the table's own (:func:`arrow_table` types it from a ``StructType``,
    and the conversion round-trips exactly)."""
    return spark.createDataFrame(table, from_arrow_schema(table.schema))


def arrow_table(rows: list[tuple], schema: StructType) -> pa.Table:
    """Driver-held ``rows`` (tuples in ``schema`` field order; map
    columns as dicts) as one Arrow table typed by ``schema``. Empty
    ``rows`` give an empty table of the same schema."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    return pa.table(
        [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
    )


def snapshot_table(table: LedgerTable) -> pa.Table:
    """The `{t}.snapshots` metadata table as Arrow. Default operation is
    "unknown" when absent (reference: service_iceberg.go:62-66);
    ``committed_at`` is the commit time as a timestamp (the instant of
    ``timestamp_millis(committed_at_ms)``)."""
    rows = [
        (
            s.snapshot_id,
            s.parent_id,
            s.committed_at_ms,
            s.operation or "unknown",
            {k: str(v) for k, v in s.summary.items()},
            s.committed_at_ms * 1000,  # microseconds, the Arrow timestamp unit
        )
        for s in table.snapshots()
    ]
    return arrow_table(rows, SNAPSHOT_SCHEMA)


def snapshots_df(table: LedgerTable) -> DataFrame:
    """:func:`snapshot_table` as a DataFrame."""
    return local_frame(table.spark, snapshot_table(table))


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
    return local_frame(table.spark, arrow_table(_file_rows(table, sid), FILE_SCHEMA))


def _file_rows(table: LedgerTable, sid: int | None) -> list[tuple]:
    """The snapshot's live entries as :data:`FILE_SCHEMA` tuples."""
    return [
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


def partitions_df(
    table: LedgerTable, settings: OptimizeSettings | None = None
) -> DataFrame:
    """Per-partition stats: the `$partitions` scan + needs_optimize,
    served from the current snapshot's driver-held
    :func:`partition_rollup` as a ``LocalRelation``."""
    return local_frame(table.spark, partition_rollup(table, settings))


def partition_rollup(
    table: LedgerTable, settings: OptimizeSettings | None = None
) -> pa.Table:
    """The current snapshot's per-partition stats as one Arrow table.

    A snapshot never changes, so its roll-up is computed once per
    (table, snapshot, settings, spec versions) by :func:`_rollup_frame`
    — one Spark aggregate over :func:`files_df`, which keeps its
    manifest tier, so a large table still aggregates distributed — and
    then held in the ledger's per-snapshot cache. At most one row per
    partition reaches the driver."""
    settings = settings or OptimizeSettings()
    sid = table.current_snapshot_id()
    specs = table.all_specs()
    key = ("partitions", settings, tuple((k, tuple(v)) for k, v in sorted(specs.items())))
    # toArrow, not collect(): a collected map comes back as a dict that
    # has lost its entry order, which the cached browse JSON keeps
    return table.snapshot_derived(
        sid, key, lambda: _rollup_frame(table, sid, specs, settings).toArrow()
    )


def _rollup_frame(
    table: LedgerTable,
    sid: int | None,
    specs: dict[int, list],
    settings: OptimizeSettings,
) -> DataFrame:
    """One conditional aggregation over the file inventory (A1+A7+§2.9)
    — replaces the reference's per-file Go map fold
    (iceberg_client.go:188-219) with a hash aggregate keyed on the
    partition map."""
    from lakehouse_admin_spark.functions.partitions import normalize_map_expr

    files = files_df(table, sid).filter(F.col("content") == 0)
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
    for spec_id, spec in sorted(specs.items()):
        expr = normalize_map_expr(spec, F.col("partition"))
        branch = (F.col("spec_id") == spec_id, expr)
        browse = F.when(*branch) if browse is None else browse.when(*branch)
    return rolled.withColumn("partition_browse", browse)


_JSON_ESCAPES = {'"': '\\"', "\\": "\\\\", "\b": "\\b", "\t": "\\t", "\n": "\\n",
                 "\f": "\\f", "\r": "\\r"}


def _json_string(s: str) -> str:
    """``s`` as a JSON string the way Spark's JSON generator writes it:
    non-ASCII characters stay raw, ``"`` and ``\\`` are escaped, and the
    control characters get their short escape or an upper-case
    ``\\u00XX`` (Python's ``json`` writes lower-case hex)."""
    return '"' + "".join(
        _JSON_ESCAPES.get(ch) or (f"\\u{ord(ch):04X}" if ch < " " else ch) for ch in s
    ) + '"'


def map_json(entries: list[tuple[str, str | None]] | None) -> str | None:
    """Spark's ``to_json`` of a ``map<string,string>`` given as its
    (key, value) entries in entry order: ``{"k":"v","n":null}`` with no
    spaces, null for a null map."""
    if entries is None:
        return None
    return "{" + ",".join(
        f"{_json_string(k)}:{'null' if v is None else _json_string(v)}" for k, v in entries
    ) + "}"


def rollup_totals(rollup: pa.Table) -> tuple[int, int, int, int, bool]:
    """(partition_count, file_count, record_count,
    total_data_file_size_in_bytes, needs_optimize) over partition rows:
    sums of nothing are 0, needs_optimize is whether any row needs it."""
    def total(column: str) -> int:
        return pc.sum(rollup[column]).as_py() or 0

    return (
        rollup.num_rows,
        total("file_count"),
        total("record_count"),
        total("total_data_file_size_in_bytes"),
        bool(pc.any(rollup["needs_optimize"]).as_py()),
    )


def table_summary(table: LedgerTable, settings: OptimizeSettings | None = None) -> dict:
    """A3+A4 merged: totals of the driver-held partition roll-up plus
    the snapshot count (the reference runs these as two SQL queries per
    table, service_metadata.go:36-66); no Spark job once the snapshot's
    roll-up is held."""
    parts, files, records, size, needs = rollup_totals(partition_rollup(table, settings))
    return {
        "database": table.database,
        "name": table.name,
        "partition_count": parts,
        "file_count": files,
        "record_count": records,
        "total_data_file_size_in_bytes": size,
        "needs_optimize": needs,
        "snapshot_count": len(table.snapshots()),
        "current_snapshot_id": table.current_snapshot_id(),
    }


def _add(acc, value):
    """SQL ``sum`` step: nulls are skipped, all-null stays null."""
    return acc if value is None else value if acc is None else acc + value


def drilldown(
    table: LedgerTable,
    selected: dict[str, str],
    settings: OptimizeSettings | None = None,
) -> DataFrame:
    """:func:`drilldown_table` as a DataFrame."""
    return local_frame(table.spark, drilldown_table(table, selected, settings))


def drilldown_table(
    table: LedgerTable,
    selected: dict[str, str],
    settings: OptimizeSettings | None = None,
) -> pa.Table:
    """Partition drill-down: aggregate the *next* partition level under
    the selected prefix — `GROUP BY 1 ORDER BY 1` with roll-up sums and
    needs-optimize counts (reference: handler_browse.go:137-178). The
    fold runs on the driver over the snapshot's roll-up (at most one
    row per partition); the sorted groups are the Arrow answer.
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
    parts = partition_rollup(table, settings)
    cols = ("partition_browse", "file_count", "record_count",
            "total_data_file_size_in_bytes", "needs_optimize")
    groups: dict = {}
    for browse, files, records, size, flag in zip(*(parts[c].to_pylist() for c in cols)):
        browse = dict(browse or ())
        if not _matches(browse, selected):
            continue
        g = groups.setdefault(browse.get(next_field), [None] * 4)
        for i, value in enumerate((files, records, size, None if flag is None else int(flag))):
            g[i] = _add(g[i], value)
    # max(needs_optimize) is whether the count of flagged rows is > 0;
    # groups sort by name, null first (SQL ORDER BY name ASC)
    rows = [
        (name, files, records, size, bool(flagged), flagged)
        for name, (files, records, size, flagged) in sorted(
            groups.items(), key=lambda kv: (kv[0] is not None, kv[0] or "")
        )
    ]
    return arrow_table(rows, DRILLDOWN_SCHEMA)


def list_files(
    table: LedgerTable,
    partition_filters: dict[str, str] | None = None,
) -> DataFrame:
    """:func:`listing_table` as a DataFrame."""
    return local_frame(table.spark, listing_table(table, partition_filters))


def listing_table(
    table: LedgerTable,
    partition_filters: dict[str, str] | None = None,
) -> pa.Table:
    """Data files of one (possibly fully-specified) partition, largest
    first — the `$files` listing `WHERE content = 0 AND CAST(
    partition.<k> AS VARCHAR)='<v>' ORDER BY file_size_in_bytes DESC,
    file_path ASC` (reference: service_browse_files.go:193-215).
    Driver-held entries are filtered and sorted on the driver; the
    manifest tier filters and sorts in Spark and collects the listing
    as Arrow."""
    filters = partition_filters or {}
    sid = table.current_snapshot_id()
    if sid is not None and table.has_manifest(sid):
        df = files_df(table, sid).filter(F.col("content") == 0)
        for k, v in filters.items():
            df = df.filter(F.col("partition")[k] == v)
        return df.select(*FILE_SCHEMA.names).orderBy(
            F.desc("file_size_in_bytes"), F.asc("file_path")
        ).toArrow()
    rows = [r for r in _file_rows(table, sid) if r[0] == 0 and _matches(r[4], filters)]
    rows.sort(key=lambda r: (-r[6], r[1]))
    return arrow_table(rows, FILE_SCHEMA)


def _matches(values: dict | None, selected: dict) -> bool:
    """SQL ``values[k] = v`` for every selection, values compared as
    strings: a missing key or a null on either side never matches."""
    values = values or {}
    return all(v is not None and values.get(k) == str(v) for k, v in selected.items())


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
    df = local_frame(table.spark, arrow_table(rows, HISTORY_SCHEMA))
    return df.withColumn("made_current_at", F.timestamp_millis(F.col("made_current_at_ms")))
