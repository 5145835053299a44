"""Metadata cache: driver-held Arrow tables replacing the reference's
MySQL cache (reference: backend/internal/service_refresh.go, migrations
20251120183135_add_tables.sql), written through to a Hive-partitioned
parquet layout.

Each entity (``partitions``, ``snapshots``) lives on disk as
``<cache_dir>/<entity>/database=<db>/table=<t>/*.parquet`` — the layout
Spark's partitioned writer produces, so caches written by earlier
versions load unchanged and Spark can still read the directory — and on
the driver as one Arrow table per cached (database, table) slice. A
refresh (M5) writes one table's slice to a temporary directory and
renames it into place, then swaps the held slice (the reference's
DELETE + chunked INSERTs of service_refresh.go:121-199 as one directory
swap). A slice is reloaded from disk only when its directory's listing
fingerprint changed, so a second cache over the same directory, or
another process, sees every refresh.

The cache exists for the same reason as the reference's: browse reads
answer from a small local copy instead of N metadata round-trips (the
reference's N+1 pattern, service_metadata.go:36-66 — SURVEY §3.1). Here
the summaries, cached listings and stale-table cleanup (J1, the
``funk.Difference`` of service_refresh.go:82-89,234-239) fold the held
slices on the driver. Each answer is an Arrow table
(:meth:`MetadataCache.cached_table`, :meth:`~MetadataCache.summary_table`,
:meth:`~MetadataCache.refresh_entity_table`) that the HTTP server writes
out as JSON; the DataFrame methods wrap the same table in a
``LocalRelation``. A refresh builds its rows on the driver too, from the
snapshot's held roll-up and snapshot list, so neither a read nor a
refresh of a driver-held table starts a Spark job."""

from __future__ import annotations

import os
import shutil
import threading
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

from lakehouse_admin_spark.metadata import (
    arrow_table,
    local_frame,
    map_json,
    partition_rollup,
    rollup_totals,
    snapshot_table,
)
from lakehouse_admin_spark.operators.analyze import OptimizeSettings
from lakehouse_admin_spark.sources.ledger import LedgerCatalog


def _fields(*cols: tuple[str, object]) -> list[StructField]:
    return [StructField(name, dtype) for name, dtype in cols]


# the columns stored in each slice's parquet files; the key columns are
# the directory names
_STORED_SCHEMAS = {
    "partitions": StructType(
        _fields(
            ("spec_id", LongType()),
            ("file_count", LongType()),
            ("record_count", LongType()),
            ("total_data_file_size_in_bytes", LongType()),
            ("small_files", LongType()),
            ("needs_optimize", BooleanType()),
            ("partition_json", StringType()),
            ("browse_json", StringType()),
        )
    ),
    "snapshots": StructType(
        _fields(
            ("snapshot_id", LongType()),
            ("parent_id", LongType()),
            ("committed_at_ms", LongType()),
            ("operation", StringType()),
            ("summary_json", StringType()),
        )
    ),
}
# the stored JSON columns and the map column each is written from
_JSON_OF = {"partition_json": "partition", "browse_json": "partition_browse",
            "summary_json": "summary"}
_KEY_FIELDS = _fields(("database", StringType()), ("table", StringType()))
# a Spark read of the layout: stored columns, then the partition columns,
# every column nullable
ENTITY_SCHEMAS = {e: StructType(list(s) + _KEY_FIELDS) for e, s in _STORED_SCHEMAS.items()}
_STORED = {e: to_arrow_schema(s) for e, s in _STORED_SCHEMAS.items()}
_ARROW = {e: to_arrow_schema(s) for e, s in ENTITY_SCHEMAS.items()}

SUMMARY_SCHEMA = StructType(
    _KEY_FIELDS
    + [
        StructField("partition_count", LongType(), nullable=False),
        StructField("file_count", LongType(), nullable=False),
        StructField("record_count", LongType(), nullable=False),
        StructField("total_data_file_size_in_bytes", LongType(), nullable=False),
        StructField("needs_optimize", BooleanType(), nullable=False),
        StructField("snapshot_count", LongType()),
        StructField("latest_snapshot_id", LongType()),
    ]
)

# one lock per cache directory, shared by every MetadataCache over it:
# in one process, a refresh's slice swaps and a reader's listing never
# interleave, so a read sees a table's cache before or after a refresh
_DIR_LOCKS: dict[str, threading.RLock] = {}
_DIR_LOCKS_GUARD = threading.Lock()


def _dir_lock(path: str) -> threading.RLock:
    with _DIR_LOCKS_GUARD:
        return _DIR_LOCKS.setdefault(os.path.abspath(path), threading.RLock())


def _is_data_file(name: str) -> bool:
    return name.endswith(".parquet") and not name.startswith((".", "_"))


def _subdirs(path: str, prefix: str) -> list[str]:
    """Values of the ``<prefix><value>`` directories under ``path``."""
    try:
        with os.scandir(path) as it:
            return sorted(
                e.name[len(prefix):] for e in it if e.name.startswith(prefix) and e.is_dir()
            )
    except FileNotFoundError:
        return []


def _fingerprint(path: str) -> tuple:
    """(name, size, mtime, inode) of each data file under ``path``;
    empty when the directory is gone."""
    try:
        with os.scandir(path) as it:
            entries = [e for e in it if _is_data_file(e.name)]
            return tuple(
                sorted(
                    (e.name, st.st_size, st.st_mtime_ns, st.st_ino)
                    for e in entries
                    for st in (e.stat(),)
                )
            )
    except FileNotFoundError:
        return ()


class MetadataCache:
    def __init__(self, spark: SparkSession, cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self._lock = _dir_lock(cache_dir)
        # entity -> {(database, table): (fingerprint, slice)}
        self._held: dict[str, dict[tuple[str, str], tuple[tuple, pa.Table]]] = {
            e: {} for e in ENTITY_SCHEMAS
        }

    def _path(self, entity: str) -> str:
        return os.path.join(self.cache_dir, entity)

    def _slice_dir(self, entity: str, database: str, table: str) -> str:
        return os.path.join(self._path(entity), f"database={database}", f"table={table}")

    def _exists(self, entity: str) -> bool:
        p = self._path(entity)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f.startswith("database=") for f in os.listdir(p)
        )

    # ------------------------------------------------------------------
    # driver-held slices
    # ------------------------------------------------------------------
    @staticmethod
    def _slice(entity: str, key: tuple[str, str], data: pa.Table) -> pa.Table:
        """Stored columns + the (database, table) key columns."""
        keys = [pa.array([k] * data.num_rows, pa.string()) for k in key]
        return pa.Table.from_arrays(data.columns + keys, schema=_ARROW[entity])

    def _load(self, entity: str, key: tuple[str, str], fingerprint: tuple) -> pa.Table:
        path = self._slice_dir(entity, *key)
        stored = _STORED[entity]
        parts = [
            pq.ParquetFile(os.path.join(path, name)).read(columns=stored.names).cast(stored)
            for name, *_ in fingerprint
        ]
        return self._slice(entity, key, pa.concat_tables(parts))

    def _sync(
        self, entity: str, database: str | None = None, table: str | None = None
    ) -> dict[tuple[str, str], pa.Table]:
        """The held slices of ``entity`` (optionally of one database or
        one table), in (database, table) order, each first reloaded if
        its directory changed on disk since it was loaded."""
        root = self._path(entity)
        held = self._held[entity]
        with self._lock:
            dbs = [database] if database is not None else _subdirs(root, "database=")
            keys = [
                (db, t)
                for db in dbs
                for t in ([table] if table is not None else
                          _subdirs(os.path.join(root, f"database={db}"), "table="))
            ]
            out = {}
            for key in keys:
                fp = _fingerprint(self._slice_dir(entity, *key))
                if fp and (key not in held or held[key][0] != fp):
                    held[key] = (fp, self._load(entity, key, fp))
                if fp:
                    out[key] = held[key][1]
            for key in [k for k in held if k[0] in dbs and table in (None, k[1])]:
                if key not in out:  # its directory is gone
                    del held[key]
            return out

    def _replace(
        self, database: str, table: str, data: dict[str, pa.Table | None]
    ) -> dict[str, pa.Table]:
        """Swap one table's slices, on disk and on the driver, for each
        entity in ``data`` (stored columns; None or no rows removes the
        slice). Each slice is written to a temporary directory, then all
        are renamed into place under one lock hold. Returns the new
        slices."""
        key = (database, table)
        fresh = {}
        for entity, rows in data.items():
            if rows is not None and rows.num_rows:
                tmp = os.path.join(self._path(entity), f".tmp-{uuid.uuid4().hex}")
                os.makedirs(tmp)
                pq.write_table(rows, os.path.join(tmp, f"part-{uuid.uuid4().hex}.parquet"))
                fresh[entity] = tmp
        out, trash = {}, []
        with self._lock:
            for entity, rows in data.items():
                final = self._slice_dir(entity, *key)
                if os.path.isdir(final):
                    trash.append(os.path.join(self._path(entity), f".old-{uuid.uuid4().hex}"))
                    os.rename(final, trash[-1])
                if entity not in fresh:
                    self._held[entity].pop(key, None)
                    out[entity] = _ARROW[entity].empty_table()
                    continue
                os.makedirs(os.path.dirname(final), exist_ok=True)
                os.rename(fresh[entity], final)
                out[entity] = self._slice(entity, key, rows)
                self._held[entity][key] = (_fingerprint(final), out[entity])
        for path in trash:
            shutil.rmtree(path, ignore_errors=True)
        return out

    def read(self, entity: str) -> DataFrame:
        if not self._exists(entity):
            raise KeyError(f"cache entity {entity!r} is empty — refresh first")
        slices = list(self._sync(entity).values())
        return local_frame(
            self.spark, pa.concat_tables(slices) if slices else _ARROW[entity].empty_table()
        )

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
    ) -> pa.Table:
        """One table's fresh cache rows for ``partitions`` or
        ``snapshots`` (JSON-flattened so the cache parquet schema is
        stable across tables with different partition specs), built on
        the driver from the snapshot's held roll-up or the snapshot
        list; each map is written as Spark's ``to_json`` writes it.

        Decode-cost audit (r9): the SNAPSHOTS entity reads snapshot
        JSON summaries only — zero segment-body decodes (pinned in
        test_parquet_segments.py). The PARTITIONS entity aggregates
        per-file record counts/sizes/partition values, so the entry
        decode is INHERENT to it — the projected (kind, file_path)
        read cannot serve it; at 10^6 files it rides the parquet
        manifest when one exists (files_df's distributed tier)."""
        tbl = catalog.table(database, name)
        if entity == "partitions":
            source = partition_rollup(tbl, settings)
        elif entity == "snapshots":
            source = snapshot_table(tbl)
        else:
            raise KeyError(f"unknown cache entity {entity!r}")
        stored = _STORED[entity]
        columns = [
            pa.array([map_json(m) for m in source[_JSON_OF[n]].to_pylist()], pa.string())
            if n in _JSON_OF else source[n]
            for n in stored.names
        ]
        return pa.Table.from_arrays(columns, names=stored.names).cast(stored)

    def _refresh(self, catalog, database, name, entities, settings=None) -> dict[str, pa.Table]:
        return self._replace(
            database,
            name,
            {e: self._build_entity(catalog, database, name, e, settings) for e in entities},
        )

    def refresh_entity_table(
        self,
        catalog: LedgerCatalog,
        database: str,
        name: str,
        entity: str,
        settings: OptimizeSettings | None = None,
    ) -> pa.Table:
        """Partial refresh of ONE entity for one table (reference:
        service_refresh.go RefreshPartitions/RefreshSnapshots behind
        GET /api/refresh/:db/:table/partitions|snapshots). Replaces
        exactly this table's slice; returns the refreshed slice (the
        handlers echo it back)."""
        return self._refresh(catalog, database, name, [entity], settings)[entity]

    def refresh_entity(
        self,
        catalog: LedgerCatalog,
        database: str,
        name: str,
        entity: str,
        settings: OptimizeSettings | None = None,
    ) -> DataFrame:
        """:meth:`refresh_entity_table` as a DataFrame."""
        return local_frame(
            self.spark, self.refresh_entity_table(catalog, database, name, entity, settings)
        )

    def refresh_table(
        self,
        catalog: LedgerCatalog,
        database: str,
        name: str,
        settings: OptimizeSettings | None = None,
    ) -> dict[str, int]:
        """Refresh one table's cached partitions + snapshots, replacing
        exactly this table's cache slices (the DELETE+INSERT of
        service_refresh.go:121-199); the counts are those of the rows
        just written."""
        new = self._refresh(catalog, database, name, ENTITY_SCHEMAS, settings)
        return {entity: new[entity].num_rows for entity in ENTITY_SCHEMAS}

    # ------------------------------------------------------------------
    # cached reads (the /api/metadata listings)
    # ------------------------------------------------------------------
    def cached_table(self, entity: str, database: str, table: str) -> pa.Table:
        """Cached rows for one (database, table) without touching the
        live catalog (reference: handler_metadata.go:36-54 — SELECT from
        the MySQL cache): the held slice, whatever the catalog's size."""
        if not self._exists(entity):
            raise KeyError(f"cache entity {entity!r} is empty — refresh first")
        held = self._sync(entity, database, table).get((database, table))
        return held if held is not None else _ARROW[entity].empty_table()

    def cached(self, entity: str, database: str, table: str) -> DataFrame:
        """:meth:`cached_table` as a DataFrame."""
        return local_frame(self.spark, self.cached_table(entity, database, table))

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
        the set difference of funk.Difference over the held keys."""
        return sorted(set(self._sync("partitions")) - {tuple(k) for k in live})

    def remove_stale(self, live: list[tuple[str, str]]) -> int:
        """Cascade-delete stale tables' cache slices (M6; the reference
        deletes partitions/snapshots/tasks rows per table,
        service_refresh.go:297-316)."""
        stale = self.stale_tables(live)
        for db, t in stale:
            self._replace(db, t, dict.fromkeys(ENTITY_SCHEMAS))
        return len(stale)

    # ------------------------------------------------------------------
    # cached summaries (3.1 without the N+1)
    # ------------------------------------------------------------------
    def _summaries(self, database: str | None, table: str | None = None) -> list[tuple]:
        """Per-table totals of the held partitions slices, with each
        table's snapshot count (left join: a table with no cached
        snapshots gets nulls), in (database, table) order."""
        for entity in ENTITY_SCHEMAS:
            if not self._exists(entity):
                raise KeyError(f"cache entity {entity!r} is empty — refresh first")
        with self._lock:  # both entities from one moment
            parts = self._sync("partitions", database, table)
            snaps = self._sync("snapshots", database, table)
        out = []
        for key, p in parts.items():
            s = snaps.get(key)
            out.append(
                (
                    *key,
                    *rollup_totals(p),
                    None if s is None else s.num_rows,
                    None if s is None else pc.max(s["snapshot_id"]).as_py(),
                )
            )
        return out

    def summary_table(self, database: str | None = None) -> pa.Table:
        """Per-table summary of every cached table (of one database),
        folded on the driver — replaces the reference's
        two-queries-per-table pattern without starting a Spark job."""
        return arrow_table(self._summaries(database), SUMMARY_SCHEMA)

    def table_summaries(self, database: str | None = None) -> DataFrame:
        """:meth:`summary_table` as a DataFrame."""
        return local_frame(self.spark, self.summary_table(database))

    def table_summary(self, database: str, table: str) -> dict | None:
        """One table's :meth:`table_summaries` row as a dict, from that
        table's slices alone; None when it is not cached."""
        rows = self._summaries(database, table)
        return dict(zip(SUMMARY_SCHEMA.names, rows[0])) if rows else None
