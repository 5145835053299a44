"""Ledger fixture builder: materializes real snapshot-bearing tables
from the driver parquet inputs (FIXTURES.md §B), so snapshot/partition/
file metadata and the maintenance procedures are exercised genuinely.

- events_ledger: day-partitioned on ts, one append per day → deep
  snapshot lineage + many small files (positive needs_optimize cases)
- lineitem_ledger: day(l_shipdate) + identity(l_returnflag) — hidden
  transform PLUS identity, the reference's mixed drill-down case
  (reference: backend/internal/handler_browse_test.go:9-30)
- nested_ledger: struct source column goal.conversionHappenedAt with a
  day transform — the nested-source edge case pinned by
  reference backend/internal/iceberg_client_test.go:13-89
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.sources.ledger import LedgerCatalog, LedgerTable, PartitionField
from lakehouse_admin_spark.sources.tables import load_table

_DEFAULT_WAREHOUSE: str | None = None
# fixture builds mutate the warehouse; a runner invoking several
# registered queries concurrently must not race the exists()+create
_BUILD_LOCK = threading.Lock()


def _locked(fn):
    """Serialize fixture builds: concurrent registered-query calls must
    not race the exists()+create_table sequence. Builds are idempotent,
    so the second caller just finds the finished table."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with _BUILD_LOCK:
            return fn(*args, **kwargs)

    return wrapper


def get_catalog(spark: SparkSession, warehouse: str | None = None) -> LedgerCatalog:
    # Default warehouse is PROCESS-unique: ledger manifests reference
    # data files by absolute path, so a shared tmp dir across concurrent
    # driver processes could observe half-built tables. One mkdtemp per
    # process, reused across queries (fixture builds are idempotent
    # within a process via the exists() check).
    global _DEFAULT_WAREHOUSE
    if warehouse is None:
        if _DEFAULT_WAREHOUSE is None:
            _DEFAULT_WAREHOUSE = tempfile.mkdtemp(prefix="lakehouse_wh_")
        warehouse = _DEFAULT_WAREHOUSE
    # one handle per (session, warehouse); invalidate "catalog" when a
    # warehouse directory is wiped out from under a live process
    return index_registry.get(
        spark, warehouse, "catalog", lambda: LedgerCatalog(spark, warehouse)
    )


@_locked
def build_events_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "events_ledger",
    appends_per_day: bool = True,
) -> LedgerTable:
    """Day-partitioned events table with one append per event_type →
    snapshot lineage with parents AND ~5 small files per day partition
    (needs_optimize positives), plus a final delete (operation variety
    for the snapshot history view).

    ``appends_per_day=False`` lands the same rows in ONE append —
    identical live content and partitioning, shallow lineage. Use it
    for derived copies that immediately rewrite their files (the
    z-order tier): the per-type commit chain is 5 sequential write
    jobs whose small-file layout the rewrite destroys anyway."""
    if name in catalog.list_tables(database):
        return catalog.table(database, name)
    ev = load_table(spark, sf_dir, "events")
    tbl = catalog.create_table(
        database,
        name,
        ev.schema,
        [PartitionField(source="ts", transform="day", name="ts_day")],
    )
    if appends_per_day:
        types = [
            r[0]
            for r in ev.select("event_type").distinct().orderBy("event_type").collect()
        ]
        for t in types:
            tbl.append(ev.filter(F.col("event_type") == t))
    else:
        tbl.append(ev)
    # one delete commit: drop the very first day's partition
    first_day = ev.select(F.date_format(F.min("ts"), "yyyy-MM-dd")).collect()[0][0]
    tbl.delete_partitions(lambda p: p.get("ts_day") == first_day)
    # fold the final inventory into a parquet manifest so the graded
    # metadata queries exercise the distributed scan path
    tbl.write_manifest()
    return tbl


@_locked
def build_events_mor_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "events_mor",
    delete_below: float = 20.0,
) -> LedgerTable:
    """Day-partitioned events table carrying a MERGE-ON-READ position
    delete (content = 1): one append of the whole fixture, then
    ``delete_where(value < delete_below)``. Exercises the `$files`
    content filter for real (reference: service_browse_files.go:206)."""
    if name in catalog.list_tables(database):
        return catalog.table(database, name)
    ev = load_table(spark, sf_dir, "events")
    tbl = catalog.create_table(
        database,
        name,
        ev.schema,
        [PartitionField(source="ts", transform="day", name="ts_day")],
    )
    tbl.append(ev)
    tbl.delete_where(F.col("value") < delete_below)
    tbl.write_manifest()
    return tbl


@_locked
def build_lineitem_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "lineitem_ledger",
    months: int = 3,
) -> LedgerTable:
    """Mixed hidden+identity partitioning over a lineitem slice (first
    ``months`` months of 1995 keep the fixture build fast)."""
    if name in catalog.list_tables(database):
        return catalog.table(database, name)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < f"1995-{months + 1:02d}-01")
    )
    tbl = catalog.create_table(
        database,
        name,
        li.schema,
        [
            PartitionField(source="l_shipdate", transform="day", name="l_shipdate_day"),
            PartitionField(source="l_returnflag", transform="identity", name="l_returnflag"),
        ],
    )
    for m in range(1, months + 1):
        tbl.append(li.filter(F.month("l_shipdate") == m))
    tbl.write_manifest()
    return tbl


@_locked
def build_bucketed_pair(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    n_buckets: int = 8,
) -> tuple[LedgerTable, LedgerTable]:
    """Co-bucketed orders/lineitem ledger pair: both tables carry a
    ``bucket[n]`` transform on their orderkey (same Murmur3, same N ⇒
    equal keys share a bucket index), plus a sort order on the key so
    within-bucket files get disjoint key ranges (point lookups skip on
    column stats INSIDE the bucket too). One append each — the write
    path hash-clusters rows into the bucket dirs."""
    tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_").replace("-", "_")
    on, ln = f"orders_bkt{n_buckets}_{tag}", f"lineitem_bkt{n_buckets}_{tag}"
    if on in catalog.list_tables(database) and ln in catalog.list_tables(database):
        return catalog.table(database, on), catalog.table(database, ln)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    t_orders = catalog.create_table(
        database,
        on,
        orders.schema,
        [PartitionField(source="o_orderkey", transform=f"bucket[{n_buckets}]",
                        name="o_orderkey_bucket")],
        sort_order=["o_orderkey"],
    )
    t_orders.append(orders)
    t_li = catalog.create_table(
        database,
        ln,
        li.schema,
        [PartitionField(source="l_orderkey", transform=f"bucket[{n_buckets}]",
                        name="l_orderkey_bucket")],
        sort_order=["l_orderkey"],
    )
    t_li.append(li)
    return t_orders, t_li


@_locked
def build_events_merge_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "events_merge",
) -> LedgerTable:
    """Events table that has been through ONE MERGE INTO upsert:
    target = all events; source = the value<20 rows with value+1000
    (updates) plus one synthetic row per purchase event with
    event_id+10^9 and value 0.5 (inserts). Deterministic, so the merge
    result is exactly replayable as SQL over the raw rows."""
    if name in catalog.list_tables(database):
        return catalog.table(database, name)
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    tbl = catalog.create_table(database, name, ev.schema, [])
    tbl.append(ev)
    upd = ev.filter(F.col("value") < 20).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    ins = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("event_id", F.col("event_id") + F.lit(1_000_000_000))
        .withColumn("value", F.lit(0.5))
    )
    tbl.merge_into(upd.unionByName(ins), on=["event_id"])
    return tbl


@_locked
def build_events_eq_upsert_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "events_equpsert",
) -> LedgerTable:
    """Events table through ONE equality-delete upsert
    (``upsert_by_key``, the streaming CDC sink path): every purchase
    event re-lands with value = -1. Old purchase rows vanish via the
    equality delete; replacements survive the strictly-smaller-sequence
    rule. Deterministic → SQL-replayable."""
    if name in catalog.list_tables(database):
        return catalog.table(database, name)
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    tbl = catalog.create_table(database, name, ev.schema, [])
    tbl.append(ev)
    src = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.lit(-1.0)
    )
    tbl.upsert_by_key(src, ["event_id"])
    return tbl


@_locked
def build_events_update_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "events_update",
) -> LedgerTable:
    """Events table through one row-level UPDATE: every error event's
    value is zeroed and its type rewritten to 'error_handled'.
    Deterministic → SQL-replayable."""
    if name in catalog.list_tables(database):
        return catalog.table(database, name)
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    tbl = catalog.create_table(database, name, ev.schema, [])
    tbl.append(ev)
    tbl.update_where(
        F.col("event_type") == "error",
        {"value": F.lit(0.0), "event_type": F.lit("error_handled")},
    )
    return tbl


@_locked
def build_events_ivm(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "events_ivm_src",
):
    """Source + incrementally-maintained rollup pair: append all
    events, refresh; MOR-delete value<20, refresh; CDC-upsert every
    purchase at value=-1, refresh. THREE stamped apply commits — the
    target never saw a recompute. Returns the IncrementalAggregate."""
    from pyspark.sql import functions as F

    from lakehouse_admin_spark.ivm import IncrementalAggregate

    target_name = name + "_rollup"
    if name in catalog.list_tables(database):
        src = catalog.table(database, name)
        ivm = IncrementalAggregate(
            src, catalog, target_name, ["event_type"], "value", database=database
        )
        ivm.refresh()
        return ivm
    ev = load_table(spark, sf_dir, "events")
    src = catalog.create_table(database, name, ev.schema, [])
    src.append(ev)
    ivm = IncrementalAggregate(
        src, catalog, target_name, ["event_type"], "value", database=database
    )
    ivm.refresh()
    src.delete_where(F.col("value") < 20)
    ivm.refresh()
    src.upsert_by_key(
        ev.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.lit(-1.0)
        ),
        ["event_id"],
    )
    ivm.refresh()
    return ivm


@_locked
def build_nested_ledger(
    spark: SparkSession,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "nested_ledger",
) -> LedgerTable:
    """id + goal struct<conversionHappenedAt: date>, day-partitioned on
    the nested field."""
    if name in catalog.list_tables(database):
        return catalog.table(database, name)
    df = spark.range(0, 100).select(
        F.col("id"),
        F.struct(
            F.date_add(F.lit("2026-03-01").cast("date"), (F.col("id") % 10).cast("int")).alias(
                "conversionHappenedAt"
            )
        ).alias("goal"),
    )
    tbl = catalog.create_table(
        database,
        name,
        df.schema,
        [
            PartitionField(
                source="goal.conversionHappenedAt",
                transform="day",
                name="goal.conversionHappenedAt_day",
            )
        ],
    )
    tbl.append(df)
    return tbl


def build_vector_cells_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    database: str = "main",
    name: str = "vector_cells",
) -> tuple[LedgerTable, LedgerTable]:
    """The ANN index as GOVERNED TABLES: the trained IVF assignment
    lands in a cell-identity-partitioned ledger table (one fanout file
    per cell — a probe reads 1/k of the files via partition pruning)
    and the centroids in a small companion table. Snapshot lineage,
    time travel, compaction and the sketch/stat machinery all apply to
    the index like any other table — the production shape for keeping
    a vector index consistent with its corpus (vs loose index files).
    Deterministic: `ivf_cells` (k = ⌈√n⌉ Lloyd) over the tier's
    embeddings.

    The index table records its source dataset as the `source_dir`
    table property (absolute path); a cache hit VERIFIES it, so two
    tiers whose directories share a basename can never serve each
    other's assignments — a mismatch raises instead of silently
    aliasing. After rewriting a tier's embeddings call
    :func:`invalidate_vector_cells_ledger` to force a rebuild."""
    src = os.path.abspath(sf_dir.rstrip("/"))
    with _BUILD_LOCK:
        if name in catalog.list_tables(database):
            tbl = catalog.table(database, name)
            recorded = tbl.properties().get("source_dir")
            if recorded != src:
                raise ValueError(
                    f"index table {database}.{name} was built from "
                    f"{recorded!r}, not {src!r} — pass a distinct name "
                    "or invalidate_vector_cells_ledger() first"
                )
            return tbl, catalog.table(database, name + "_centroids")
        from lakehouse_admin_spark.operators.similarity import ivf_cells

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        cells, cents = ivf_cells(spark, emb)
        df = emb.join(cells, "vec_id").select(
            "vec_id", "embedding", F.col("cell").cast("int").alias("cell")
        )
        tbl = catalog.create_table(
            database,
            name,
            df.schema,
            [PartitionField(source="cell", transform="identity", name="cell_p")],
            properties={"source_dir": src},
        )
        tbl.append(df)
        tbl.write_manifest()
        ctbl = catalog.create_table(
            database,
            name + "_centroids",
            cents.schema,
            [],
            properties={"source_dir": src},
        )
        ctbl.append(cents)
        # record train-time stats so drift checks stay O(delta) and
        # the scheduled maintenance cycle picks this index up
        from lakehouse_admin_spark.vector_maintenance import (
            _centroid_matrix,
            record_train_stats,
        )

        record_train_stats(tbl, _centroid_matrix(ctbl))
        return tbl, ctbl


def build_vector_codes_ledger(
    spark: SparkSession,
    sf_dir: str,
    catalog: LedgerCatalog,
    cells_name: str = "vector_cells",
    database: str = "main",
) -> LedgerTable:
    """The PQ CODES as a governed, cell-partitioned companion of the
    IVF index tables: (vec_id, codes array<int>, cell) under the same
    cell-identity spec, so an ADC lookup partition-prunes to the probed
    cells' code files — ~8 B/vector of scannable state instead of the
    raw vectors (the FAISS IVFADC storage layout, as ledger tables with
    snapshots/time-travel/compaction). Codes are deterministic
    (codebook = subvectors of the 16 lowest vec_ids), so the DuckDB
    oracle re-derives them from raw embeddings and a hash match proves
    the governed table's CONTENT and routing. Named
    ``<cells_name>_codes``; provenance-guarded like the cells table."""
    name = cells_name + "_codes"
    src = os.path.abspath(sf_dir.rstrip("/"))
    tbl_cells, _ctbl = build_vector_cells_ledger(
        spark, sf_dir, catalog, database=database, name=cells_name
    )
    with _BUILD_LOCK:
        if name in catalog.list_tables(database):
            tbl = catalog.table(database, name)
            recorded = tbl.properties().get("source_dir")
            if recorded != src:
                raise ValueError(
                    f"codes table {database}.{name} was built from "
                    f"{recorded!r}, not {src!r}"
                )
            return tbl
        from lakehouse_admin_spark.operators.similarity import _pq_index

        emb_cells = tbl_cells.read().select("vec_id", "embedding", "cell")
        codes, _luts = _pq_index(spark, emb_cells, cell_col="cell")
        tbl = catalog.create_table(
            database,
            name,
            codes.schema,
            [PartitionField(source="cell", transform="identity", name="cell_p")],
            properties={"source_dir": src, "pq": "m8k16-lowest16"},
        )
        tbl.append(codes)
        tbl.write_manifest()
        return tbl


def invalidate_vector_cells_ledger(
    catalog: LedgerCatalog, database: str = "main", name: str = "vector_cells"
) -> bool:
    """Drop the persisted IVF index tables (call after rewriting the
    source embeddings). Returns True if an index existed."""
    with _BUILD_LOCK:
        existed = False
        for t in (name, name + "_centroids", name + "_codes"):
            if t in catalog.list_tables(database):
                catalog.drop_table(database, t)
                existed = True
        return existed
