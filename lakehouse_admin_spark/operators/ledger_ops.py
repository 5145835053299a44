"""Ledger admin operators exposed through the driver correctness gate.

Each query here builds (once per process, cached) a real snapshot-
bearing ledger table from the events fixture, then answers an
admin-plane question from LEDGER METADATA ONLY — while the DuckDB
oracle recomputes the same answer from the RAW ROWS. A match proves the
whole write → partition-transform → manifest → stats pipeline end to
end, not just the final aggregation:

- partition record counts  (files metadata vs GROUP BY over rows)
- per-partition file counts (fanout writer: one file per event_type
  append per day ⇒ file_count == distinct event types that day)
- snapshot totals           (append/delete summary lineage vs running
  sums over event types)
- drill-down                (browse-normalized hidden transform vs
  strftime parts)
- needs_optimize            (§2.9 rule over real file inventories)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_admin_spark import index_registry
from lakehouse_admin_spark.metadata import drilldown, partitions_df, snapshots_df
from lakehouse_admin_spark.operators.analyze import OptimizeSettings
from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.fixtures import build_events_ledger, get_catalog
from lakehouse_admin_spark.sources.ledger import LedgerTable
from lakehouse_admin_spark.sources.tables import load_table


def _events_tbl(spark: SparkSession, sf_dir: str) -> LedgerTable:
    catalog = get_catalog(spark)
    # one ledger per sf tier in this process's warehouse
    name = "events_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    return build_events_ledger(spark, sf_dir, catalog, name=name)


# the events fixture's first day is dropped by the fixture's delete
# commit; every oracle below excludes it the same way
_LIVE = """
    WITH live AS (
        SELECT * FROM events
        WHERE CAST(ts AS DATE) > (SELECT MIN(CAST(ts AS DATE)) FROM events)
    )
"""


@query(
    "ledger_partition_stats",
    oracle=_LIVE
    + """
    SELECT strftime(ts, '%Y-%m-%d') AS ts_day,
           CAST(COUNT(*) AS BIGINT) AS record_count,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS file_count
    FROM live
    GROUP BY 1
    ORDER BY 1
    """,
)
def ledger_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition record/file counts FROM MANIFEST METADATA (no data
    scan); the oracle recomputes from raw rows. The fanout writer emits
    exactly one file per (append, partition), and appends are per
    event_type, so file_count == distinct event types present that day."""
    tbl = _events_tbl(spark, sf_dir)
    return (
        partitions_df(tbl)
        .select(
            F.col("partition")["ts_day"].alias("ts_day"),
            "record_count",
            "file_count",
        )
        .orderBy("ts_day")
    )


@query(
    "ledger_snapshot_totals",
    oracle="""
    WITH by_type AS (
        SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1
    ),
    appends AS (
        SELECT CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS snapshot_id,
               'append' AS operation,
               CAST(SUM(c) OVER (ORDER BY event_type
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS total_records
        FROM by_type
    ),
    del AS (
        SELECT CAST((SELECT COUNT(*) FROM by_type) + 1 AS BIGINT) AS snapshot_id,
               'delete' AS operation,
               CAST((SELECT COUNT(*) FROM events
                     WHERE CAST(ts AS DATE) > (SELECT MIN(CAST(ts AS DATE)) FROM events))
                    AS BIGINT) AS total_records
    )
    SELECT * FROM appends UNION ALL SELECT * FROM del
    ORDER BY snapshot_id
    """,
)
def ledger_snapshot_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot lineage summaries (total-records per commit) from the
    manifest log; the oracle reconstructs the same lineage as running
    sums over event types (appends are alphabetical by event_type) plus
    the first-day delete."""
    tbl = _events_tbl(spark, sf_dir)
    return (
        snapshots_df(tbl)
        .select(
            "snapshot_id",
            "operation",
            F.col("summary")["total-records"].cast("long").alias("total_records"),
        )
        .orderBy("snapshot_id")
    )


@query(
    "ledger_drilldown_month",
    oracle=_LIVE
    + """
    SELECT strftime(ts, '%m') AS name,
           CAST(COUNT(DISTINCT event_type || '/' || strftime(ts, '%Y-%m-%d')) AS BIGINT)
               AS file_count,
           CAST(COUNT(*) AS BIGINT) AS record_count
    FROM live
    GROUP BY 1
    ORDER BY 1
    """,
)
def ledger_drilldown_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-level drill-down (year pre-selected) through the
    browse-field normalization path (hidden day transform → year/month
    levels); oracle recomputes both aggregates from raw rows."""
    tbl = _events_tbl(spark, sf_dir)
    years = [r["name"] for r in drilldown(tbl, {}).collect()]
    out = None
    for y in years:  # fixture data is one year, but stay general
        d = drilldown(tbl, {"year": y}).select("name", "file_count", "record_count")
        out = d if out is None else out.unionByName(d)
    return out.orderBy("name")


@query(
    "ledger_needs_optimize",
    oracle=_LIVE
    + """
    SELECT strftime(ts, '%Y-%m-%d') AS ts_day,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS small_files,
           TRUE AS needs_optimize
    FROM live
    GROUP BY 1
    HAVING COUNT(DISTINCT event_type) >= 2
    ORDER BY 1
    """,
)
def ledger_needs_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 needs_optimize over the REAL file inventory: with the
    threshold above every fixture file size, small==total per partition,
    so the rule reduces to count>=2 (share trivially 100%) — which the
    oracle phrases as distinct event types per day."""
    tbl = _events_tbl(spark, sf_dir)
    settings = OptimizeSettings(
        small_file_threshold_bytes=1 << 40,  # everything is "small"
        small_file_min_count=2,
        small_file_min_share_percent=25,
    )
    return (
        partitions_df(tbl, settings)
        .filter(F.col("needs_optimize"))
        .select(
            F.col("partition")["ts_day"].alias("ts_day"),
            "small_files",
            "needs_optimize",
        )
        .orderBy("ts_day")
    )


@query("ledger_compaction_roundtrip", oracle=_LIVE + """
    SELECT CAST(COUNT(*) AS BIGINT) AS record_count,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS partition_count,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS file_count
    FROM live
    """)
def ledger_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full maintenance round-trip, graded: build a throwaway copy,
    compact it (binpack to one file per partition), and report
    record/partition/file counts from the POST-COMPACTION manifests.
    The oracle knows compaction must preserve rows and partitions and
    that binpack at a huge target ⇒ exactly one file per partition."""
    from lakehouse_admin_spark import maintenance

    catalog = get_catalog(spark)
    name = "events_roundtrip_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    tbl = build_events_ledger(spark, sf_dir, catalog, name=name)
    if not any(s.operation == "replace" for s in tbl.snapshots()):  # compact once
        maintenance.rewrite_data_files(
            tbl, target_file_size_bytes=1 << 40, min_input_files=2
        )
    parts = partitions_df(tbl)
    return parts.agg(
        F.sum("record_count").alias("record_count"),
        F.count(F.lit(1)).alias("partition_count"),
        F.sum("file_count").alias("file_count"),
    )


@query("ledger_delete_files", oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS data_records,
           CAST(SUM(CASE WHEN value < 20.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS position_deletes,
           CAST(SUM(CASE WHEN value < 20.0 THEN 0 ELSE 1 END) AS BIGINT)
               AS live_rows
    FROM events
    """)
def ledger_delete_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read content accounting, graded end to end: a table
    carrying a position-delete file (content = 1,
    reference `$files` content filter service_browse_files.go:206)
    reports data-file records and position-delete counts FROM MANIFEST
    METADATA, and the live row count from a merge-on-read scan; the
    oracle recomputes all three from raw rows. Partition stats keep
    describing the DATA files (deletes excluded by content = 0) —
    Iceberg `$partitions` semantics."""
    from lakehouse_admin_spark.metadata import files_df
    from lakehouse_admin_spark.sources.fixtures import build_events_mor_ledger

    catalog = get_catalog(spark)
    name = "events_mor_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    tbl = build_events_mor_ledger(spark, sf_dir, catalog, name=name)
    by_content = files_df(tbl).groupBy("content").agg(
        F.sum("record_count").alias("records")
    )
    data_records = by_content.filter(F.col("content") == 0).select("records")
    del_records = by_content.filter(F.col("content") == 1).select("records")
    live = tbl.read().count()
    return (
        data_records.crossJoin(del_records.withColumnRenamed("records", "d"))
        .select(
            F.col("records").alias("data_records"),
            F.col("d").alias("position_deletes"),
            F.lit(live).alias("live_rows"),
        )
    )


@query("ledger_bucketed_join_revenue", oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS line_count,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    ORDER BY 1
    """)
def ledger_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-map join INSIDE the ledger, graded end to end: orders and
    lineitem are ledger tables co-bucketed (bucket[8] Murmur3) on their
    orderkeys; the join runs as 8 independent per-bucket joins, each
    broadcasting whichever side the MANIFEST record counts say is
    smaller in that bucket — the fact side is planned bucket-local and
    never shuffled (plan pinned in tests/test_bucketing.py). The oracle
    recomputes from the raw rows: layout must never change results."""
    from lakehouse_admin_spark.sources.fixtures import build_bucketed_pair
    from lakehouse_admin_spark.sources.ledger_bucketing import bucketed_ledger_join

    catalog = get_catalog(spark)
    t_orders, t_li = build_bucketed_pair(spark, sf_dir, catalog)
    joined = bucketed_ledger_join(t_li, t_orders, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query("ledger_bucket_lookup", oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
    ORDER BY o_orderkey
    """)
def ledger_bucket_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point lookup: the key's Murmur3 bucket is computed
    once (1-row job through the SAME expression the write used), only
    that bucket's files are planned from the manifest (1/N of the
    table), and within the bucket the sorted write's column stats skip
    further. The oracle is the plain equality scan."""
    from lakehouse_admin_spark.sources.fixtures import build_bucketed_pair
    from lakehouse_admin_spark.sources.ledger_bucketing import bucket_point_lookup

    catalog = get_catalog(spark)
    t_orders, _t_li = build_bucketed_pair(spark, sf_dir, catalog)
    key = (
        load_table(spark, sf_dir, "orders")
        .agg(F.min("o_orderkey").alias("k"))
        .collect()[0]["k"]
    )
    return (
        bucket_point_lookup(t_orders, "o_orderkey", key)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query("ledger_sketch_lookup", oracle=_LIVE + """
    SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
    FROM live
    WHERE user_id = (SELECT MIN(user_id) FROM live)
    ORDER BY event_id
    """)
def ledger_sketch_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sketch-pruned point lookup on a NON-sorted, NON-bucketed
    column (user_id is uniform across every file, so min/max stats
    prune nothing): a Puffin-style per-file Bloom sidecar
    (sources/sketches.py) proves key-absence per file from metadata
    alone, and plan_files reads only the surviving files. The oracle
    is the plain equality scan over the raw rows."""
    from lakehouse_admin_spark.sources.sketches import (
        compute_file_sketches,
        load_sketches,
    )

    tbl = _events_tbl(spark, sf_dir)
    if not load_sketches(tbl):
        compute_file_sketches(tbl, ["user_id"])
    key = tbl.read().agg(F.min("user_id").alias("k")).collect()[0]["k"]
    return (
        tbl.read(predicates=[("user_id", "=", int(key))])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
        )
        .orderBy("event_id")
    )


@query("ledger_incremental_scan", oracle="""
    WITH t AS (
        SELECT event_type, row_number() OVER (ORDER BY event_type) AS rn
        FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS record_count,
           ROUND(SUM(e.value), 2) AS value_sum
    FROM events e JOIN t USING (event_type)
    WHERE t.rn IN (3, 4)
    GROUP BY 1
    ORDER BY 1
    """)
def ledger_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan (Iceberg incremental read), graded: the
    rows committed between the 2nd and 4th append are planned purely
    from MANIFEST DELTAS — the scan reads only the files those two
    commits added, never the table. The fixture appends one event_type
    per commit alphabetically, so the oracle knows the range holds
    exactly the 3rd and 4th types' rows."""
    tbl = _events_tbl(spark, sf_dir)
    appends = [s for s in tbl.snapshots() if s.operation == "append"]
    df = tbl.incremental_scan(appends[1].snapshot_id, appends[3].snapshot_id)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query("ledger_changelog_counts", oracle="""
    WITH t AS (
        SELECT event_type, row_number() OVER (ORDER BY event_type) AS rn
        FROM (SELECT DISTINCT event_type FROM events)
    ),
    ins AS (
        SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS row_count
        FROM events e JOIN t USING (event_type) WHERE t.rn >= 2
    ),
    del AS (
        SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS row_count
        FROM events
        WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
    )
    SELECT * FROM del UNION ALL SELECT * FROM ins ORDER BY change_type
    """)
def ledger_changelog_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog over the fixture's full history after the first
    commit: inserts are the rows of every later append (types 2..T),
    deletes are the rows of the files the delete-partitions commit
    dropped (the whole first day, all types). Planned from manifest
    deltas; only added/removed files are read. The oracle recomputes
    both sides from raw rows."""
    tbl = _events_tbl(spark, sf_dir)
    snaps = tbl.snapshots()
    df = tbl.changelog_scan(snaps[0].snapshot_id, snaps[-1].snapshot_id)
    return (
        df.groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("change_type")
    )


@query("ledger_merge_upsert", oracle="""
    WITH merged AS (
        SELECT CASE WHEN value < 20 THEN value + 1000 ELSE value END AS value
        FROM events
        UNION ALL
        SELECT 0.5 AS value FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
           ROUND(SUM(value), 2) AS value_sum,
           CAST(SUM(CASE WHEN value >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
               AS updated_rows
    FROM merged
    """)
def ledger_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO graded end to end: the fixture upserts (value<20 →
    value+1000 updates; one value=0.5 insert per purchase event) via
    position-delete + append in ONE atomic merge commit; the query
    aggregates the post-merge merge-on-read scan and the oracle replays
    the identical upsert in SQL over the raw rows."""
    from lakehouse_admin_spark.sources.fixtures import build_events_merge_ledger

    catalog = get_catalog(spark)
    name = "events_merge_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    tbl = build_events_merge_ledger(spark, sf_dir, catalog, name=name)
    return tbl.read().agg(
        F.count(F.lit(1)).alias("row_count"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.sum((F.col("value") >= 1000).cast("long")).alias("updated_rows"),
    )


@query("ledger_metadata_count", oracle="""
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS row_count
    FROM events, b
    WHERE ts >= CAST(d0 AS TIMESTAMP) + INTERVAL 36 HOUR
      AND ts <  CAST(d0 AS TIMESTAMP) + INTERVAL 3 DAY
    """)
def ledger_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation pushdown to the manifest (Iceberg metadata-only
    count): a time-range COUNT where interior-day files are answered
    from manifest record counts (stats prove every row matches) and
    only the boundary files are scanned. The oracle recomputes the
    count from raw rows; the full/partial classification itself is
    pinned in tests/test_ledger.py (it depends on footer stats, so it
    is not part of the graded shape)."""
    import datetime

    tbl = _events_tbl(spark, sf_dir)
    d0 = (
        load_table(spark, sf_dir, "events")
        .agg(F.min(F.to_date("ts")).alias("d0"))
        .collect()[0]["d0"]
    )
    lo = f"{d0 + datetime.timedelta(days=1)}T12:00:00"
    hi = f"{d0 + datetime.timedelta(days=3)}T00:00:00"
    n, _cls = tbl.count_rows([("ts", ">=", lo), ("ts", "<", hi)])
    return spark.createDataFrame([(n,)], "row_count bigint")


@query("ledger_eq_upsert", oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN -1.0 ELSE value END), 2)
               AS value_sum,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS updated_rows
    FROM events
    """)
def ledger_eq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete upsert (the streaming CDC sink path), graded:
    the fixture re-lands every purchase event with value = -1 via ONE
    upsert_by_key commit (equality delete + append); the merge-on-read
    scan must show exactly the replaced values, which the oracle
    recomputes from raw rows."""
    from lakehouse_admin_spark.sources.fixtures import build_events_eq_upsert_ledger

    catalog = get_catalog(spark)
    name = "events_equpsert_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    tbl = build_events_eq_upsert_ledger(spark, sf_dir, catalog, name=name)
    return tbl.read().agg(
        F.count(F.lit(1)).alias("row_count"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.sum((F.col("value") < 0).cast("long")).alias("updated_rows"),
    )


@query("ledger_update_where", oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'error_handled'
                ELSE event_type END AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END), 2)
               AS value_sum
    FROM events
    GROUP BY 1
    ORDER BY 1
    """)
def ledger_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE graded end to end: the fixture rewrites every
    error event (value→0, type→'error_handled') in one MOR commit; the
    post-update scan's per-type aggregate must equal the oracle's
    replay of the same UPDATE over raw rows."""
    from lakehouse_admin_spark.sources.fixtures import build_events_update_ledger

    catalog = get_catalog(spark)
    name = "events_update_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    tbl = build_events_update_ledger(spark, sf_dir, catalog, name=name)
    return (
        tbl.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query("ledger_ivm_rollup", oracle="""
    WITH final AS (
        SELECT event_type, value FROM events
        WHERE value >= 20 AND event_type <> 'purchase'
        UNION ALL
        SELECT 'purchase' AS event_type, -1.0 AS value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS row_count,
           ROUND(SUM(value), 2) AS value_sum
    FROM final
    GROUP BY 1
    ORDER BY 1
    """)
def ledger_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance graded end to end: the rollup
    absorbed an append, a MOR delete, and a CDC upsert as three signed
    deltas — never a recompute — and must equal the oracle's replay of
    the final state from raw rows."""
    from lakehouse_admin_spark.sources.fixtures import build_events_ivm

    catalog = get_catalog(spark)
    name = "events_ivm_src_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    ivm = build_events_ivm(spark, sf_dir, catalog, name=name)
    return (
        ivm.read()
        .select(
            "event_type",
            "row_count",
            F.round(F.col("value_sum"), 2).alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query("ledger_live_partition_stats", oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS ts_day,
           CAST(COUNT(*) AS BIGINT) AS record_count,
           CAST(SUM(CASE WHEN value < 20.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS position_deletes,
           CAST(SUM(CASE WHEN value < 20.0 THEN 0 ELSE 1 END) AS BIGINT)
               AS live_records
    FROM events
    GROUP BY 1
    ORDER BY 1
    """)
def ledger_live_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-aware partition stats: manifest record counts per
    partition MINUS position deletes attributed to their partitions —
    the delete rows (file_path, pos) join back to the data files'
    manifest partitions, so the whole computation is metadata + delete
    files, never a data scan. The oracle recomputes per-day totals,
    delete counts, and live counts from raw rows."""
    from lakehouse_admin_spark.metadata import files_df
    from lakehouse_admin_spark.sources.fixtures import build_events_mor_ledger

    catalog = get_catalog(spark)
    name = "events_mor_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    tbl = build_events_mor_ledger(spark, sf_dir, catalog, name=name)
    files = files_df(tbl)
    data = files.filter(F.col("content") == 0).select(
        F.concat(F.lit("file:"), F.col("file_path")).alias("uri"),
        F.col("partition")["ts_day"].alias("ts_day"),
        "record_count",
    )
    per_part = data.groupBy("ts_day").agg(
        F.sum("record_count").alias("record_count")
    )
    delete_paths = [
        e["file_path"]
        for e in tbl.live_files()
        if e.get("content", 0) == 1
    ]
    dels = spark.read.parquet(*delete_paths).select(F.col("file_path").alias("uri"))
    per_part_dels = (
        dels.join(F.broadcast(data.select("uri", "ts_day")), "uri")
        .groupBy("ts_day")
        .agg(F.count(F.lit(1)).alias("position_deletes"))
    )
    return (
        per_part.join(per_part_dels, "ts_day", "left")
        .select(
            "ts_day",
            "record_count",
            F.coalesce(F.col("position_deletes"), F.lit(0)).alias("position_deletes"),
            (F.col("record_count") - F.coalesce(F.col("position_deletes"), F.lit(0))).alias(
                "live_records"
            ),
        )
        .orderBy("ts_day")
    )


def _cell_lookup_oracle() -> str:
    from lakehouse_admin_spark.operators.similarity import (
        IVF_PROBES,
        TOP_K,
        _kmeans_cte,
    )

    return f"""
    WITH {_kmeans_cte()},
    q AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id = 0
    ),
    pc AS (
        SELECT q.qid, c.cl,
               ROUND(
                 list_sum(list_transform(list_zip(q.qe, c.ce),
                          p -> CAST(p[1] AS DOUBLE) * p[2]))
                 / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(c.ce, x -> x * x)))), 6) AS pcos
        FROM q CROSS JOIN kcent c
    ),
    probes AS MATERIALIZED (
        SELECT qid, cl FROM (
            SELECT qid, cl,
                   row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, cl) AS pr
            FROM pc
        ) WHERE pr <= {IVF_PROBES}
    ),
    pairs AS (
        SELECT q.qid, e.vec_id AS cid, q.qe, e.embedding AS ce
        FROM q
        JOIN probes p ON p.qid = q.qid
        JOIN kcells kc ON kc.cl = p.cl
        JOIN embeddings e ON e.vec_id = kc.vec_id AND e.vec_id <> q.qid
    ),
    sims AS (
        SELECT qid, cid,
               ROUND(list_sum(list_transform(list_zip(qe, ce),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
        FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
    FROM (
        SELECT qid AS query_id, cid AS neighbor_id, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rnk
        FROM sims
    ) WHERE rnk <= {TOP_K}
    ORDER BY rank
    """


@query("ledger_cell_lookup", oracle=_cell_lookup_oracle())
def ledger_cell_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point ANN lookup against the IVF INDEX AS A LEDGER TABLE: the
    trained assignment lives in a cell-identity-partitioned table
    (sources/fixtures.py:build_vector_cells_ledger), so probing the
    query's IVF_PROBES nearest cells is PARTITION PRUNING — plan_files
    keeps only the probed cells' fanout files (~probes/k of the table,
    pinned in tests) and the in-cell candidates get exact 6dp cosine
    ranking. The oracle retrains the same k-means in SQL and replays
    probe + in-cell search from the raw embeddings — a match proves
    the index table's CONTENT (assignment + partition routing), not
    just the final ranking. The centroid companion table is k rows —
    index metadata, collected like any manifest stat."""
    from lakehouse_admin_spark.operators.similarity import (
        IVF_PROBES,
        TOP_K,
        cosine_from_norms,
        norm_expr,
    )
    from lakehouse_admin_spark.sources.fixtures import build_vector_cells_ledger
    from pyspark.sql.window import Window

    catalog = get_catalog(spark)
    tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    tbl, ctbl = build_vector_cells_ledger(
        spark, sf_dir, catalog, name=f"vector_cells_{tag}"
    )
    # norms precomputed per side — cosine_from_norms folds one dot per
    # pair instead of re-deriving both norms (similarity.py pattern)
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm_expr(F.col("embedding")).alias("nq"),
        )
    )
    cents = ctbl.read().withColumn("ncell", norm_expr(F.col("ce")))
    pcos = F.round(
        cosine_from_norms(F.col("qe"), F.col("ce"), F.col("nq"), F.col("ncell")), 6
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cell"))
    probed = [
        int(r["cell"])
        for r in queries.crossJoin(F.broadcast(cents))
        .withColumn("pcos", pcos)
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= IVF_PROBES)
        .select("cell")
        .collect()
    ]  # IVF_PROBES ints — index metadata, not data
    part = None
    for c in probed:
        # each read prunes to ONE cell partition's fanout files
        p = tbl.read(predicates=[("cell", "=", c)])
        part = p if part is None else part.unionByName(p)
    sims = (
        part.filter(F.col("vec_id") != 0)
        .withColumn("nc", norm_expr(F.col("embedding")))
        .crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_from_norms(
                    F.col("qe"), F.col("embedding"), F.col("nq"), F.col("nc")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("rank")
    )


def _pq_cell_lookup_oracle() -> str:
    from lakehouse_admin_spark.operators.similarity import TOP_K, _ivf_pq_oracle

    return _ivf_pq_oracle(
        tail=f""",
    ranked AS (
        SELECT query_id, neighbor_id, approx_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY approx_dist, neighbor_id
               ) AS INT) AS rank
        FROM adc WHERE query_id = 0
    )
    SELECT query_id, neighbor_id, approx_dist, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY rank
    """
    )


@query("ledger_pq_cell_lookup", oracle=_pq_cell_lookup_oracle())
def ledger_pq_cell_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC point lookup against the GOVERNED PQ codes table
    (sources/fixtures.py:build_vector_codes_ledger — the FAISS IVFADC
    storage layout as cell-partitioned ledger tables): probe the
    query's IVF_PROBES nearest cells from the centroid companion
    (index metadata), PLAN only those cells' code files via partition
    pruning (~probes/k of an ~8 B/vector table — the raw vectors are
    never touched), and rank by ADC against the query's broadcast LUT.
    The oracle recomputes k-means, codebook, encoding, and probed ADC
    from the RAW embeddings, so a hash match proves the governed
    codes' content AND their cell routing end to end."""
    from lakehouse_admin_spark.operators.similarity import (
        IVF_PROBES,
        TOP_K,
        cosine_from_norms,
        norm_expr,
        pq_index,
    )
    from lakehouse_admin_spark.sources.fixtures import (
        build_vector_codes_ledger,
        get_catalog,
    )
    from pyspark.sql.window import Window

    catalog = get_catalog(spark)
    tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    cells_name = f"vector_cells_{tag}"
    codes_tbl = build_vector_codes_ledger(
        spark, sf_dir, catalog, cells_name=cells_name
    )
    ctbl = catalog.table("main", cells_name + "_centroids")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("nq"),
    )
    # probe selection from the k-row centroid table (index metadata);
    # per-side norms — one dot fold per (query, centroid) pair
    cents = ctbl.read().withColumn("ncell", norm_expr(F.col("ce")))
    pcos = F.round(
        cosine_from_norms(F.col("qe"), F.col("ce"), F.col("nq"), F.col("ncell")), 6
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cell"))
    probed = [
        int(r["cell"])
        for r in queries.crossJoin(F.broadcast(cents))
        .withColumn("pcos", pcos)
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= IVF_PROBES)
        .select("cell")
        .collect()
    ]
    part = None
    for c in probed:
        # each read prunes to ONE cell partition's code files
        p = codes_tbl.read(predicates=[("cell", "=", c)])
        part = p if part is None else part.unionByName(p)
    # the query's LUT comes off the session pq_index cache (the plain
    # variant ann_pq_topk already builds) — one checkpoint-scan filter
    # instead of re-running the codebook collect + LUT kernel per call
    # (r13; the codes side of the cache is untouched here — this query
    # ranks the GOVERNED ledger codes, not the cached ones)
    _codes, luts = pq_index(spark, sf_dir, with_cells=False)
    lut = luts.filter(F.col("query_id") == 0)
    adc = (
        part.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(lut))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("lut"),
                        F.col("codes"),
                        lambda l, c: F.element_at(l, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
        .orderBy("rank")
    )


@query(
    "ledger_range_scan",
    oracle=_LIVE
    + """
    , cutoff AS (
        SELECT MAX(CAST(ts AS DATE)) - INTERVAL 2 DAY AS c FROM live
    )
    SELECT strftime(ts, '%Y-%m-%d') AS ts_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM live WHERE ts >= (SELECT c FROM cutoff)
    GROUP BY 1
    ORDER BY 1
    """,
)
def ledger_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window scan planned through the RANGE interval index: the
    cutoff (last 3 live days) comes from MANIFEST partition values —
    zero data jobs — and ``read(predicates=[("ts", ">=", cutoff)])``
    binary-searches the per-snapshot (min, max) interval index
    (sources/ledger.py:_range_index) so only the window's files are
    planned; the predicate re-applies as a Spark filter for row
    exactness. The day-partitioned fixture gives files day-bounded ts
    stats, so the planned set is ~3/|days| of the table — the
    recent-window pattern every event-log dashboard serves. Oracle
    recomputes the window from raw rows (scalar-subquery cutoff)."""
    import datetime as _dt

    tbl = _events_tbl(spark, sf_dir)
    days = sorted(
        {
            e["partition"]["ts_day"]
            for e in tbl.live_files()
            if e.get("content", 0) == 0 and e["partition"].get("ts_day")
        }
    )
    cutoff = (_dt.date.fromisoformat(days[-1]) - _dt.timedelta(days=2)).isoformat()
    return (
        tbl.read(predicates=[("ts", ">=", cutoff)])
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("ts_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("ts_day")
    )


# z-order scan predicate box (inside every tier's data range; selective
# on both dimensions so pruning has work to do)
Z_USER_LO, Z_USER_HI, Z_VALUE_MIN = 0, 9, 50.0

def _events_z_tbl(spark: SparkSession, sf_dir: str) -> LedgerTable:
    """A SEPARATE events ledger clustered by a (user_id, value) z-order
    rewrite — separate because compaction changes file counts, and the
    shared fixture's file-count oracles must keep holding."""
    from lakehouse_admin_spark.maintenance import rewrite_data_files_zorder

    catalog = get_catalog(spark)
    name = "events_z_" + sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    # single-append copy: same live rows/partitions as the shared
    # fixture (so the _LIVE oracle holds) without the 5-commit lineage
    # the z-order rewrite would immediately obliterate
    tbl = build_events_ledger(spark, sf_dir, catalog, name=name, appends_per_day=False)

    def zorder() -> bool:
        # fixture-scale target size: split each day partition into
        # several z-clustered files (the real 512 MiB default yields
        # many files per partition at production bytes; one file per
        # partition has no boxes to prune)
        rewrite_data_files_zorder(
            tbl,
            ["user_id", "value"],
            target_file_size_bytes=4096,
            # a fixture-scale day fits one 4 KiB file; pruning needs
            # several boxes per day (at production bytes the bytes-based
            # count dominates and this floor is inert)
            min_files_per_group=3,
        )
        tbl.write_manifest()
        return True

    # once per (session, table): the rewrite is applied to the
    # catalog's table, so the registry entry lives on the warehouse
    index_registry.get(spark, catalog.warehouse, "zorder", zorder, variant=name)
    return tbl


@query(
    "ledger_zorder_scan",
    oracle=_LIVE
    + f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM live
    WHERE user_id BETWEEN {Z_USER_LO} AND {Z_USER_HI} AND value >= {Z_VALUE_MIN}
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ledger_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional box scan over a Z-ORDER-clustered table
    (Delta OPTIMIZE ZORDER BY / Iceberg sort-strategy rewrite): after
    :func:`maintenance.rewrite_data_files_zorder` range-clusters files
    on the interleaved (user_id, value) z-value, every file covers a
    small hyper-rectangle of that space, so the manifest min/max stats
    prune on BOTH predicate dimensions — a single-column sort order
    prunes only its leading key. ``read(predicates=...)`` plans through
    the same stat pruning the range scan uses; predicates re-apply as
    Spark filters for row exactness (pruning is only ever a superset).
    Oracle recomputes the box from raw rows."""
    tbl = _events_z_tbl(spark, sf_dir)
    df = tbl.read(
        predicates=[
            ("user_id", ">=", Z_USER_LO),
            ("user_id", "<=", Z_USER_HI),
            ("value", ">=", Z_VALUE_MIN),
        ]
    )
    return (
        df.filter(
            (F.col("user_id") >= Z_USER_LO)
            & (F.col("user_id") <= Z_USER_HI)
            & (F.col("value") >= Z_VALUE_MIN)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
