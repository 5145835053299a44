"""Driver-held browse state: the per-snapshot partition roll-up and the
Arrow metadata cache. Answers must not depend on how they are served —
concurrent refreshes, a second cache over the same directory, Spark's
RDD fallback above the LocalRelation threshold, and a cache directory
written by Spark's partitioned writer all give the same rows."""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading

import pytest

from lakehouse_admin_spark import metadata as md
from lakehouse_admin_spark.cache import MetadataCache
from lakehouse_admin_spark.engine import LakehouseAdmin
from lakehouse_admin_spark.sources import ledger as ledger_mod
from lakehouse_admin_spark.sources.ledger import PartitionField

DAY = [PartitionField(source="ts", transform="day", name="ts_day")]


def _rows(spark, n: int, start: int = 0, days: int = 3):
    return spark.range(start, start + n).selectExpr(
        f"timestamp_seconds(1704067200 + (id % {days}) * 86400) AS ts", "id AS v"
    )


@pytest.fixture(scope="module")
def admin(spark, tmp_path_factory):
    a = LakehouseAdmin(spark, str(tmp_path_factory.mktemp("wh_browse_driver")))
    a.settings.set("small_file_threshold_bytes", str(10 * 1024 * 1024))
    for name in ("daily", "other"):
        tbl = a.catalog.create_table("main", name, _rows(spark, 1).schema, DAY)
        for i in range(3):
            tbl.append(_rows(spark, 12, start=12 * i).coalesce(1 + i % 2))
    a.catalog.create_table("main", "never_written", _rows(spark, 1).schema, DAY)
    a.refresh_all()
    return a


def _sorted(df) -> list[dict]:
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=repr)


def _reads(admin, table: str) -> dict:
    return {
        "summary": admin.table_summary("main", table),
        "cached": _sorted(admin.cached_partitions("main", table)),
        "year": _sorted(admin.drilldown("main", table, {})),
        "day": _sorted(admin.drilldown("main", table, {"year": "2024", "month": "01"})),
    }


def test_refresh_counts_come_from_the_rows_written(admin):
    tbl = admin.table("main", "daily")
    days = {e["partition"]["ts_day"] for e in tbl.live_files()}
    assert admin.refresh("main", "daily") == {
        "partitions": len(days),
        "snapshots": len(tbl.snapshots()),
    }
    assert admin.refresh_all() == {
        "tables": 3,
        "partitions": 2 * len(days),
        "snapshots": 2 * len(tbl.snapshots()),
        "stale_removed": 0,
    }
    # the never-written table has no partition rows, so it is not a
    # cached key; the set difference is over cached keys only
    cache = admin.cache
    assert cache.stale_tables([("main", "daily")]) == [("main", "other")]
    assert cache.remove_stale([("main", "daily"), ("main", "other")]) == 0


def test_remove_stale_drops_both_slices(admin, spark, tmp_path):
    cache = MetadataCache(spark, str(tmp_path / "cache"))
    for t in ("daily", "other"):
        cache.refresh_table(admin.catalog, "main", t)
    assert cache.remove_stale([("main", "daily")]) == 1
    for entity in ("partitions", "snapshots"):
        assert {r["table"] for r in cache.read(entity).collect()} == {"daily"}
        assert not os.path.exists(
            os.path.join(cache.cache_dir, entity, "database=main", "table=other")
        )
    assert cache.remove_stale([("main", "daily")]) == 0


def test_second_cache_sees_a_refresh(admin, spark, tmp_path):
    first = MetadataCache(spark, str(tmp_path / "cache"))
    first.refresh_table(admin.catalog, "main", "daily")
    second = MetadataCache(spark, first.cache_dir)
    before = second.table_summary("main", "daily")
    assert before["file_count"] == len(admin.table("main", "daily").live_files())

    tbl = admin.catalog.create_table("main", "grows", _rows(spark, 1).schema, DAY)
    tbl.append(_rows(spark, 6).coalesce(1))
    first.refresh_table(admin.catalog, "main", "grows")
    assert second.table_summary("main", "grows")["record_count"] == 6
    tbl.append(_rows(spark, 4, start=6).coalesce(1))
    first.refresh_table(admin.catalog, "main", "grows")
    got = second.table_summary("main", "grows")
    assert (got["record_count"], got["file_count"], got["snapshot_count"]) == (10, 6, 2)
    assert _sorted(second.cached("partitions", "main", "grows")) == _sorted(
        first.cached("partitions", "main", "grows")
    )
    first.remove_stale([("main", "daily")])
    assert second.table_summary("main", "grows") is None
    assert second.table_summary("main", "daily") == before
    admin.catalog.drop_table("main", "grows")


def test_cache_loads_a_spark_written_layout(admin, spark, tmp_path):
    """A cache directory written by Spark's partitioned writer (the
    layout of earlier versions) loads unchanged."""
    ours = admin.cache
    legacy = MetadataCache(spark, str(tmp_path / "legacy"))
    for entity in ("partitions", "snapshots"):
        ours.read(entity).write.partitionBy("database", "table").parquet(legacy._path(entity))
        assert _sorted(legacy.read(entity)) == _sorted(ours.read(entity))
        assert legacy.read(entity).schema == ours.read(entity).schema
    assert legacy.table_summaries("main").collect() == ours.table_summaries("main").collect()
    assert legacy.stale_tables([]) == ours.stale_tables([])
    legacy.refresh_table(admin.catalog, "main", "daily")
    assert legacy.table_summary("main", "daily") == ours.table_summary("main", "daily")


def test_reads_match_through_the_rdd_fallback(admin, spark):
    """Above spark.sql.execution.arrow.localRelationThreshold Spark
    turns the Arrow batches into an RDD scan; the rows are the same."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    tbl = admin.table("main", "daily")
    frames = {
        "partitions_df": lambda: md.partitions_df(tbl, admin.settings.optimize_settings()),
        "drilldown": lambda: admin.drilldown("main", "daily", {"year": "2024"}),
        "summaries": lambda: admin.list_tables_with_summaries("main"),
        "cached": lambda: admin.cached_partitions("main", "daily"),
        "files": lambda: admin.list_partition_files(
            "main", "daily", {"year": "2024", "month": "01", "day": "01"}
        ),
    }
    local = {k: f().collect() for k, f in frames.items()}
    summary = admin.table_summary("main", "daily")
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        for name, build in frames.items():
            df = build()
            plan = df._jdf.queryExecution().analyzed().toString()
            assert "LogicalRDD" in plan, (name, plan)
            assert df.collect() == local[name], name
        assert admin.table_summary("main", "daily") == summary
    finally:
        spark.conf.set(key, old)


def test_rollup_is_computed_once_per_snapshot(admin, spark):
    tbl = admin.table("main", "daily")
    settings = admin.settings.optimize_settings()
    first = md.partition_rollup(tbl, settings)
    assert md.partition_rollup(tbl, settings) is first
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    md.table_summary(tbl, settings)
    admin.plan_optimize("main", "daily", dt.date(2024, 1, 1), dt.date(2024, 1, 3))
    assert set(tracker.getJobIdsForGroup(None)) == before
    admin.tasks.flush()
    # other settings are another roll-up of the same snapshot
    assert md.partition_rollup(tbl) is not first
    ledger_mod.invalidate_live_files_cache(tbl.meta_dir, tbl.current_snapshot_id())
    assert md.partition_rollup(tbl, settings) is not first
    assert md.partition_rollup(tbl, settings).equals(first)


def test_reads_during_refreshes_see_before_or_after(admin, spark):
    """Six readers of summary, cached partitions and drill-downs race a
    thread that appends and refreshes; every answer is one of the
    states the writer published, and no read raises."""
    tbl = admin.catalog.create_table("main", "raced", _rows(spark, 1).schema, DAY)
    tbl.append(_rows(spark, 9).coalesce(1))
    admin.refresh("main", "raced")
    states = [_reads(admin, "raced")]
    answers, errors = [], []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                answers.append(_reads(admin, "raced"))
            except Exception as e:  # noqa: BLE001 — every failure is reported
                errors.append(repr(e))

    def writer():
        try:
            for i in range(3):
                tbl.append(_rows(spark, 3 + i, start=100 * (i + 1)).coalesce(1))
                admin.refresh("main", "raced")
                states.append(_reads(admin, "raced"))
        finally:
            done.set()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(6)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        admin.catalog.drop_table("main", "raced")
        admin.refresh_tables()
    assert not errors, errors[:3]
    assert len(states) == 4 and answers
    for got in answers:
        # cache reads move at a refresh, live drill-downs at a commit;
        # each answer must be one published state, never a torn mix
        for part in ("summary", "cached", "year", "day"):
            assert got[part] in [s[part] for s in states], part
