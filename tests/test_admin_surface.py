"""Catalog/describe, datetime, sqlutil, settings, and cache/refresh flow
tests (SURVEY §3.1/§3.3 lifecycles)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lakehouse_admin_spark.catalog import describe_table, list_databases, list_tables
from lakehouse_admin_spark.cache import MetadataCache
from lakehouse_admin_spark.functions.datetimes import (
    format_datetime,
    parse_datetime,
    parse_datetime_expr,
)
from lakehouse_admin_spark.functions.sqlutil import (
    optimize_where_clause,
    quote_ident,
    quote_ident_path,
    quote_literal,
)
from lakehouse_admin_spark.operators.analyze import OptimizeSettings
from lakehouse_admin_spark.settings import SettingsStore
from lakehouse_admin_spark.sources.fixtures import (
    build_events_ledger,
    build_lineitem_ledger,
    build_nested_ledger,
)
from lakehouse_admin_spark.sources.ledger import LedgerCatalog
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    catalog = LedgerCatalog(spark, str(tmp_path_factory.mktemp("wh_admin")))
    build_events_ledger(spark, SF_SMOKE, catalog)
    build_lineitem_ledger(spark, SF_SMOKE, catalog)
    build_nested_ledger(spark, catalog)
    cache = MetadataCache(spark, str(tmp_path_factory.mktemp("cache")))
    return catalog, cache


# -- catalog (S1-S3, F12) ---------------------------------------------------


def test_list_and_describe(env):
    catalog, _ = env
    assert list_databases(catalog) == ["main"]
    names = [t["name"] for t in list_tables(catalog, "main")]
    assert names == sorted(names) and "events_ledger" in names
    desc = describe_table(catalog, "main", "events_ledger")
    cols = {c["name"]: c["type"] for c in desc["columns"]}
    assert cols["event_id"] == "bigint" and cols["props"] == "string"
    assert desc["partitions"] == ["year", "month", "day"]
    assert desc["current_snapshot_id"] is not None


def test_describe_nested_type_rendering(env):
    catalog, _ = env
    desc = describe_table(catalog, "main", "nested_ledger")
    cols = {c["name"]: c["type"] for c in desc["columns"]}
    # F12: struct rendering via simpleString matches the reference's
    # struct<a:t> surface syntax (iceberg_client.go:498-537)
    assert cols["goal"] == "struct<conversionHappenedAt:date>"
    assert desc["partitions"] == ["year", "month", "day"]


# -- datetime (F7) ----------------------------------------------------------


def test_parse_date_only_is_utc_midnight():
    d = parse_datetime("2006-01-02")
    assert d == dt.datetime(2006, 1, 2, tzinfo=dt.timezone.utc)


def test_parse_rfc3339_passthrough():
    d = parse_datetime("2026-03-25T14:30:00Z")
    assert d == dt.datetime(2026, 3, 25, 14, 30, tzinfo=dt.timezone.utc)


def test_format_symmetry():
    assert format_datetime(dt.datetime(2006, 1, 2, tzinfo=dt.timezone.utc)) == "2006-01-02"
    assert (
        format_datetime(dt.datetime(2026, 3, 25, 14, 30, tzinfo=dt.timezone.utc))
        == "2026-03-25T14:30:00Z"
    )


def test_parse_datetime_expr(spark):
    df = spark.createDataFrame([("2006-01-02",), ("2026-03-25T14:30:00",)], ["s"])
    out = [r[0] for r in df.select(parse_datetime_expr(F.col("s"))).collect()]
    assert out[0] == dt.datetime(2006, 1, 2)
    assert out[1] == dt.datetime(2026, 3, 25, 14, 30)


# -- sqlutil (F8/F9/P10) ----------------------------------------------------


def test_quoting():
    assert quote_ident("a`b") == "`a``b`"
    assert quote_literal("it's") == "'it''s'"
    assert quote_ident_path("goal.conversionHappenedAt") == "`goal`.`conversionHappenedAt`"


def test_ident_path_validation():
    with pytest.raises(ValueError, match="invalid identifier"):
        quote_ident_path("a.b-c")
    with pytest.raises(ValueError, match="invalid identifier"):
        quote_ident_path("a.'; drop")


def test_optimize_where_clause():
    # reference maintenance.py:110-134 shape
    s = optimize_where_clause("createdAt", "2026-03-01", "2026-03-02")
    assert s == "`createdAt` >= '2026-03-01 00:00:00' AND `createdAt` < '2026-03-02 00:00:00'"


# -- settings ---------------------------------------------------------------


def test_settings_defaults_and_roundtrip(tmp_path):
    s = SettingsStore(str(tmp_path / "settings.json"))
    assert s.get_int("small_file_threshold_bytes") == 256 * 1024 * 1024
    assert s.get_int("task_concurrency") == 1
    s.set("task_concurrency", "4")
    s2 = SettingsStore(str(tmp_path / "settings.json"))
    assert s2.get_int("task_concurrency") == 4
    opt = s2.optimize_settings()
    assert opt.small_file_min_count == 2 and opt.small_file_min_share_percent == 25


# -- cache / refresh (§3.1 / §3.3) -----------------------------------------


def test_refresh_and_summaries(env, spark):
    catalog, cache = env
    settings = OptimizeSettings(small_file_threshold_bytes=10 * 1024 * 1024)
    counts = cache.refresh_all(catalog, settings)
    assert counts["tables"] == 3 and counts["partitions"] > 0 and counts["snapshots"] > 0
    summaries = {r["table"]: r for r in cache.table_summaries().collect()}
    assert set(summaries) == {"events_ledger", "lineitem_ledger", "nested_ledger"}
    ev = summaries["events_ledger"]
    tbl = catalog.table("main", "events_ledger")
    assert ev["record_count"] == tbl.read().count()
    assert ev["snapshot_count"] == len(tbl.snapshots())
    assert ev["needs_optimize"]  # small files everywhere at this threshold


def test_refresh_single_table_overwrites_only_its_slice(env):
    catalog, cache = env
    before = cache.read("partitions").count()
    cache.refresh_table(catalog, "main", "events_ledger")
    after = cache.read("partitions").count()
    assert before == after  # idempotent refresh, no duplication


def test_metadata_cache_sets_no_session_conf(env, spark, tmp_path):
    """Constructing a MetadataCache leaves the shared session's overwrite
    semantics alone; a refresh under a static session still replaces
    only its own table's slice (dynamic overwrite is an option of that
    one write)."""
    catalog, _ = env
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        cache = MetadataCache(spark, str(tmp_path / "cache"))
        assert spark.conf.get(key) == "static"
        for t in ("events_ledger", "lineitem_ledger"):
            cache.refresh_table(catalog, "main", t)
        n = {e: cache.read(e).count() for e in ("partitions", "snapshots")}
        cache.refresh_table(catalog, "main", "events_ledger")
        for entity in ("partitions", "snapshots"):
            assert cache.read(entity).count() == n[entity], entity
            tables = {r["table"] for r in cache.read(entity).select("table").distinct().collect()}
            assert tables == {"events_ledger", "lineitem_ledger"}, entity
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, old)


def test_stale_table_cleanup(env, spark):
    catalog, cache = env
    # simulate a dropped table: live list without nested_ledger
    live = [("main", "events_ledger"), ("main", "lineitem_ledger")]
    assert cache.stale_tables(live) == [("main", "nested_ledger")]
    removed = cache.remove_stale(live)
    assert removed == 1
    tables = {r["table"] for r in cache.read("partitions").select("table").distinct().collect()}
    assert "nested_ledger" not in tables
    # restore for other tests
    cache.refresh_all(catalog)
