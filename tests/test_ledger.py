"""Ledger format + metadata tables + maintenance procedures, exercised
on real snapshot-bearing tables built from the driver fixtures."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lakehouse_admin_spark import maintenance
from lakehouse_admin_spark.integrity import integrity_report, missing_files
from lakehouse_admin_spark.metadata import (
    drilldown,
    files_df,
    list_files,
    partitions_df,
    snapshots_df,
    table_summary,
)
from lakehouse_admin_spark.operators.analyze import OptimizeSettings
from lakehouse_admin_spark.sources.fixtures import (
    build_events_ledger,
    build_lineitem_ledger,
    build_nested_ledger,
)
from lakehouse_admin_spark.sources import ledger as ledger_mod
from lakehouse_admin_spark.sources.ledger import LedgerCatalog, PartitionField
from lakehouse_admin_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _snapshot_entry(tbl):
    """The ledger's cached file views of ``tbl``'s current snapshot."""
    return ledger_mod._SNAPSHOT_CACHE.peek(
        (os.path.abspath(tbl.meta_dir), tbl.current_snapshot_id())
    )


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    return LedgerCatalog(spark, str(tmp_path_factory.mktemp("warehouse")))


@pytest.fixture(scope="module")
def events_tbl(spark, catalog):
    return build_events_ledger(spark, SF_SMOKE, catalog)


@pytest.fixture(scope="module")
def lineitem_tbl(spark, catalog):
    return build_lineitem_ledger(spark, SF_SMOKE, catalog)


def test_catalog_listing(catalog, events_tbl, lineitem_tbl):
    assert "main" in catalog.list_databases()
    tables = catalog.list_tables("main")
    assert "events_ledger" in tables and "lineitem_ledger" in tables


def test_snapshot_lineage(events_tbl):
    snaps = events_tbl.snapshots()
    assert len(snaps) >= 5  # one append per week + delete
    assert snaps[0].parent_id is None
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur.parent_id == prev.snapshot_id
    assert snaps[-1].operation == "delete"
    assert {s.operation for s in snaps} >= {"append", "delete"}


def test_snapshots_df_summary(events_tbl):
    df = snapshots_df(events_tbl)
    rows = {r["snapshot_id"]: r for r in df.collect()}
    assert all(r["operation"] in ("append", "delete") for r in rows.values())
    first = min(rows)
    assert int(rows[first]["summary"]["added-data-files"]) > 0


def test_read_matches_source_minus_delete(spark, events_tbl):
    ev = load_table(spark, SF_SMOKE, "events")
    first_day = ev.select(F.date_format(F.min("ts"), "yyyy-MM-dd")).collect()[0][0]
    expected = ev.filter(F.date_format("ts", "yyyy-MM-dd") != first_day).count()
    assert events_tbl.read().count() == expected


def test_time_travel_read(events_tbl):
    snaps = events_tbl.snapshots()
    # before the delete commit, all appended rows are visible
    pre_delete = snaps[-2].snapshot_id
    assert events_tbl.read(pre_delete).count() > events_tbl.read().count()


def test_partition_stats_match_data(spark, events_tbl):
    """Ledger partition record counts must equal a direct group-by over
    the source rows — metadata vs data cross-check."""
    parts = {
        r["partition"]["ts_day"]: r["record_count"]
        for r in partitions_df(events_tbl).collect()
    }
    actual = {
        r["d"]: r["n"]
        for r in events_tbl.read()
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert parts == actual


def test_files_metadata_table(lineitem_tbl):
    df = files_df(lineitem_tbl)
    row = df.first()
    assert row["content"] == 0 and row["file_format"] == "PARQUET"
    assert set(row["partition"].keys()) == {"l_shipdate_day", "l_returnflag"}
    assert df.filter(F.col("record_count") <= 0).count() == 0


def test_list_files_ordering(lineitem_tbl):
    sel = {"l_shipdate_day": "1995-01-12", "l_returnflag": "N"}
    rows = list_files(lineitem_tbl, sel).collect()
    if len(rows) > 1:
        sizes = [r["file_size_in_bytes"] for r in rows]
        assert sizes == sorted(sizes, reverse=True)
    for r in rows:
        assert r["partition"]["l_shipdate_day"] == "1995-01-12"


def test_table_summary(events_tbl):
    s = table_summary(events_tbl)
    assert s["partition_count"] > 0
    assert s["record_count"] == events_tbl.read().count()
    assert s["snapshot_count"] == len(events_tbl.snapshots())


def test_drilldown_levels(events_tbl):
    top = drilldown(events_tbl, {})
    years = [r["name"] for r in top.collect()]
    assert years == sorted(years) and len(years) >= 1
    months = drilldown(events_tbl, {"year": years[0]}).collect()
    assert all(len(r["name"]) == 2 for r in months)
    days = drilldown(events_tbl, {"year": years[0], "month": months[0]["name"]})
    total = sum(r["record_count"] for r in days.collect())
    assert total == sum(r["record_count"] for r in [months[0]])


def test_drilldown_mixed_spec(lineitem_tbl):
    top = drilldown(lineitem_tbl, {})  # year level
    y = top.collect()[0]["name"]
    flags = drilldown(
        lineitem_tbl, {"year": y, "month": "01", "day": "12"}
    ).collect()
    assert {r["name"] for r in flags} <= {"A", "N", "R"}


# ---------------------------------------------------------------------------
# maintenance procedures
# ---------------------------------------------------------------------------


def test_rewrite_data_files_compacts(spark, catalog):
    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_compact")
    settings = OptimizeSettings(small_file_threshold_bytes=10 * 1024 * 1024)
    before = partitions_df(tbl, settings).agg(F.sum("file_count")).collect()[0][0]
    rows_before = tbl.read().count()
    metrics = maintenance.rewrite_data_files(
        tbl, target_file_size_bytes=10 * 1024 * 1024, min_input_files=2
    )
    after = partitions_df(tbl, settings).agg(F.sum("file_count")).collect()[0][0]
    assert metrics["rewritten_data_files_count"] > 0
    assert after < before
    assert tbl.read().count() == rows_before  # no data loss
    assert tbl.snapshots()[-1].operation == "replace"


def test_manifest_scan_matches_json_fallback(spark, catalog, events_tbl):
    """files_df over the parquet manifest returns exactly the JSON
    entries (the fixture builder folds a manifest at the end)."""
    assert events_tbl.has_manifest()
    via_scan = {
        (r["file_path"], r["record_count"], r["file_size_in_bytes"], dict(r["partition"])["ts_day"])
        for r in files_df(events_tbl).collect()
    }
    via_json = {
        (e["file_path"], e["record_count"], e["file_size_in_bytes"], e["partition"]["ts_day"])
        for e in events_tbl.live_files()
    }
    assert via_scan == via_json


def test_manifest_scan_100k_files_no_driver_list(spark, catalog, monkeypatch):
    """Partition analytics over a 100k-entry manifest must consume the
    distributed parquet scan — the driver-side JSON list path is never
    touched (pinned by making live_files raise)."""
    from lakehouse_admin_spark.sources.ledger import LedgerTable, Snapshot

    df = spark.range(1).select(F.lit("d0").alias("day_str"), F.col("id"))
    tbl = catalog.create_table(
        "main",
        "manifest_100k",
        df.schema,
        [PartitionField(source="day_str", transform="identity", name="day_str")],
    )
    n = 100_000
    entries = [
        {
            "file_path": f"/x/f{i:06d}.parquet",
            "partition": {"day_str": f"d{i % 365}"},
            "record_count": 100,
            "file_size_in_bytes": 1_000_000 + i,
            "spec_id": 0,
            "content": 0,
            "file_format": "PARQUET",
        }
        for i in range(n)
    ]
    seg = tbl._write_segment("mseg-1-d100k.parquet", entries, [])
    tbl._commit(
        Snapshot(1, None, 1, "append", {}, manifest_list=[seg], own_segment=seg)
    )
    tbl.write_manifest()
    monkeypatch.setattr(
        LedgerTable,
        "live_files",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("driver list path used")),
    )
    parts = partitions_df(tbl)
    assert parts.count() == 365
    agg = parts.agg(
        F.sum("file_count").alias("fc"), F.sum("record_count").alias("rc")
    ).collect()[0]
    assert agg["fc"] == n and agg["rc"] == 100 * n


def test_rewrite_per_group_binpack_bound(spark, catalog):
    """Per-file-group compaction: every partition independently compacts
    to ≤ ceil(Σsmall_bytes / target) files, and no rewritten file mixes
    rows from two partitions (narrow coalesce — no cross-partition
    shuffle)."""
    import math

    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_groups")
    target = 10 * 1024 * 1024
    before: dict[str, list[dict]] = {}
    for e in tbl.live_files():
        before.setdefault(e["partition"]["ts_day"], []).append(e)
    rows_before = tbl.read().count()
    maintenance.rewrite_data_files(tbl, target_file_size_bytes=target, min_input_files=2)
    after: dict[str, list[dict]] = {}
    for e in tbl.live_files():
        after.setdefault(e["partition"]["ts_day"], []).append(e)
    assert sorted(before) == sorted(after)  # partition set unchanged
    for day, group in before.items():
        small = [e for e in group if e["file_size_in_bytes"] < target]
        big = len(group) - len(small)
        if len(small) >= 2:
            bound = max(1, math.ceil(sum(e["file_size_in_bytes"] for e in small) / target))
            assert len(after[day]) <= bound + big
    assert tbl.read().count() == rows_before
    # every live file's rows belong to exactly its manifest partition
    for day, group in after.items():
        for e in group:
            days_in_file = (
                spark.read.parquet(e["file_path"])
                .select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
                .distinct()
                .collect()
            )
            assert [r["d"] for r in days_in_file] == [day]


def test_rewrite_after_add_column_preserves_evolved_values(spark, catalog):
    """Compacting a group that mixes pre- and post-add_column files must
    read through the table schema — inferring from an arbitrary file
    would silently null the evolved column (ADVICE r1, high)."""
    ev = load_table(spark, SF_SMOKE, "events").limit(200).cache()
    tbl = catalog.create_table(
        "main",
        "events_evolved_compact",
        ev.schema,
        [PartitionField(source="ts", transform="day", name="ts_day")],
    )
    tbl.append(ev)
    tbl.add_column("ingest_tag", "string")
    tbl.append(ev.withColumn("ingest_tag", F.lit("r2")))
    tagged_before = tbl.read().filter(F.col("ingest_tag") == "r2").count()
    assert tagged_before == 200
    maintenance.rewrite_data_files(tbl, target_file_size_bytes=1 << 40, min_input_files=2)
    assert tbl.snapshots()[-1].operation == "replace"
    assert tbl.read().filter(F.col("ingest_tag") == "r2").count() == tagged_before


def test_identity_partition_special_chars_roundtrip(spark, catalog):
    """Hive dir names percent-escape ':' etc.; manifests must carry the
    REAL value so equality predicates and rendering match (ADVICE r1)."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1), ("2024-01-01 00:00:00", 2), ("2024-01-02 12:30:00", 3)],
        "ts_str string, v int",
    )
    tbl = catalog.create_table(
        "main",
        "escaped_parts",
        df.schema,
        [PartitionField(source="ts_str", transform="identity", name="ts_str")],
    )
    tbl.append(df)
    vals = sorted({e["partition"]["ts_str"] for e in tbl.live_files()})
    assert vals == ["2024-01-01 00:00:00", "2024-01-02 12:30:00"]
    tbl.delete_partitions(lambda p: p.get("ts_str") == "2024-01-02 12:30:00")
    assert tbl.read().count() == 2


def test_merge_on_read_position_deletes(spark, catalog):
    """delete_where writes content=1 position-delete files; reads
    anti-join them, metadata keeps describing the data files, and
    compaction never binpacks a delete file."""
    from lakehouse_admin_spark.sources.fixtures import build_events_mor_ledger

    tbl = build_events_mor_ledger(spark, SF_SMOKE, catalog, name="events_mor_unit")
    contents = {e.get("content", 0) for e in tbl.live_files_all()} if hasattr(tbl, "live_files_all") else {
        e.get("content", 0) for e in tbl.snapshot(tbl.current_snapshot_id()).files
    }
    assert contents == {0, 1}
    ev = load_table(spark, SF_SMOKE, "events")
    n_total = ev.count()
    n_deleted = ev.filter(F.col("value") < 20.0).count()
    assert n_deleted > 0
    # merge-on-read scan excludes exactly the deleted rows
    assert tbl.read().count() == n_total - n_deleted
    assert tbl.read().filter(F.col("value") < 20.0).count() == 0
    # partition stats describe DATA files only (content = 0)
    parts_records = partitions_df(tbl).agg(F.sum("record_count")).collect()[0][0]
    assert parts_records == n_total
    # list_files shows only data files; compaction leaves deletes alone
    assert all(r["content"] == 0 for r in list_files(tbl).collect())
    maintenance.rewrite_data_files(tbl, target_file_size_bytes=1 << 40)
    still = {e.get("content", 0) for e in tbl.snapshot(tbl.current_snapshot_id()).files}
    assert 1 in still
    assert tbl.read().count() == n_total - n_deleted  # deletes survive compaction


def test_rewrite_scoped_by_where(spark, catalog):
    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_scoped")
    days = sorted({e["partition"]["ts_day"] for e in tbl.live_files()})
    target_day = days[1]
    untouched_before = [
        e["file_path"] for e in tbl.live_files() if e["partition"]["ts_day"] != target_day
    ]
    maintenance.rewrite_data_files(
        tbl, where={"ts_day": target_day}, target_file_size_bytes=10 * 1024 * 1024
    )
    untouched_after = [
        e["file_path"] for e in tbl.live_files() if e["partition"]["ts_day"] != target_day
    ]
    assert untouched_before == untouched_after


def test_expire_snapshots(spark, catalog):
    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_expire")
    n_before = len(tbl.snapshots())
    current = tbl.current_snapshot_id()
    # expire everything older than "now" except current
    metrics = maintenance.expire_snapshots(tbl, older_than_ms=int(2e15))
    assert metrics["deleted_snapshots_count"] == n_before - 1
    assert [s.snapshot_id for s in tbl.snapshots()] == [current]
    # current data still fully readable after expiry deleted old files
    assert tbl.read().count() > 0
    assert not missing_files(tbl)


def test_ancestry_walks_tolerate_expired_parents(spark, catalog):
    """Routine expire_snapshots truncates the ancestry (Iceberg
    truncates its snapshot log the same way); every pointer walk must
    treat a missing parent as end-of-chain, never surface KeyError:

    - snapshot_as_of at/after the oldest retained ancestor still works;
    - snapshot_as_of OLDER than the oldest retained ancestor raises a
      clean ValueError naming the retention horizon;
    - is_ancestor across the horizon returns False;
    - fast_forward's guard (which walks is_ancestor) still publishes a
      WAP branch staged on the post-expiry head;
    - incremental/changelog ranges crossing the horizon raise a clean
      ValueError telling the consumer to re-bootstrap."""
    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_expire_walk")
    snaps = tbl.snapshots()
    assert len(snaps) >= 4
    expired_ids = [s.snapshot_id for s in snaps[:-2]]
    maintenance.expire_snapshots(tbl, older_than_ms=int(2e15), retain_last=2)
    kept = tbl.snapshots()
    assert len(kept) == 2
    # the older kept snapshot's parent is gone — the walk must cross it
    assert kept[0].parent_id in expired_ids
    oldest_retained = kept[0]

    # at/after the horizon: normal Iceberg semantics
    cur = tbl.current_snapshot_id()
    assert tbl.snapshot_as_of(kept[1].committed_at_ms) == cur
    assert tbl.read(as_of_ms=kept[1].committed_at_ms).count() > 0

    # before the horizon: clean ValueError, never KeyError
    with pytest.raises(ValueError, match="oldest retained ancestor"):
        tbl.snapshot_as_of(oldest_retained.committed_at_ms - 1)
    with pytest.raises(ValueError, match="expire_snapshots"):
        tbl.read(as_of_ms=oldest_retained.committed_at_ms - 1)

    # is_ancestor walks end at the horizon instead of raising
    assert tbl.is_ancestor(oldest_retained.snapshot_id, cur)
    assert not tbl.is_ancestor(expired_ids[0], cur)

    # WAP fast-forward on the post-expiry table still works end-to-end
    tbl.create_ref("wap", kind="branch")
    staged = tbl.append_to_branch(
        "wap", tbl.read().limit(5)
    )
    assert tbl.current_snapshot_id() == cur  # main untouched by staging
    assert tbl.fast_forward("wap") == staged.snapshot_id
    assert tbl.current_snapshot_id() == staged.snapshot_id

    # CDC across the horizon: clean failure, re-bootstrap signal
    with pytest.raises(ValueError, match="retention horizon"):
        tbl.incremental_scan(expired_ids[0], tbl.current_snapshot_id())
    with pytest.raises(ValueError, match="retention horizon"):
        tbl.changelog_scan(expired_ids[0], tbl.current_snapshot_id())
    # in-horizon incremental range still fine (append staged above)
    assert tbl.incremental_scan(cur, staged.snapshot_id).count() == 5


def test_remove_orphan_files(spark, catalog):
    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_orphans")
    # plant an orphan with an old mtime
    orphan = os.path.join(tbl.data_dir, "stray.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    os.utime(orphan, (1, 1))
    metrics = maintenance.remove_orphan_files(tbl)
    assert metrics["orphan_file_count"] == 1
    assert metrics["deleted_files"] == [orphan]
    assert not os.path.exists(orphan)
    # live files untouched
    assert not missing_files(tbl)


def test_remove_orphan_files_paginated_object_store_lister(spark, catalog):
    """The storage boundary (SURVEY §7 hard part (d)): orphan removal
    runs against an S3-style PAGINATED prefix lister — lexicographic
    pages of ≤page_size keys with a continuation cursor, deletes routed
    through the store API, never os.remove — and must (1) stream
    through multiple pages, (2) find exactly what the local walk finds,
    (3) delete via the lister. Pins that remove_orphan_files depends
    only on the PrefixLister contract, so a real object store is a
    drop-in."""
    from lakehouse_admin_spark.sources.listing import ListedFile, LocalPrefixLister

    class FakeS3Lister:
        """ListObjectsV2 emulation over a snapshot of the real files:
        sorted keys served in fixed-size pages; delete marks the key
        gone in the store (and mirrors to disk so table reads stay
        consistent for the post-check)."""

        def __init__(self, roots, page_size=4):
            self.store: dict[str, int] = {}
            local = LocalPrefixLister()
            for root in roots:
                for f in local.list(root):
                    self.store[f.path] = f.mtime_ms
            self.page_size = page_size
            self.pages_served = 0
            self.deleted: list[str] = []

        def list(self, prefix):
            cursor = ""
            while True:
                page = [
                    k
                    for k in sorted(self.store)
                    if k.startswith(prefix.rstrip("/") + "/") and k > cursor
                ][: self.page_size]
                if not page:
                    return
                self.pages_served += 1
                for k in page:
                    yield ListedFile(k, self.store[k])
                cursor = page[-1]

        def delete(self, path):
            del self.store[path]
            self.deleted.append(path)
            os.remove(path)

    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_orphans_s3")
    strays = []
    for i in range(3):
        p = os.path.join(tbl.data_dir, f"stray_{i}.parquet")
        with open(p, "wb") as fh:
            fh.write(b"x")
        os.utime(p, (1, 1))
        strays.append(p)
    expected = maintenance.remove_orphan_files(tbl, dry_run=True)["deleted_files"]
    assert sorted(strays) == expected  # the local walk agrees on the orphans
    fake = FakeS3Lister([tbl.data_dir, tbl.meta_dir])
    metrics = maintenance.remove_orphan_files(tbl, lister=fake)
    assert metrics["deleted_files"] == expected
    assert fake.deleted == expected  # deletes went through the store API
    assert fake.pages_served > 2, "pagination must actually be exercised"
    assert not missing_files(tbl)


def test_rollback_to_snapshot(spark, catalog):
    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_rollback")
    snaps = tbl.snapshots()
    pre_delete = snaps[-2]
    deleted_count = tbl.read().count()
    result = maintenance.rollback_to_snapshot(tbl, pre_delete.snapshot_id)
    assert result["rolled_back_to"] == pre_delete.snapshot_id
    assert tbl.read().count() == int(pre_delete.summary["total-records"])
    assert tbl.read().count() > deleted_count
    assert tbl.snapshots()[-1].operation == "rollback"


def test_integrity_detects_missing_file(spark, catalog):
    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_integrity")
    victim = tbl.live_files()[0]["file_path"]
    os.remove(victim)
    report = integrity_report(tbl)
    assert not report["ok"]
    assert report["missing_files"] == [victim]


def test_nested_partition_source(spark, catalog):
    tbl = build_nested_ledger(spark, catalog)
    cols = {c["name"]: c["type"] for c in tbl.schema_string()}
    assert cols["goal"] == "struct<conversionHappenedAt:date>"
    parts = partitions_df(tbl).collect()
    assert all("goal.conversionHappenedAt_day" in r["partition"] for r in parts)
    browse = parts[0]["partition_browse"]
    assert set(browse.keys()) == {"year", "month", "day"}
    assert browse["year"] == "2026"


def test_null_partition_values(spark, catalog):
    """NULL partition values round-trip as real nulls in manifests and
    render as "null" (reference F10: service_browse_files.go nulls)."""
    from lakehouse_admin_spark.functions.partitions import render_partition
    from lakehouse_admin_spark.sources.ledger import PartitionField

    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, None), (3, "2024-01-02")], "id long, d string"
    ).withColumn("d", F.col("d").cast("date"))
    spec = [PartitionField("d", "day", "d_day")]
    tbl = catalog.create_table("main", "nulltest", df.schema, spec)
    tbl.append(df)
    parts = {
        tuple(e["partition"].items()) for e in tbl.live_files()
    }
    assert (("d_day", None),) in parts
    assert tbl.read().count() == 3
    rendered = render_partition(spec, {"d_day": None})
    assert rendered == "{d_day=null}"
    fdf = files_df(tbl)
    null_rows = fdf.filter(F.col("partition")["d_day"].isNull()).collect()
    assert len(null_rows) == 1 and null_rows[0]["record_count"] == 1


def test_history_ancestry(spark, catalog):
    from lakehouse_admin_spark.metadata import history_df

    tbl = build_events_ledger(spark, SF_SMOKE, catalog, name="events_history")
    h = {r["snapshot_id"]: r for r in history_df(tbl).collect()}
    assert all(r["is_current_ancestor"] for r in h.values())
    # roll back to snapshot 2: 1, 2 and the rollback commit are
    # ancestors; 3..6 become abandoned-branch commits
    maintenance.rollback_to_snapshot(tbl, 2)
    h2 = {r["snapshot_id"]: r["is_current_ancestor"] for r in history_df(tbl).collect()}
    rollback_id = max(h2)
    assert h2[rollback_id] and h2[2] and h2[1]
    assert not h2[3] and not h2[6]


def test_partition_spec_evolution(spark, catalog):
    """Spec evolution: new writes use the new spec and spec_id; old
    files keep theirs; partitions_df normalizes each per its own spec
    (reference carries spec_id through partitions/files, types.go:31-42)."""
    from lakehouse_admin_spark.sources.ledger import PartitionField

    ev = load_table(spark, SF_SMOKE, "events")
    tbl = catalog.create_table(
        "main",
        "events_evolve",
        ev.schema,
        [PartitionField("ts", "day", "ts_day")],
    )
    tbl.append(ev.filter(F.dayofmonth("ts") <= 3))
    new_id = tbl.evolve_partition_spec(
        [
            PartitionField("ts", "month", "ts_month"),
            PartitionField("event_type", "identity", "event_type"),
        ]
    )
    assert new_id == 1
    tbl.append(ev.filter(F.dayofmonth("ts") > 25))

    by_spec = {}
    for e in tbl.live_files():
        by_spec.setdefault(e["spec_id"], set()).update(e["partition"].keys())
    assert by_spec[0] == {"ts_day"}
    assert by_spec[1] == {"ts_month", "event_type"}

    parts = partitions_df(tbl).collect()
    v0 = [r for r in parts if r["spec_id"] == 0]
    v1 = [r for r in parts if r["spec_id"] == 1]
    assert v0 and v1
    # v0 browse has day; v1 browse has only year/month + event_type
    assert all(set(r["partition_browse"].keys()) == {"year", "month", "day"} for r in v0)
    assert all(
        set(r["partition_browse"].keys()) == {"year", "month", "event_type"} for r in v1
    )
    # all rows readable regardless of layout era
    assert tbl.read().count() == ev.filter(
        (F.dayofmonth("ts") <= 3) | (F.dayofmonth("ts") > 25)
    ).count()


def test_file_skipping_by_column_stats(spark, catalog):
    """Manifest min/max stats prune files without reading data; pruned
    results equal the unpruned filtered scan (the Iceberg skip
    contract)."""
    tbl = build_lineitem_ledger(spark, SF_SMOKE, catalog, name="lineitem_skip")
    all_files = tbl.live_files()
    assert all(e.get("column_stats", {}).get("l_shipdate") for e in all_files)

    # ship dates in Feb 1995 only → files from other months must be skipped
    preds = [
        ("l_shipdate", ">=", "1995-02-01"),
        ("l_shipdate", "<", "1995-03-01"),
    ]
    planned = tbl.plan_files(preds)
    assert 0 < len(planned) < len(all_files)

    got = tbl.read(predicates=preds).count()
    expected = (
        tbl.read()
        .filter(
            (F.col("l_shipdate") >= "1995-02-01") & (F.col("l_shipdate") < "1995-03-01")
        )
        .count()
    )
    assert got == expected > 0

    # numeric equality pruning: an impossible key prunes everything
    assert tbl.plan_files([("l_orderkey", "=", -5)]) == []


def test_schema_evolution_add_column(spark, catalog):
    """add_column: old files null-fill through the unified schema; new
    writes carry the column; no rewrite of existing data."""
    from lakehouse_admin_spark.sources.ledger import PartitionField

    ev = load_table(spark, SF_SMOKE, "events")
    tbl = catalog.create_table(
        "main", "events_addcol", ev.schema,
        [PartitionField("ts", "day", "ts_day")],
    )
    tbl.append(ev.filter(F.dayofmonth("ts") <= 5))
    old_files = {e["file_path"] for e in tbl.live_files()}

    tbl.add_column("quality_score", "double")
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_column("quality_score", "double")

    enriched = ev.filter(F.dayofmonth("ts") > 25).withColumn(
        "quality_score", F.round(F.col("value") / 100.0, 4)
    )
    tbl.append(enriched)

    df = tbl.read()
    assert "quality_score" in df.columns
    nulls = df.filter(F.col("quality_score").isNull()).count()
    non_nulls = df.filter(F.col("quality_score").isNotNull()).count()
    assert nulls == ev.filter(F.dayofmonth("ts") <= 5).count()
    assert non_nulls == enriched.count()
    # old files untouched on disk
    assert old_files <= {e["file_path"] for e in tbl.live_files()}
    cols = {c["name"] for c in tbl.schema_string()}
    assert "quality_score" in cols


def test_rename_column_field_id_resolution(spark, catalog):
    """Rename resolves by field id: files written under the old name
    keep reading correctly, describe shows the new name, and a filter
    on the new name reaches old files."""
    ev = load_table(spark, SF_SMOKE, "events").limit(120).cache()
    tbl = catalog.create_table(
        "main",
        "events_rename",
        ev.schema,
        [PartitionField(source="ts", transform="day", name="ts_day")],
    )
    tbl.append(ev)  # epoch 0: column is `value`
    total_old = ev.agg(F.sum("value")).collect()[0][0]
    tbl.rename_column("value", "amount")
    assert [c["name"] for c in tbl.schema_string()] == [
        "event_id", "ts", "user_id", "event_type", "amount", "props"
    ]
    tbl.append(ev.withColumnRenamed("value", "amount"))  # epoch 1
    df = tbl.read()
    assert "amount" in df.columns and "value" not in df.columns
    got = df.agg(F.round(F.sum("amount"), 2)).collect()[0][0]
    assert got == round(2 * total_old, 2)
    # filter on the NEW name must hit OLD-epoch rows too
    thr = 50.0
    expect = 2 * ev.filter(F.col("value") >= thr).count()
    assert df.filter(F.col("amount") >= thr).count() == expect


def test_rename_partition_source_and_compact(spark, catalog):
    """Renaming a partition-source column keeps future writes landing
    in the same partition layout, and compaction across mixed epochs
    preserves the renamed column's values."""
    ev = load_table(spark, SF_SMOKE, "events").limit(100).cache()
    tbl = catalog.create_table(
        "main",
        "events_rename_part",
        ev.schema,
        [PartitionField(source="event_type", transform="identity", name="event_type")],
    )
    tbl.append(ev)
    tbl.rename_column("event_type", "etype")
    assert tbl.partition_spec()[0].source == "etype"
    tbl.append(ev.withColumnRenamed("event_type", "etype"))
    parts = {e["partition"]["event_type"] for e in tbl.live_files()}
    assert parts == {r[0] for r in ev.select("event_type").distinct().collect()}
    rows_before = tbl.read().count()
    sum_before = tbl.read().agg(F.round(F.sum("value"), 2)).collect()[0][0]
    maintenance.rewrite_data_files(tbl, target_file_size_bytes=1 << 40)
    assert tbl.read().count() == rows_before
    assert tbl.read().agg(F.round(F.sum("value"), 2)).collect()[0][0] == sum_before
    assert tbl.read().filter(F.col("etype").isNull()).count() == 0


def test_rename_added_column(spark, catalog):
    """add_column then rename the added column: ids stay distinct from
    the original fields and null-fill still applies to epoch-0 files."""
    ev = load_table(spark, SF_SMOKE, "events").limit(60).cache()
    tbl = catalog.create_table("main", "events_add_rename", ev.schema, [])
    tbl.append(ev)
    tbl.add_column("tag", "string")
    tbl.append(ev.withColumn("tag", F.lit("x")))
    tbl.rename_column("tag", "label")
    df = tbl.read()
    assert df.filter(F.col("label") == "x").count() == 60
    assert df.filter(F.col("label").isNull()).count() == 60


def test_rewrite_position_delete_files(spark, catalog):
    """After compaction applies pending deletes, the delete files are
    dangling; the procedure drops them and reads stay identical."""
    ev = load_table(spark, SF_SMOKE, "events").cache()
    tbl = catalog.create_table(
        "main",
        "events_mor_rpd",
        ev.schema,
        [PartitionField(source="ts", transform="day", name="ts_day")],
    )
    # two appends → ≥2 files per partition so binpack actually rewrites
    tbl.append(ev.filter(F.col("event_id") % 2 == 0))
    tbl.append(ev.filter(F.col("event_id") % 2 == 1))
    tbl.delete_where(F.col("value") < 20.0)
    live_before = tbl.read().count()
    assert live_before < ev.count()
    # full compaction rewrites every data file → all delete refs dangle
    maintenance.rewrite_data_files(tbl, target_file_size_bytes=1 << 40)
    metrics = maintenance.rewrite_position_delete_files(tbl)
    assert metrics["rewritten_delete_files_count"] > 0
    assert metrics["removed_dangling_deletes"] > 0
    assert metrics.get("added_delete_files_count", 0) == 0  # nothing survives
    contents = {e.get("content", 0) for e in tbl.snapshot(tbl.current_snapshot_id()).files}
    assert contents == {0}
    assert tbl.read().count() == live_before


def test_rewrite_position_delete_files_keeps_live_refs(spark, catalog):
    """Deletes referencing still-live data files survive the rewrite
    (compacted into one delete file) and keep masking rows."""
    from lakehouse_admin_spark.sources.fixtures import build_events_mor_ledger

    tbl = build_events_mor_ledger(spark, SF_SMOKE, catalog, name="events_mor_keep")
    live_before = tbl.read().count()
    metrics = maintenance.rewrite_position_delete_files(tbl)  # no compaction ran
    assert metrics["removed_dangling_deletes"] == 0
    assert metrics["added_delete_files_count"] == 1
    assert tbl.read().count() == live_before


def test_sorted_write_enables_file_skipping(spark, catalog):
    """write.sort-order analog: range-partitioned sorted writes give
    files disjoint sort-key ranges, so a sort-key predicate prunes
    files by footer stats; an unsorted twin prunes nothing."""
    ev = load_table(spark, SF_SMOKE, "events").cache()
    hi = ev.approxQuantile("value", [0.9], 0.01)[0]
    sorted_tbl = catalog.create_table(
        "main", "events_sorted", ev.schema, [], sort_order=["value"]
    )
    sorted_tbl.append(ev)
    plain_tbl = catalog.create_table("main", "events_unsorted", ev.schema, [])
    plain_tbl.append(ev)

    pred = [("value", ">=", hi)]
    total_sorted = len(sorted_tbl.live_files())
    assert total_sorted > 1  # range partitioning produced several files
    planned_sorted = len(sorted_tbl.plan_files(pred))
    planned_plain = len(plain_tbl.plan_files(pred))
    assert planned_sorted < total_sorted  # skipping happened
    assert planned_plain == len(plain_tbl.live_files())  # nothing skipped
    # correctness unchanged: pruned read returns exactly the rows
    expect = ev.filter(F.col("value") >= hi).count()
    assert sorted_tbl.read(predicates=pred).count() == expect


def test_segmented_commits_write_o_delta_bytes(spark, catalog):
    """The manifest-list commit log: every snapshot JSON holds only an
    O(log files) manifest list + the own-segment pointer (never the
    file inventory); N appends to an F-file table write O(N * delta)
    commit bytes, NOT O(N * F); reads and time travel stay exact
    across the chain; the manifest list stays logarithmic under
    size-tiered merging."""
    import json as _json
    import math
    import os as _os

    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    tbl = catalog.create_table("main", "delta_chain", df.schema, [])
    n_commits = 35
    own_bytes = []
    snap_bytes = []
    for _ in range(n_commits):
        s = tbl.append(df)
        own_bytes.append(
            _os.path.getsize(tbl._segment_path(s.own_segment["path"]))
        )
        snap_bytes.append(
            _os.path.getsize(f"{tbl.meta_dir}/snap-{s.snapshot_id}.json")
        )
    snaps = tbl.snapshots()
    assert len(snaps) == n_commits
    for s in snaps:
        with open(f"{tbl.meta_dir}/snap-{s.snapshot_id}.json") as fh:
            d = _json.load(fh)
        assert "files" not in d and "added" not in d, (
            "snapshot JSON must never inline file entries"
        )
        assert len(d["manifest_list"]) <= 2 * int(
            math.log2(s.snapshot_id) + 2
        ), "manifest list must stay logarithmic in commit count"
    # commit bytes: own segments are delta-sized (1 file entry each),
    # so the LAST append's own segment is no bigger than the FIRST's
    # even though the table grew 35x — O(delta), not O(F)
    assert own_bytes[-1] <= own_bytes[0] * 2
    # snapshot JSON grows at most logarithmically (manifest list)
    assert snap_bytes[-1] <= snap_bytes[0] + 4096
    # exactness across the whole chain
    assert tbl.read().count() == 10 * n_commits
    mid = snaps[n_commits // 2].snapshot_id
    assert tbl.read(mid).count() == 10 * (n_commits // 2 + 1)
    assert int(snaps[-1].summary["total-records"]) == 10 * n_commits


def test_delta_commit_survives_delete_and_rewrite(spark, catalog):
    """Removed paths propagate through delta materialization: delete a
    partition mid-chain, compact, and the live set stays exact."""
    ev = load_table(spark, SF_SMOKE, "events").limit(200).cache()
    tbl = catalog.create_table(
        "main",
        "delta_mixed",
        ev.schema,
        [PartitionField(source="event_type", transform="identity", name="event_type")],
    )
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    for t in types:
        tbl.append(ev.filter(F.col("event_type") == t))
    victim = types[0]
    tbl.delete_partitions(lambda p: p.get("event_type") == victim)
    expect = ev.filter(F.col("event_type") != victim).count()
    assert tbl.read().count() == expect
    maintenance.rewrite_data_files(tbl, target_file_size_bytes=1 << 40, min_input_files=1)
    assert tbl.read().count() == expect
    assert {e["partition"]["event_type"] for e in tbl.live_files()} == set(types[1:])


def test_commit_conflict_detection_and_append_retry(spark, catalog):
    """Optimistic concurrency: a commit built against a stale head
    raises CommitConflictError; append auto-retries against the new
    head and lineage stays linear across two handles."""
    from lakehouse_admin_spark.sources.ledger import (
        CommitConflictError,
        LedgerTable,
        Snapshot,
    )

    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "conflict_tbl", df.schema, [])
    tbl.append(df)
    head = tbl.current_snapshot_id()
    # hand-build a snapshot against a stale parent → conflict
    stale = Snapshot(99, None, 1, "append", {}, manifest_list=[])
    import pytest as _pytest

    with _pytest.raises(CommitConflictError):
        tbl._commit(stale)  # expected parent None, current is `head`
    assert tbl.current_snapshot_id() == head  # nothing was swapped
    # two handles appending in turn: both succeed, linear lineage
    other = LedgerTable(spark, tbl.warehouse, "main", "conflict_tbl")
    other.append(df)
    tbl.append(df)
    snaps = tbl.snapshots()
    assert [s.parent_id for s in snaps] == [None] + [
        s.snapshot_id for s in snaps[:-1]
    ]
    assert tbl.read().count() == 15


def test_incremental_scan_reads_only_range_appends(spark, events_tbl):
    appends = [s for s in events_tbl.snapshots() if s.operation == "append"]
    inc = events_tbl.incremental_scan(
        appends[0].snapshot_id, appends[2].snapshot_id
    )
    ev = load_table(spark, SF_SMOKE, "events")
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    # fixture appends one type per commit alphabetically → range holds
    # exactly types 2 and 3
    assert sorted(r[0] for r in inc.select("event_type").distinct().collect()) == types[1:3]
    want = ev.filter(F.col("event_type").isin(types[1:3])).count()
    assert inc.count() == want
    # empty range → empty frame with the table schema
    empty = events_tbl.incremental_scan(
        appends[2].snapshot_id, appends[2].snapshot_id
    )
    assert empty.count() == 0
    assert empty.schema == events_tbl.unified_schema()


def test_incremental_scan_rejects_non_append_range(events_tbl):
    snaps = events_tbl.snapshots()
    assert snaps[-1].operation == "delete"
    with pytest.raises(ValueError, match="append-only"):
        events_tbl.incremental_scan(snaps[0].snapshot_id, snaps[-1].snapshot_id)
    with pytest.raises(ValueError, match="not an ancestor"):
        events_tbl.incremental_scan(snaps[-1].snapshot_id, snaps[0].snapshot_id)


def test_changelog_reconstructs_snapshots(spark, events_tbl):
    """read(from) + inserts - deletes == read(to): the changelog is a
    complete, non-overlapping delta between any two snapshots."""
    snaps = events_tbl.snapshots()
    s_from, s_to = snaps[0].snapshot_id, snaps[-1].snapshot_id
    log = events_tbl.changelog_scan(s_from, s_to)
    base = events_tbl.read(snapshot_id=s_from).select("event_id")
    ins = log.filter(F.col("_change_type") == "insert").select("event_id")
    dels = log.filter(F.col("_change_type") == "delete").select("event_id")
    reconstructed = base.unionByName(ins).exceptAll(dels)
    want = sorted(r[0] for r in events_tbl.read(snapshot_id=s_to).select("event_id").collect())
    got = sorted(r[0] for r in reconstructed.collect())
    assert got == want


def test_changelog_replace_commits_are_silent(spark, catalog):
    """Compaction rewrites files without changing content — the
    changelog across a replace commit must be empty."""
    df = spark.range(0, 50).selectExpr("id", "id % 5 AS grp")
    tbl = catalog.create_table("main", "cdc_replace_tbl", df.schema, [])
    tbl.append(df.filter(F.col("id") < 25))
    tbl.append(df.filter(F.col("id") >= 25))
    before = tbl.current_snapshot_id()
    maintenance.rewrite_data_files(
        tbl, target_file_size_bytes=1 << 40, min_input_files=2
    )
    after = tbl.current_snapshot_id()
    assert after != before
    log = tbl.changelog_scan(before, after)
    assert log.count() == 0


def test_changelog_mor_position_deletes(spark, catalog):
    """delete_where (merge-on-read) adds a content=1 file; the
    changelog must surface exactly the position-deleted ROWS as
    deletes."""
    df = spark.range(0, 40).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "cdc_mor_tbl", df.schema, [])
    tbl.append(df)
    s1 = tbl.current_snapshot_id()
    tbl.delete_where(F.col("v") < 15.0)
    s2 = tbl.current_snapshot_id()
    log = tbl.changelog_scan(s1, s2)
    rows = log.collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["id"] for r in rows) == list(range(10))  # v<15 ⇔ id<10
    assert all(r["_commit_snapshot_id"] == s2 for r in rows)


def test_zorder_rewrite_enables_multicolumn_skipping(spark, catalog):
    """Before: files are id-clustered, so neither x nor y predicates
    prune. After z-ordering on (x, y): every file covers a small (x, y)
    rectangle, so manifest stats prune files on EITHER column — and the
    table content is unchanged."""
    n = 1 << 16
    # 16 input partitions pinned: the default (the core count) can be
    # too few for the multi-file precondition below
    df = spark.range(0, n, 1, 16).selectExpr(
        "id",
        "CAST(id % 256 AS BIGINT) AS x",
        "CAST((id * 7919) % 256 AS BIGINT) AS y",
    )
    tbl = catalog.create_table("main", "zorder_tbl", df.schema, [])
    tbl.append(df)
    total_before = len(tbl.plan_files())
    assert total_before > 4, "fixture must start multi-file"
    # x cycles within every input block → no file can be skipped
    assert len(tbl.plan_files([("x", "<", 32)])) == total_before
    assert len(tbl.plan_files([("y", "<", 32)])) == total_before

    before_rows = sorted(r[0] for r in tbl.read().select("id").collect())
    metrics = maintenance.rewrite_data_files_zorder(
        tbl, ["x", "y"], target_file_size_bytes=40_000
    )
    assert metrics["rewritten_data_files_count"] == total_before
    total_after = len(tbl.plan_files())
    assert total_after >= 8, f"want several z-clustered files, got {total_after}"
    # multi-dimensional pruning: a 1/8-range predicate on EITHER column
    # must now skip at least half the files
    for col in ("x", "y"):
        kept = len(tbl.plan_files([(col, "<", 32)]))
        assert kept <= total_after // 2, (
            f"{col}-predicate kept {kept}/{total_after} files after z-order"
        )
    # content unchanged
    after_rows = sorted(r[0] for r in tbl.read().select("id").collect())
    assert after_rows == before_rows
    assert tbl.snapshots()[-1].operation == "replace"


def test_zorder_rewrite_respects_partitions_and_deletes(spark, catalog):
    """Z-order within a partitioned MOR table: rows stay inside their
    partitions and pending position deletes are folded in."""
    df = spark.range(2000).selectExpr(
        "id",
        "CAST(id % 2 AS STRING) AS grp",
        "CAST(id % 100 AS BIGINT) AS x",
        "CAST((id * 31) % 100 AS BIGINT) AS y",
    )
    tbl = catalog.create_table(
        "main",
        "zorder_part_tbl",
        df.schema,
        [PartitionField(source="grp", transform="identity", name="grp")],
    )
    tbl.append(df)
    tbl.delete_where(F.col("x") < 10)
    live_before = tbl.read().count()
    maintenance.rewrite_data_files_zorder(
        tbl, ["x", "y"], target_file_size_bytes=20_000
    )
    assert tbl.read().count() == live_before
    # deleted rows must NOT resurrect
    assert tbl.read().filter(F.col("x") < 10).count() == 0
    # every file still carries its partition value
    for e in tbl.plan_files():
        assert e["partition"].get("grp") in {"0", "1"}


def test_zorder_survives_fully_deleted_partition(spark, catalog):
    """r12 (r11 ADVICE, medium): a file group whose rows are ALL covered
    by position deletes emits NO row from the single-scan stats pass —
    the rewrite must fall back to the null-range defaults instead of
    raising KeyError inside the thread pool. Sequence: delete_where
    covering one whole partition, then zorder."""
    df = spark.range(400).selectExpr(
        "id",
        "CAST(id % 2 AS STRING) AS grp",
        "CAST(id % 50 AS BIGINT) AS x",
        "CAST((id * 7) % 50 AS BIGINT) AS y",
    )
    tbl = catalog.create_table(
        "main",
        "zorder_dead_part_tbl",
        df.schema,
        [PartitionField(source="grp", transform="identity", name="grp")],
    )
    tbl.append(df)
    tbl.delete_where(F.col("grp") == "1")  # position-deletes a whole partition
    live_before = tbl.read().count()
    assert live_before == 200
    metrics = maintenance.rewrite_data_files_zorder(
        tbl, ["x", "y"], target_file_size_bytes=20_000
    )
    assert metrics["rewritten_data_files_count"] > 0
    assert tbl.read().count() == live_before
    assert tbl.read().filter(F.col("grp") == "1").count() == 0  # no resurrection
    for e in tbl.plan_files():
        assert e["partition"].get("grp") == "0"  # dead partition fully compacted away


def test_incremental_consumer_at_least_once(spark, catalog, tmp_path_factory):
    from lakehouse_admin_spark.sources.consumer import IncrementalConsumer

    df = spark.range(0, 30).selectExpr("id", "id * 2 AS v")
    tbl = catalog.create_table("main", "consumer_tbl", df.schema, [])
    tbl.append(df.filter(F.col("id") < 10))
    tbl.append(df.filter((F.col("id") >= 10) & (F.col("id") < 20)))
    ckpt = str(tmp_path_factory.mktemp("ckpt") / "offset.json")
    c = IncrementalConsumer(tbl, ckpt)
    # first poll from the beginning: both commits
    batch, off = c.poll()
    assert sorted(r["id"] for r in batch.collect()) == list(range(20))
    # uncommitted → replay the same batch
    batch2, off2 = c.poll()
    assert off2 == off
    assert batch2.count() == 20
    c.commit(off)
    assert c.poll() is None  # caught up
    # new commit → only the delta
    tbl.append(df.filter(F.col("id") >= 20))
    batch3, off3 = c.poll()
    assert sorted(r["id"] for r in batch3.collect()) == list(range(20, 30))
    c.commit(off3)
    assert c.poll() is None
    # offset survives a fresh consumer instance (checkpoint is durable)
    c2 = IncrementalConsumer(tbl, ckpt)
    assert c2.offset == off3
    assert c2.poll() is None


def test_incremental_consumer_changelog_mode(spark, catalog, tmp_path_factory):
    from lakehouse_admin_spark.sources.consumer import IncrementalConsumer

    df = spark.range(0, 20).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "consumer_cdc_tbl", df.schema, [])
    tbl.append(df)
    ckpt = str(tmp_path_factory.mktemp("ckpt_cdc") / "offset.json")
    c = IncrementalConsumer(tbl, ckpt, mode="changelog")
    batch, off = c.poll()
    assert {r["_change_type"] for r in batch.collect()} == {"insert"}
    c.commit(off)
    tbl.delete_where(F.col("v") < 5.0)
    batch2, off2 = c.poll()
    rows = batch2.collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["id"] for r in rows) == list(range(5))


def test_null_count_stats_skip_files(spark, catalog):
    """is_null / not_null predicates prune files from footer null
    counts: a no-null file is skipped for is_null, an all-null file
    for not_null — and read() applies the row-level filter."""
    tbl = catalog.create_table(
        "main",
        "nullstats_tbl",
        spark.range(1).selectExpr("id", "CAST(id AS DOUBLE) AS v").schema,
        [],
    )
    no_nulls = spark.range(0, 100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    all_nulls = spark.range(100, 200).selectExpr("id", "CAST(NULL AS DOUBLE) AS v")
    mixed = spark.range(200, 300).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN CAST(id AS DOUBLE) END AS v"
    )
    tbl.append(no_nulls.coalesce(1))
    tbl.append(all_nulls.coalesce(1))
    tbl.append(mixed.coalesce(1))
    total = len(tbl.plan_files())
    assert total == 3
    kept_is_null = tbl.plan_files([("v", "is_null", None)])
    assert len(kept_is_null) == 2  # no-null file skipped
    kept_not_null = tbl.plan_files([("v", "not_null", None)])
    assert len(kept_not_null) == 2  # all-null file skipped
    assert sorted(
        r["id"] for r in tbl.read(predicates=[("v", "is_null", None)]).collect()
    ) == list(range(100, 200)) + list(range(201, 300, 2))
    assert tbl.read(predicates=[("v", "not_null", None)]).count() == 150


def test_merge_into_upsert(spark, catalog):
    """MERGE upsert: matched rows replaced (position-delete + source
    row), unmatched source rows inserted, one atomic commit."""
    df = spark.range(0, 50).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "merge_tbl", df.schema, [])
    tbl.append(df)
    source = spark.range(40, 60).selectExpr("id", "CAST(id + 1000 AS DOUBLE) AS v")
    snap = tbl.merge_into(source, on=["id"])
    assert snap.operation == "merge"
    assert snap.summary["added-position-deletes"] == "10"  # ids 40..49
    assert snap.summary["added-records"] == "20"
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert len(got) == 60
    for i in range(40):
        assert got[i] == float(i)
    for i in range(40, 60):
        assert got[i] == float(i + 1000)


def test_merge_into_delete_and_skip_modes(spark, catalog):
    df = spark.range(0, 30).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "merge_modes_tbl", df.schema, [])
    tbl.append(df)
    source = spark.range(20, 40).selectExpr("id", "CAST(0 AS DOUBLE) AS v")
    # delete mode: matched rows removed, unmatched NOT inserted
    tbl.merge_into(source, on=["id"], when_matched="delete", insert_not_matched=False)
    assert sorted(r["id"] for r in tbl.read().collect()) == list(range(20))
    # skip mode + insert: only genuinely-new keys land
    source2 = spark.range(10, 25).selectExpr("id", "CAST(7 AS DOUBLE) AS v")
    tbl.merge_into(source2, on=["id"], when_matched="skip")
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert sorted(got) == list(range(25))
    assert all(got[i] == float(i) for i in range(20))  # untouched
    assert all(got[i] == 7.0 for i in range(20, 25))  # inserted


def test_merge_into_rejects_duplicate_source_keys(spark, catalog):
    df = spark.range(0, 10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "merge_dup_tbl", df.schema, [])
    tbl.append(df)
    dup_source = df.union(df.limit(3))
    with pytest.raises(ValueError, match="duplicate keys"):
        tbl.merge_into(dup_source, on=["id"])


def test_merge_then_changelog_and_second_merge(spark, catalog):
    """The changelog surfaces a merge as deletes+inserts, and a SECOND
    merge respects the first merge's position deletes."""
    df = spark.range(0, 20).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "merge_cdc_tbl", df.schema, [])
    tbl.append(df)
    s1 = tbl.current_snapshot_id()
    tbl.merge_into(
        spark.range(15, 25).selectExpr("id", "CAST(id * 10 AS DOUBLE) AS v"),
        on=["id"],
    )
    s2 = tbl.current_snapshot_id()
    log = tbl.changelog_scan(s1, s2).collect()
    dels = sorted(r["id"] for r in log if r["_change_type"] == "delete")
    ins = sorted(r["id"] for r in log if r["_change_type"] == "insert")
    assert dels == list(range(15, 20))
    assert ins == list(range(15, 25))
    # second merge over a key range including already-merged rows
    tbl.merge_into(
        spark.range(18, 22).selectExpr("id", "CAST(id * 100 AS DOUBLE) AS v"),
        on=["id"],
    )
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert len(got) == 25
    assert all(got[i] == float(i * 100) for i in range(18, 22))
    assert got[15] == 150.0 and got[24] == 240.0


def test_read_as_of_timestamp(spark, catalog):
    import time as _t

    df = spark.range(0, 10).selectExpr("id")
    tbl = catalog.create_table("main", "asof_tbl", df.schema, [])
    tbl.append(df)
    t1 = tbl.snapshot(tbl.current_snapshot_id()).committed_at_ms
    _t.sleep(0.01)
    tbl.append(spark.range(10, 20).selectExpr("id"))
    t2 = tbl.snapshot(tbl.current_snapshot_id()).committed_at_ms
    assert tbl.read(as_of_ms=t1).count() == 10
    assert tbl.read(as_of_ms=t2).count() == 20
    assert tbl.read(as_of_ms=t2 + 10_000).count() == 20
    with pytest.raises(ValueError, match="no snapshot as of"):
        tbl.read(as_of_ms=t1 - 10_000)
    with pytest.raises(ValueError, match="at most one"):
        tbl.read(snapshot_id=1, as_of_ms=t1)


def test_refs_tags_branches_and_expiry_protection(spark, catalog):
    df = spark.range(0, 10).selectExpr("id")
    tbl = catalog.create_table("main", "refs_tbl", df.schema, [])
    tbl.append(df)
    s1 = tbl.current_snapshot_id()
    tbl.create_ref("v1", kind="tag")
    tbl.append(spark.range(10, 20).selectExpr("id"))
    s2 = tbl.current_snapshot_id()
    tbl.create_ref("audit", snapshot_id=s2, kind="branch")
    assert tbl.read(ref="v1").count() == 10
    assert tbl.read(ref="audit").count() == 20
    # tags immutable; branches move
    with pytest.raises(ValueError, match="immutable"):
        tbl.set_ref("v1", s2)
    tbl.set_ref("audit", s1)
    assert tbl.read(ref="audit").count() == 10
    with pytest.raises(ValueError, match="already exists"):
        tbl.create_ref("v1")
    # expiry: everything is old, but the tag pins s1
    res = maintenance.expire_snapshots(
        tbl, older_than_ms=int(__import__("time").time() * 1000) + 10_000
    )
    remaining = {s.snapshot_id for s in tbl.snapshots()}
    assert s1 in remaining  # pinned by tag + branch
    assert tbl.read(ref="v1").count() == 10  # still readable
    tbl.drop_ref("audit")
    with pytest.raises(KeyError):
        tbl.resolve_ref("audit")


def test_branch_write_audit_publish(spark, catalog):
    """WAP: writes land on a branch (main readers see nothing), audit
    reads the branch, fast_forward publishes atomically."""
    df = spark.range(0, 10).selectExpr("id")
    tbl = catalog.create_table("main", "wap_tbl", df.schema, [])
    tbl.append(df)
    main_head = tbl.current_snapshot_id()
    tbl.create_ref("staging", kind="branch")
    s1 = tbl.append_to_branch("staging", spark.range(10, 20).selectExpr("id"))
    s2 = tbl.append_to_branch("staging", spark.range(20, 30).selectExpr("id"))
    assert s2.parent_id == s1.snapshot_id  # branch lineage chains
    # main untouched; branch sees both staged appends
    assert tbl.current_snapshot_id() == main_head
    assert tbl.read().count() == 10
    assert tbl.read(ref="staging").count() == 30
    # publish
    new_head = tbl.fast_forward("staging")
    assert new_head == s2.snapshot_id
    assert tbl.read().count() == 30
    # non-fast-forward rejected: main has advanced beyond the branch
    tbl.create_ref("stale", snapshot_id=main_head, kind="branch")
    from lakehouse_admin_spark.sources.ledger import CommitConflictError

    with pytest.raises(CommitConflictError, match="not a fast-forward"):
        tbl.fast_forward("stale")
    with pytest.raises(KeyError, match="not a branch"):
        tbl.append_to_branch("missing", df)


def test_stream_to_ledger_to_consumer_pipeline(spark, catalog, tmp_path_factory):
    """End-to-end: micro-batch appends through the idempotent ledger
    sink, tailed incrementally by a checkpointed consumer."""
    from lakehouse_admin_spark.sources.consumer import IncrementalConsumer
    from lakehouse_admin_spark.streaming.events import make_ledger_batch_sink

    df = spark.range(0, 60).selectExpr("id", "id % 5 AS grp")
    tbl = catalog.create_table("main", "pipeline_tbl", df.schema, [])
    sink = make_ledger_batch_sink(tbl)
    ckpt = str(tmp_path_factory.mktemp("pipe_ckpt") / "offset.json")
    consumer = IncrementalConsumer(tbl, ckpt)

    sink(df.filter(F.col("id") < 20), 0)
    sink(df.filter((F.col("id") >= 20) & (F.col("id") < 40)), 1)
    batch, off = consumer.poll()
    assert batch.count() == 40
    consumer.commit(off)
    sink(df.filter((F.col("id") >= 20) & (F.col("id") < 40)), 1)  # replay: no-op
    assert consumer.poll() is None
    sink(df.filter(F.col("id") >= 40), 2)
    batch2, off2 = consumer.poll()
    assert sorted(r["id"] for r in batch2.collect()) == list(range(40, 60))


def test_metadata_count_classification_and_exactness(spark, events_tbl):
    """count_rows answers interior files from manifest metadata (full),
    scans only boundary files (partial), and matches the scan-based
    count exactly."""
    import datetime

    ev = load_table(spark, SF_SMOKE, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d")).collect()[0]["d"]
    lo = f"{d0 + datetime.timedelta(days=1)}T12:00:00"
    hi = f"{d0 + datetime.timedelta(days=3)}T00:00:00"
    preds = [("ts", ">=", lo), ("ts", "<", hi)]
    n, cls = events_tbl.count_rows(preds)
    want = events_tbl.read(predicates=preds).count()
    assert n == want
    # interior day fully covered by metadata; only the half-day
    # boundary files scanned; days outside the range pruned
    assert cls["full"] > 0
    assert cls["partial"] > 0
    assert cls["pruned"] > 0
    total_files = len(events_tbl.plan_files())
    assert cls["partial"] < total_files // 2
    # no predicates: pure metadata, zero scans
    n_all, cls_all = events_tbl.count_rows()
    assert n_all == events_tbl.read().count()
    assert cls_all["partial"] == 0 and cls_all["pruned"] == 0


def test_metadata_count_with_mor_deletes(spark, catalog):
    """Full-file metadata counts subtract the file's position deletes."""
    df = spark.range(0, 100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "metacount_mor_tbl", df.schema, [])
    tbl.append(df.coalesce(1))
    tbl.delete_where(F.col("id") < 10)
    n, cls = tbl.count_rows([("v", ">=", -1.0)])  # provably all rows
    assert cls == {"full": 1, "partial": 0, "pruned": 0}
    assert n == 90
    # nulls break the full proof: file with nulls must be scanned
    tbl.append(
        spark.range(100, 150).selectExpr(
            "id", "CASE WHEN id % 2 = 0 THEN CAST(id AS DOUBLE) END AS v"
        ).coalesce(1)
    )
    n2, cls2 = tbl.count_rows([("v", ">=", -1.0)])
    assert n2 == 90 + 25  # nulls don't satisfy >=
    assert cls2["partial"] == 1


def test_check_constraints_enforced_on_writes(spark, catalog):
    """Delta-style CHECK constraints: one aggregate validates every
    write path; violating writes raise BEFORE staging and leave the
    table untouched."""
    df = spark.range(0, 20).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "constraints_tbl", df.schema, [])
    tbl.append(df)
    tbl.add_constraint("v_nonneg", "v >= 0")
    tbl.add_constraint("id_not_null", "id IS NOT NULL")
    assert set(tbl.constraints()) == {"v_nonneg", "id_not_null"}
    head = tbl.current_snapshot_id()
    bad = spark.range(20, 30).selectExpr("id", "CAST(-1 AS DOUBLE) AS v")
    with pytest.raises(ValueError, match="v_nonneg.*10 rows"):
        tbl.append(bad)
    assert tbl.current_snapshot_id() == head  # nothing committed
    assert tbl.read().count() == 20
    # null in a NOT NULL column is a violation (null-safe evaluation)
    with pytest.raises(ValueError, match="id_not_null"):
        tbl.append(
            spark.range(1).selectExpr("CAST(NULL AS BIGINT) AS id", "CAST(1 AS DOUBLE) AS v")
        )
    # merge insert path validates too
    with pytest.raises(ValueError, match="v_nonneg"):
        tbl.merge_into(bad, on=["id"])
    # clean writes pass on every path
    ok = spark.range(20, 25).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl.append(ok)
    tbl.merge_into(
        spark.range(25, 28).selectExpr("id", "CAST(1 AS DOUBLE) AS v"), on=["id"]
    )
    assert tbl.read().count() == 28
    # dropping the constraint re-admits the data
    tbl.drop_constraint("v_nonneg")
    tbl.append(bad)
    assert tbl.read().count() == 38


def test_add_constraint_rejects_existing_violations(spark, catalog):
    df = spark.range(0, 10).selectExpr("id", "CAST(id - 5 AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "constraints_bad_tbl", df.schema, [])
    tbl.append(df)
    with pytest.raises(ValueError, match="existing rows violate"):
        tbl.add_constraint("v_nonneg", "v >= 0")
    assert tbl.constraints() == {}


def test_equality_delete_basic(spark, catalog):
    df = spark.range(0, 30).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "eqdel_tbl", df.schema, [])
    tbl.append(df)
    keys = spark.range(5, 12).selectExpr("id")
    snap = tbl.delete_by_key(keys, ["id"])
    assert snap.summary["added-equality-deletes"] == "7"
    assert sorted(r["id"] for r in tbl.read().collect()) == (
        list(range(5)) + list(range(12, 30))
    )
    # time travel to before the delete still sees everything
    assert tbl.read(snapshot_id=snap.parent_id).count() == 30


def test_upsert_by_key_sequence_semantics(spark, catalog):
    """Rows committed WITH an equality delete survive it (strictly-
    smaller-sequence rule); older versions vanish; repeated upserts
    stack correctly."""
    df = spark.range(0, 20).selectExpr("id", "CAST(0 AS DOUBLE) AS version")
    tbl = catalog.create_table("main", "upsert_tbl", df.schema, [])
    tbl.append(df)
    tbl.upsert_by_key(
        spark.range(10, 25).selectExpr("id", "CAST(1 AS DOUBLE) AS version"), ["id"]
    )
    got = {r["id"]: r["version"] for r in tbl.read().collect()}
    assert len(got) == 25
    assert all(got[i] == 0.0 for i in range(10))
    assert all(got[i] == 1.0 for i in range(10, 25))
    tbl.upsert_by_key(
        spark.range(5, 15).selectExpr("id", "CAST(2 AS DOUBLE) AS version"), ["id"]
    )
    got = {r["id"]: r["version"] for r in tbl.read().collect()}
    assert len(got) == 25
    assert all(got[i] == 0.0 for i in range(5))
    assert all(got[i] == 2.0 for i in range(5, 15))
    assert all(got[i] == 1.0 for i in range(15, 25))
    # count_rows stays exact (conservative full-scan under eq deletes)
    n, cls = tbl.count_rows([("version", ">=", 1.0)])
    assert n == 20
    assert cls["full"] == 0


def test_upsert_changelog_shows_old_versions_as_deletes(spark, catalog):
    df = spark.range(0, 10).selectExpr("id", "CAST(0 AS DOUBLE) AS version")
    tbl = catalog.create_table("main", "upsert_cdc_tbl", df.schema, [])
    tbl.append(df)
    s1 = tbl.current_snapshot_id()
    tbl.upsert_by_key(
        spark.range(7, 12).selectExpr("id", "CAST(1 AS DOUBLE) AS version"), ["id"]
    )
    s2 = tbl.current_snapshot_id()
    log = tbl.changelog_scan(s1, s2).collect()
    dels = sorted(r["id"] for r in log if r["_change_type"] == "delete")
    ins = sorted(r["id"] for r in log if r["_change_type"] == "insert")
    assert dels == [7, 8, 9]  # only keys that EXISTED are deletes
    assert ins == list(range(7, 12))


def test_streaming_upsert_sink_replay_idempotent(spark, catalog):
    from lakehouse_admin_spark.streaming.events import make_ledger_upsert_sink

    df = spark.range(0, 10).selectExpr("id", "CAST(0 AS DOUBLE) AS version")
    tbl = catalog.create_table("main", "upsert_sink_tbl", df.schema, [])
    sink = make_ledger_upsert_sink(tbl, ["id"])
    sink(df, 0)
    upd = spark.range(5, 15).selectExpr("id", "CAST(1 AS DOUBLE) AS version")
    sink(upd, 1)
    sink(upd, 1)  # checkpoint replay → no-op
    assert len(tbl.snapshots()) == 2
    got = {r["id"]: r["version"] for r in tbl.read().collect()}
    assert len(got) == 15
    assert all(got[i] == 0.0 for i in range(5))
    assert all(got[i] == 1.0 for i in range(5, 15))


def test_mixed_position_and_equality_deletes(spark, catalog):
    df = spark.range(0, 40).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "mixed_del_tbl", df.schema, [])
    tbl.append(df)
    tbl.delete_where(F.col("id") < 5)  # position deletes
    tbl.delete_by_key(spark.range(35, 45).selectExpr("id"), ["id"])  # equality
    assert sorted(r["id"] for r in tbl.read().collect()) == list(range(5, 35))


def test_compaction_does_not_resurrect_equality_deletes(spark, catalog):
    """Rewritten files get NEW sequence numbers, so equality deletes
    would stop applying — binpack must fold them in."""
    df = spark.range(0, 40).selectExpr("id", "CAST(0 AS DOUBLE) AS version")
    tbl = catalog.create_table("main", "eq_compact_tbl", df.schema, [])
    tbl.append(df.filter(F.col("id") < 20).coalesce(1))
    tbl.append(df.filter(F.col("id") >= 20).coalesce(1))
    tbl.upsert_by_key(
        spark.range(15, 25).selectExpr("id", "CAST(1 AS DOUBLE) AS version"), ["id"]
    )
    before = sorted((r["id"], r["version"]) for r in tbl.read().collect())
    maintenance.rewrite_data_files(
        tbl, target_file_size_bytes=1 << 40, min_input_files=2
    )
    after = sorted((r["id"], r["version"]) for r in tbl.read().collect())
    assert after == before
    got = dict(after)
    assert all(got[i] == 1.0 for i in range(15, 25))


def test_convert_equality_deletes_preserves_content(spark, catalog):
    df = spark.range(0, 30).selectExpr("id", "CAST(0 AS DOUBLE) AS version")
    tbl = catalog.create_table("main", "eq_convert_tbl", df.schema, [])
    tbl.append(df)
    tbl.delete_where(F.col("id") < 3)  # pre-existing position deletes
    tbl.upsert_by_key(
        spark.range(10, 35).selectExpr("id", "CAST(1 AS DOUBLE) AS version"), ["id"]
    )
    before = sorted((r["id"], r["version"]) for r in tbl.read().collect())
    res = maintenance.convert_equality_deletes(tbl)
    assert res["converted_equality_files_count"] == 1
    # exactly the smaller-sequence rows for keys 10..29 (20 rows — the
    # 25-key delete only matches 20 existing, none already pos-deleted)
    assert res["position_deletes_written"] == 20
    assert not any(
        e.get("content", 0) == 2 for e in tbl.live_files()
    ), "equality files must be swapped out"
    after = sorted((r["id"], r["version"]) for r in tbl.read().collect())
    assert after == before
    # metadata-only counting works again
    n, cls = tbl.count_rows([("version", ">=", -1.0)])
    assert n == len(before)
    assert cls["full"] > 0
    # changelog across the conversion is silent (replace)
    log = tbl.changelog_scan(
        tbl.snapshots()[-2].snapshot_id, tbl.current_snapshot_id()
    )
    assert log.count() == 0


def test_eq_delete_read_plan_is_broadcast_only(spark, catalog):
    """The merge-on-read scan with position + equality deletes must
    stay shuffle-free: both delete applications are broadcast
    anti-joins, and the sequence map is a broadcast lookup."""
    from lakehouse_admin_spark.plans.inspect import exchange_count, join_strategies

    df = spark.range(0, 1000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "eq_plan_tbl", df.schema, [])
    tbl.append(df)
    tbl.delete_where(F.col("id") < 5)
    tbl.upsert_by_key(
        spark.range(500, 600).selectExpr("id", "CAST(1 AS DOUBLE) AS v"), ["id"]
    )
    scan = tbl.read()
    assert exchange_count(scan) == 0, "MOR read must not shuffle the data side"
    strategies = join_strategies(scan)
    assert "SortMergeJoin" not in strategies
    assert "ShuffledHashJoin" not in strategies
    # 1000 - 5 pos-deleted - 100 replaced + 100 replacements
    assert scan.count() == 995


def test_randomized_mutations_match_model(spark, catalog):
    """Model-based check: a seeded random interleaving of append /
    merge_into / upsert_by_key / delete_by_key / delete_where /
    binpack / zorder / convert must leave the table equal to a plain
    dict model after EVERY step. This is the net for cross-feature
    interactions (sequence numbers × rewrites × position deletes) that
    single-feature tests can't cover."""
    import random

    rng = random.Random(20260814)
    schema = spark.range(1).selectExpr("id", "CAST(id AS DOUBLE) AS v").schema
    tbl = catalog.create_table("main", "model_tbl", schema, [])
    model: dict[int, float] = {}
    next_val = [1.0]

    def mk_df(ids):
        vals = [(i, next_val[0] + k) for k, i in enumerate(ids)]
        next_val[0] += len(ids) + 1
        return spark.createDataFrame(vals, schema), dict(vals)

    # seed rows so delete/merge always have a target
    ids0 = rng.sample(range(60), 25)
    df0, d0 = mk_df(ids0)
    tbl.append(df0)
    model.update(d0)
    # (snapshot_id, state) along the CURRENT ancestry — rollback
    # targets and their expected contents
    timeline: list[tuple[int, dict]] = [
        (tbl.current_snapshot_id(), dict(model))
    ]

    def record() -> None:
        timeline.append((tbl.current_snapshot_id(), dict(model)))

    for step in range(18):
        op = rng.choice(
            ["append", "merge", "upsert", "del_key", "del_where", "binpack",
             "zorder", "convert", "rollback", "expire"]
        )
        if op == "append":
            ids = rng.sample([i for i in range(60, 200) if i not in model], 8)
            df, d = mk_df(ids)
            tbl.append(df)
            model.update(d)
        elif op == "merge":
            ids = rng.sample(range(200), 10)
            df, d = mk_df(ids)
            tbl.merge_into(df, on=["id"])
            model.update(d)
        elif op == "upsert":
            ids = rng.sample(range(200), 10)
            df, d = mk_df(ids)
            tbl.upsert_by_key(df, ["id"])
            model.update(d)
        elif op == "del_key":
            ids = rng.sample(range(200), 12)
            keys = spark.createDataFrame([(i,) for i in ids], "id bigint")
            tbl.delete_by_key(keys, ["id"])
            for i in ids:
                model.pop(i, None)
        elif op == "del_where":
            cut = rng.uniform(1, next_val[0])
            tbl.delete_where(F.col("v") < cut)
            model = {i: v for i, v in model.items() if not v < cut}
        elif op == "binpack":
            maintenance.rewrite_data_files(
                tbl, target_file_size_bytes=1 << 40, min_input_files=2
            )
        elif op == "zorder":
            maintenance.rewrite_data_files_zorder(
                tbl, ["id", "v"], target_file_size_bytes=1 << 40
            )
        elif op == "convert":
            maintenance.convert_equality_deletes(tbl)
        elif op == "rollback":
            sid, state = timeline[rng.randrange(len(timeline))]
            tbl.rollback_to(sid)
            model = dict(state)
            # snapshots committed after the target leave the current
            # ancestry; they are no longer valid rollback targets
            timeline = [t for t in timeline if t[0] <= sid]
        else:  # expire: only the current snapshot survives
            maintenance.expire_snapshots(tbl, older_than_ms=int(2e15))
            timeline = timeline[-1:]
        record()
        got = {r["id"]: r["v"] for r in tbl.read().collect()}
        assert got == model, f"divergence after step {step} ({op})"
    # final invariants: count_rows exact, changelog round-trips
    n, _ = tbl.count_rows()
    assert n == len(model)


def test_incremental_scan_across_merge_boundary(spark, catalog):
    """Size-tiered merging rewrites manifest segments behind older
    commits; incremental/changelog ranges crossing merge boundaries
    must read each snapshot's OWN segment (the CDC record), which
    merging never touches."""
    df = spark.range(0, 1).selectExpr("id")
    tbl = catalog.create_table("main", "fold_scan_tbl", df.schema, [])
    n_commits = 35
    for i in range(n_commits):
        tbl.append(spark.range(i * 10, i * 10 + 10).selectExpr("id"))
    snaps = tbl.snapshots()
    # merging happened: some snapshot's list is shorter than its id
    assert any(
        len(s.manifest_list) < s.snapshot_id for s in snaps[3:]
    ), "expected size-tiered segment merging inside the chain"
    first, last = snaps[0].snapshot_id, snaps[-1].snapshot_id
    inc = tbl.incremental_scan(first, last)
    # commits 2..n: ids 10..(n_commits*10)
    assert inc.count() == (n_commits - 1) * 10
    assert inc.agg(F.min("id")).collect()[0][0] == 10
    log = tbl.changelog_scan(first, last)
    assert log.filter(F.col("_change_type") == "insert").count() == (n_commits - 1) * 10
    assert log.filter(F.col("_change_type") == "delete").count() == 0


def test_sorted_compaction_keeps_disjoint_ranges(spark, catalog):
    """Binpack on a sort-ordered table must range-repartition, not
    coalesce: output files keep DISJOINT sort-key ranges so file
    skipping survives compaction."""
    df = spark.range(0, 4000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "sorted_compact_tbl", df.schema, [])
    # interleaved appends: each small file covers the FULL id range
    for k in range(4):
        tbl.append(df.filter(F.col("id") % 4 == k).coalesce(1))
    # adopt a sort order AFTER the messy writes (ReplaceSortOrder);
    # compaction must re-cluster under it
    tbl.set_sort_order(["id"])
    before = tbl.plan_files()
    assert len(before) == 4
    # every pre-compaction file spans nearly the whole range
    for e in before:
        lo, hi = e["column_stats"]["id"]
        assert hi - lo > 3000
    maintenance.rewrite_data_files(
        tbl, target_file_size_bytes=30_000, min_input_files=2
    )
    after = tbl.plan_files()
    assert len(after) >= 2
    ranges = sorted(tuple(e["column_stats"]["id"]) for e in after)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping post-compaction ranges {ranges}"
    # skipping works again: a narrow range hits a strict subset
    kept = tbl.plan_files([("id", "<", 500)])
    assert len(kept) < len(after)
    assert tbl.read().count() == 4000


def test_incremental_view_maintenance(spark, catalog):
    """IVM target equals a from-scratch recompute after every source
    mutation round, absorbs only deltas, and is idempotent under
    replayed refreshes (offset stamped in the sink)."""
    from lakehouse_admin_spark.ivm import IncrementalAggregate

    df = spark.range(0, 60).selectExpr(
        "id", "CAST(id % 7 AS BIGINT) AS grp", "CAST(id AS DOUBLE) AS v"
    )
    src = catalog.create_table("main", "ivm_src_tbl", df.schema, [])
    src.append(df)
    ivm = IncrementalAggregate(src, catalog, "ivm_target_tbl", ["grp"], "v")

    def check():
        got = {
            r["grp"]: (r["row_count"], round(r["value_sum"], 6))
            for r in ivm.read().collect()
        }
        want = {
            r["grp"]: (r["n"], round(r["s"], 6))
            for r in src.read()
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        assert got == want

    assert ivm.refresh() == 60
    check()
    assert ivm.refresh() == 0  # idempotent when current
    # append more rows
    src.append(
        spark.range(60, 90).selectExpr(
            "id", "CAST(id % 7 AS BIGINT) AS grp", "CAST(id AS DOUBLE) AS v"
        )
    )
    assert ivm.refresh() == 30
    check()
    # merge-on-read delete: absorbed as negative deltas
    src.delete_where(F.col("v") < 10)
    assert ivm.refresh() == 10
    check()
    # upsert: old versions leave, new versions land
    src.upsert_by_key(
        spark.range(80, 100).selectExpr(
            "id", "CAST(3 AS BIGINT) AS grp", "CAST(1.5 AS DOUBLE) AS v"
        ),
        ["id"],
    )
    assert ivm.refresh() > 0
    check()
    # a group emptied entirely becomes a hidden tombstone
    src.delete_where(F.col("grp") == 3)
    ivm.refresh()
    check()
    assert 3 not in {r["grp"] for r in ivm.read().collect()}


def test_ivm_compact_drops_tombstones_and_stays_correct(spark, catalog):
    from lakehouse_admin_spark.ivm import IncrementalAggregate

    df = spark.range(0, 40).selectExpr(
        "id", "CAST(id % 4 AS BIGINT) AS grp", "CAST(id AS DOUBLE) AS v"
    )
    src = catalog.create_table("main", "ivm_c_src", df.schema, [])
    src.append(df)
    ivm = IncrementalAggregate(src, catalog, "ivm_c_target", ["grp"], "v")
    ivm.refresh()
    src.delete_where(F.col("grp") == 2)
    ivm.refresh()
    assert ivm.compact() == 1  # one tombstoned group
    # tombstone physically gone, content unchanged, refresh still works
    assert ivm.target.read().filter(F.col("row_count") <= 0).count() == 0
    src.append(
        spark.range(100, 110).selectExpr(
            "id", "CAST(2 AS BIGINT) AS grp", "CAST(1 AS DOUBLE) AS v"
        )
    )
    ivm.refresh()
    got = {r["grp"]: r["row_count"] for r in ivm.read().collect()}
    assert got[2] == 10  # group resurrects cleanly after compaction


def test_bucket_join_with_combined_day_and_bucket_spec(spark, catalog):
    """bucket-map join still plans correctly when the spec ALSO has a
    date partition: plan_bucket filters the bucket field only, so a
    bucket's files span every day but never another bucket."""
    from lakehouse_admin_spark.sources.ledger import PartitionField
    from lakehouse_admin_spark.sources.ledger_bucketing import bucketed_ledger_join

    ev = load_table(spark, SF_SMOKE, "events")
    spec = [
        PartitionField("ts", "day", "ts_day"),
        PartitionField("user_id", "bucket[4]", "user_bucket"),
    ]
    t1 = catalog.create_table("main", "ev_daybkt_a", ev.schema, spec)
    t1.append(ev)
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    t2 = catalog.create_table(
        "main",
        "ev_daybkt_b",
        agg.schema,
        [PartitionField("user_id", "bucket[4]", "user_bucket")],
    )
    t2.append(agg)
    joined = bucketed_ledger_join(t1, t2, "user_id", "user_id")
    total = joined.count()
    want = ev.join(agg, "user_id").count()
    assert total == want


def test_drop_column_and_widen_column(spark, catalog):
    df = spark.range(0, 20).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id AS FLOAT) AS v", "id * 2 AS extra"
    )
    tbl = catalog.create_table("main", "evolve2_tbl", df.schema, [])
    tbl.append(df)
    # widen int->bigint and float->double; old files promote via cast
    tbl.widen_column("id", "bigint")
    tbl.widen_column("v", "double")
    got = tbl.read()
    assert dict(got.dtypes)["id"] == "bigint"
    assert dict(got.dtypes)["v"] == "double"
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(20))
    # new writes land at the widened type and mix fine
    tbl.append(
        spark.range(20, 30).selectExpr("id", "CAST(id AS DOUBLE) AS v", "id * 2 AS extra")
    )
    assert tbl.read().count() == 30
    # illegal changes rejected
    with pytest.raises(ValueError, match="illegal type change"):
        tbl.widen_column("id", "int")
    # drop a column: projection stops selecting it, data intact
    tbl.drop_column("extra")
    assert "extra" not in tbl.read().columns
    assert tbl.read().count() == 30
    with pytest.raises(ValueError, match="cannot drop the last"):
        tbl.drop_column("id") or tbl.drop_column("v") or tbl.drop_column("id")
    # re-adding a dropped name gets a FRESH field id: old values must
    # NOT resurface
    tbl.add_column("extra", "bigint")
    assert tbl.read().filter(F.col("extra").isNotNull()).count() == 0


def test_add_column_with_default(spark, catalog):
    df = spark.range(0, 10).selectExpr("id")
    tbl = catalog.create_table("main", "default_tbl", df.schema, [])
    tbl.append(df)
    tbl.add_column("status", "string", default="active")
    # old files fill the default; new writes carry their own values
    assert {r["status"] for r in tbl.read().collect()} == {"active"}
    tbl.append(
        spark.range(10, 15).selectExpr("id", "'archived' AS status")
    )
    got = {r["id"]: r["status"] for r in tbl.read().collect()}
    assert got[0] == "active" and got[12] == "archived"


def test_update_where_mor(spark, catalog):
    df = spark.range(0, 30).selectExpr("id", "CAST(id AS DOUBLE) AS v", "'a' AS tag")
    tbl = catalog.create_table("main", "update_tbl", df.schema, [])
    tbl.append(df)
    snap = tbl.update_where(
        F.col("id") >= 20, {"v": F.col("v") * 10, "tag": F.lit("b")}
    )
    assert snap.summary["updated-records"] == "10"
    got = {r["id"]: (r["v"], r["tag"]) for r in tbl.read().collect()}
    assert len(got) == 30
    assert got[5] == (5.0, "a")
    assert got[25] == (250.0, "b")
    # update of already-updated rows sees the NEW values
    tbl.update_where(F.col("tag") == "b", {"v": F.col("v") + 1})
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got[25] == 251.0
    # constraints guard updates too
    tbl.add_constraint("v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        tbl.update_where(F.col("id") < 3, {"v": F.lit(-5.0)})
    assert tbl.read().filter(F.col("v") < 0).count() == 0


def _zero_row_files(tbl) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _s, files in os.walk(tbl.data_dir)
        for f in files
        if f.endswith(".parquet") and pq.read_metadata(os.path.join(d, f)).num_rows == 0
    ]


@pytest.mark.parametrize("partitions", [2, 4])
def test_update_commits_only_files_with_rows(spark, catalog, partitions):
    """The updated copies are written by one task per scan split; a
    split with no matched row commits no file, whatever the split count
    (Spark's minimum split count stands in for the core count)."""
    key = "spark.sql.files.minPartitionNum"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(partitions))
    try:
        tbl = catalog.create_table(
            "main", f"update_splits_{partitions}",
            spark.range(1).selectExpr("id", "id AS g").schema, [],
        )
        for lo in (0, 10, 20):
            tbl.append(spark.range(lo, lo + 10, numPartitions=1).selectExpr("id", "id % 3 AS g"))
        snap = tbl.update_where(F.col("id").isin(7, 27), {"g": F.lit(9).cast("long")})
    finally:
        spark.conf.unset(key) if old is None else spark.conf.set(key, old)
    added = [e for e in snap.added if e.get("content", 0) == 0]
    assert snap.summary["added-records"] == "2"
    assert snap.summary["added-data-files"] == str(len(added))
    assert added and all(e["record_count"] > 0 for e in added)
    assert _zero_row_files(tbl) == []
    got = {r["id"]: r["g"] for r in tbl.read().collect()}
    assert len(got) == 30 and got[7] == got[27] == 9 and got[8] == 2


def test_append_of_an_all_filtered_frame_commits_cleanly(spark, catalog):
    day = [PartitionField(source="ts", transform="day", name="ts_day")]
    rows = spark.range(0, 6).selectExpr(
        "timestamp_seconds(1704067200 + (id % 2) * 86400) AS ts", "id AS v"
    )
    for name, spec in (("none", []), ("daily", day)):
        tbl = catalog.create_table("main", f"filtered_append_{name}", rows.schema, spec)
        first = tbl.append(rows)
        snap = tbl.append(rows.filter("v < 0"))
        assert snap.parent_id == first.snapshot_id, name
        assert (snap.summary["added-data-files"], snap.summary["added-records"]) == ("0", "0")
        assert snap.summary["total-records"] == "6", name
        assert snap.added == [], name
        assert tbl.live_files() == tbl.live_files(first.snapshot_id), name
        assert tbl.read().count() == 6 and _zero_row_files(tbl) == [], name


def test_mixed_equality_delete_key_sets(spark, catalog):
    """Equality deletes with DIFFERENT key sets (id-keyed upsert plus a
    tag-keyed delete) compose: each set applies independently."""
    df = spark.range(0, 30).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS tag", "CAST(id AS DOUBLE) AS v"
    )
    tbl = catalog.create_table("main", "mixed_eq_tbl", df.schema, [])
    tbl.append(df)
    tbl.upsert_by_key(
        spark.range(25, 35).selectExpr(
            "id", "'9' AS tag", "CAST(0 AS DOUBLE) AS v"
        ),
        ["id"],
    )
    # tag-keyed equality delete (different key set than the upsert's)
    tbl.delete_by_key(spark.createDataFrame([("1",)], "tag string"), ["tag"])
    got = {r["id"]: r["tag"] for r in tbl.read().collect()}
    # tag '1' rows (id%3==1, id<25) gone; upserted rows have tag '9'
    assert all(t != "1" for t in got.values())
    assert all(got[i] == "9" for i in range(25, 35))
    assert 1 not in got and 4 not in got
    assert 0 in got and 2 in got
    # convert handles the mixed sets too
    maintenance.convert_equality_deletes(tbl)
    got2 = {r["id"]: r["tag"] for r in tbl.read().collect()}
    assert got2 == got


def test_incremental_join_view_maintenance(spark, catalog):
    """Join-view IVM: Δ(A⋈B) = ΔA⋈B_old ∪ A_new⋈ΔB with B_old served
    by TIME TRAVEL. Target equals a from-scratch join recompute after
    mutations on either side, including dimension re-assignment."""
    from lakehouse_admin_spark.ivm import IncrementalJoinAggregate

    facts = spark.range(0, 80).selectExpr(
        "id", "CAST(id % 10 AS BIGINT) AS user_id", "CAST(id AS DOUBLE) AS v"
    )
    dims = spark.range(0, 10).selectExpr(
        "id AS user_id", "CAST(id % 3 AS STRING) AS segment"
    )
    fsrc = catalog.create_table("main", "jivm_facts", facts.schema, [])
    dsrc = catalog.create_table("main", "jivm_dims", dims.schema, [])
    fsrc.append(facts)
    dsrc.append(dims)
    ivm = IncrementalJoinAggregate(
        fsrc, dsrc, catalog, "jivm_target", "user_id", ["segment"], "v"
    )

    def check():
        got = {
            r["segment"]: (r["row_count"], round(r["value_sum"], 6))
            for r in ivm.read().collect()
        }
        want = {
            r["segment"]: (r["n"], round(r["s"], 6))
            for r in fsrc.read()
            .join(dsrc.read(), "user_id")
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        assert got == want

    assert ivm.refresh() > 0
    check()
    assert ivm.refresh() == 0  # current → no-op (replay-safe)
    # fact-side append
    fsrc.append(
        spark.range(80, 120).selectExpr(
            "id", "CAST(id % 10 AS BIGINT) AS user_id", "CAST(id AS DOUBLE) AS v"
        )
    )
    assert ivm.refresh() > 0
    check()
    # dimension re-assignment: users 0-4 move to segment '9'
    dsrc.upsert_by_key(
        spark.range(0, 5).selectExpr("id AS user_id", "'9' AS segment"),
        ["user_id"],
    )
    assert ivm.refresh() > 0
    check()
    # simultaneous two-sided change
    fsrc.delete_where(F.col("v") < 30)
    dsrc.upsert_by_key(
        spark.range(7, 9).selectExpr("id AS user_id", "'x' AS segment"),
        ["user_id"],
    )
    assert ivm.refresh() > 0
    check()
    assert ivm.refresh() == 0


def test_bucket_lookup_string_key(spark, catalog):
    """Murmur3 bucket computation must match the write for STRING keys
    too (type-cast literal path)."""
    from lakehouse_admin_spark.sources.ledger import PartitionField
    from lakehouse_admin_spark.sources.ledger_bucketing import bucket_point_lookup

    df = spark.range(0, 200).selectExpr(
        "concat('key_', CAST(id AS STRING)) AS k", "id AS v"
    )
    tbl = catalog.create_table(
        "main",
        "strbucket_tbl",
        df.schema,
        [PartitionField("k", "bucket[8]", "k_bucket")],
    )
    tbl.append(df)
    for probe in ("key_0", "key_57", "key_199"):
        got = bucket_point_lookup(tbl, "k", probe).collect()
        assert len(got) == 1 and got[0]["k"] == probe
    assert bucket_point_lookup(tbl, "k", "missing").count() == 0


def test_consumer_changelog_across_replace_is_silent(spark, catalog, tmp_path_factory):
    """A compaction between polls must not surface phantom changes to a
    changelog consumer."""
    from lakehouse_admin_spark.sources.consumer import IncrementalConsumer

    df = spark.range(0, 40).selectExpr("id", "id % 4 AS g")
    tbl = catalog.create_table("main", "consumer_rep_tbl", df.schema, [])
    tbl.append(df.filter(F.col("id") < 20).coalesce(1))
    tbl.append(df.filter(F.col("id") >= 20).coalesce(1))
    ckpt = str(tmp_path_factory.mktemp("ckpt_rep") / "offset.json")
    c = IncrementalConsumer(tbl, ckpt, mode="changelog")
    batch, off = c.poll()
    assert batch.count() == 40
    c.commit(off)
    maintenance.rewrite_data_files(
        tbl, target_file_size_bytes=1 << 40, min_input_files=2
    )
    res = c.poll()
    if res is not None:  # head moved (replace commit) but delta is empty
        batch2, off2 = res
        assert batch2.count() == 0
        c.commit(off2)
    tbl.append(spark.range(40, 50).selectExpr("id", "id % 4 AS g"))
    batch3, _ = c.poll()
    rows = batch3.collect()
    assert sorted(r["id"] for r in rows) == list(range(40, 50))
    assert {r["_change_type"] for r in rows} == {"insert"}


def test_rollback_reuses_manifest_segments(spark, catalog):
    """Rollback commits by POINTING at the target's immutable segments
    (manifest reuse): no file entries are rewritten, the new snapshot's
    manifest list equals the target's, and the read is exact."""
    df = spark.range(10).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "rb_reuse_tbl", df.schema, [])
    tbl.append(df)
    target = tbl.current_snapshot_id()
    tbl.append(spark.range(10, 30).selectExpr("id", "id AS v"))
    snap = tbl.rollback_to(target)
    assert snap.manifest_list == tbl.snapshot(target).manifest_list
    assert snap.own_segment is None
    assert tbl.read().count() == 10
    # CDC record of a rollback vs its lineage parent is empty
    assert snap.added == [] and snap.removed == []


def test_expire_reclaims_unreferenced_segments(spark, catalog):
    """Segment GC: expiring snapshots deletes manifest segments no
    KEPT snapshot references, while segments shared with the surviving
    head stay on disk and the head remains fully readable."""
    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "seg_gc_tbl", df.schema, [])
    for i in range(12):
        tbl.append(spark.range(i * 5, i * 5 + 5).selectExpr("id", "id AS v"))
    segs_before = {
        fn for fn in os.listdir(tbl.meta_dir) if fn.startswith("mseg-")
    }
    head = tbl.snapshot(tbl.current_snapshot_id())
    kept = {d["path"] for d in head.manifest_list}
    if head.own_segment:
        kept.add(head.own_segment["path"])
    assert kept < segs_before, "history should reference extra segments"
    # age past the independent segment-GC grace floor: the floor
    # protects JUST-WRITTEN segments even under a future cutoff
    for fn in segs_before:
        os.utime(os.path.join(tbl.meta_dir, fn), (1, 1))
    metrics = maintenance.expire_snapshots(tbl, older_than_ms=int(2e15))
    assert metrics["deleted_manifest_segments_count"] > 0
    segs_after = {
        fn for fn in os.listdir(tbl.meta_dir) if fn.startswith("mseg-")
    }
    assert segs_after == kept, "exactly the kept snapshot's segments survive"
    assert tbl.read().count() == 60
    assert not missing_files(tbl)


def test_orphan_gc_reclaims_aborted_segments(spark, catalog):
    """A segment written by an aborted commit (never referenced by any
    snapshot) is a metadata orphan: remove_orphan_files reclaims it
    after the age guard, never touching referenced segments."""
    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "seg_orphan_tbl", df.schema, [])
    tbl.append(df)
    tbl._write_segment("mseg-99-dabandoned.parquet", [], [])
    stray = os.path.join(tbl.meta_dir, "mseg-99-dabandoned.parquet")
    os.utime(stray, (1, 1))
    metrics = maintenance.remove_orphan_files(tbl)
    assert stray in metrics["deleted_files"]
    assert not os.path.exists(stray)
    assert tbl.read().count() == 5


def test_append_commit_never_reads_large_segments(spark, catalog, monkeypatch):
    """The commit hot path is O(delta) in WORK, not just bytes: an
    append that triggers no merge touching the table's big base
    segment must not READ it (merge decisions use descriptor weights;
    the segment bodies are only opened when actually merged) — so
    commit latency and lock-hold stay flat in table size."""

    df = spark.range(64).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "seg_read_tbl", df.schema, [])
    # a "big" head segment: one append with many files
    tbl.append(df.repartition(64))
    head = tbl.snapshot(tbl.current_snapshot_id())
    n_big = head.manifest_list[0]["added"]
    assert n_big >= 20, "head segment should hold many files"
    big_seg = head.manifest_list[0]["path"]

    reads: list[str] = []
    orig = ledger_mod.LedgerTable._read_segment

    def spying(self, name):
        reads.append(name)
        return orig(self, name)

    monkeypatch.setattr(ledger_mod.LedgerTable, "_read_segment", spying)
    # two tiny appends: the second may merge the two TINY segments,
    # but neither may open the 64-entry head segment
    tbl.append(spark.range(1).selectExpr("id", "id AS v"))
    tbl.append(spark.range(1).selectExpr("id", "id AS v"))
    assert big_seg not in reads, (
        f"append commit read the {n_big}-entry base segment: {reads}"
    )


def test_concurrent_appends_all_land_on_segmented_log(spark, catalog):
    """Two writer threads race 8 appends each through the segmented
    commit log: every commit lands (conflict-retry), lineage is linear,
    the final live set is exact, and every snapshot's manifest list
    resolves (no torn segments)."""
    import threading

    df_schema = spark.range(1).selectExpr("id", "id AS v").schema
    tbl = catalog.create_table("main", "race_tbl", df_schema, [])
    errors: list[Exception] = []

    def writer(base: int) -> None:
        try:
            for i in range(8):
                tbl.append(
                    spark.range(base + i * 10, base + i * 10 + 5).selectExpr(
                        "id", "id AS v"
                    )
                )
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    t1 = threading.Thread(target=writer, args=(0,))
    t2 = threading.Thread(target=writer, args=(1000,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    snaps = tbl.snapshots()
    assert len(snaps) == 16
    # linear lineage: each snapshot's parent is the previous id
    ids = [s.snapshot_id for s in snaps]
    parents = [s.parent_id for s in snaps]
    assert parents == [None] + ids[:-1]
    assert tbl.read().count() == 16 * 5
    for s in snaps:
        assert len(s.files) >= 1  # every manifest list resolves


def test_total_commit_bytes_include_merge_amplification(spark, catalog):
    """TOTAL metadata bytes written over N appends — own segments PLUS
    every merged segment the size-tiered policy rewrites — stay
    O(N * delta * log N), never O(N * F): against a pre-existing
    F-file base segment, the base is only ever merged when the
    accumulated small mass is comparable to it (factor-2 policy), so
    small appends never repeatedly rewrite the big inventory."""
    import os as _os

    df = spark.range(200).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "amort_tbl", df.schema, [])
    tbl.append(df.repartition(40))  # big base (~40 files)
    base_seg = tbl.snapshot(tbl.current_snapshot_id()).manifest_list[0]
    n_base = base_seg["added"]

    def seg_bytes() -> int:
        return sum(
            _os.path.getsize(_os.path.join(tbl.meta_dir, fn))
            for fn in _os.listdir(tbl.meta_dir)
            if fn.startswith("mseg-")
        )

    before = seg_bytes()
    one_entry = None
    n = 12
    for i in range(n):
        s = tbl.append(spark.range(1).selectExpr("id", "id AS v"))
        if one_entry is None:
            one_entry = _os.path.getsize(
                tbl._segment_path(s.own_segment["path"])
            )
    written = seg_bytes() - before  # includes merged-segment rewrites
    # O(n * delta * log n) bound with slack; the O(n * F) failure mode
    # would be ~n * n_base * one_entry
    budget = n * one_entry * 8
    assert written < budget, (written, budget, one_entry)
    assert written < n * n_base * one_entry / 4, "looks O(N*F)"
    # base segment was never rewritten (still at the head of the list)
    head = tbl.snapshot(tbl.current_snapshot_id()).manifest_list[0]
    assert head["path"] == base_seg["path"]


def test_eq_index_plan_matches_full_scan(spark, catalog):
    """The equality-lookup plan index must select exactly what the
    O(files) stats scan selects — including the keep-on-type-mismatch
    rule — while grouping constant-stat files once per snapshot."""

    schema = spark.range(1).selectExpr(
        "id AS k", "CAST(id AS STRING) AS day", "CAST(id AS DOUBLE) AS v"
    ).schema
    tbl = catalog.create_table("main", "eq_idx_tbl", schema, [])
    # 6 files constant in k (identity-partition shape), 2 varying
    for i in range(6):
        tbl.append(
            spark.range(10).selectExpr(
                f"CAST({i} AS BIGINT) AS k",
                f"'2026-0{i + 1}-01' AS day",
                "CAST(id AS DOUBLE) AS v",
            ).coalesce(1)
        )
    tbl.append(
        spark.range(20).selectExpr(
            "id % 6 AS k", "'2026-09-01' AS day", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1)
    )
    planned = tbl.plan_files([("k", "=", 3)])
    # constant-k file for 3 + the varying file
    assert len(planned) == 2
    assert {r["k"] for r in tbl.scan_entries(planned).collect()} >= {3}
    # exact-row equivalence through read()
    assert sorted(
        (r["k"], r["v"]) for r in tbl.read(predicates=[("k", "=", 3)]).collect()
    ) == sorted(
        (r["k"], r["v"])
        for r in tbl.read().filter(F.col("k") == 3).collect()
    )
    # WARM plan (live list now cached by the read() above) builds and
    # caches the index — the COLD first plan goes through manifest
    # skipping instead and bypasses the full-list-keyed indexes
    assert len(tbl.plan_files([("k", "=", 3)])) == 2
    assert "k" in _snapshot_entry(tbl).eq
    # type mismatch (date object vs ISO-string stats) must KEEP files:
    # the probe falls back to the residual pruner's TypeError branch
    import datetime as _dt

    assert len(tbl.plan_files([("day", "=", _dt.date(2026, 3, 1))])) == 7
    # matching string probe narrows via the index (every file is
    # day-constant, so exactly the one matching file plans)
    assert len(tbl.plan_files([("day", "=", "2026-03-01")])) == 1


def test_allocate_snapshot_id_unique_under_concurrency(spark, catalog):
    """Two threads hammering _allocate_snapshot_id through a barrier
    never receive the same id (ADVICE r6: a bare filename scan lets two
    concurrently-staging transactions claim the same id, and the second
    prepare clobbers the first's staged snapshot)."""
    import threading

    df_schema = spark.range(1).selectExpr("id", "id AS v").schema
    tbl = catalog.create_table("main", "alloc_tbl", df_schema, [])
    barrier = threading.Barrier(2)
    got: list[int] = []
    lock = threading.Lock()

    def alloc() -> None:
        barrier.wait()
        for _ in range(50):
            nid = tbl._allocate_snapshot_id()
            with lock:
                got.append(nid)

    t1 = threading.Thread(target=alloc)
    t2 = threading.Thread(target=alloc)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert len(got) == 100
    assert len(set(got)) == 100, "duplicate snapshot ids allocated"


def test_staged_transactions_get_distinct_snapshot_ids(spark, catalog):
    """Two transactions staging against the SAME parent (neither
    committed yet) must land distinct snap-<id>.json files — the
    second stage may not overwrite the first's staged snapshot."""
    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "staged_tbl", df.schema, [])
    s1 = tbl.append(df, prepare=True)
    s2 = tbl.append(df.selectExpr("id + 100 AS id", "id AS v"), prepare=True)
    assert s1.snapshot_id != s2.snapshot_id
    # both staged snapshot files exist and round-trip to their own content
    r1 = tbl.snapshot(s1.snapshot_id)
    r2 = tbl.snapshot(s2.snapshot_id)
    assert {e["file_path"] for e in r1.added}.isdisjoint(
        {e["file_path"] for e in r2.added}
    )
    # pointer untouched by staging
    assert tbl.current_snapshot_id() is None


def test_set_property_racing_commits_loses_nothing(spark, catalog):
    """set_property is a locked RMW of table.json (which also holds the
    head pointer): a property-writer thread racing an append thread
    must not revert current_snapshot_id or drop commits."""
    import threading

    df_schema = spark.range(1).selectExpr("id", "id AS v").schema
    tbl = catalog.create_table("main", "props_race_tbl", df_schema, [])
    errors: list[Exception] = []

    def committer() -> None:
        try:
            for i in range(6):
                tbl.append(
                    spark.range(i * 10, i * 10 + 5).selectExpr("id", "id AS v")
                )
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    def prop_writer() -> None:
        try:
            for i in range(200):
                tbl.set_property("touch", str(i))
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    t1 = threading.Thread(target=committer)
    t2 = threading.Thread(target=prop_writer)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    snaps = tbl.snapshots()
    assert len(snaps) == 6
    # the head survived every property write
    assert tbl.current_snapshot_id() == snaps[-1].snapshot_id
    assert tbl.read().count() == 30
    assert tbl.properties()["touch"] == "199"


def test_plan_files_resolves_head_exactly_once(spark, catalog, monkeypatch):
    """plan_files must resolve the current snapshot id ONCE and key the
    live-file list and the equality index off that same id — a second
    resolution racing a commit caches a stale index under the new id."""

    df = spark.range(20).selectExpr("id % 4 AS k", "id AS v")
    tbl = catalog.create_table("main", "resolve_once_tbl", df.schema, [])
    tbl.append(df.repartition(4))
    calls = {"n": 0}
    orig = ledger_mod.LedgerTable.current_snapshot_id

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(ledger_mod.LedgerTable, "current_snapshot_id", counting)
    tbl.plan_files([("k", "=", 2)])
    assert calls["n"] == 1, f"head resolved {calls['n']} times in one plan"


def test_expire_spares_fresh_unreferenced_segments(spark, catalog):
    """Segment GC in expire_snapshots is age-gated by mtime against the
    SAME cutoff (ADVICE r6): a concurrent writer's just-written segment
    (not yet referenced by any snapshot — segments land before
    commit.lock) must survive expiration, or its commit would succeed
    pointing at a deleted segment."""
    import json as _json
    import time as _time

    df = spark.range(10).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "expire_fresh_tbl", df.schema, [])
    for i in range(3):
        tbl.append(df.selectExpr(f"id + {i * 100} AS id", "id AS v"))
    now_ms = int(_time.time() * 1000)
    old_ms = now_ms - 10 * 86_400_000
    # backdate every snapshot but the head, and every existing segment
    snaps = tbl.snapshots()
    for s in snaps[:-1]:
        p = os.path.join(tbl.meta_dir, f"snap-{s.snapshot_id}.json")
        with open(p) as fh:
            d = _json.load(fh)
        d["committed_at_ms"] = old_ms
        with open(p, "w") as fh:
            _json.dump(d, fh)
    for fn in os.listdir(tbl.meta_dir):
        if fn.startswith("mseg-"):
            os.utime(os.path.join(tbl.meta_dir, fn), (old_ms / 1000,) * 2)
    # simulate an in-flight writer: segment written, snapshot not yet
    # committed (fresh mtime, referenced by nothing)
    inflight = tbl._write_segment(
        f"mseg-999-d{'f' * 8}.parquet",
        [{"file_path": "/x/inflight.parquet", "partition": {},
          "record_count": 1, "file_size_in_bytes": 10, "content": 0}],
        [],
    )
    metrics = maintenance.expire_snapshots(tbl, older_than_ms=now_ms - 5 * 86_400_000)
    assert metrics["deleted_snapshots_count"] == 2
    assert os.path.exists(tbl._segment_path(inflight["path"])), (
        "expire deleted a fresh in-flight segment"
    )
    assert tbl.read().count() == 30  # head intact


def test_branch_stage_racing_main_commit_loses_nothing(spark, catalog):
    """append_to_branch ends in set_ref — a table.json RMW. Racing it
    against main-branch appends must lose NEITHER side: an unlocked
    set_ref could reload a stale head pointer and silently revert a
    just-landed main commit (ADVICE r7, medium)."""
    import threading

    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "branch_race_tbl", df.schema, [])
    tbl.append(df)
    tbl.create_ref("audit", kind="branch")
    barrier = threading.Barrier(2)
    errs: list[BaseException] = []

    def main_writer() -> None:
        barrier.wait()
        try:
            for i in range(6):
                tbl.append(
                    spark.range(100 + i * 5, 105 + i * 5).selectExpr(
                        "id", "id AS v"
                    )
                )
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    def branch_writer() -> None:
        barrier.wait()
        try:
            for i in range(6):
                tbl.append_to_branch(
                    "audit",
                    spark.range(1000 + i * 5, 1005 + i * 5).selectExpr(
                        "id", "id AS v"
                    ),
                )
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=main_writer)
    t2 = threading.Thread(target=branch_writer)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    # every main commit survived (head never reverted by set_ref)
    assert tbl.read().count() == 5 + 30
    # every branch stage survived (ref never reverted by a commit)
    assert tbl.read(ref="audit").count() == 5 + 30
    # main head is not on the branch lineage and vice versa
    head = tbl.snapshot(tbl.current_snapshot_id())
    assert head.summary.get("branch") is None


def test_expire_future_cutoff_spares_just_written_segment(spark, catalog):
    """The segment-GC cutoff is floored at SEGMENT_GC_GRACE_MS before
    now INDEPENDENTLY of the caller's older_than_ms: a cutoff in the
    future (legal — callers may rely on retain_last alone) must not
    grant a zero-second protection window and delete a freshly staged
    segment whose commit is about to land (ADVICE r7, low)."""
    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "seg_grace_tbl", df.schema, [])
    for i in range(3):
        tbl.append(spark.range(i * 5, i * 5 + 5).selectExpr("id", "id AS v"))
    # a just-written unreferenced segment: fresh mtime, no snapshot
    inflight = tbl._write_segment(
        "mseg-777-dinflight.parquet",
        [{"file_path": "/x/pending.parquet", "partition": {},
          "record_count": 1, "file_size_in_bytes": 10, "content": 0}],
        [],
    )
    metrics = maintenance.expire_snapshots(tbl, older_than_ms=int(2e15))
    assert metrics["deleted_snapshots_count"] > 0
    assert os.path.exists(tbl._segment_path(inflight["path"])), (
        "future cutoff deleted a just-written segment"
    )


def test_orphan_gc_sweeps_stale_tmp_litter(spark, catalog):
    """Atomic-rename leftovers (next-snapshot-id.tmp-*, mseg-*.tmp-*)
    from a crash between write and os.replace are reclaimed by
    remove_orphan_files past the age guard; fresh litter and the live
    counter file survive (ADVICE r7, low)."""
    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "tmp_litter_tbl", df.schema, [])
    tbl.append(df)  # creates the live next-snapshot-id counter
    stale_ctr = os.path.join(tbl.meta_dir, "next-snapshot-id.tmp-deadbeef")
    stale_seg = os.path.join(tbl.meta_dir, "mseg-9-dx.parquet.tmp-deadbeef")
    fresh_ctr = os.path.join(tbl.meta_dir, "next-snapshot-id.tmp-cafef00d")
    for p in (stale_ctr, stale_seg, fresh_ctr):
        with open(p, "w") as fh:
            fh.write("9")
    os.utime(stale_ctr, (1, 1))
    os.utime(stale_seg, (1, 1))
    metrics = maintenance.remove_orphan_files(tbl)
    assert stale_ctr in metrics["deleted_files"]
    assert stale_seg in metrics["deleted_files"]
    assert not os.path.exists(stale_ctr) and not os.path.exists(stale_seg)
    assert os.path.exists(fresh_ctr), "age guard must protect fresh tmp files"
    assert os.path.exists(os.path.join(tbl.meta_dir, "next-snapshot-id"))
    assert tbl.read().count() == 5
    os.remove(fresh_ctr)


def test_range_index_plan_matches_full_scan(spark, catalog):
    """Twin of the eq-index pin for RANGE predicates: the sorted
    interval index (binary-searched by-min prefix / by-max suffix)
    must select exactly what the O(files) residual stats scan selects
    for every op in < <= > >= and for between (two predicates) —
    including the keep-on-type-mismatch rule."""

    schema = spark.range(1).selectExpr(
        "id AS k", "CAST(id AS STRING) AS day", "CAST(id AS DOUBLE) AS v"
    ).schema
    tbl = catalog.create_table("main", "range_idx_tbl", schema, [])
    # 8 files with adjacent disjoint k-ranges [10i, 10i+9], days spread
    for i in range(8):
        tbl.append(
            spark.range(i * 10, i * 10 + 10).selectExpr(
                "id AS k",
                f"'2026-0{i % 9 + 1}-15' AS day",
                "CAST(id AS DOUBLE) AS v",
            ).coalesce(1)
        )
    # plus one wide file overlapping everything
    tbl.append(
        spark.range(0, 80, 7).selectExpr(
            "id AS k", "'2026-01-01' AS day", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1)
    )
    live = [e for e in tbl.live_files() if e.get("content", 0) == 0]
    assert len(live) == 9

    def residual(col, op, val):
        """The O(files) stats-scan ground truth (plan_files' may_match)."""
        out = []
        for e in live:
            rng = (e.get("column_stats") or {}).get(col)
            if rng is None:
                out.append(e["file_path"])
                continue
            lo, hi = rng
            try:
                keep = {"<": lo < val, "<=": lo <= val,
                        ">": hi > val, ">=": hi >= val}[op]
            except TypeError:
                keep = True
            if keep:
                out.append(e["file_path"])
        return sorted(out)

    for op, val in [("<", 25), ("<=", 29), (">", 54), (">=", 60),
                    ("<", 0), (">", 79), ("<=", -1), (">=", 80)]:
        got = sorted(e["file_path"] for e in tbl.plan_files([("k", op, val)]))
        assert got == residual("k", op, val), (op, val)
    # narrowing actually happened (not the full list back)
    assert len(tbl.plan_files([("k", "<", 25)])) == 4  # 3 range files + wide
    # between = two predicates: first narrows via the index, residual
    # finishes; row-exact through read()
    assert sorted(
        (r["k"], r["v"])
        for r in tbl.read(
            predicates=[("k", ">=", 23), ("k", "<=", 41)]
        ).collect()
    ) == sorted(
        (r["k"], r["v"])
        for r in tbl.read().filter((F.col("k") >= 23) & (F.col("k") <= 41)).collect()
    )
    # index built and cached per (snapshot, column)
    assert "k" in _snapshot_entry(tbl).range
    # type mismatch (date object vs ISO-string stats) keeps ALL files
    import datetime as _dt

    assert len(tbl.plan_files([("day", "<", _dt.date(2026, 3, 1))])) == 9
    # matching string probe narrows: only files whose day-min < cutoff
    got_day = sorted(
        e["file_path"] for e in tbl.plan_files([("day", "<", "2026-03-01")])
    )
    assert got_day == residual("day", "<", "2026-03-01")
    assert 0 < len(got_day) < 9


def test_ledger_range_scan_prunes_files(spark):
    """ledger_range_scan plans only the window's files: the ts >=
    cutoff predicate must narrow through the interval index to ~3 of
    the live days' files, not the whole live set."""
    import datetime as _dt

    from lakehouse_admin_spark.operators.ledger_ops import _events_tbl

    tbl = _events_tbl(spark, SF_SMOKE)
    live = [e for e in tbl.live_files() if e.get("content", 0) == 0]
    days = sorted({e["partition"]["ts_day"] for e in live})
    assert len(days) > 3, "fixture must span more than the window"
    cutoff = (_dt.date.fromisoformat(days[-1]) - _dt.timedelta(days=2)).isoformat()
    planned = tbl.plan_files([("ts", ">=", cutoff)])
    window_days = {d for d in days if d >= cutoff}
    expected = [e for e in live if e["partition"]["ts_day"] in window_days]
    assert {e["file_path"] for e in planned} == {
        e["file_path"] for e in expected
    }
    assert len(planned) < len(live)
    assert "ts" in _snapshot_entry(tbl).range


def test_expire_racing_commits_keeps_ancestry_intact(spark, catalog):
    """expire_snapshots decides and deletes under commit.lock: an
    appender racing an aggressive expirer (future cutoff — everything
    but the head expirable) must end with a readable head, no missing
    files, and no commit lost (ADVICE-class race noted end of r8)."""
    import threading

    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "expire_race_tbl", df.schema, [])
    tbl.append(df)
    barrier = threading.Barrier(2)
    errs: list[BaseException] = []

    def appender() -> None:
        barrier.wait()
        try:
            for i in range(6):
                tbl.append(
                    spark.range(100 + i * 5, 105 + i * 5).selectExpr(
                        "id", "id AS v"
                    )
                )
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    def expirer() -> None:
        barrier.wait()
        try:
            for _ in range(4):
                maintenance.expire_snapshots(tbl, older_than_ms=int(2e15))
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=appender)
    t2 = threading.Thread(target=expirer)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    # no commit lost, head fully readable, storage consistent: a head
    # committed DURING an expire pass pointing at files that pass
    # deleted would fail one of these
    assert tbl.read().count() == 5 + 30
    assert not missing_files(tbl)
    # a fresh expire in quiet state still works and keeps the head
    maintenance.expire_snapshots(tbl, older_than_ms=int(2e15))
    assert tbl.read().count() == 5 + 30
    assert not missing_files(tbl)


def test_ledger_zorder_scan_prunes_both_dimensions(spark):
    """After the (user_id, value) z-order rewrite, the box predicate
    must prune FILES on both dimensions (each clustered file covers a
    small hyper-rectangle, so most fall wholly outside the box), and
    file-level pruning must be a SUPERSET of the exact rows: every
    in-box row survives (parity covers values; this pins the plan)."""
    from lakehouse_admin_spark.operators.ledger_ops import (
        Z_USER_HI,
        Z_USER_LO,
        Z_VALUE_MIN,
        _events_z_tbl,
    )

    tbl = _events_z_tbl(spark, SF_SMOKE)
    live = [e for e in tbl.live_files() if e.get("content", 0) == 0]
    preds = [
        ("user_id", ">=", Z_USER_LO),
        ("user_id", "<=", Z_USER_HI),
        ("value", ">=", Z_VALUE_MIN),
    ]
    planned = tbl.plan_files(preds)
    assert len(planned) < len(live), (
        f"z-order box scan planned {len(planned)} of {len(live)} files — no pruning"
    )
    # single-dimension predicates must each prune too (z-order covers
    # ANY of the z-columns, not just the leading one); tail predicates,
    # since with ~3 z-files per day only range EDGES fall wholly
    # outside a one-sided cut
    for dim_preds in ([("user_id", ">=", 12)], [("value", ">=", 300.0)]):
        p = tbl.plan_files(dim_preds)
        assert len(p) < len(live), f"{dim_preds}: no pruning on this dimension"
