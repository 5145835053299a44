"""Parquet manifest-segment bodies.

Segments (the Iceberg manifest analog; reference context:
backend/internal/types.go:27 — Iceberg stores manifests as avro, not
JSON, for exactly this reason) are written as typed parquet and read
row-group by row-group. These tests pin the properties the format
exists for:

1. materializing a head segment does NO whole-file ``json.load`` —
   the last O(F) monolithic-parse cost in the metadata plane is gone;
2. large segments carry multiple row groups, so the streamed read's
   peak per-batch materialization is bounded;
3. the Arrow-native merge equals the decoded merge, and cold plans
   stay sound over the format's override semantics.
"""

from __future__ import annotations

import json
import os

import pytest

from lakehouse_admin_spark import maintenance
from lakehouse_admin_spark.sources import ledger as ledger_mod
from lakehouse_admin_spark.sources.ledger import LedgerCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return LedgerCatalog(spark, str(tmp_path / "warehouse"))


def _segments(tbl):
    return sorted(fn for fn in os.listdir(tbl.meta_dir) if fn.startswith("mseg-"))


def test_new_commits_write_parquet_segments(spark, catalog):
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    tbl = catalog.create_table("main", "pseg_basic", df.schema, [])
    tbl.append(df)
    segs = _segments(tbl)
    assert segs and all(fn.endswith(".parquet") for fn in segs)
    head = tbl.snapshot(tbl.current_snapshot_id())
    assert head.own_segment["path"].endswith(".parquet")
    assert tbl.read().count() == 10


def test_parquet_segment_roundtrip_fidelity(spark, catalog):
    """Entries survive the parquet body byte-for-byte as dicts:
    partition values (incl. None), footer column stats, null counts,
    sequence numbers, content codes — and removed paths."""
    df = spark.range(20).selectExpr("id", "CAST(id AS double) AS v")
    tbl = catalog.create_table("main", "pseg_fidelity", df.schema, [])
    snap = tbl.append(df)
    entries = list(snap.added)
    # clear every cache so the re-read genuinely decodes the file
    ledger_mod._SEGMENT_CACHE.clear()
    seg = tbl._read_segment(snap.own_segment["path"])
    assert seg["added"] == entries
    assert seg["removed"] == []
    assert sum(e["record_count"] for e in seg["added"]) == 20
    e = max(seg["added"], key=lambda e: e["record_count"])
    assert e["file_size_in_bytes"] > 0
    assert e["content"] == 0 and e["sequence_number"] == snap.snapshot_id
    assert "column_stats" in e and "null_counts" in e
    assert isinstance(e["partition"], dict)


def test_head_materialization_does_no_segment_json_load(spark, catalog, monkeypatch):
    """THE pin: materializing a merged head segment's live-file list
    never json.load()s a segment file — segment decode is the
    streamed parquet path, bounded per-batch, not one monolithic
    document parse. table.json / snap-*.json stay JSON (tiny,
    O(log files)) and are exempt."""
    df = spark.range(50).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "pseg_nojson", df.schema, [])
    for i in range(6):  # enough commits to force segment merges
        tbl.append(spark.range(i * 50, i * 50 + 50).selectExpr("id", "id AS v"))

    loaded: list[str] = []
    real_load = json.load

    def spy(fh, *a, **kw):
        loaded.append(getattr(fh, "name", "<mem>"))
        return real_load(fh, *a, **kw)

    monkeypatch.setattr(ledger_mod.json, "load", spy)
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()
    head = tbl.snapshot(tbl.current_snapshot_id())
    files = head.files
    assert len(files) >= 6
    mseg_loads = [p for p in loaded if "mseg-" in os.path.basename(str(p))]
    assert mseg_loads == [], f"segment bodies parsed via json.load: {mseg_loads}"


def test_large_segment_has_bounded_row_groups(spark, catalog, monkeypatch):
    """Streamed-read bound: a segment holding more entries than the
    row-group size is written as MULTIPLE row groups, so iter_batches
    materializes a bounded slice at a time — never the whole
    inventory."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(ledger_mod, "_SEGMENT_ROW_GROUP", 64)
    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "pseg_rg", df.schema, [])
    entries = [
        {"file_path": f"/x/f{i}.parquet", "partition": {"p": str(i % 3)},
         "record_count": 1, "file_size_in_bytes": 10, "content": 0,
         "spec_id": 0, "schema_id": 0, "sequence_number": 1}
        for i in range(300)
    ]
    desc = tbl._write_segment("mseg-1-dbig.parquet", entries, ["/x/gone.parquet"])
    pf = pq.ParquetFile(tbl._segment_path(desc["path"]))
    assert pf.metadata.num_row_groups >= 4
    pf.close()
    ledger_mod._SEGMENT_CACHE.clear()
    seg = tbl._read_segment(desc["path"])
    assert seg["added"] == entries
    assert seg["removed"] == ["/x/gone.parquet"]


def test_arrow_merge_equals_decoded_merge(spark, catalog, monkeypatch):
    """The Arrow-native parquet merge must produce EXACTLY the decoded
    (dict-based) merge's result — overrides (b re-adds a path with new
    stats), removals, tombstone union, and head-of-list tombstone drop
    all included."""
    df = spark.range(1).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "pseg_merge_eq", df.schema, [])

    def entry(i, extra=0):
        return {
            "file_path": f"/x/f{i}.parquet", "partition": {"p": str(i % 2)},
            "record_count": 10 + extra, "file_size_in_bytes": 100 + extra,
            "content": 0, "spec_id": 0, "schema_id": 0, "sequence_number": 1,
            "column_stats": {"id": [i, i + extra]},
        }

    a_added = [entry(i) for i in range(8)]
    a_removed = ["/x/old1.parquet"]
    b_added = [entry(3, extra=99), entry(20), entry(21)]  # re-add f3
    b_removed = ["/x/f5.parquet", "/x/old2.parquet"]
    da = tbl._write_segment("mseg-1-da.parquet", a_added, a_removed)
    db = tbl._write_segment("mseg-2-db.parquet", b_added, b_removed)
    assert (da["added"], da["removed"], db["added"], db["removed"]) == (8, 1, 3, 2)

    def decode(desc_list):
        ledger_mod._SEGMENT_CACHE.clear()
        segs = [tbl._read_segment(d["path"]) for d in desc_list]
        assert len(segs) == 1
        key = lambda e: e["file_path"]  # noqa: E731
        return sorted(segs[0]["added"], key=key), segs[0]["removed"]

    # fast path (one table, so both bodies share one parquet schema)
    assert tbl._same_body_schema(da["path"], db["path"])
    fast = tbl._merge_segments([dict(da), dict(db)], 9)
    fast_added, fast_removed = decode(fast)

    # slow path: the merge condition reports differing schemas
    monkeypatch.setattr(type(tbl), "_same_body_schema", lambda *a: False)
    slow = tbl._merge_segments([dict(da), dict(db)], 11)
    slow_added, slow_removed = decode(slow)
    assert fast_added == slow_added
    assert fast_removed == slow_removed == []  # head merge drops tombstones
    # override semantics: f3 carries b's stats, f5 is gone
    by_path = {e["file_path"]: e for e in fast_added}
    assert by_path["/x/f3.parquet"]["record_count"] == 109
    assert "/x/f5.parquet" not in by_path
    assert len(fast_added) == 8 - 1 - 1 + 3  # 8 minus f3 override minus f5, plus b's 3

    # NON-head merge keeps the tombstone union (fast vs slow)
    monkeypatch.undo()
    # pad heavy enough (30 > 2 x merged(a+b) weight 12) that only a+b merge
    head_pad = tbl._write_segment(
        "mseg-0-dpad.parquet", [entry(1000 + i) for i in range(30)], []
    )
    fast2 = tbl._merge_segments([head_pad, dict(da), dict(db)], 13)
    assert len(fast2) == 2
    _, rem2 = (lambda d: (None, tbl._read_segment(d["path"])["removed"]))(fast2[-1])
    monkeypatch.setattr(type(tbl), "_same_body_schema", lambda *a: False)
    slow2 = tbl._merge_segments([head_pad, dict(da), dict(db)], 15)
    rem3 = tbl._read_segment(slow2[-1]["path"])["removed"]
    assert rem2 == rem3 == sorted(set(a_removed) | set(b_removed))


def test_metadata_caches_are_weight_bounded(spark, catalog, monkeypatch):
    """Driver-heap guard: the segment and live-file LRUs evict by TOTAL
    ENTRY WEIGHT, not just item count — 32 cached million-entry
    inventories would be a multi-GB driver heap at 10 TB-class tables.
    A single over-weight item may remain alone (its caller holds it),
    but evicts as soon as anything newer lands."""
    monkeypatch.setattr(ledger_mod._SEGMENT_CACHE, "max_weight", 100)
    df = spark.range(1).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "pseg_weight", df.schema, [])

    def entries(tag, n):
        return [
            {"file_path": f"/x/{tag}{i}.parquet", "partition": {},
             "record_count": 1, "file_size_in_bytes": 1, "content": 0}
            for i in range(n)
        ]

    ledger_mod._SEGMENT_CACHE.clear()
    tbl._write_segment("mseg-1-dbig.parquet", entries("a", 80), [])
    tbl._write_segment("mseg-2-dbig.parquet", entries("b", 80), [])
    tbl._write_segment("mseg-3-dsmall.parquet", entries("c", 10), [])
    tbl._read_segment("mseg-1-dbig.parquet")
    assert len(ledger_mod._SEGMENT_CACHE) == 1
    tbl._read_segment("mseg-2-dbig.parquet")  # 160 > 100 -> evict oldest
    assert len(ledger_mod._SEGMENT_CACHE) == 1
    tbl._read_segment("mseg-3-dsmall.parquet")  # 90 <= 100 -> both stay
    assert len(ledger_mod._SEGMENT_CACHE) == 2
    # an over-weight single item is admitted (caller needs it now)
    monkeypatch.setattr(ledger_mod._SEGMENT_CACHE, "max_weight", 5)
    ledger_mod._SEGMENT_CACHE.clear()
    seg = tbl._read_segment("mseg-1-dbig.parquet")
    assert len(seg["added"]) == 80 and len(ledger_mod._SEGMENT_CACHE) == 1


def test_metadata_caches_are_thread_safe(spark, catalog):
    """The admin server reads ledger metadata from many threads at once.
    Six threads asking for random snapshots of a table with more
    snapshots than the live-list bound keep evicting each other's
    entries; every call must return exactly the serial answer. The
    lowered switch interval makes the interpreter interleave threads
    inside cache bookkeeping (at the default 5 ms the race rarely
    shows)."""
    import random
    import sys
    import threading
    import time

    df = spark.range(2).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "pseg_threads", df.schema, [])
    for _ in range(20):  # more snapshots than the live-list bound (8)
        tbl.append(df)
    sids = [s.snapshot_id for s in tbl.snapshots()]
    serial = {sid: [e["file_path"] for e in tbl.live_files(sid)] for sid in sids}

    errors: list[BaseException] = []
    calls = [0] * 6
    stop = time.monotonic() + 3

    def worker(i):
        rng = random.Random(i)
        try:
            while time.monotonic() < stop:
                sid = rng.choice(sids)
                got = [e["file_path"] for e in tbl.live_files(sid)]
                assert got == serial[sid], sid
                calls[i] += 1
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(old)
    assert not errors, f"{len(errors)} failures, first: {errors[0]!r}"
    assert sum(calls) > 1000


def test_manifest_skipping_cold_plan(spark, catalog, monkeypatch):
    """Iceberg manifest-skipping analog: a COLD plan_files with a
    selective predicate reads only the matching segments' bodies (plus
    any segment carrying tombstones), and its planned set is IDENTICAL
    to the warm full-materialization plan."""
    df = spark.range(1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "pseg_skip", df.schema, [])
    # big base segment (30 files, k < 300) + small tail appends above
    # it: size-tiered merging keeps the heavy base as its own segment
    tbl.append(
        spark.range(300)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .repartition(30)
    )
    for i in range(3):
        tbl.append(
            spark.range(300 + i * 10, 310 + i * 10)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
            .coalesce(1)
        )
    assert len(tbl.snapshot(tbl.current_snapshot_id()).manifest_list) > 1
    preds = [("k", ">=", 300)]  # matches ONLY the tail appends
    # warm ground truth (full materialization + indexes)
    warm = {e["file_path"] for e in tbl.plan_files(preds)}
    assert len(warm) == 3

    reads: list[str] = []
    real_read = ledger_mod.LedgerTable._read_segment

    def spy(self, name):
        reads.append(name)
        return real_read(self, name)

    monkeypatch.setattr(ledger_mod.LedgerTable, "_read_segment", spy)
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()
    cold = {e["file_path"] for e in tbl.plan_files(preds)}
    assert cold == warm
    n_total = len(tbl.snapshot(tbl.current_snapshot_id()).manifest_list)
    assert len(set(reads)) < n_total, (
        f"cold plan read all {n_total} segments: {reads}"
    )
    # warm plan afterwards still exact (cache was never poisoned with
    # the pruned subset)
    monkeypatch.undo()
    assert {e["file_path"] for e in tbl.plan_files(preds)} == warm
    assert len(tbl.plan_files()) == len(tbl.live_files())


def test_manifest_skipping_respects_tombstones(spark, catalog):
    """A later segment carrying REMOVALS must always be read on the
    pruned path, even when its own data entries can't match — else a
    cold plan would resurrect deleted files."""
    df = spark.range(1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "pseg_skip_del", df.schema, [])
    for i in range(4):
        tbl.append(
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
            .coalesce(1)
        )
    # MOR-free file-level delete: drop the k<10 file via rewrite
    victim = [
        e["file_path"]
        for e in tbl.live_files()
        if (e.get("column_stats") or {}).get("k", [99, 99])[0] == 0
    ]
    assert victim
    tbl.commit_rewrite(victim, [], operation="delete")
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()
    cold = tbl.plan_files([("k", "<", 10)])
    assert victim[0] not in {e["file_path"] for e in cold}
    rows = [r["k"] for r in tbl.read(predicates=[("k", "<", 10)]).collect()] if cold else []
    assert rows == []  # every k<10 row lived in the deleted file


def test_gc_reference_sweeps_never_decode_entries(spark, catalog, monkeypatch):
    """expire_snapshots / remove_orphan_files need PATHS, not stats:
    on a parquet-segment table their reference sweeps must go through
    the projected (kind, file_path) read — never the entry-document
    decode — so GC driver cost at 10^6 files is a column scan."""
    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "pseg_gc_proj", df.schema, [])
    for i in range(5):
        tbl.append(spark.range(i * 5, i * 5 + 5).selectExpr("id", "id AS v"))
    for fn in _segments(tbl):
        os.utime(os.path.join(tbl.meta_dir, fn), (1, 1))
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()

    def boom(path):
        raise AssertionError(f"entry-document decode during GC: {path}")

    monkeypatch.setattr(ledger_mod, "_read_parquet_segment", boom)
    orphans = maintenance.remove_orphan_files(tbl)
    # cascaded-merge intermediates are deleted at merge time (r8), so a
    # healthy table has NOTHING to reclaim
    assert orphans["orphan_file_count"] == 0, orphans
    metrics = maintenance.expire_snapshots(tbl, older_than_ms=int(2e15))
    assert metrics["deleted_snapshots_count"] == 4
    monkeypatch.undo()
    ledger_mod._SEGMENT_CACHE.clear()
    assert tbl.read().count() == 25
    from lakehouse_admin_spark.integrity import missing_files

    assert not missing_files(tbl)


def test_descriptor_delete_and_readd_counts(spark, catalog):
    """Descriptors carry exact n_deletes (delete entries added) and
    readds (paths re-added over earlier segments — 0 for every current
    writer) through direct writes AND both merge paths; a MOR
    delete_where commit's segment counts its position-delete entry."""
    from pyspark.sql import functions as F

    df = spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "pseg_counts", df.schema, [])
    for i in range(4):  # force at least one size-tiered merge
        tbl.append(
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
            .coalesce(1)
        )
    snap = tbl.snapshot(tbl.current_snapshot_id())
    for d in snap.manifest_list:
        assert d["n_deletes"] == 0 and d["readds"] == 0, d
    # MOR delete adds ONE position-delete entry; its segment must say so
    tbl.delete_where(F.col("k") < 3)
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.own_segment["n_deletes"] == 1
    assert sum(d.get("n_deletes", 0) for d in snap.manifest_list) == 1
    # the decoded merge's writer carries the counts too
    a = tbl._write_segment("mseg-90-a.parquet", list(snap.added), [])
    assert a["n_deletes"] == 1 and a["readds"] == 0


def test_append_only_read_skips_delete_materialization(spark, catalog, monkeypatch):
    """On an append-only segmented table, a predicated COLD read()
    must plan via manifest skipping and answer the delete-entry lookup
    from descriptor n_deletes counts — never materializing segment
    bodies the pruned plan skipped (the r8 cold-plan win applied to
    read(), not just plan_files)."""
    df = spark.range(1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "pseg_read_skip", df.schema, [])
    tbl.append(
        spark.range(300)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .repartition(30)
    )
    for i in range(3):
        tbl.append(
            spark.range(300 + i * 10, 310 + i * 10)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
            .coalesce(1)
        )
    mlist = tbl.snapshot(tbl.current_snapshot_id()).manifest_list
    assert len(mlist) > 1
    base_seg = max(mlist, key=lambda d: d["added"])["path"]

    reads: list[str] = []
    real_read = ledger_mod.LedgerTable._read_segment

    def spy(self, name):
        reads.append(name)
        return real_read(self, name)

    monkeypatch.setattr(ledger_mod.LedgerTable, "_read_segment", spy)
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()
    n = tbl.read(predicates=[("k", ">=", 300)]).count()
    assert n == 30
    assert base_seg not in reads, (
        f"cold read() materialized the skipped base segment: {reads}"
    )


def test_delete_entries_exact_on_mor_table(spark, catalog):
    """_delete_entries returns exactly the LIVE delete entries of a
    MOR table — identical to filtering the full materialization — and
    read() results stay correct through it (cold and warm)."""
    from pyspark.sql import functions as F

    df = spark.range(1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "pseg_del_entries", df.schema, [])
    for i in range(3):
        tbl.append(
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
            .coalesce(1)
        )
    tbl.delete_where(F.col("k") % 7 == 0)
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()
    pos, eq = tbl._delete_entries(None)
    live = tbl.live_files()
    assert {e["file_path"] for e in pos} == {
        e["file_path"] for e in live if e.get("content", 0) == 1
    }
    assert eq == [e for e in live if e.get("content", 0) == 2]
    assert tbl.read().count() == 30 - 5  # k in {0,7,14,21,28} gone


def test_cold_plan_respects_readd_override(spark, catalog):
    """Format soundness: the merge semantics let a later segment
    RE-ADD a live file_path, superseding the earlier entry. An honest
    writer records readds > 0 in the descriptor; the cold planner must
    then READ that segment instead of skipping it — otherwise the
    superseded (stale-stats) entry would drive pruning and eq-delete
    visibility. Cold plan == warm plan on such a chain."""
    import time as _time

    from lakehouse_admin_spark.sources.ledger import Snapshot

    df = spark.range(1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "pseg_readd", df.schema, [])
    tbl.append(
        spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1)
    )
    parent = tbl.snapshot(tbl.current_snapshot_id())
    victim = dict(parent.files[0])
    # the re-add: same file_path, DIFFERENT stats (says k is huge) and
    # a newer sequence number — per format rules it supersedes
    readd = dict(victim)
    readd["column_stats"] = {"k": [500, 500], "v": [500.0, 500.0]}
    readd["sequence_number"] = victim["sequence_number"] + 1
    sid = tbl._allocate_snapshot_id()
    desc = tbl._write_segment(
        f"mseg-{sid}-readd.parquet", [readd], [], readds=1
    )
    snap = Snapshot(
        snapshot_id=sid,
        parent_id=parent.snapshot_id,
        committed_at_ms=int(_time.time() * 1000),
        operation="append",
        summary=dict(parent.summary),
        added=[readd],
        removed=[],
        manifest_list=list(parent.manifest_list) + [desc],
        own_segment=desc,
    )
    snap._table = tbl
    tbl._commit(snap, expected_parent=parent.snapshot_id)
    # warm truth: the superseding entry (k=500) prunes the file out
    warm = {e["file_path"] for e in tbl.plan_files([("k", "<", 10)])}
    assert victim["file_path"] not in warm
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()
    cold = {e["file_path"] for e in tbl.plan_files([("k", "<", 10)])}
    assert cold == warm


def test_metadata_plane_heap_bound(tmp_path):
    """Integrated metadata-plane pin (no SparkSession — the metadata
    plane is pure driver Python): against a 60k-file segmented
    snapshot, a COLD range plan over the freshest commit's window must
    decode only that commit's segment, with Python-heap peak orders of
    magnitude under the full live materialization — the composed
    summary-skipping + streamed-decode path the r8 design work exists
    for. Also pins the O(delta) commit: its wall must not scale with
    the table's file count."""
    import time as _time
    import tracemalloc

    from tools.stress_bench import synthetic_manifest_table

    n = 60_000
    tbl, commit_batch = synthetic_manifest_table(
        str(tmp_path / "wh"), n, batch=10_000
    )
    t0 = _time.perf_counter()
    commit_batch(n, 100)
    commit_s = _time.perf_counter() - t0
    assert commit_s < 2.0  # O(delta), not O(files)

    preds = [("k", ">=", n * 100)]  # exactly the tail commit's window

    def peak_of(fn):
        ledger_mod._SEGMENT_CACHE.clear()
        ledger_mod._SNAPSHOT_CACHE.clear()
        tracemalloc.start()
        out = fn()
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        return out, peak

    cold, cold_peak = peak_of(lambda: tbl.plan_files(preds))
    assert len(cold) == 100
    # r9 row prefilter: a cold window INSIDE the merged base must also
    # stay selected-size, not inventory-size — typed stat columns mask
    # rows C-side and only candidate entry documents parse
    old_preds = [("k", ">=", 20_000 * 100), ("k", "<", 21_000 * 100)]
    old, old_peak = peak_of(lambda: tbl.plan_files(old_preds))
    assert len(old) == 1000
    live, full_peak = peak_of(lambda: tbl.live_files())
    assert len(live) == n + 100
    # the pruned cold plans must not pay the full-inventory heap
    assert cold_peak < full_peak / 20, (cold_peak, full_peak)
    assert cold_peak < 8_000_000  # absolute ceiling: ~decode of 100 entries
    assert old_peak < full_peak / 10, (old_peak, full_peak)
    # warm plans (indexes over the cached full list) agree exactly
    assert {e["file_path"] for e in tbl.plan_files(preds)} == {
        e["file_path"] for e in cold
    }
    assert {e["file_path"] for e in tbl.plan_files(old_preds)} == {
        e["file_path"] for e in old
    }


def test_integrity_and_snapshot_cache_never_decode_entries(
    spark, catalog, tmp_path, monkeypatch
):
    """r9 audit of the remaining stat-free admin paths (verdict #5):
    the integrity sweep (expected_files_df / missing_files) and the
    SNAPSHOTS cache-entity refresh need paths and snapshot summaries
    only — neither may decode a single entry document. (The PARTITIONS
    entity is excluded on purpose: its rollup aggregates record
    counts/sizes, so the entry decode is inherent to it.)"""
    from lakehouse_admin_spark.cache import MetadataCache
    from lakehouse_admin_spark.integrity import integrity_report, missing_files

    df = spark.range(5).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "pseg_admin_proj", df.schema, [])
    for i in range(4):
        tbl.append(spark.range(i * 5, i * 5 + 5).selectExpr("id", "id AS v"))
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()

    def boom(path):
        raise AssertionError(f"entry-document decode on a stat-free path: {path}")

    monkeypatch.setattr(ledger_mod, "_read_parquet_segment", boom)
    assert missing_files(tbl) == []
    assert integrity_report(tbl)["ok"]
    cache = MetadataCache(spark, str(tmp_path / "cache"))
    n = cache.refresh_entity(catalog, "main", "pseg_admin_proj", "snapshots").count()
    assert n == 4


def test_losing_commit_cleans_staged_segments(spark, catalog):
    """Segments stage + merge BEFORE the commit lock (by design:
    lock-hold stays O(1), writers merge in parallel) — so a writer
    losing the optimistic head check must delete its own staged
    segment files on the way out, not leave them for orphan GC's
    age-out window. The winning ancestry is untouched."""
    import pytest as _pytest

    from lakehouse_admin_spark.sources.ledger import CommitConflictError

    df = spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    tbl = catalog.create_table("main", "pseg_conflict_gc", df.schema, [])
    for i in range(2):
        tbl.append(
            spark.range(i * 5, i * 5 + 5)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
            .coalesce(1)
        )
    stale = tbl.snapshot(tbl.snapshots()[0].snapshot_id)  # not the head
    before = set(_segments(tbl))
    entry = {
        "file_path": os.path.join(tbl.data_dir, "conflict.parquet"),
        "partition": {},
        "record_count": 1,
        "file_size_in_bytes": 1,
        "spec_id": 0,
        "schema_id": 0,
        "content": 0,
        "file_format": "PARQUET",
        "column_stats": {},
        "null_counts": {},
    }
    with _pytest.raises(CommitConflictError):
        tbl._commit_delta(
            operation="append",
            summary={"total-data-files": "3", "total-records": "11"},
            added=[entry],
            removed=[],
            parent=stale,
        )
    assert set(_segments(tbl)) == before  # loser left zero litter
    assert tbl.read().count() == 10  # winning ancestry intact
    from lakehouse_admin_spark import maintenance as _m

    assert _m.remove_orphan_files(tbl)["orphan_file_count"] == 0
