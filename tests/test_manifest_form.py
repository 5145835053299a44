"""The ledger's one snapshot form: a manifest list of parquet segments.

Pins three laws of that form:

1. input in any other form (a snapshot JSON carrying its file list
   inline, a ``.json`` segment body) is rejected with ``ValueError``
   instead of being read as something else;
2. a size-tiered merge across a schema change (segments written
   before and after ``add_column`` carry different typed stat columns)
   takes the decoded merge, and every snapshot still reads exactly;
3. every delta commit's running totals are the parent's plus its own
   data entries, byte for byte as recorded before the totals were
   folded into one helper.
"""

from __future__ import annotations

import json
import os
import re
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lakehouse_admin_spark.sources import ledger as ledger_mod
from lakehouse_admin_spark.sources.ledger import LedgerCatalog, LedgerTable


@pytest.fixture()
def catalog(spark, tmp_path):
    return LedgerCatalog(spark, str(tmp_path / "warehouse"))


def _clear_caches():
    ledger_mod._SEGMENT_CACHE.clear()
    ledger_mod._SNAPSHOT_CACHE.clear()


def _body_schema(tbl, name):
    return pq.read_schema(tbl._segment_path(name))


def test_legacy_snapshot_and_json_segment_are_rejected(spark, catalog):
    """A FOLD-form head (``files`` inline, no ``manifest_list``) and a
    ``mseg-*.json`` body both raise ValueError — neither reads as an
    empty table or segment."""
    df = spark.range(10, numPartitions=1).selectExpr("id", "id AS v")
    tbl = catalog.create_table("main", "legacy_fold", df.schema, [])
    snap = tbl.append(df)
    entries = list(snap.files)
    fold = {
        "snapshot_id": snap.snapshot_id,
        "parent_id": None,
        "committed_at_ms": int(time.time() * 1000),
        "operation": "append",
        "summary": dict(snap.summary),
        "files": entries,
    }
    with open(os.path.join(tbl.meta_dir, f"snap-{snap.snapshot_id}.json"), "w") as fh:
        json.dump(fold, fh)
    _clear_caches()
    with pytest.raises(ValueError, match="manifest_list"):
        tbl.read().count()
    with pytest.raises(ValueError, match="manifest_list"):
        tbl.snapshot(snap.snapshot_id)

    tbl2 = catalog.create_table("main", "legacy_json_seg", df.schema, [])
    tbl2.append(df)
    name = "mseg-1-dlegacy.json"
    with open(tbl2._segment_path(name), "w") as fh:
        json.dump({"added": entries, "removed": []}, fh)
    _clear_caches()
    with pytest.raises(ValueError, match="parquet"):
        tbl2._read_segment(name)


def test_merge_across_schema_drift_is_exact(spark, catalog, monkeypatch):
    """append, add_column, append until a merge fires: the merge whose
    inputs straddle the schema change takes the decoded path (their
    parquet schemas differ), merges of equal schemas take the Arrow
    path, and the head and every historical snapshot read exactly."""
    fast_same_schema: list[bool] = []
    decoded: list[str] = []
    real_fast = LedgerTable._merge_parquet_pair
    real_write = LedgerTable._write_segment

    def spy_fast(self, name_a, name_b, *a, **kw):
        fast_same_schema.append(
            _body_schema(self, name_a) == _body_schema(self, name_b)
        )
        return real_fast(self, name_a, name_b, *a, **kw)

    def spy_write(self, name, *a, **kw):
        if re.match(r"mseg-\d+-m", name):
            decoded.append(name)
        return real_write(self, name, *a, **kw)

    monkeypatch.setattr(LedgerTable, "_merge_parquet_pair", spy_fast)
    monkeypatch.setattr(LedgerTable, "_write_segment", spy_write)

    def batch(lo, hi, with_w):
        cols = ["id", "id * 2 AS v"] + (["id + 100 AS w"] if with_w else [])
        return spark.range(lo, hi, numPartitions=1).selectExpr(*cols)

    tbl = catalog.create_table("main", "drift_tbl", batch(0, 1, False).schema, [])
    expected: dict[int, list[tuple]] = {}
    rows: list[tuple] = []
    s = tbl.append(batch(0, 5, False))
    rows += [(i, 2 * i) for i in range(5)]
    expected[s.snapshot_id] = list(rows)
    tbl.add_column("w", "bigint")  # reads project every snapshot onto (id, v, w)
    rows = [r + (None,) for r in rows]
    expected = {sid: [r + (None,) for r in want] for sid, want in expected.items()}
    for k in range(1, 5):
        s = tbl.append(batch(k * 5, k * 5 + 5, True))
        rows += [(i, 2 * i, i + 100) for i in range(k * 5, k * 5 + 5)]
        expected[s.snapshot_id] = list(rows)

    assert decoded, "no merge straddled the schema change"
    assert fast_same_schema, "no merge of equal schemas took the Arrow path"
    assert all(fast_same_schema), "the Arrow path merged differing schemas"

    def read(sid):
        _clear_caches()
        got = tbl.read(snapshot_id=sid).select("id", "v", "w").collect()
        return sorted(tuple(r) for r in got)

    head = tbl.current_snapshot_id()
    assert read(head) == sorted(expected[head])
    for sid, want in expected.items():
        assert read(sid) == sorted(want), sid


# Summaries of one commit of each delta path, as committed before the
# running totals were folded into one helper (json.dumps keeps key
# order, so equal strings mean byte-identical snapshot summaries).
RECORDED_SUMMARIES = {
    "append": (
        '{"added-data-files": "1", "added-records": "10", '
        '"total-data-files": "1", "total-records": "10"}'
    ),
    "update_where": (
        '{"updated-records": "1", "added-data-files": "1", '
        '"added-records": "1", "added-delete-files": "1", '
        '"added-position-deletes": "1", "total-data-files": "2", '
        '"total-records": "11"}'
    ),
    "append_to_branch": (
        '{"added-data-files": "1", "added-records": "5", '
        '"total-data-files": "3", "total-records": "16", '
        '"branch": "stage"}'
    ),
    "merge_into": (
        '{"added-data-files": "1", "added-records": "7", '
        '"added-delete-files": "1", "added-position-deletes": "5", '
        '"total-data-files": "3", "total-records": "18"}'
    ),
    "delete_by_key": (
        '{"added-delete-files": "1", "added-equality-deletes": "2", '
        '"total-data-files": "3", "total-records": "18"}'
    ),
    "upsert_by_key": (
        '{"added-data-files": "1", "added-records": "4", '
        '"added-delete-files": "1", "added-equality-deletes": "4", '
        '"total-data-files": "4", "total-records": "22"}'
    ),
    "delete_where": (
        '{"added-delete-files": "1", "added-position-deletes": "2", '
        '"total-data-files": "4", "total-records": "22"}'
    ),
}


def test_delta_commit_summaries_are_unchanged(spark, catalog):
    def batch(lo, hi):
        return spark.range(lo, hi, numPartitions=1).selectExpr("id", "id % 3 AS g")

    tbl = catalog.create_table("main", "totals_tbl", batch(0, 1).schema, [])
    got = {"append": tbl.append(batch(0, 10)).summary}
    # update_where's staged file count follows the scan's task layout,
    # which on a multi-file table depends on the host's core count; it
    # runs while the table holds one data file, so the recorded counts
    # hold on any host
    got["update_where"] = tbl.update_where(
        F.col("id") == 7, {"g": F.lit(9).cast("long")}
    ).summary
    tbl.create_ref("stage", kind="branch")
    got["append_to_branch"] = tbl.append_to_branch("stage", batch(10, 15)).summary
    got["merge_into"] = tbl.merge_into(batch(5, 12), on=["id"]).summary
    got["delete_by_key"] = tbl.delete_by_key(batch(0, 2).select("id"), ["id"]).summary
    got["upsert_by_key"] = tbl.upsert_by_key(batch(20, 24), ["id"]).summary
    got["delete_where"] = tbl.delete_where(F.col("id") >= 22).summary
    assert {k: json.dumps(v) for k, v in got.items()} == RECORDED_SUMMARIES
