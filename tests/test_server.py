"""S12 — HTTP JSON API: the reference's route table (backend/main.go:41-100)
served over the engine facade, driven with a stdlib urllib client."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from lakehouse_admin_spark.engine import LakehouseAdmin
from lakehouse_admin_spark.server import AdminHTTPServer
from lakehouse_admin_spark.sources.fixtures import build_events_ledger
from lakehouse_admin_spark.sources.ledger import PartitionField
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_http"))
    admin = LakehouseAdmin(spark, wh)
    admin.settings.set("small_file_threshold_bytes", str(10 * 1024 * 1024))
    build_events_ledger(spark, SF_SMOKE, admin.catalog)
    admin.refresh_all()
    with AdminHTTPServer(admin) as srv:
        yield f"http://127.0.0.1:{srv.port}", admin


def _req(base: str, method: str, path: str, body: dict | None = None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(base + path, data=data, method=method)
    if data:
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_catalog_and_describe(served):
    base, _ = served
    assert _req(base, "GET", "/api/iceberg/databases")[1] == {"databases": ["main"]}
    assert _req(base, "GET", "/api/iceberg/main/tables")[1] == {
        "tables": ["events_ledger"]
    }
    _, desc = _req(base, "GET", "/api/iceberg/main/events_ledger")
    assert desc["partitions"] == ["year", "month", "day"]
    _, snaps = _req(base, "GET", "/api/iceberg/main/events_ledger/snapshots")
    assert snaps["snapshots"] and {"snapshot_id", "operation"} <= set(
        snaps["snapshots"][0]
    )
    _, parts = _req(base, "GET", "/api/iceberg/main/events_ledger/partitions")
    assert parts["partitions"] and "needs_optimize" in parts["partitions"][0]


def test_browse_drilldown_and_files(served):
    base, _ = served
    _, tables = _req(base, "GET", "/api/browse/main/tables")
    assert tables["tables"][0]["table"] == "events_ledger"
    _, years = _req(
        base, "POST", "/api/browse/main/events_ledger/partitions", {"partitions": {}}
    )
    y = years["partitions"][0]["name"]
    _, months = _req(
        base,
        "POST",
        "/api/browse/main/events_ledger/partitions",
        {"partitions": {"year": y}},
    )
    m = months["partitions"][0]["name"]
    _, days = _req(
        base,
        "POST",
        "/api/browse/main/events_ledger/partitions",
        {"partitions": {"year": y, "month": m}},
    )
    d = days["partitions"][0]["name"]
    _, files = _req(
        base,
        "POST",
        "/api/browse/main/events_ledger/files",
        {"partitions": {"year": y, "month": m, "day": d}},
    )
    assert files["files"] and files["files"][0]["content"] == 0
    # incomplete selection → 400, matching the facade's ValueError
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(
            base,
            "POST",
            "/api/browse/main/events_ledger/files",
            {"partitions": {"year": y}},
        )
    assert e.value.code == 400


def test_task_flow_over_http(served):
    base, admin = served
    _, planned = _req(
        base,
        "POST",
        "/api/tasks/main/events_ledger/optimize",
        {"from": "2024-01-01", "to": "2024-01-03", "chunk_by": "daily"},
    )
    assert planned["tasks"]
    # int64 ids serialize as strings (reference JSON contract)
    assert all(isinstance(t["id"], str) for t in planned["tasks"])
    _, counts = _req(base, "GET", "/api/tasks/counts")
    assert counts["queued"] >= 1
    _, page = _req(base, "GET", "/api/tasks/main")
    assert page["total"] >= len(planned["tasks"])
    _, done = _req(base, "POST", "/api/worker/run")
    assert done["completed"] >= 1
    _, expire = _req(
        base,
        "POST",
        "/api/tasks/main/events_ledger/expire-snapshots",
        {"retention_days": 1},
    )
    assert expire["kind"] == "expire_snapshots"
    _, flushed = _req(base, "DELETE", "/api/tasks/main")
    assert flushed["deleted"] >= 1
    assert _req(base, "GET", "/api/tasks")[1]["total"] == 0


def test_browse_table_summary(served):
    base, _ = served
    _, summary = _req(base, "GET", "/api/browse/main/events_ledger")
    assert summary["table"] == "events_ledger"
    assert summary["partition_count"] >= 1 and summary["snapshot_count"] >= 1
    # the static /tables route must still win over /:table
    _, tables = _req(base, "GET", "/api/browse/main/tables")
    assert isinstance(tables["tables"], list)
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "GET", "/api/browse/main/not_a_table")
    assert e.value.code == 404


def test_metadata_cached_listings(served):
    base, admin = served
    _, parts = _req(base, "GET", "/api/metadata/main/events_ledger/partitions")
    assert parts and parts[0]["database"] == "main"
    assert "needs_optimize" in parts[0]
    _, snaps = _req(base, "GET", "/api/metadata/main/events_ledger/snapshots")
    assert snaps and {"snapshot_id", "operation"} <= set(snaps[0])
    # cached listing matches the cache, not a live recompute
    assert len(parts) == admin.cached_partitions("main", "events_ledger").count()


def test_partial_refresh_routes(served):
    base, admin = served
    _, parts = _req(base, "GET", "/api/refresh/main/events_ledger/partitions")
    assert parts and parts[0]["table"] == "events_ledger"
    _, snaps = _req(base, "GET", "/api/refresh/main/events_ledger/snapshots")
    assert snaps and "snapshot_id" in snaps[0]
    _, db = _req(base, "GET", "/api/refresh/main")
    assert db["status"] == "ok" and db["tables"] >= 1
    _, tl = _req(base, "GET", "/api/refresh/tables")
    assert tl["status"] == "ok" and tl["stale_removed"] == 0


def test_maintenance_batch_routes(served):
    base, admin = served
    _, expire = _req(
        base,
        "POST",
        "/api/maintenance/main/expire-snapshots",
        {"tables": ["events_ledger", "missing_table"], "retention_days": 10},
    )
    assert expire["enqueued_count"] == 1
    assert [f["table"] for f in expire["failed_tables"]] == ["missing_table"]
    assert all(isinstance(i, str) for i in expire["task_ids"])
    _, orphans = _req(
        base,
        "POST",
        "/api/maintenance/main/remove-orphan-files",
        {"tables": ["events_ledger"]},
    )
    assert orphans["enqueued_count"] == 1 and orphans["failed_tables"] == []
    _, opt = _req(
        base,
        "POST",
        "/api/maintenance/main/optimize",
        {
            "tables": [
                {"table": "events_ledger", "chunk_by": "daily"},
                {"table": "events_ledger"},  # dedupe: first occurrence wins
                {"table": "  "},  # dropped: blank
                {"table": "missing_table"},  # unknown → failed_tables
            ],
            "from": "2024-01-01",
            "to": "2024-01-03",
        },
    )
    # count may be 0 if earlier compaction cleared needs_optimize; the
    # contract under test is the batch shape + per-table isolation
    assert opt["enqueued_count"] == len(opt["task_ids"])
    assert [f["table"] for f in opt["failed_tables"]] == ["missing_table"]
    # missing date range → 400 (reference requires from/to)
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(
            base,
            "POST",
            "/api/maintenance/main/optimize",
            {"tables": [{"table": "events_ledger"}]},
        )
    assert e.value.code == 400
    admin.tasks.flush()


def test_callback_and_scoped_retry_all(served):
    base, admin = served
    admin.tasks.flush()  # isolate from earlier tests' queue state
    # procedure callback only lands on a RUNNING spark task
    t = admin.tasks.enqueue("main", "events_ledger", "optimize", {})
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "POST", f"/api/tasks/callback/{t.id}/result", {"query": "q"})
    assert e.value.code == 400  # still queued
    claimed = admin.tasks.claim()
    assert claimed.id == t.id
    _, cb = _req(
        base,
        "POST",
        f"/api/tasks/callback/{t.id}/result",
        {"query": "CALL rewrite_data_files", "rows": [{"n": 1}], "meta": {"x": "y"}},
    )
    assert cb == {"status": "ok"}
    got = admin.tasks.get(t.id)
    assert got.result["procedure"]["query"] == "CALL rewrite_data_files"
    assert got.result["procedure"]["rows"] == [{"n": 1}]
    assert got.result["procedure"]["received_at"]
    admin.tasks.complete(t.id, error="boom")

    # per-database retry-all only touches that database's failures
    other = admin.tasks.enqueue("otherdb", "x", "optimize", {})
    admin.tasks.claim()
    admin.tasks.complete(other.id, error="boom")
    _, retried = _req(base, "POST", "/api/tasks/main/retry-all")
    assert retried["retried_count"] == 1
    assert admin.tasks.get(other.id).retried is False
    admin.tasks.flush()
    admin.tasks.flush(database="otherdb")


def test_settings_refresh_integrity(served):
    base, _ = served
    _, got = _req(base, "GET", "/api/settings/task-concurrency")
    before = got["value"]
    _, put = _req(base, "PUT", "/api/settings/task-concurrency", {"value": before + 1})
    assert put["value"] == before + 1
    _, counts = _req(base, "GET", "/api/refresh/main/events_ledger")
    assert counts  # refresh returns its upsert counts
    _, report = _req(base, "GET", "/api/integrity/main/events_ledger")
    assert report["missing_file_count"] == 0 and report["ok"]
    # unknown route → 404 JSON error
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "GET", "/api/nope")
    assert e.value.code == 404


def test_task_list_query_params(served):
    """GET /api/tasks{,/:database} binds kind/status/limit/offset/table
    query params like the reference's form tags (handler_tasks.go:34-47,
    SQL filters + floors in service_task_queue.go:461-507)."""
    base, admin = served
    admin.tasks.flush()
    ids = {}
    # failed optimize FIRST (claim takes the oldest queued task)
    t = admin.tasks.enqueue("main", "events_ledger", "optimize", {})
    claimed = admin.tasks.claim()
    assert claimed.id == t.id
    admin.tasks.complete(t.id, error="boom")
    ids[("optimize", "error")] = str(t.id)
    for kind in ["optimize", "expire_snapshots"]:
        t = admin.tasks.enqueue("main", "events_ledger", kind, {})
        ids[(kind, "queued")] = str(t.id)
    other = admin.tasks.enqueue("otherdb", "tbl2", "optimize", {})

    # kind filter (repeated keys — gin []string binding)
    _, page = _req(base, "GET", "/api/tasks?kind=expire_snapshots")
    assert page["total"] == 1
    assert page["tasks"][0]["id"] == ids[("expire_snapshots", "queued")]
    # kind[] spelling accepted too
    _, page = _req(base, "GET", "/api/tasks?kind[]=expire_snapshots")
    assert page["total"] == 1
    # status filter composes with kind
    _, page = _req(base, "GET", "/api/tasks?kind=optimize&status=error")
    assert page["total"] == 1
    assert page["tasks"][0]["id"] == ids[("optimize", "error")]
    # multiple statuses OR together
    _, page = _req(base, "GET", "/api/tasks?status=queued&status=error")
    assert page["total"] == 4
    # per-database route + table from the QUERY string (form, not uri)
    _, page = _req(base, "GET", "/api/tasks/otherdb?table=tbl2")
    assert page["total"] == 1 and page["tasks"][0]["id"] == str(other.id)
    _, page = _req(base, "GET", "/api/tasks/otherdb?table=nope")
    assert page["total"] == 0
    # limit/offset paginate the started_at DESC order; total stays full
    _, p1 = _req(base, "GET", "/api/tasks?limit=2&offset=0")
    _, p2 = _req(base, "GET", "/api/tasks?limit=2&offset=2")
    assert p1["total"] == p2["total"] == 4
    assert len(p1["tasks"]) == 2 and len(p2["tasks"]) == 2
    assert {t["id"] for t in p1["tasks"]}.isdisjoint(
        t["id"] for t in p2["tasks"]
    )
    # reference floors: limit<=0 → 20, offset<0 → 0
    _, page = _req(base, "GET", "/api/tasks?limit=0&offset=-5")
    assert len(page["tasks"]) == 4 and page["total"] == 4
    # non-numeric limit → 400 (gin binding error)
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "GET", "/api/tasks?limit=abc")
    assert e.value.code == 400
    admin.tasks.flush()
    admin.tasks.flush(database="otherdb")


@pytest.fixture(scope="module")
def one_file_served(spark, tmp_path_factory):
    """A day-partitioned ledger with no parquet manifest, so its browse
    reads use the driver-held inventory: one file in each of three day
    partitions, then five one-file appends to a fourth day. Plus a
    table that was never written to."""
    wh = str(tmp_path_factory.mktemp("wh_http_one_file"))
    admin = LakehouseAdmin(spark, wh)
    rows = spark.range(0, 30).selectExpr(
        "timestamp_seconds(1704067200 + (id % 3) * 86400) AS ts", "id AS v"
    )
    spec = [PartitionField(source="ts", transform="day", name="ts_day")]
    tbl = admin.catalog.create_table("main", "daily", rows.schema, spec)
    tbl.append(rows.coalesce(1))
    for i in range(5):
        tbl.append(
            spark.range(0, 1 + i % 2).selectExpr(
                "timestamp_seconds(1704067200 + 3 * 86400) AS ts", "id AS v"
            ).coalesce(1)
        )
    empty = admin.catalog.create_table("main", "never_written", rows.schema, spec)
    with AdminHTTPServer(admin) as srv:
        yield f"http://127.0.0.1:{srv.port}", tbl, empty


def _new_jobs(spark, fn):
    """``fn()`` and the ids of the Spark jobs it started."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, set(tracker.getJobIdsForGroup(None)) - before


def test_small_browse_reads_start_no_spark_job(spark, one_file_served):
    """Every browse read route of a small refreshed table is answered
    from driver-held state through an optimizer-folded local relation:
    after one warm call, no Spark job at all."""
    base, tbl, _ = one_file_served
    assert not tbl.has_manifest(tbl.current_snapshot_id())
    _req(base, "GET", "/api/refresh/main/daily")
    day = lambda d: {"partitions": {"year": "2024", "month": "01", "day": d}}  # noqa: E731
    reads = {
        "tables": ("GET", "/api/browse/main/tables", None),
        "summary": ("GET", "/api/browse/main/daily", None),
        "drill_year": ("POST", "/api/browse/main/daily/partitions", {"partitions": {}}),
        "drill_month": ("POST", "/api/browse/main/daily/partitions",
                        {"partitions": {"year": "2024"}}),
        "drill_day": ("POST", "/api/browse/main/daily/partitions",
                      {"partitions": {"year": "2024", "month": "01"}}),
        "one_file": ("POST", "/api/browse/main/daily/files", day("02")),
        "five_files": ("POST", "/api/browse/main/daily/files", day("04")),
        "cached_partitions": ("GET", "/api/metadata/main/daily/partitions", None),
        "cached_snapshots": ("GET", "/api/metadata/main/daily/snapshots", None),
        "live_snapshots": ("GET", "/api/iceberg/main/daily/snapshots", None),
        "live_partitions": ("GET", "/api/iceberg/main/daily/partitions", None),
    }
    got = {}
    for name, (method, path, body) in reads.items():
        _req(base, method, path, body)  # warm: a new snapshot's roll-up
        (_, got[name]), jobs = _new_jobs(spark, lambda: _req(base, method, path, body))
        assert not jobs, f"{name} started Spark jobs {sorted(jobs)}"
    assert [f["record_count"] for f in got["one_file"]["files"]] == [10]
    assert got["one_file"]["files"][0]["partition"] == {"ts_day": "2024-01-02"}
    # the parent's Spark order: file_size_in_bytes DESC, file_path ASC
    five = [e for e in tbl.live_files() if e["partition"]["ts_day"] == "2024-01-04"]
    want = sorted(five, key=lambda e: (-e["file_size_in_bytes"], e["file_path"]))
    assert len(want) == 5
    assert [f["file_path"] for f in got["five_files"]["files"]] == [
        e["file_path"] for e in want
    ]
    assert [s["snapshot_id"] for s in got["live_snapshots"]["snapshots"]] == [
        s.snapshot_id for s in tbl.snapshots()
    ]
    assert [d["name"] for d in got["drill_day"]["partitions"]] == ["01", "02", "03", "04"]
    assert got["summary"]["file_count"] == len(tbl.live_files()) == 8
    assert got["summary"]["partition_count"] == len(got["cached_partitions"]) == 4


def test_browse_routes_build_no_dataframe_and_call_no_jvm(spark, one_file_served, monkeypatch):
    """After one warm call, the browse reads and the two refresh-entity
    routes answer from Arrow: no DataFrame is created or collected, and
    no Py4J command reaches the JVM."""
    from py4j import protocol
    from pyspark.sql import DataFrame, SparkSession

    base, _, _ = one_file_served
    _req(base, "GET", "/api/refresh/main/daily")
    day = {"partitions": {"year": "2024", "month": "01", "day": "04"}}
    reads = [
        ("GET", "/api/browse/main/tables", None),
        ("GET", "/api/browse/main/daily", None),
        ("POST", "/api/browse/main/daily/partitions", {"partitions": {}}),
        ("POST", "/api/browse/main/daily/partitions", {"partitions": {"year": "2024"}}),
        ("POST", "/api/browse/main/daily/partitions",
         {"partitions": {"year": "2024", "month": "01"}}),
        ("POST", "/api/browse/main/daily/files", {"partitions": {**day["partitions"], "day": "02"}}),
        ("POST", "/api/browse/main/daily/files", day),
        ("GET", "/api/metadata/main/daily/partitions", None),
        ("GET", "/api/metadata/main/daily/snapshots", None),
        ("GET", "/api/iceberg/main/daily/snapshots", None),
        ("GET", "/api/iceberg/main/daily/partitions", None),
        ("GET", "/api/refresh/main/daily/partitions", None),
        ("GET", "/api/refresh/main/daily/snapshots", None),
    ]
    for method, path, body in reads:
        _req(base, method, path, body)  # warm: a new snapshot's roll-up

    def refuse(*_a, **_k):
        raise AssertionError("a browse route built or collected a DataFrame")

    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    commands = []

    def counted(self, command, *args, **kwargs):
        # the JVM-side release of a collected Python proxy is not a call
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            commands.append(command.split("\n", 1)[0])
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(DataFrame, "collect", refuse)
    monkeypatch.setattr(client, "send_command", counted)
    for method, path, body in reads:
        status, payload = _req(base, method, path, body)
        assert status == 200 and payload, (path, body)
    monkeypatch.undo()
    assert commands == []


def test_driver_held_frames_are_local_relations(spark, one_file_served):
    """Every driver-held admin frame analyses to a LocalRelation leaf,
    never a pickled-RDD scan; an empty inventory keeps its schema."""
    from lakehouse_admin_spark.integrity import expected_files_df, listed_files_df
    from lakehouse_admin_spark.metadata import files_df, history_df, snapshots_df

    _, tbl, empty = one_file_served
    frames = {
        "files_df": files_df,
        "snapshots_df": snapshots_df,
        "history_df": history_df,
        "expected_files_df": expected_files_df,
        "listed_files_df": lambda t: listed_files_df(spark, t.data_dir),
    }
    for name, build in frames.items():
        full, none = build(tbl), build(empty)
        for df in (full, none):
            plan = df._jdf.queryExecution().analyzed().toString()
            assert "LocalRelation" in plan and "LogicalRDD" not in plan, (name, plan)
        assert full.count() > 0, name
        assert none.schema == full.schema and none.collect() == [], name
