"""Admin reads served straight from Arrow: every route that writes an
Arrow answer with ``server.df_rows`` returns the bytes the facade
DataFrame's collected rows would give, and the refreshed cache rows
hold the JSON Spark's ``to_json`` would write."""

from __future__ import annotations

import json
import random
import time
import types
import urllib.request

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

from lakehouse_admin_spark import maintenance
from lakehouse_admin_spark import metadata as md
from lakehouse_admin_spark import server
from lakehouse_admin_spark.engine import LakehouseAdmin
from lakehouse_admin_spark.server import AdminHTTPServer
from lakehouse_admin_spark.sources import ledger as ledger_mod
from lakehouse_admin_spark.sources.ledger import PartitionField

REGIONS = ("Zürich ☃", None, "plain")
ZURICH = REGIONS[0]


def _rows(spark, lo: int, hi: int):
    return spark.range(lo, hi).selectExpr(
        "timestamp_seconds(1704067200 + (id % 3) * 86400) AS ts",
        f"element_at(array('{REGIONS[0]}', NULL, '{REGIONS[2]}'), CAST(id % 3 AS INT) + 1)"
        " AS region",
        "id AS v",
    )


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """``main.mixed``: a (day, region) spec with a null and a non-ASCII
    region, one commit at a whole second, a rollback, then a (region,
    month) spec; ``main.plain``: one unpartitioned append."""
    admin = LakehouseAdmin(spark, str(tmp_path_factory.mktemp("wh_arrow_serving")))
    spec = [
        PartitionField(source="ts", transform="day", name="ts_day"),
        PartitionField(source="region", transform="identity", name="region"),
    ]
    tbl = admin.catalog.create_table("main", "mixed", _rows(spark, 0, 1).schema, spec)
    first = tbl.append(_rows(spark, 0, 9))
    whole_second = float(int(time.time()))
    real_time = ledger_mod.time
    ledger_mod.time = types.SimpleNamespace(time=lambda: whole_second)
    try:
        tbl.append(_rows(spark, 9, 15).coalesce(1))
    finally:
        ledger_mod.time = real_time
    tbl.append(_rows(spark, 15, 18))
    maintenance.rollback_to_snapshot(tbl, first.snapshot_id)
    tbl.evolve_partition_spec([
        PartitionField(source="region", transform="identity", name="region"),
        PartitionField(source="ts", transform="month", name="ts_month"),
    ])
    tbl.append(_rows(spark, 18, 27))
    plain = admin.catalog.create_table("main", "plain", _rows(spark, 0, 1).schema, [])
    plain.append(_rows(spark, 0, 4))
    admin.refresh_all()
    assert {s.committed_at_ms % 1000 == 0 for s in tbl.snapshots()} == {True, False}
    with AdminHTTPServer(admin) as srv:
        yield f"http://127.0.0.1:{srv.port}", admin


def _body(base: str, method: str, path: str, body: dict | None = None) -> bytes:
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(base + path, data=data, method=method)
    with urllib.request.urlopen(req) as resp:
        return resp.read()


def _expected(df, wrap: str | None = None) -> bytes:
    """What the route wrote when it collected the facade DataFrame."""
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return json.dumps(rows if wrap is None else {wrap: rows}, default=server._json_default).encode()


def test_routes_return_the_facade_rows_byte_for_byte(served, monkeypatch):
    base, a = served
    monkeypatch.setenv("TZ", "America/Sao_Paulo")
    time.tzset()
    try:
        it, br, meta = "/api/iceberg/main", "/api/browse/main", "/api/metadata/main"
        cases = [
            ("GET", f"{it}/mixed/snapshots", None, "snapshots",
             lambda: a.snapshots("main", "mixed")),
            ("GET", f"{it}/mixed/partitions", None, "partitions",
             lambda: a.partitions("main", "mixed")),
            ("GET", f"{it}/plain/partitions", None, "partitions",
             lambda: a.partitions("main", "plain")),
            ("GET", f"{br}/tables", None, "tables",
             lambda: a.list_tables_with_summaries("main")),
            ("GET", f"{meta}/mixed/partitions", None, None,
             lambda: a.cached_partitions("main", "mixed")),
            ("GET", f"{meta}/mixed/snapshots", None, None,
             lambda: a.cached_snapshots("main", "mixed")),
            ("GET", "/api/refresh/main/mixed/partitions", None, None,
             lambda: a.refresh_partitions("main", "mixed")),
            ("GET", "/api/refresh/main/mixed/snapshots", None, None,
             lambda: a.refresh_snapshots("main", "mixed")),
        ]
        for sel in ({}, {"region": ZURICH}, {"region": ZURICH, "year": "2024"}):
            cases.append(("POST", f"{br}/mixed/partitions", {"partitions": sel}, "partitions",
                          lambda sel=sel: a.drilldown("main", "mixed", sel)))
        for sel in ({"region": ZURICH, "year": "2024", "month": "01"},
                    {"region": "plain", "year": "2023", "month": "12"}):
            cases.append(("POST", f"{br}/mixed/files", {"partitions": sel}, "files",
                          lambda sel=sel: a.list_partition_files("main", "mixed", sel)))
        for method, path, body, wrap, frame in cases:
            got = _body(base, method, path, body)
            assert got == _expected(frame(), wrap), (method, path, body)
        snaps = json.loads(_body(base, "GET", f"{it}/mixed/snapshots"))["snapshots"]
        assert len({s["committed_at"].count(".") for s in snaps}) == 2, "whole and sub-second"
        assert any(len(s["summary"]) > 2 for s in snaps)
        parts = json.loads(_body(base, "GET", f"{it}/mixed/partitions"))["partitions"]
        values = {p["partition"].get("region", "-") for p in parts}
        assert {ZURICH, None} <= values and {p["spec_id"] for p in parts} == {0, 1}
        # the facade's commit time is Spark's timestamp_millis of the commit ms
        df = a.snapshots("main", "mixed")
        assert df.filter(F.col("committed_at") != F.timestamp_millis("committed_at_ms")).count() == 0
    finally:
        monkeypatch.undo()
        time.tzset()


def _random_maps(seed: int, n: int) -> list:
    rnd = random.Random(seed)
    alphabet = "abcxyz-_.019äü€😀\u0001\n\"\\ "

    def word(most: int) -> str:
        return "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, most)))

    maps = []
    for _ in range(n):
        keys = list(dict.fromkeys(word(12) for _ in range(rnd.randint(0, 40))))
        maps.append([(k, None if rnd.random() < 0.2 else word(6)) for k in keys])
    return maps + [None]


def test_map_values_match_spark_collect_and_to_json(spark):
    """Null values, non-ASCII and control characters, and maps of 0-40
    keys (every HashMap table size up to 64)."""
    maps = _random_maps(1, 300)
    schema = StructType([
        StructField("i", LongType()),
        StructField("m", MapType(StringType(), StringType())),
    ])
    table = pa.table(
        [pa.array(range(len(maps)), pa.int64()), pa.array(maps, to_arrow_schema(schema)[1].type)],
        schema=to_arrow_schema(schema),
    )
    df = md.local_frame(spark, table).withColumn("j", F.to_json("m"))
    collected = sorted(df.collect(), key=lambda r: r["i"])
    served = server.df_rows(table)
    for row, got, entries in zip(collected, served, maps):
        assert list(got["m"] or ()) == list(row["m"] or ()), entries
        assert got == {"i": row["i"], "m": row["m"]}
        assert md.map_json(entries) == row["j"], entries


def test_refreshed_cache_json_matches_spark_to_json(served):
    _, a = served
    tbl = a.table("main", "mixed")
    settings = a.settings.optimize_settings()
    parts = a.cache.refresh_entity_table(a.catalog, "main", "mixed", "partitions", settings)
    want = md.partitions_df(tbl, settings).select(
        F.to_json("partition").alias("partition_json"),
        F.to_json("partition_browse").alias("browse_json"),
    ).collect()
    assert [(r["partition_json"], r["browse_json"]) for r in want] == list(
        zip(parts["partition_json"].to_pylist(), parts["browse_json"].to_pylist())
    )
    assert any(ZURICH in j for j in parts["partition_json"].to_pylist())
    snaps = a.cache.refresh_entity_table(a.catalog, "main", "mixed", "snapshots")
    want = md.snapshots_df(tbl).select(F.to_json("summary").alias("j")).collect()
    assert [r["j"] for r in want] == snaps["summary_json"].to_pylist()
