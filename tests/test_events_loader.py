"""``load_table("events")`` normalises ``ts`` from the parquet footer.

The nanos-as-long flag is session-global (every later parquet read of
the shared session sees it, including reads on the admin server's
threads), so the loader sets it only for a TIMESTAMP(NANOS) file.
Both stored forms read the same ``ts`` values.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lakehouse_admin_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"
COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def _spark_rows(df) -> list[tuple]:
    cols = [F.unix_micros("ts") if c == "ts" else F.col(c) for c in COLUMNS]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _arrow_rows(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=list(COLUMNS))
    t = t.set_column(1, "ts", t.column("ts").cast(pa.int64()))
    return sorted(tuple(r.values()) for r in t.to_pylist())


def test_microsecond_events_leave_nanos_flag_unset(spark):
    path = os.path.join(SF_SMOKE, "events.parquet")
    assert pq.read_schema(path).field("ts").type == pa.timestamp("us")
    spark.conf.unset(NANOS_FLAG)
    df = load_table(spark, SF_SMOKE, "events")
    assert NANOS_FLAG not in spark.conf.getAll
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert _spark_rows(df) == _arrow_rows(path)
    assert NANOS_FLAG not in spark.conf.getAll


def test_nanos_events_read_the_same_ts(spark, tmp_path):
    src = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    ns = src.set_column(
        src.schema.get_field_index("ts"), "ts", src.column("ts").cast(pa.timestamp("ns"))
    )
    pq.write_table(ns, str(tmp_path / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == pa.timestamp("ns")
    try:
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = _spark_rows(df)
    finally:
        spark.conf.unset(NANOS_FLAG)
    assert got == _spark_rows(load_table(spark, SF_SMOKE, "events"))
