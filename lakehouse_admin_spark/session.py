"""SparkSession factory.

Mirrors the session tuning the reference applies to its Spark maintenance
jobs (reference: backend/build/spark/maintenance.yaml:9-38 — dynamic
allocation, shuffle tracking, Iceberg extensions) re-expressed for a
self-contained PySpark engine:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- broadcast threshold generous enough that dimension tables broadcast
- shuffle partitions sized for the local harness but overridable for a
  real cluster via ``shuffle_partitions``
- Arrow enabled for the Pandas-UDF slow paths (LLM ops)

At 100 TB / 1000 executors the only knobs that change are
``shuffle_partitions`` (≈ 2-3× total cores) and
``spark.sql.files.maxPartitionBytes`` — the plan shapes produced by the
operators in this package are scale-independent (declarative DataFrame ops,
no collect() in hot paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS, else the cores this process may run on (a container
# or taskset can allow fewer than the host has)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "lakehouse-admin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # testdata writes timestamp[us] without the UTC flag; read it as
        # TIMESTAMP_LTZ (not NTZ) so event-time ops (unix_micros,
        # watermarks) work. load_table also normalizes type-driven for
        # vanilla sessions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write TIMESTAMP_LTZ as annotated int64 micros, not legacy INT96:
        # INT96 carries no usable footer min/max stats, which would break
        # manifest-level file skipping on timestamp columns (ledger
        # column_stats) and stats-based pruning on any engine reading our
        # output.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # managed-table warehouse (bucketed materializations) — static
        # conf, must be set before the session exists; keep it off the
        # repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
