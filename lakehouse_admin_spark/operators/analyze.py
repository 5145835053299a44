"""Analyzer operators: per-partition file roll-ups and the
needs_optimize small-file rule.

The reference's one "planner rule" is needs_optimize
(reference: backend/internal/service_iceberg.go:189-224):

    needs = smallFiles >= minCount
        AND smallFiles*100 >= totalFiles*minSharePct
        AND (partition not dated ⇒ true, else date <= midnight(now-delay))

with defaults small-file < 256 MiB, min count 2, min share 25%
(reference: backend/internal/service_settings.go:15-23) and a 96 h delay
(reference: backend/config.dist.yml:30).

Here the rule is a single conditional aggregation — one distributed pass,
no collect. The oracle-checked variants below run the identical rule over
the lineitem fixture treating each row as a "data file" (size =
l_extendedprice, partition = ship date), which pins the threshold
semantics; analyze_ledger_partitions() applies the same rule to real
ledger file metadata (see sources/ledger.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_admin_spark.registry import query
from lakehouse_admin_spark.sources.tables import load_table


@dataclass(frozen=True)
class OptimizeSettings:
    """Thresholds of the small-file rule (reference defaults:
    backend/internal/service_settings.go:15-23, config.dist.yml:30)."""

    small_file_threshold_bytes: int = 256 * 1024 * 1024
    small_file_min_count: int = 2
    small_file_min_share_percent: int = 25
    needs_optimize_delay_hours: int = 96


def needs_optimize_expr(
    small_files: Column, total_files: Column, settings: OptimizeSettings
) -> Column:
    """The count+share part of the rule as one boolean Column."""
    return (small_files >= settings.small_file_min_count) & (
        small_files * 100 >= total_files * settings.small_file_min_share_percent
    )


def file_rollup(
    files: DataFrame,
    partition_cols: list[str],
    *extra: Column,
    size_col: str = "file_size_in_bytes",
    records_col: str = "record_count",
    settings: OptimizeSettings | None = None,
) -> DataFrame:
    """Per-partition file roll-up + small-file analyzer (A1 + A7 + §2.9).

    One hash aggregate over the file inventory: Σrecords, file count,
    Σbytes, small-file count, needs_optimize flag. This replaces the
    reference's row-at-a-time Go map fold
    (reference: backend/internal/iceberg_client.go:188-219) with a
    distributed partial aggregate — the shuffle carries one row per
    partition value, not per file. ``extra`` aggregates ride along in
    the same aggregate.
    """
    settings = settings or OptimizeSettings()
    small = F.sum(
        (F.col(size_col) < settings.small_file_threshold_bytes).cast("long")
    ).alias("small_files")
    out = files.groupBy(*partition_cols).agg(
        F.count(F.lit(1)).alias("file_count"),
        F.sum(records_col).alias("record_count"),
        F.sum(size_col).alias("total_data_file_size_in_bytes"),
        small,
        *extra,
    )
    return out.withColumn(
        "needs_optimize",
        needs_optimize_expr(F.col("small_files"), F.col("file_count"), settings),
    )


# ---------------------------------------------------------------------------
# Oracle-checked fixtures of the same rule over the test tables
# ---------------------------------------------------------------------------

_THRESHOLD = 30000.0  # "small file" boundary in l_extendedprice units
# (just above the 25th percentile of l_extendedprice, so the count+share
# thresholds produce both positive and negative partitions at every SF)
_MIN_COUNT = 2
_MIN_SHARE = 25


@query(
    "partition_file_stats",
    oracle=f"""
    SELECT CAST(l_shipdate AS DATE) AS partition_date,
           COUNT(*) AS file_count,
           CAST(SUM(l_linenumber) AS BIGINT) AS record_count,
           ROUND(SUM(l_extendedprice), 2) AS total_size,
           CAST(SUM(CASE WHEN l_extendedprice < {_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
               AS small_files
    FROM lineitem
    GROUP BY 1
    ORDER BY 1
    """,
)
def partition_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-shaped per-partition roll-up over lineitem-as-file-inventory:
    partition = ship date, file size = l_extendedprice, records =
    l_linenumber (reference roll-up: backend/internal/iceberg_client.go:188-219).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.to_date("l_shipdate").alias("partition_date"))
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("l_linenumber").alias("record_count"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_size"),
            F.sum((F.col("l_extendedprice") < _THRESHOLD).cast("long")).alias("small_files"),
        )
        .orderBy("partition_date")
    )


@query(
    "needs_optimize_partitions",
    oracle=f"""
    SELECT partition_date, file_count, small_files,
           (small_files >= {_MIN_COUNT}
            AND small_files * 100 >= file_count * {_MIN_SHARE}) AS needs_optimize
    FROM (
        SELECT CAST(l_shipdate AS DATE) AS partition_date,
               COUNT(*) AS file_count,
               CAST(SUM(CASE WHEN l_extendedprice < {_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
                   AS small_files
        FROM lineitem
        GROUP BY 1
    )
    WHERE small_files >= {_MIN_COUNT}
      AND small_files * 100 >= file_count * {_MIN_SHARE}
    ORDER BY partition_date
    """,
)
def needs_optimize_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 needs_optimize over the lineitem file-inventory analog: exact
    count + share thresholds of the reference rule
    (reference: backend/internal/service_iceberg.go:189-224, defaults
    service_settings.go:15-23). Returns only partitions flagged true.
    """
    settings = OptimizeSettings(
        small_file_threshold_bytes=int(_THRESHOLD),
        small_file_min_count=_MIN_COUNT,
        small_file_min_share_percent=_MIN_SHARE,
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("partition_date"),
        F.col("l_extendedprice").alias("file_size_in_bytes"),
        F.col("l_linenumber").alias("record_count"),
    )
    rolled = file_rollup(li, ["partition_date"], settings=settings)
    return (
        rolled.filter(F.col("needs_optimize"))
        .select("partition_date", "file_count", "small_files", "needs_optimize")
        .orderBy("partition_date")
    )


@query(
    "optimize_date_range",
    oracle="""
    SELECT partition_date, file_count, small_files
    FROM (
        SELECT CAST(l_shipdate AS DATE) AS partition_date,
               COUNT(*) AS file_count,
               CAST(SUM(CASE WHEN l_extendedprice < 30000.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS small_files
        FROM lineitem
        GROUP BY 1
    )
    WHERE small_files >= 2 AND small_files * 100 >= file_count * 25
      AND partition_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
    ORDER BY partition_date
    """,
)
def optimize_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimize-planning predicate: needs_optimize = true within a
    date range reconstructed from partition parts
    (reference: backend/internal/service_tasks.go:232-249).
    """
    settings = OptimizeSettings(
        small_file_threshold_bytes=int(_THRESHOLD),
        small_file_min_count=_MIN_COUNT,
        small_file_min_share_percent=_MIN_SHARE,
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("partition_date"),
        F.col("l_extendedprice").alias("file_size_in_bytes"),
        F.col("l_linenumber").alias("record_count"),
    )
    rolled = file_rollup(li, ["partition_date"], settings=settings)
    return (
        rolled.filter(F.col("needs_optimize"))
        .filter(F.col("partition_date").between("1996-01-01", "1996-12-31"))
        .select("partition_date", "file_count", "small_files")
        .orderBy("partition_date")
    )


def delay_gate_expr(browse_map: Column, settings: OptimizeSettings, now) -> Column:
    """The delay half of the rule: dated partitions (year/month/day in
    the browse map) must be older than midnight(now - delay); undated
    partitions skip the gate entirely
    (reference: service_iceberg.go:205-236, pinned by
    service_iceberg_test.go:69-99)."""
    import datetime as _dt

    cutoff = (now - _dt.timedelta(hours=settings.needs_optimize_delay_hours)).date()
    has_date = (
        browse_map.getItem("year").isNotNull()
        & browse_map.getItem("month").isNotNull()
        & browse_map.getItem("day").isNotNull()
    )
    pdate = F.to_date(
        F.concat_ws(
            "-",
            browse_map.getItem("year"),
            browse_map.getItem("month"),
            browse_map.getItem("day"),
        )
    )
    return F.when(has_date, pdate <= F.lit(cutoff.isoformat()).cast("date")).otherwise(
        F.lit(True)
    )


def partition_needs_optimize(
    file_sizes: list[int],
    partition_values: dict[str, str],
    settings: OptimizeSettings,
    now,
) -> bool:
    """Driver-side single-partition decision — the exact reference rule
    (service_iceberg.go:189-224) for spec tests and spot checks; the
    DataFrame path (file_rollup + delay_gate_expr) computes the same
    thing distributed."""
    from lakehouse_admin_spark.functions.partitions import get_date

    small = sum(1 for s in file_sizes if s < settings.small_file_threshold_bytes)
    total = len(file_sizes)
    if small < settings.small_file_min_count:
        return False
    if small * 100 < total * settings.small_file_min_share_percent:
        return False
    if {"year", "month", "day"} <= set(partition_values):
        import datetime as _dt

        cutoff = (now - _dt.timedelta(hours=settings.needs_optimize_delay_hours)).date()
        return get_date(partition_values) <= cutoff
    return True
