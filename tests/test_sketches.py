"""Puffin-style per-file Bloom sketches: point-lookup file skipping on
columns min/max stats can't prune (non-sorted, non-bucketed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_admin_spark.sources.ledger import LedgerCatalog
from lakehouse_admin_spark.sources.sketches import (
    compute_file_sketches,
    load_sketches,
)


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    return LedgerCatalog(spark, str(tmp_path_factory.mktemp("sketch_wh")))


@pytest.fixture(scope="module")
def striped_tbl(spark, catalog):
    """Four files with OVERLAPPING id ranges but disjoint key sets:
    file i holds {i, 4+i, 8+i, ...} — every file's min/max straddles
    every key, so range stats prune nothing; each key lives in exactly
    one file."""
    schema = spark.range(1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").schema
    tbl = catalog.create_table("main", "striped", schema, [])
    for i in range(4):
        tbl.append(
            spark.range(0, 100)
            .filter(F.col("id") % 4 == i)
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
            .coalesce(1)
        )
    return tbl


def test_range_stats_cannot_prune_but_bloom_can(striped_tbl):
    all_files = {e["file_path"] for e in striped_tbl.plan_files()}
    assert len(all_files) == 4
    # BEFORE the sketch pass: min/max stats keep every file
    before = striped_tbl.plan_files([("k", "=", 42)])
    assert len(before) == 4, "overlapping ranges must defeat min/max pruning"
    res = compute_file_sketches(striped_tbl, ["k"])
    assert res["files_sketched"] == 4
    after = striped_tbl.plan_files([("k", "=", 42)])
    # Bloom proves absence in the 3 files not holding 42 (false
    # positives possible but vanishingly unlikely at 25 keys / 4096
    # bits; allow <=2 files so the test can't flake on one collision)
    assert len(after) <= 2
    assert len(after) < len(before)
    # the file actually holding 42 (42 % 4 == 2 → 3rd append) survives
    rows = striped_tbl.read(predicates=[("k", "=", 42)]).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(42, 42.0)]


def test_count_rows_benefits_from_bloom(striped_tbl):
    n, cls = striped_tbl.count_rows([("k", "=", 42)])
    assert n == 1
    assert cls["pruned"] >= 2, cls


def test_unsketched_new_files_never_pruned(spark, striped_tbl):
    """Files appended AFTER the sketch pass are absent from the sidecar
    and must never be pruned (unknown → kept)."""
    striped_tbl.append(
        spark.createDataFrame([(1000, 1.0)], "k bigint, v double").coalesce(1)
    )
    planned = striped_tbl.plan_files([("k", "=", 1000)])
    assert len(planned) >= 1
    rows = striped_tbl.read(predicates=[("k", "=", 1000)]).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1000, 1.0)]
    # absent key: bloom prunes the 4 sketched files; the unsketched
    # file stays (the plan is the 1 uncovered file, or a rare FP more)
    assert len(striped_tbl.plan_files([("k", "=", 7777)])) <= 2


def test_sketch_descriptor_and_type_sensitivity(spark, striped_tbl):
    desc, sidecar = load_sketches(striped_tbl)
    assert desc["columns"] == ["k"]
    assert desc["m"] == 4096 and desc["k"] == 5
    # descriptor binds each column to its field id + declared type
    assert desc["bindings"]["k"]["type"] == "bigint"
    # probing an int literal against the BIGINT column must hash as
    # BIGINT (the bucket_of lesson): a present key is never pruned
    for key in (0, 1, 99):
        survivors = striped_tbl.plan_files([("k", "=", key)])
        rows = striped_tbl.read(predicates=[("k", "=", key)]).collect()
        assert len(rows) == 1, f"key {key} lost by sketch pruning"
        assert len(survivors) >= 1


def test_driver_murmur3_matches_spark_expression(spark, catalog):
    """The pure-Python Murmur3 used on the planning hot path must agree
    bit-for-bit with Spark's F.hash(col, seed) for every covered type —
    otherwise probes would wrong-prune."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
    )

    from lakehouse_admin_spark.sources.sketches import _driver_positions

    import datetime as _dt
    from decimal import Decimal

    from pyspark.sql.types import DateType, DecimalType, TimestampType

    tz_name = spark.conf.get("spark.sql.session.timeZone")
    cases = [
        (IntegerType(), [0, 1, -1, 42, 2**31 - 1, -(2**31)]),
        (LongType(), [0, 1, -1, 42, 2**63 - 1, -(2**63), 2**40 + 7]),
        (StringType(), ["", "a", "hello", "naïve-ütf8", "x" * 17, "1234"]),
        (
            DateType(),
            [
                _dt.date(1970, 1, 1),
                _dt.date(2026, 2, 28),
                _dt.date(1969, 12, 31),
                "2026-08-14",
            ],
        ),
        (
            TimestampType(),
            [
                _dt.datetime(1970, 1, 1),
                _dt.datetime(2026, 8, 14, 12, 34, 56, 789012),
                _dt.datetime(1969, 6, 1, 23, 59, 59),
                "2026-08-14 12:34:56.789012",
            ],
        ),
        (
            DecimalType(10, 2),
            [Decimal("0.00"), Decimal("123.45"), Decimal("-99.99"), "7.5"],
        ),
        (
            DecimalType(38, 4),
            [
                Decimal("0.0000"),
                Decimal("12345678901234567890.1234"),
                Decimal("-128"),  # BigInteger minimal two's-complement edge
                Decimal("-12345678901234567890123456789.0001"),
            ],
        ),
    ]
    m, k = 4096, 5
    for typ, values in cases:
        for v in values:
            expected = [
                int(x)
                for x in spark.range(1)
                .select(
                    F.array(
                        *[
                            F.pmod(F.hash(F.lit(v).cast(typ), F.lit(i)), F.lit(m))
                            for i in range(k)
                        ]
                    ).alias("p")
                )
                .collect()[0]["p"]
            ]
            got = _driver_positions(typ, v, m, k, tz_name)
            assert got == expected, (typ.simpleString(), v, got, expected)


def test_key_positions_memoized_no_spark_job(spark, striped_tbl):
    from lakehouse_admin_spark.sources import sketches

    p1 = sketches.key_positions(striped_tbl, "k", 42, 4096, 5)
    assert sketches._POSITIONS_CACHE.peek(("bigint", 42, 4096, 5)) == p1
    p2 = sketches.key_positions(striped_tbl, "k", 42, 4096, 5)
    assert p1 == p2 and len(p1) == 5


def test_sidecar_cache_bounded_per_table(spark, striped_tbl):
    """A re-sketch replaces the table's cache entry rather than
    accumulating one entry per sketch pass."""
    from lakehouse_admin_spark.sources import sketches

    desc1, _ = load_sketches(striped_tbl)
    first_path = sketches._SIDECAR_CACHE.peek(striped_tbl.meta_dir)[0]
    assert desc1["file"] in first_path
    compute_file_sketches(striped_tbl, ["k"])
    desc2, _ = load_sketches(striped_tbl)
    # one entry per table (dict keyed by meta_dir), now the LATEST file
    latest_path = sketches._SIDECAR_CACHE.peek(striped_tbl.meta_dir)[0]
    assert desc2["file"] in latest_path


def test_widen_column_disables_stale_sketch_pruning(spark, catalog):
    """ADVICE high repro: sketch an int column, widen to bigint, then a
    point read — Murmur3 is type-sensitive, so the stale int-typed bits
    must NOT prune (previously every file was pruned and the row became
    unreadable)."""
    tbl = catalog.create_table(
        "main",
        "widen_sketch",
        spark.createDataFrame([(1, 1.0)], "k int, v double").schema,
        [],
    )
    for i in range(3):
        # file i holds {i, 100+i}: every file's [min,max] range contains
        # every small key, so only the Bloom bits can prune
        tbl.append(
            spark.createDataFrame(
                [(i, float(i)), (i + 100, float(i + 100))], "k int, v double"
            ).coalesce(1)
        )
    compute_file_sketches(tbl, ["k"])
    # key 2 is inside every file's [min,max] range, so only the Bloom
    # bits can prune while the schema matches
    assert len(tbl.plan_files([("k", "=", 2)])) < 3
    tbl.widen_column("k", "bigint")
    # stale bits must not prune: every row stays reachable
    rows = tbl.read(predicates=[("k", "=", 2)]).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(2, 2.0)]
    assert len(tbl.plan_files([("k", "=", 2)])) == 3, (
        "widened column must disable sketch pruning entirely"
    )


def test_rename_and_readd_disables_stale_sketch_pruning(spark, catalog):
    """ADVICE high repro (second half): rename the sketched column away
    and re-add the old name — the new column has a different field id,
    so the old bits must not prune its reads."""
    tbl = catalog.create_table(
        "main",
        "rename_sketch",
        spark.createDataFrame([(1, 1.0)], "k int, v double").schema,
        [],
    )
    tbl.append(
        spark.createDataFrame([(7, 7.0)], "k int, v double").coalesce(1)
    )
    compute_file_sketches(tbl, ["k"])
    tbl.rename_column("k", "k_old")
    tbl.add_column("k", "int")
    # reads of the re-added 'k' (all nulls) must not be pruned by the
    # old column's bits; predicate k = 7 matches nothing but must not
    # be satisfied by WRONG pruning either
    planned = tbl.plan_files([("k", "=", 7)])
    assert len(planned) == 1, "re-added name must not inherit stale bits"
    assert tbl.read(predicates=[("k", "=", 7)]).count() == 0
    # the renamed column (same field id, same type) keeps its binding
    # only under its recorded NAME — the descriptor names 'k', which now
    # resolves to the new field → no pruning; correctness preserved
    rows = tbl.read(predicates=[("k_old", "=", 7)]).collect()
    assert [r["k_old"] for r in rows] == [7]


def test_date_column_bloom_pruning_metadata_only(spark, catalog):
    """Bloom pruning on a DATE key (the partition-math type the admin
    plane filters on) runs fully driver-side: correct file skipping,
    zero Spark jobs on the probe path."""
    import datetime as _dt

    schema = spark.range(1).selectExpr(
        "CAST(date_add('2026-01-01', CAST(id AS INT)) AS DATE) AS d",
        "id AS v",
    ).schema
    tbl = catalog.create_table("main", "date_bloom_tbl", schema, [])
    # 4 files with interleaved dates: min/max straddles, Bloom doesn't
    for i in range(4):
        tbl.append(
            spark.range(0, 100)
            .filter(F.col("id") % 4 == i)
            .selectExpr(
                "CAST(date_add('2026-01-01', CAST(id AS INT)) AS DATE) AS d",
                "id AS v",
            )
            .coalesce(1)
        )
    compute_file_sketches(tbl, ["d"])
    probe = _dt.date(2026, 1, 1) + _dt.timedelta(days=17)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    planned = tbl.plan_files([("d", "=", probe)])
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(planned) == 1, "Bloom must prune to the one file holding the key"
    assert list(before) == list(after), "date probe must not launch Spark jobs"
    # the kept file really holds the key
    assert tbl.scan_entries(planned).filter(F.col("d") == F.lit(probe)).count() == 1
