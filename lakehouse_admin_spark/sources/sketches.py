"""Puffin-style per-file secondary-index sketches for ledger tables.

Iceberg attaches optional per-file statistics blobs in PUFFIN sidecar
files referenced from table metadata (the reference's maintenance
surface submits stats/maintenance procedures the same way it submits
rewrites, backend/internal/service_maintenance.go). The problem they
solve at 100 TB: a point lookup on a NON-SORTED, NON-BUCKETED column
cannot be pruned by min/max column stats — an unsorted column's range
straddles every file, so the scan touches all of them. A per-file
Bloom filter proves "key definitely absent" per file from metadata
alone.

Design (Spark-first re-expression):

- :func:`compute_file_sketches` — ONE distributed pass over the data
  files, grouped on ``_metadata.file_path``: per (file, column) a
  Bloom bitset (k seeded Murmur3 positions per value — the SAME
  ``F.hash(col, seed)`` expression probes use, so write and probe can
  never drift) stored sparse as sorted set-bit ints, plus the file's
  exact NDV (swap in approx_count_distinct at corpus scale). The
  result lands in a JSON sidecar next to the table metadata and is
  referenced from table.json — the Puffin shape.
- Plan time — ``LedgerTable.plan_files`` consults the sidecar for
  ``=`` predicates: a file whose bitset misses ANY of the key's k
  positions provably excludes the key. Files appended after the
  sketch pass are simply absent from the sidecar → not prunable,
  never incorrect; rewritten files change paths, same property.
- Schema binding — Murmur3 is TYPE-sensitive (hash(1::INT) ≠
  hash(1::BIGINT)), so the descriptor records each sketched column's
  FIELD ID and declared type (the Iceberg-Puffin field-id reference
  model). A probe prunes with a column's bits only while the CURRENT
  schema still carries the same (id, type): widen_column changes the
  type, rename + re-add changes the id — both silently disable
  pruning for that column instead of wrong-pruning live rows.

Scale shape: the compute pass is a single map-side explode + per-file
aggregate (shuffle keyed on file_path — each reducer sees one file's
positions, ≤ m ints). Probing is driver-side set membership against
k integers per (file, column) — metadata-only, no data read: probe
positions are computed by a driver-side Murmur3 (verified against the
Spark expression in tests) with a memoized Spark-job fallback for
exotic types, so planning never launches a job for common key types.
"""

from __future__ import annotations

import fcntl
import json
import os
import struct

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from lakehouse_admin_spark.sources.ledger import LRU, file_uri_to_path

# default Bloom geometry: m=4096 bits, k=5 hashes → ~1% false-positive
# rate at ~420 distinct values/file; callers size m to their file NDV
BLOOM_M = 4096
BLOOM_K = 5

# sidecar JSON cache, bounded to the LATEST sidecar per table (keyed by
# the table's metadata dir; a new sketch pass REPLACES the table's
# entry) AND to 64 tables total — a long-lived server planning over
# many tables must not accumulate one sidecar per table forever.
# Values: (sidecar path, mtime, sidecar).
_SIDECAR_CACHE = LRU(64)

# memoized probe positions keyed by (type, value, m, k) — planning for
# the same key never recomputes, and never re-launches the Spark-job
# fallback path. LRU-bounded: a scan workload probing millions of
# distinct keys must not grow driver memory without bound.
_POSITIONS_CACHE = LRU(4096)
_FALLBACK_LOGGED: set[str] = set()  # key types logged once on fallback


def _positions_expr(col: str, m: int, k: int):
    """The k Bloom positions of a column value — pmod(Murmur3(value,
    seed), m) per seed. Murmur3 is TYPE-sensitive, so probes must cast
    literals to the column's declared type (see :func:`key_positions`)."""
    return F.array(
        *[F.pmod(F.hash(F.col(col), F.lit(i)), F.lit(m)) for i in range(k)]
    )


def _column_bindings(tbl, columns: list[str]) -> dict[str, dict]:
    """{name: {"id", "type"}} for the CURRENT schema — the identity a
    probe must re-verify before trusting the bits."""
    meta = tbl._load_meta()
    tbl._schema_versions(meta)  # ensure field ids exist
    by_name = {c["name"]: c for c in meta["columns"]}
    return {
        c: {"id": int(by_name[c]["id"]), "type": by_name[c]["type"]}
        for c in columns
    }


def compute_file_sketches(
    tbl, columns: list[str], m: int = BLOOM_M, k: int = BLOOM_K
) -> dict:
    """Build per-file Bloom + NDV sketches for ``columns`` over the
    CURRENT snapshot's data files and commit them as a sidecar. One
    distributed aggregate per column; returns summary counts."""
    entries = [e for e in tbl.live_files() if e.get("content", 0) == 0]
    if not entries:
        raise ValueError(f"{tbl.database}.{tbl.name}: no data files to sketch")
    schema_cols = {f.name for f in tbl.unified_schema().fields}
    for c in columns:
        if c not in schema_cols:
            raise ValueError(f"unknown column {c!r}")
    bindings = _column_bindings(tbl, columns)
    df = tbl._read_entries(entries, with_meta=True)
    sidecar: dict[str, dict] = {}
    for col in columns:
        agg = (
            df.select(
                "_mor_fp",
                F.col(col).alias("_v"),
                F.explode(_positions_expr(col, m, k)).alias("_p"),
            )
            .groupBy("_mor_fp")
            .agg(
                F.sort_array(F.collect_set("_p")).alias("bits"),
                F.countDistinct("_v").alias("ndv"),
            )
            .collect()
        )
        for row in agg:
            p = row["_mor_fp"]
            p = file_uri_to_path(p)
            sidecar.setdefault(p, {})[col] = {
                "bits": [int(b) for b in row["bits"]],
                "ndv": int(row["ndv"]),
            }
    sid = tbl.current_snapshot_id()
    fname = f"sketches-{sid}.json"
    path = os.path.join(tbl.meta_dir, fname)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(sidecar, fh)
    os.replace(tmp, path)
    # Publish the descriptor under the table's COMMIT LOCK with a
    # re-load-and-merge of ONLY the 'sketches' key: a snapshot commit
    # landing between a bare load and store would otherwise be silently
    # lost (or the sketch descriptor would be, depending on ordering).
    with open(os.path.join(tbl.meta_dir, "commit.lock"), "w") as lock_fh:
        fcntl.flock(lock_fh, fcntl.LOCK_EX)
        try:
            meta = tbl._load_meta()
            meta["sketches"] = {
                "snapshot_id": sid,
                "file": fname,
                "m": m,
                "k": k,
                "columns": sorted(columns),
                # schema binding: probes compare (id, type) against the
                # then-current schema and skip pruning on any mismatch
                "bindings": bindings,
            }
            tbl._store_meta(meta)
        finally:
            fcntl.flock(lock_fh, fcntl.LOCK_UN)
    return {
        "files_sketched": len(sidecar),
        "columns": sorted(columns),
        "snapshot_id": sid,
    }


def load_sketches(tbl) -> tuple[dict, dict] | None:
    """(descriptor, sidecar) for the table's current sketch pass, or
    None. The sidecar is keyed by data-file path — immutable files, so
    entries stay valid across later snapshots; new/rewritten paths are
    simply absent (unknown → not prunable)."""
    try:
        meta = tbl._load_meta()
    except FileNotFoundError:
        return None
    desc = meta.get("sketches")
    if not desc:
        return None
    path = os.path.join(tbl.meta_dir, desc["file"])
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return None

    def load() -> tuple[str, float, dict]:
        with open(path) as fh:
            sidecar = json.load(fh)
        # bits → sets for O(1) membership at probe time
        for fstats in sidecar.values():
            for cstats in fstats.values():
                cstats["bits"] = set(cstats["bits"])
        return path, mtime, sidecar

    cached = _SIDECAR_CACHE.peek(tbl.meta_dir)
    if cached is not None and cached[:2] != (path, mtime):
        _SIDECAR_CACHE.pop(tbl.meta_dir)  # a newer sketch pass replaces it
    return desc, _SIDECAR_CACHE.get(tbl.meta_dir, load)[2]


# ---------------------------------------------------------------------------
# Driver-side Murmur3_x86_32 — the exact arithmetic Spark's
# ``F.hash(col, seed)`` runs JVM-side (Murmur3Hash over
# Murmur3_x86_32.hashInt/hashLong/hashUnsafeBytes), so probe positions
# come from plain Python instead of a Spark job on the planning path.
# Parity with the expression is pinned in tests/test_sketches.py.
# ---------------------------------------------------------------------------
_C1 = 0xCC9E2D51
_C2 = 0x1B873593


def _i32(x: int) -> int:
    """Wrap to signed 32-bit (Java int overflow semantics)."""
    x &= 0xFFFFFFFF
    return x - 0x100000000 if x >= 0x80000000 else x


def _rotl(x: int, n: int) -> int:
    x &= 0xFFFFFFFF
    return ((x << n) | (x >> (32 - n))) & 0xFFFFFFFF


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & 0xFFFFFFFF
    k1 = _rotl(k1, 15)
    return (k1 * _C2) & 0xFFFFFFFF


def _mix_h1(h1: int, k1: int) -> int:
    h1 = (h1 ^ k1) & 0xFFFFFFFF
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def _fmix(h1: int, length: int) -> int:
    h1 = (h1 ^ length) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return _i32(h1)


def _hash_int(value: int, seed: int) -> int:
    return _fmix(_mix_h1(seed & 0xFFFFFFFF, _mix_k1(value & 0xFFFFFFFF)), 4)


def _hash_long(value: int, seed: int) -> int:
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & 0xFFFFFFFF, _mix_k1(v & 0xFFFFFFFF))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & 0xFFFFFFFF))
    return _fmix(h1, 8)


def _hash_bytes(data: bytes, seed: int) -> int:
    """Spark's hashUnsafeBytes: 4-byte little-endian words, then tail
    bytes one at a time as SIGNED ints through the same mix."""
    h1 = seed & 0xFFFFFFFF
    aligned = len(data) - len(data) % 4
    for i in range(0, aligned, 4):
        (word,) = struct.unpack_from("<i", data, i)
        h1 = _mix_h1(h1, _mix_k1(word & 0xFFFFFFFF))
    for i in range(aligned, len(data)):
        b = data[i]
        b = b - 256 if b >= 128 else b  # signed byte
        h1 = _mix_h1(h1, _mix_k1(b & 0xFFFFFFFF))
    return _fmix(h1, len(data))


_EPOCH_DATE = None  # lazy datetime imports (cold-start cost)


def _date_days(value) -> int:
    """Days since 1970-01-01 — Spark stores DateType as this int."""
    import datetime as _dt

    d = value
    if isinstance(d, str):
        d = _dt.date.fromisoformat(d)
    if isinstance(d, _dt.datetime):
        d = d.date()
    return (d - _dt.date(1970, 1, 1)).days


def _timestamp_micros(value, tz_name: str | None) -> int | None:
    """Microseconds since the epoch — Spark stores TimestampType (LTZ)
    as this long. A NAIVE value/string is interpreted in the SESSION
    time zone (exactly what Spark's cast does); if the zone can't be
    resolved return None and let the Spark-job fallback answer."""
    import datetime as _dt

    t = value
    if isinstance(t, str):
        t = _dt.datetime.fromisoformat(t)
    elif isinstance(t, _dt.date) and not isinstance(t, _dt.datetime):
        t = _dt.datetime(t.year, t.month, t.day)
    if t.tzinfo is None:
        try:
            from zoneinfo import ZoneInfo

            t = t.replace(tzinfo=ZoneInfo(tz_name or "UTC"))
        except Exception:
            return None
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (t - epoch) // _dt.timedelta(microseconds=1)


def _decimal_unscaled(value, precision: int, scale: int) -> int:
    """The unscaled long/BigInteger of ``value`` at the column's scale
    (Spark casts literals with HALF_UP)."""
    import decimal as _d

    dv = value if isinstance(value, _d.Decimal) else _d.Decimal(str(value))
    with _d.localcontext() as ctx:
        ctx.prec = max(precision + scale + 4, 40)
        q = dv.quantize(_d.Decimal(1).scaleb(-scale), rounding=_d.ROUND_HALF_UP)
        return int(q.scaleb(scale))


def _big_integer_bytes(v: int) -> bytes:
    """java.math.BigInteger.toByteArray: minimal big-endian two's
    complement (bitLength // 8 + 1 bytes, Java's bitLength)."""
    jbits = v.bit_length() if v >= 0 else (-v - 1).bit_length()
    return v.to_bytes(jbits // 8 + 1, "big", signed=True)


def _driver_positions(
    key_type, value, m: int, k: int, tz_name: str | None = None
) -> list[int] | None:
    """Probe positions computed driver-side for the common key types;
    None for types the pure-Python path doesn't cover (fallback: one
    memoized Spark job). ``F.hash(col, lit(i))`` is Spark's MULTI-column
    Murmur3: fold over the children with initial seed 42, each child's
    fmix'd result seeding the next — so position i is
    hashInt(i, hash<type>(value, 42)).

    Covered: int/bigint/string plus the partition-math types the admin
    plane filters on — DATE (hashInt of epoch days), TIMESTAMP
    (hashLong of epoch micros, naive values resolved in the session
    zone) and DECIMAL (hashLong of the unscaled value for precision
    <= 18, else hashUnsafeBytes of BigInteger.toByteArray)."""
    from pyspark.sql.types import DateType, DecimalType, TimestampType

    if isinstance(key_type, (IntegerType, ShortType, ByteType)):
        hv = _hash_int(int(value), 42)
    elif isinstance(key_type, LongType):
        hv = _hash_long(int(value), 42)
    elif isinstance(key_type, StringType):
        hv = _hash_bytes(str(value).encode("utf-8"), 42)
    elif isinstance(key_type, DateType):
        hv = _hash_int(_date_days(value), 42)
    elif isinstance(key_type, TimestampType):
        micros = _timestamp_micros(value, tz_name)
        if micros is None:
            return None
        hv = _hash_long(micros, 42)
    elif isinstance(key_type, DecimalType):
        unscaled = _decimal_unscaled(value, key_type.precision, key_type.scale)
        if key_type.precision <= 18:
            hv = _hash_long(unscaled, 42)
        else:
            hv = _hash_bytes(_big_integer_bytes(unscaled), 42)
    else:
        return None
    # pmod: Spark's pmod(a, m) is ((a % m) + m) % m; Python % is
    # already non-negative for positive m
    return [_hash_int(i, hv) % m for i in range(k)]


def key_positions(tbl, col: str, value, m: int, k: int) -> list[int]:
    """The probe key's k Bloom positions under the column's DECLARED
    type (Murmur3 hashes INT and BIGINT differently). Driver-side
    Murmur3 for int/bigint/string keys — the planning hot path stays
    metadata-only; other types fall back to one 1-row Spark job per
    DISTINCT (type, value, m, k), memoized."""
    key_type = {f.name: f.dataType for f in tbl.unified_schema().fields}[col]
    ck = (key_type.simpleString(), value, m, k)

    def compute() -> list[int]:
        try:
            tz_name = tbl.spark.conf.get("spark.sql.session.timeZone")
        except Exception:
            tz_name = None
        pos = _driver_positions(key_type, value, m, k, tz_name)
        if pos is None:
            ts = key_type.simpleString()
            if ts not in _FALLBACK_LOGGED:  # log ONCE per type: the probe
                # leaves the metadata-only planning path (1-row Spark job)
                _FALLBACK_LOGGED.add(ts)
                import logging

                logging.getLogger(__name__).warning(
                    "sketch probe for %s key type %s has no driver-side "
                    "Murmur3 — falling back to a memoized 1-row Spark job",
                    col,
                    ts,
                )
            lit = F.lit(value).cast(key_type)
            row = (
                tbl.spark.range(1)
                .select(
                    F.array(
                        *[F.pmod(F.hash(lit, F.lit(i)), F.lit(m)) for i in range(k)]
                    ).alias("p")
                )
                .collect()
            )
            pos = [int(x) for x in row[0]["p"]]
        return pos

    return _POSITIONS_CACHE.get(ck, compute)


def prunable_by_sketch(
    tbl, entries: list[dict], predicates: list[tuple[str, str, object]]
) -> set[str]:
    """File paths among ``entries`` that the Bloom sidecar PROVES
    cannot contain some ``col = value`` predicate's key. Files without
    a sidecar entry (appended/rewritten after the sketch pass) are
    never pruned, and a column whose CURRENT (field id, type) no longer
    matches the sketch-time binding (widened, or renamed away and the
    name reused) never prunes — its bits were hashed under a different
    identity, so they prove nothing about today's reads."""
    loaded = load_sketches(tbl)
    if not loaded:
        return set()
    desc, sidecar = loaded
    eq_preds = [
        (c, v)
        for c, op, v in predicates
        if op == "=" and c in desc["columns"]
    ]
    if not eq_preds:
        return set()
    # re-verify schema binding against the CURRENT schema (a dropped
    # column simply has no current binding → never prunes)
    bindings = desc.get("bindings")
    if bindings is None:
        # legacy descriptor without bindings: unverifiable → never prune
        return set()
    meta = tbl._load_meta()
    tbl._schema_versions(meta)  # ensure field ids exist
    current = {
        c["name"]: {"id": int(c["id"]), "type": c["type"]}
        for c in meta["columns"]
    }
    eq_preds = [
        (c, v)
        for c, v in eq_preds
        if c in bindings
        and c in current
        and bindings[c]["id"] == current[c]["id"]
        and bindings[c]["type"] == current[c]["type"]
    ]
    if not eq_preds:
        return set()
    m, k = int(desc["m"]), int(desc["k"])
    pruned: set[str] = set()
    for col, value in eq_preds:
        pos = key_positions(tbl, col, value, m, k)
        for e in entries:
            fstats = sidecar.get(e["file_path"])
            if fstats is None or col not in fstats:
                continue
            bits = fstats[col]["bits"]
            if any(p not in bits for p in pos):
                pruned.add(e["file_path"])
    return pruned
