"""Ledger — a minimal snapshot-based lakehouse table format.

The reference administers Apache Iceberg tables: snapshot lineage,
per-file partition/record/size stats, hidden partition transforms, and
maintenance procedures (reference: backend/internal/iceberg_client.go,
backend/build/spark/maintenance.py). This container has no Iceberg
runtime jar, so the engine ships its own idiom-faithful format with the
same observable semantics:

    warehouse/<db>/<table>/
        metadata/
            table.json            table-level metadata (schema string,
                                  partition spec, current snapshot id)
            snap-<id>.json        one manifest per snapshot: operation,
                                  parent, summary, full live-file list
                                  with per-file partition values,
                                  record_count, file_size_in_bytes
        data/<k=v dirs>/*.parquet hive-layout data files

Division of labor mirrors Iceberg-on-Spark exactly:
- DATA operations (write, compact, scan) are distributed Spark jobs;
- METADATA operations (manifest read/write, snapshot pointer) are
  driver-side and O(files), never O(rows) — parquet row counts come
  from footers (pyarrow metadata read), not data scans.

Partition transforms supported (reference: iceberg_client.go:422-496):
identity, year/month/day (hidden date transforms), bucket[N], truncate[W].
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# Spark's `_metadata.file_path` is the Hadoop Path URI (java.net.URI
# .toString()): ASCII chars outside unreserved/sub-delims/":@/" are
# percent-encoded; non-ASCII stays RAW (toString, not toASCIIString).
# Manifests store plain filesystem paths, so every comparison between
# the two sides funnels through this pair (pinned by an end-to-end
# test against a real `_metadata.file_path` read).
_URI_PATH_SAFE = frozenset(
    "/!$&'()*+,;=:@-._~"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
)


def path_to_file_uri(p: str) -> str:
    """Plain absolute path -> the exact `file:` URI Spark reports in
    `_metadata.file_path` (and therefore stores in delete files)."""
    if p.startswith("file:"):
        return p
    from urllib.parse import quote

    enc = "".join(
        c if (ord(c) > 127 or c in _URI_PATH_SAFE) else quote(c) for c in p
    )
    return "file:" + enc


def file_uri_to_path(u: str) -> str:
    """`file:` URI (as stored by Spark delete scans) -> plain path.
    Percent-decoding is unambiguous regardless of which characters the
    encoder chose to escape."""
    if not u.startswith("file:"):
        return u
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(u).path)


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: the table's current snapshot
    advanced between this writer's read and its commit (Iceberg's
    commit-conflict semantics). Callers re-read and retry; append
    retries automatically (its delta is parent-independent)."""



@dataclass(frozen=True)
class PartitionField:
    """One field of a partition spec: a source column + transform."""

    source: str  # source column name (may be nested: "goal.conversionHappenedAt")
    transform: str  # identity | year | month | day | bucket[N] | truncate[W]
    name: str  # partition field name (e.g. "ts_day")

    def to_json(self) -> dict:
        return {"source": self.source, "transform": self.transform, "name": self.name}

    @staticmethod
    def from_json(d: dict) -> "PartitionField":
        return PartitionField(d["source"], d["transform"], d["name"])


def transform_expr(f: PartitionField) -> Column:
    """The Spark expression computing a partition value (as STRING — the
    reference carries partition values stringly-typed,
    types_iceberg.go:59)."""
    src = F.col(f.source)
    t = f.transform
    if t == "identity":
        return src.cast("string")
    if t == "year":
        return F.date_format(src, "yyyy")
    if t == "month":
        return F.date_format(src, "yyyy-MM")
    if t == "day":
        return F.date_format(src, "yyyy-MM-dd")
    m = re.fullmatch(r"bucket\[(\d+)\]", t)
    if m:
        n = int(m.group(1))
        return (F.pmod(F.hash(src), F.lit(n))).cast("string")
    m = re.fullmatch(r"truncate\[(\d+)\]", t)
    if m:
        w = int(m.group(1))
        return F.substring(src.cast("string"), 1, w)
    raise ValueError(f"unknown transform {t!r}")


FOLD_EVERY = 32  # LEGACY delta-chain length bound (reading old tables)

# Segmented commit log: merge the two TRAILING manifest segments while
# the earlier one is at most MERGE_FACTOR x the later one's weight —
# the size-tiered (LSM-style) policy that keeps the manifest list at
# O(log files) segments with O(log files) amortized rewrites per entry.
MERGE_FACTOR = 2

# Manifest-segment BODY format for NEW segments. "parquet" (default)
# streams entries as typed columns via pyarrow — a merged head segment
# with 10^6 entries is read row-group by row-group instead of one
# multi-GB json.load (the reason Iceberg manifests are avro, not JSON;
# reference context: backend/internal/types.go:27). "json" is the
# legacy body, still fully readable (and writable, for tests that pin
# mixed-format chains).
SEGMENT_FORMAT = "parquet"

# row-group size for parquet segment bodies: bounds the driver's peak
# per-batch materialization when streaming a large segment
_SEGMENT_ROW_GROUP = 65536

# typed hot columns of a parquet segment body (everything else —
# partition values, column_stats, null_counts, equality_ids, future
# keys — rides in extras_json per entry, so the format never loses a
# field it doesn't know about)
_SEGMENT_SCALARS = (
    ("record_count", "int64"),
    ("file_size_in_bytes", "int64"),
    ("sequence_number", "int64"),
    ("spec_id", "int32"),
    ("schema_id", "int32"),
    ("content", "int32"),
    ("file_format", "string"),
)

class LRU:
    """A locked, bounded least-recently-used map for immutable driver
    metadata (segment bodies, per-snapshot file views, sketch sidecars,
    probe positions) — the one cache class outside the session-index
    registry. Safe under concurrent readers (the admin server is a
    ``ThreadingHTTPServer``): every map operation holds one lock, and
    builds run OUTSIDE it, so a slow segment read never blocks lookups
    of other keys. Two threads missing the same key may both build; the
    first insert wins and both get that value (values are immutable, so
    either is correct).

    Bounded by ``max_items`` and, optionally, by ``max_weight`` summed
    over ``weigh(value)`` — a count-only bound would admit 32 cached
    million-entry inventories (a multi-GB driver heap at 10 TB-class
    tables). A single over-weight item may remain alone (its caller
    needs it this instant); it evicts as soon as anything newer lands.
    Eviction just re-reads: the cached values are immutable."""

    def __init__(self, max_items: int, max_weight: int | None = None, weigh=None):
        self.max_items, self.max_weight, self._weigh = max_items, max_weight, weigh
        self._lock = threading.Lock()
        self._items: OrderedDict = OrderedDict()
        self._weight = 0  # running sum of weigh() over _items

    def __len__(self) -> int:
        return len(self._items)

    def get(self, key, build):
        """The cached value for ``key``, or ``build()``'s (cached)."""
        with self._lock:
            hit = self._items.get(key)
            if hit is not None:
                self._items.move_to_end(key)
                return hit
        value = build()
        with self._lock:
            hit = self._items.get(key)
            if hit is not None:  # a concurrent build landed first
                self._items.move_to_end(key)
                return hit
            self._items[key] = value
            if self._weigh is not None:
                self._weight += self._weigh(value)
            while len(self._items) > self.max_items or (
                self.max_weight is not None
                and len(self._items) > 1
                and self._weight > self.max_weight
            ):
                self._discard(next(iter(self._items)))
        return value

    def peek(self, key):
        """The cached value for ``key`` or None; never builds and
        leaves the recency order alone."""
        with self._lock:
            return self._items.get(key)

    def pop(self, key) -> None:
        with self._lock:
            if key in self._items:
                self._discard(key)

    def clear(self) -> None:
        with self._lock:
            self._items.clear()
            self._weight = 0

    def _discard(self, key) -> None:  # lock held
        value = self._items.pop(key)
        if self._weigh is not None:
            self._weight -= self._weigh(value)


def _seg_weight(seg: dict) -> int:
    return len(seg.get("added", ())) + len(seg.get("removed", ()))


# abs segment path -> parsed body; bounded so a long-lived server
# planning many tables can't accumulate one inventory per table in
# driver memory. Weight caps (total manifest entries) are chosen for a
# ~low-hundreds-of-MB worst case.
_SEGMENT_CACHE = LRU(32, 2_000_000, _seg_weight)


class _SnapshotFiles:
    """One committed snapshot's immutable file views, cached together
    under ``(meta_dir, snapshot_id)``: the live entry list (the segment
    merge replayed once per snapshot, not once per plan), its lazily
    built DATA-only (content == 0) subset — a pointer list into the
    same entry dicts, so warm plan_files never re-filters O(files) —
    and the per-column lookup indexes built over that subset (see
    :meth:`LedgerTable._eq_index` / :meth:`LedgerTable._range_index`).
    Lazy fields may be built twice by racing threads; both builds are
    equal, so the last assignment is as good as the first."""

    __slots__ = ("live", "_data", "eq", "range")

    def __init__(self, live: list[dict]):
        self.live = live
        self._data: list[dict] | None = None
        self.eq: dict[str, tuple] = {}
        self.range: dict[str, tuple] = {}

    @property
    def data(self) -> list[dict]:
        if self._data is None:
            self._data = [e for e in self.live if e.get("content", 0) == 0]
        return self._data


_SNAPSHOT_CACHE = LRU(8, 2_000_000, lambda s: len(s.live))


def invalidate_live_files_cache(meta_dir: str, snapshot_id: int) -> None:
    """Drop one snapshot's cached file views. Required when a snapshot
    JSON is DELETED and its id may be re-assigned — an aborted
    transaction's staged snapshot is the one such path (expired
    snapshots keep the current head, so their ids never recycle)."""
    _SNAPSHOT_CACHE.pop((os.path.abspath(meta_dir), snapshot_id))


class Snapshot:
    """One commit. Three storage forms (newest first):

    - SEGMENTED (the Iceberg ``manifest_list`` design,
      reference: backend/internal/types.go:27 ``Snapshot.ManifestList``):
      the snapshot JSON holds ``manifest_list`` — an ordered list of
      descriptors pointing at IMMUTABLE segment files
      (``mseg-*.parquet``, typed columns + per-entry extras; legacy
      ``mseg-*.json`` bodies still read — each decodes to
      ``{"added": [entries], "removed":
      [paths]}``) shared across snapshots — plus ``own_segment``, the
      commit's own delta record (the CDC/incremental-scan source).
      A commit writes one O(delta) segment and an
      O(log files) manifest list; it NEVER serializes the table's
      file inventory. Size-tiered merging (factor
      :data:`MERGE_FACTOR`) bounds the list at O(log files) segments
      with O(log files) amortized entry rewrites.
    - FOLD (legacy): ``files`` holds the complete live-file list
      inline.
    - DELTA (legacy): ``added``/``removed`` relative to the parent,
      chains bounded by :data:`FOLD_EVERY`.

    Legacy forms are still read (and folded by expire_snapshots when
    their ancestry is about to be destroyed); all new commits write
    the segmented form. A legacy parent's inventory is folded into a
    single base segment ONCE at the first segmented commit.
    """

    def __init__(
        self,
        snapshot_id: int,
        parent_id: int | None,
        committed_at_ms: int,
        operation: str,  # append | overwrite | delete | replace | rollback
        summary: dict[str, str],
        files: list[dict] | None = None,
        *,
        added: list[dict] | None = None,
        removed: list[str] | None = None,
        delta_depth: int = 0,
        manifest_list: list[dict] | None = None,
        own_segment: dict | None = None,
    ):
        self.snapshot_id = snapshot_id
        self.parent_id = parent_id
        self.committed_at_ms = committed_at_ms
        self.operation = operation
        self.summary = summary
        self._files = files
        self._added = added
        self._removed = removed
        self.delta_depth = delta_depth
        self.manifest_list = manifest_list
        self.own_segment = own_segment
        self._table: "LedgerTable | None" = None
        self._materialized: list[dict] | None = None

    @property
    def is_fold(self) -> bool:
        return self._files is not None

    @property
    def is_segmented(self) -> bool:
        return self.manifest_list is not None

    @property
    def depth(self) -> int:
        return 0 if (self.is_fold or self.is_segmented) else self.delta_depth

    @property
    def added(self) -> list[dict]:
        """This commit's added manifest entries (O(delta), lazy-loaded
        from the own segment for segmented snapshots)."""
        if self._added is None:
            self._load_own_delta()
        return self._added

    @property
    def removed(self) -> list[str]:
        """This commit's removed file paths (O(delta), lazy)."""
        if self._removed is None:
            self._load_own_delta()
        return self._removed

    def _load_own_delta(self) -> None:
        if self.is_segmented and self.own_segment is not None:
            if self._table is None:
                raise ValueError(
                    f"segmented snapshot {self.snapshot_id} requires table context"
                )
            seg = self._table._read_segment(self.own_segment["path"])
            self._added = list(seg.get("added", []))
            self._removed = list(seg.get("removed", []))
        else:
            self._added = self._added or []
            self._removed = self._removed or []

    @property
    def files(self) -> list[dict]:
        """The complete live-file list AT this snapshot (materialized
        on demand; cached per instance). Segmented form streams the
        manifest list's segments in order; legacy delta form replays
        ancestry to the nearest fold."""
        if self._files is not None:
            return self._files
        if self._materialized is None:
            if self._table is None:
                raise ValueError(
                    f"snapshot {self.snapshot_id} requires table context"
                )
            if self.is_segmented:
                entries: dict[str, dict] = {}
                for desc in self.manifest_list:
                    seg = self._table._read_segment(desc["path"])
                    for p in seg.get("removed", []):
                        entries.pop(p, None)
                    for e in seg.get("added", []):
                        entries[e["file_path"]] = e
                self._materialized = list(entries.values())
                return self._materialized
            chain: list[Snapshot] = [self]
            cur: Snapshot = self
            while (
                not cur.is_fold
                and not cur.is_segmented
                and cur.parent_id is not None
            ):
                cur = self._table.snapshot(cur.parent_id)
                chain.append(cur)
            base = chain[-1]
            if base.is_fold:
                entries = {e["file_path"]: e for e in base._files}
                deltas = chain[:-1]
            elif base.is_segmented:
                entries = {e["file_path"]: e for e in base.files}
                deltas = chain[:-1]
            else:  # parentless delta: empty base
                entries = {}
                deltas = chain
            for s in reversed(deltas):
                for p in s.removed:
                    entries.pop(p, None)
                for e in s.added:
                    entries[e["file_path"]] = e
            self._materialized = list(entries.values())
        return self._materialized

    def fold(self) -> "Snapshot":
        """A fold-form copy of this snapshot (full file list inline)."""
        out = Snapshot(
            self.snapshot_id,
            self.parent_id,
            self.committed_at_ms,
            self.operation,
            self.summary,
            files=list(self.files),
        )
        out._table = self._table
        return out

    def to_json(self) -> dict:
        d = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "committed_at_ms": self.committed_at_ms,
            "operation": self.operation,
            "summary": self.summary,
        }
        if self.manifest_list is not None:
            d["manifest_list"] = self.manifest_list
            if self.own_segment is not None:
                d["own_segment"] = self.own_segment
        elif self._files is not None:
            d["files"] = self._files
        else:
            d["added"] = self._added or []
            d["removed"] = self._removed or []
            d["delta_depth"] = self.delta_depth
        return d

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"],
            d.get("parent_id"),
            d["committed_at_ms"],
            d["operation"],
            d.get("summary", {}),
            files=d.get("files"),
            added=d.get("added"),
            removed=d.get("removed"),
            delta_depth=int(d.get("delta_depth", 0)),
            manifest_list=d.get("manifest_list"),
            own_segment=d.get("own_segment"),
        )


def _data_files(entries: list[dict]) -> list[dict]:
    """DATA entries only (content = 0) — summary totals describe data
    files, never position deletes (Iceberg snapshot-summary semantics)."""
    return [e for e in entries if e.get("content", 0) == 0]


_SEGMENT_SCALAR_KEYS = frozenset(k for k, _t in _SEGMENT_SCALARS)


def _segment_summary(added: list[dict]) -> dict:
    """Manifest-list summary for one segment (the Iceberg
    manifest-list partition/column-summary analog, reference context
    types.go:27): per-column [min, max] over the segment's ADDED DATA
    entries' footer stats, plus an (upper-bound) data-entry count.
    A column missing stats on any data entry — or with mixed stats
    types across entries — is OMITTED, and omitted means unskippable,
    so summaries can only ever widen the planned set. plan_files uses
    these to skip reading entire segment BODIES on a cold plan."""
    cols: dict[str, list] = {}
    dead: set[str] = set()
    n_data = 0
    for e in added:
        if e.get("content", 0) != 0:
            continue
        n_data += 1
        stats = e.get("column_stats") or {}
        for c in list(cols):
            if c not in stats:
                dead.add(c)
                del cols[c]
        for c, rng in stats.items():
            if c in dead:
                continue
            if rng is None or rng[0] is None or rng[1] is None:
                dead.add(c)
                cols.pop(c, None)
                continue
            prev = cols.get(c)
            if prev is None:
                if n_data > 1:  # earlier data entries lacked this column
                    dead.add(c)
                    continue
                cols[c] = [rng[0], rng[1]]
                continue
            try:
                cols[c] = [min(prev[0], rng[0]), max(prev[1], rng[1])]
            except TypeError:  # mixed stats types → unskippable column
                dead.add(c)
                del cols[c]
    return {"n_data": n_data, "cols": cols}


def _combine_summaries(a: dict | None, b: dict | None) -> dict | None:
    """Conservative union of two segment summaries for a merged
    segment: ranges widen, counts add (an upper bound — removals and
    overrides only shrink the true count, and skippability only needs
    'can anything match'), and a column absent from either side is
    omitted. ``None`` (a legacy descriptor without a summary) poisons
    the result to None: unskippable."""
    if a is None or b is None:
        return None
    if a.get("n_data", 1) == 0:
        return {"n_data": b.get("n_data", 0), "cols": dict(b.get("cols", {}))}
    if b.get("n_data", 1) == 0:
        return {"n_data": a.get("n_data", 0), "cols": dict(a.get("cols", {}))}
    cols = {}
    for c, ra in (a.get("cols") or {}).items():
        rb = (b.get("cols") or {}).get(c)
        if rb is None:
            continue
        try:
            cols[c] = [min(ra[0], rb[0]), max(ra[1], rb[1])]
        except TypeError:
            continue
    return {"n_data": a.get("n_data", 0) + b.get("n_data", 0), "cols": cols}


def _entry_may_match(entry: dict, predicates: list[tuple]) -> bool:
    """The residual per-entry pruning rule (plan_files' ground truth):
    keep unless the entry's exact footer stats PROVE no row can match
    every predicate. Unknown — missing stats, missing null counts,
    incomparable probe types — always keeps."""
    stats = entry.get("column_stats") or {}
    nulls = entry.get("null_counts") or {}
    for col, op, val in predicates:
        if op in ("is_null", "not_null"):
            nc = nulls.get(col)
            if nc is None:
                continue  # no null stats → cannot skip
            if op == "is_null" and nc == 0:
                return False
            if op == "not_null" and nc >= entry["record_count"]:
                return False
            continue
        rng = stats.get(col)
        if rng is None:
            continue  # no stats → cannot skip
        lo, hi = rng
        try:
            possible = {
                "<": lo < val,
                "<=": lo <= val,
                ">": hi > val,
                ">=": hi >= val,
                "=": lo <= val <= hi,
            }[op]
        except TypeError:
            continue  # incomparable types → cannot skip
        if not possible:
            return False
    return True


def _combine_readds(a_desc: dict, b_desc: dict) -> int | None:
    """Upper bound on a merged segment's re-add count: the merged adds
    are a subset of the inputs' adds, and merging can only COLLAPSE
    re-adds (b's override of a's entry becomes one row), so the sum is
    a valid bound. A descriptor missing the field (pre-r9 legacy)
    poisons the result to None = unknown → the merged segment is never
    skipped on cold plans."""
    ra, rb = a_desc.get("readds"), b_desc.get("readds")
    if ra is None or rb is None:
        return None
    return int(ra) + int(rb)


def _write_parquet_segment(
    path: str,
    added: list[dict],
    removed: list[str],
    stat_cols: "list[tuple[str, str]] | None" = None,
) -> None:
    """Serialize one segment body as parquet: one row per added entry
    (kind=0) or removed path (kind=1). Two complementary layouts in
    one file:

    - TYPED hot columns (file_path, record_count, sizes, ids, content,
      sequence_number) — a projected metadata read (e.g. "just the
      paths and sizes of a 10^6-file segment") scans a few MB of one
      column instead of decoding entries;
    - TYPED per-column stat bounds (``slo_*``/``shi_*``, r9) — widened
      [lo, hi] per table column, so a cold pruned plan masks rows
      C-side and parses only candidate documents
      (:meth:`LedgerTable._segment_matching_entries`);
    - ``entry_json`` — the COMPLETE entry as one ~300 B document, so
      the full decode is a single C-level ``json.loads`` per row-group
      batch with peak driver memory bounded by
      :data:`_SEGMENT_ROW_GROUP` rows, never the whole inventory.

    Measured at 10^6 entries (BASELINE.md r8): on-disk body 22 MB vs
    429 MB legacy JSON (~20x), write ~1.5x faster, decode CPU ~1.4x
    the monolithic parse (same logical bytes, batched) — the right
    trade at scale, where segment reads are object-store I/O-bound
    (20x fewer bytes) and the 429 MB text blob + full parse-tree
    peak heap is the failure mode, not CPU."""
    import pyarrow as pa

    n_add, n_rem = len(added), len(removed)
    cols: dict[str, pa.Array] = {
        "kind": pa.array([0] * n_add + [1] * n_rem, pa.int8()),
        "file_path": pa.array(
            [e["file_path"] for e in added] + list(removed), pa.string()
        ),
    }
    for key, typ in _SEGMENT_SCALARS:
        cols[key] = pa.array(
            [e.get(key) for e in added] + [None] * n_rem, pa.type_for_alias(typ)
        )
    # TYPED per-row column stats (r9): for each data column whose
    # footer stats are homogeneously numeric (resp. string) across the
    # segment, write slo_n:/shi_n: float64 (resp. slo_s:/shi_s: string)
    # columns. Numeric bounds are WIDENED by one ulp so double
    # rounding of big int64s can only widen a file's range — a typed
    # prefilter may then keep extra rows, never drop a match. These
    # columns let a cold pruned plan mask rows C-side and json-parse
    # ONLY the selected entry documents (see
    # LedgerTable._segment_matching_entries); missing column ⇒ no
    # constraint ⇒ keep, exactly the residual pruner's unknown rule.
    import math

    def _num_ok(v) -> bool:
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    if stat_cols is None:
        stat_cols = _classify_stat_columns(added)
    for c, kind_ in stat_cols:
        los, his = [], []
        for e in added:
            rng = (e.get("column_stats") or {}).get(c)
            lo = hi = None
            if rng is not None and rng[0] is not None and rng[1] is not None:
                if kind_ == "n" and _num_ok(rng[0]) and _num_ok(rng[1]):
                    try:
                        lo = math.nextafter(float(rng[0]), -math.inf)
                        hi = math.nextafter(float(rng[1]), math.inf)
                    except OverflowError:
                        lo = hi = None
                elif (
                    kind_ == "s"
                    and isinstance(rng[0], str)
                    and isinstance(rng[1], str)
                ):
                    lo, hi = rng[0], rng[1]
            los.append(lo)
            his.append(hi)
        typ = pa.float64() if kind_ == "n" else pa.string()
        cols[f"slo_{kind_}:{c}"] = pa.array(los + [None] * n_rem, typ)
        cols[f"shi_{kind_}:{c}"] = pa.array(his + [None] * n_rem, typ)
    cols["entry_json"] = pa.array(
        [json.dumps(e, separators=(",", ":")) for e in added] + [None] * n_rem,
        pa.string(),
    )
    pq.write_table(
        pa.table(cols), path, row_group_size=_SEGMENT_ROW_GROUP, compression="zstd"
    )


def _classify_stat_columns(added: list[dict]) -> list[tuple[str, str]]:
    """(column, "n"|"s") for every stats column whose non-null [lo, hi]
    pairs are homogeneously numeric (int/float, bools excluded) or
    homogeneously string across the segment's added entries. Mixed or
    exotic types are omitted — omitted means no typed column, which the
    prefilter treats as unskippable."""
    kinds: dict[str, str] = {}
    for e in added:
        for c, rng in (e.get("column_stats") or {}).items():
            if rng is None or rng[0] is None or rng[1] is None:
                continue
            lo, hi = rng
            if (
                isinstance(lo, (int, float))
                and isinstance(hi, (int, float))
                and not isinstance(lo, bool)
                and not isinstance(hi, bool)
            ):
                k = "n"
            elif isinstance(lo, str) and isinstance(hi, str):
                k = "s"
            else:
                k = "x"
            prev = kinds.get(c)
            if prev is None:
                kinds[c] = k
            elif prev != k:
                kinds[c] = "x"
    return sorted((c, k) for c, k in kinds.items() if k != "x")


def _read_parquet_segment(path: str) -> dict:
    """Stream a parquet segment body back to {"added": [entries],
    "removed": [paths]}: per row-group batch, ONE batched json.loads
    over the joined entry documents — no monolithic whole-file parse,
    no per-row decode overhead."""
    added: list[dict] = []
    removed: list[str] = []
    pf = pq.ParquetFile(path)
    try:
        for batch in pf.iter_batches(
            batch_size=_SEGMENT_ROW_GROUP, columns=["kind", "file_path", "entry_json"]
        ):
            kinds = batch.column("kind").to_pylist()
            if 1 in kinds:
                paths = batch.column("file_path").to_pylist()
                removed.extend(p for k, p in zip(kinds, paths) if k == 1)
                docs = [
                    s
                    for k, s in zip(kinds, batch.column("entry_json").to_pylist())
                    if k == 0
                ]
            else:
                docs = batch.column("entry_json").to_pylist()
            if docs:
                added.extend(json.loads("[" + ",".join(docs) + "]"))
    finally:
        pf.close()
    return {"added": added, "removed": removed}


class LedgerTable:
    """Handle to one ledger table."""

    def __init__(self, spark: SparkSession, warehouse: str, database: str, name: str):
        self.spark = spark
        self.warehouse = warehouse
        self.database = database
        self.name = name
        self.root = os.path.join(warehouse, database, name)
        self.meta_dir = os.path.join(self.root, "metadata")
        self.data_dir = os.path.join(self.root, "data")

    # ------------------------------------------------------------------
    # metadata io (driver-side, O(files) — the Iceberg-manifest analog)
    # ------------------------------------------------------------------
    @property
    def _table_json(self) -> str:
        return os.path.join(self.meta_dir, "table.json")

    def _load_meta(self) -> dict:
        with open(self._table_json) as fh:
            return json.load(fh)

    def _store_meta(self, meta: dict) -> None:
        tmp = self._table_json + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh, indent=1)
        os.replace(tmp, self._table_json)  # atomic commit (the "swap pointer")

    def exists(self) -> bool:
        return os.path.exists(self._table_json)

    def properties(self) -> dict[str, str]:
        """Free-form table properties (Iceberg's table-properties map)
        — e.g. a derived index table records its source dataset here so
        cache hits can verify provenance, and its training statistics
        so drift checks stay O(delta)."""
        return dict(self._load_meta().get("properties", {}))

    def set_property(self, key: str, value: str) -> None:
        """Set/replace one table property (Iceberg ALTER TABLE SET
        TBLPROPERTIES analog). The read-modify-write runs under
        commit.lock: table.json also holds current_snapshot_id, so an
        unlocked RMW racing a commit would silently revert the head
        pointer and orphan the other writer's snapshot."""
        with self._commit_lock():
            meta = self._load_meta()
            props = meta.get("properties") or {}
            props[str(key)] = str(value)
            meta["properties"] = props
            self._store_meta(meta)

    def partition_spec(self) -> list[PartitionField]:
        """The current (default) partition spec."""
        meta = self._load_meta()
        return [PartitionField.from_json(d) for d in meta["partition_spec"]]

    def all_specs(self) -> dict[int, list[PartitionField]]:
        """Every spec version ever used (files reference them by
        spec_id — the reference carries spec_id through partitions and
        files, types.go:31-42)."""
        meta = self._load_meta()
        specs = meta.get("partition_specs")
        if not specs:
            return {0: self.partition_spec()}
        return {
            int(sid): [PartitionField.from_json(d) for d in fields]
            for sid, fields in specs.items()
        }

    def default_spec_id(self) -> int:
        return int(self._load_meta().get("default_spec_id", 0))

    def _schema_versions(self, meta: dict) -> tuple[dict[str, list[dict]], int]:
        """(versions, current_id). Columns carry stable FIELD IDS
        (Iceberg resolution model, reference renders schemas through
        field-id-resolved metadata, iceberg_client.go:408-420); legacy
        metadata without ids gets positional ids."""
        cols = meta["columns"]
        for i, c in enumerate(cols):
            c.setdefault("id", i)
        versions = meta.get("schema_versions") or {"0": cols}
        return versions, int(meta.get("current_schema_id", 0))

    def _push_schema_version(self, meta: dict, new_cols: list[dict]) -> None:
        versions, cur = self._schema_versions(meta)
        new_id = max(int(k) for k in versions) + 1
        versions[str(new_id)] = new_cols
        meta["schema_versions"] = versions
        meta["current_schema_id"] = new_id
        meta["columns"] = new_cols
        self._store_meta(meta)

    def add_column(self, name: str, type_ddl: str, default=None) -> None:
        """Schema evolution: append a nullable column with a fresh
        field id. Existing data files are NOT rewritten — reads project
        each file's write-time schema version onto the current one and
        fill with ``default`` (Iceberg v3 initial-default) or null."""
        with self._commit_lock():
            meta = self._load_meta()
            if any(c["name"] == name for c in meta["columns"]):
                raise ValueError(f"column {name!r} already exists")
            versions, _cur = self._schema_versions(meta)
            next_id = 1 + max(c["id"] for v in versions.values() for c in v)
            col = {"name": name, "type": type_ddl, "id": next_id}
            if default is not None:
                col["default"] = default
            self._push_schema_version(meta, meta["columns"] + [col])

    # legal type promotions (Iceberg type-evolution rules)
    _WIDENINGS = {
        ("int", "bigint"),
        ("int", "double"),
        ("bigint", "double"),
        ("float", "double"),
    }

    def widen_column(self, name: str, new_type: str) -> None:
        """Schema evolution: widen a column's type (int→bigint,
        float→double, …). Old files keep their written type; reads
        promote via a cast in the field-id projection. Narrowing or
        unrelated changes are rejected."""
        with self._commit_lock():
            meta = self._load_meta()
            self._schema_versions(meta)
            cur = next((c for c in meta["columns"] if c["name"] == name), None)
            if cur is None:
                raise KeyError(f"column {name!r} not found")
            if (cur["type"], new_type) not in self._WIDENINGS:
                raise ValueError(
                    f"illegal type change {cur['type']} -> {new_type} for {name!r}"
                )
            new_cols = [
                {**c, "type": new_type} if c["name"] == name else dict(c)
                for c in meta["columns"]
            ]
            self._push_schema_version(meta, new_cols)

    def drop_column(self, name: str) -> None:
        """Schema evolution: drop a column. Files are untouched — the
        field-id projection simply stops selecting it; a column that
        sources the CURRENT partition spec cannot be dropped."""
        with self._commit_lock():
            meta = self._load_meta()
            self._schema_versions(meta)
            if not any(c["name"] == name for c in meta["columns"]):
                raise KeyError(f"column {name!r} not found")
            for f in meta["partition_spec"]:
                src = f["source"]
                if src == name or src.startswith(name + "."):
                    raise ValueError(
                        f"column {name!r} sources partition field {f['name']!r}; "
                        "evolve the spec first"
                    )
            if len(meta["columns"]) == 1:
                raise ValueError("cannot drop the last column")
            new_cols = [dict(c) for c in meta["columns"] if c["name"] != name]
            self._push_schema_version(meta, new_cols)

    def rename_column(self, old: str, new: str) -> None:
        """Schema evolution: rename a column. The field ID is stable, so
        files written under the old name keep resolving — reads map each
        file's schema epoch onto the current names by id (the Iceberg
        rename model; name-based formats cannot do this). The current
        partition spec's source references follow the rename (Iceberg
        specs bind to field ids; historical specs keep their recorded
        names — their files' partition VALUES are already materialized)."""
        with self._commit_lock():
            meta = self._load_meta()
            self._schema_versions(meta)  # ensure field ids exist before copying
            names = [c["name"] for c in meta["columns"]]
            if old not in names:
                raise KeyError(f"column {old!r} not found")
            if any(c["name"] == new for c in meta["columns"]):
                raise ValueError(f"column {new!r} already exists")
            new_cols = [
                {**c, "name": new} if c["name"] == old else dict(c)
                for c in meta["columns"]
            ]
            # current spec sources follow the rename (top-level or nested prefix)
            def fix_source(src: str) -> str:
                if src == old:
                    return new
                if src.startswith(old + "."):
                    return new + src[len(old):]
                return src

            spec = [
                {**f, "source": fix_source(f["source"])}
                for f in meta["partition_spec"]
            ]
            meta["partition_spec"] = spec
            specs = meta.get("partition_specs")
            if specs:
                specs[str(meta.get("default_spec_id", 0))] = spec
            self._push_schema_version(meta, new_cols)

    def unified_schema(self):
        """StructType of the CURRENT table schema (post-evolution)."""
        from pyspark.sql.types import StructType

        ddl = ", ".join(f"`{c['name']}` {c['type']}" for c in self._load_meta()["columns"])
        return StructType.fromDDL(ddl)

    def evolve_partition_spec(self, new_spec: list[PartitionField]) -> int:
        """Partition evolution: register a new spec version and make it
        the default for FUTURE writes. Existing files keep their
        spec_id (Iceberg semantics: old data is not rewritten)."""
        with self._commit_lock():
            meta = self._load_meta()
            specs = meta.get("partition_specs") or {"0": meta["partition_spec"]}
            new_id = max(int(k) for k in specs) + 1
            specs[str(new_id)] = [f.to_json() for f in new_spec]
            meta["partition_specs"] = specs
            meta["default_spec_id"] = new_id
            meta["partition_spec"] = [f.to_json() for f in new_spec]
            self._store_meta(meta)
        return new_id

    def schema_string(self) -> list[dict]:
        return self._load_meta()["columns"]

    def current_snapshot_id(self) -> int | None:
        return self._load_meta().get("current_snapshot_id")

    def snapshots(self) -> list[Snapshot]:
        out = []
        for fn in sorted(os.listdir(self.meta_dir)):
            if fn.startswith("snap-") and fn.endswith(".json"):
                with open(os.path.join(self.meta_dir, fn)) as fh:
                    s = Snapshot.from_json(json.load(fh))
                    s._table = self
                    out.append(s)
        out.sort(key=lambda s: s.snapshot_id)
        return out

    def snapshot_as_of(self, timestamp_ms: int) -> int:
        """Time travel FOR TIMESTAMP AS OF: the latest CURRENT-ANCESTOR
        snapshot committed at or before ``timestamp_ms`` (Iceberg
        semantics — ancestry of the current head, so commits abandoned
        by a rollback never resurface).

        A ``parent_id`` pointing at a snapshot deleted by
        ``expire_snapshots`` is treated as end-of-chain (Iceberg
        truncates its snapshot log the same way): a timestamp older
        than the oldest RETAINED ancestor raises a clean ValueError
        naming the retention horizon, never KeyError."""
        sid = self.current_snapshot_id()
        oldest_retained: Snapshot | None = None
        while sid is not None:
            s = self._snapshot_or_none(sid)
            if s is None:
                # ancestry truncated by expire_snapshots — the
                # requested timestamp predates every retained ancestor
                break
            if s.committed_at_ms <= timestamp_ms:
                return s.snapshot_id
            oldest_retained = s
            sid = s.parent_id
        if oldest_retained is not None:
            raise ValueError(
                f"{self.database}.{self.name}: no snapshot as of "
                f"{timestamp_ms}: timestamp predates the oldest retained "
                f"ancestor (snapshot {oldest_retained.snapshot_id} at "
                f"{oldest_retained.committed_at_ms}); older history was "
                "removed by expire_snapshots"
            )
        raise ValueError(
            f"{self.database}.{self.name}: no snapshot as of {timestamp_ms}"
        )

    # ------------------------------------------------------------------
    # named refs (Iceberg branches/tags): name → snapshot pointer
    # ------------------------------------------------------------------
    def refs(self) -> dict[str, dict]:
        """All named refs: {name: {"snapshot_id": int, "type":
        "tag"|"branch"}}. Tags are immutable snapshot names (audit
        points, WAP publish candidates); branches are movable pointers
        (set_ref). Both protect their snapshot from expiration."""
        return dict(self._load_meta().get("refs") or {})

    def create_ref(
        self, name: str, snapshot_id: int | None = None, kind: str = "tag"
    ) -> None:
        _validate_ident(name)
        if kind not in ("tag", "branch"):
            raise ValueError(f"unknown ref type {kind!r}")
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise ValueError("cannot create a ref on an empty table")
        self.snapshot(sid)  # must exist
        # RMW under commit.lock: table.json also carries the head
        # pointer, so an unlocked ref write racing a commit could
        # revert current_snapshot_id and orphan that commit
        with self._commit_lock():
            meta = self._load_meta()
            refs = meta.get("refs") or {}
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            refs[name] = {"snapshot_id": sid, "type": kind}
            meta["refs"] = refs
            self._store_meta(meta)

    def set_ref(self, name: str, snapshot_id: int) -> None:
        """Move a BRANCH pointer (tags are immutable). Locked RMW —
        append_to_branch calls this right after its stage commit, so a
        branch stage racing a main-branch commit must not lose either
        write."""
        self.snapshot(snapshot_id)
        with self._commit_lock():
            meta = self._load_meta()
            refs = meta.get("refs") or {}
            if name not in refs:
                raise KeyError(f"ref {name!r} not found")
            if refs[name]["type"] != "branch":
                raise ValueError(f"ref {name!r} is a tag; tags are immutable")
            refs[name]["snapshot_id"] = snapshot_id
            meta["refs"] = refs
            self._store_meta(meta)

    def drop_ref(self, name: str) -> None:
        with self._commit_lock():
            meta = self._load_meta()
            refs = meta.get("refs") or {}
            if name not in refs:
                raise KeyError(f"ref {name!r} not found")
            del refs[name]
            meta["refs"] = refs
            self._store_meta(meta)

    def resolve_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"ref {name!r} not found")
        return int(refs[name]["snapshot_id"])

    def append_to_branch(self, branch: str, df: DataFrame) -> Snapshot:
        """Write-audit-publish staging write: append a snapshot whose
        PARENT is the branch head and advance only the BRANCH pointer —
        the main table head never moves, so readers of the table see
        nothing until :meth:`fast_forward` publishes the branch.
        (Iceberg's branch writes / WAP workflow; the transactions
        module stages the multi-table variant the same way.)"""
        refs = self.refs()
        if branch not in refs or refs[branch]["type"] != "branch":
            raise KeyError(f"{branch!r} is not a branch")
        parent = self.snapshot(int(refs[branch]["snapshot_id"]))
        self._validate_constraints(df)
        new_files = self._stage_write(df)
        added_records = sum(e["record_count"] for e in new_files)
        prev_files = int(parent.summary.get("total-data-files", 0))
        prev_records = int(parent.summary.get("total-records", 0))
        snap = self._commit_delta(
            operation="append",
            summary={
                "added-data-files": str(len(new_files)),
                "added-records": str(added_records),
                "total-data-files": str(prev_files + len(new_files)),
                "total-records": str(prev_records + added_records),
                "branch": branch,
            },
            added=new_files,
            removed=[],
            parent=parent,
            prepare=True,  # snapshot written, MAIN pointer untouched
        )
        self.set_ref(branch, snap.snapshot_id)
        return snap

    def is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        """True when ``ancestor_id`` is on ``descendant_id``'s parent
        chain. A parent deleted by ``expire_snapshots`` ends the walk
        (→ False) rather than raising — fast_forward's guard must keep
        working on a healthy table after routine expiry."""
        sid: int | None = descendant_id
        while sid is not None:
            if sid == ancestor_id:
                return True
            snap = self._snapshot_or_none(sid)
            if snap is None:
                return False  # ancestry truncated past the horizon
            sid = snap.parent_id
        return False

    def _commit_lock(self):
        """Exclusive OS file lock (flock on metadata/commit.lock) as a
        contextmanager — EVERY table.json read-modify-write serializes
        through it: pointer swap, id allocation, properties, refs
        (create/set/drop), sort order, constraints, schema evolution
        (add/widen/drop/rename column), partition-spec evolution, and
        the sketch-descriptor publish in sketches.py. flock is per open
        file description, so nesting would self-deadlock — no code path
        takes the lock while holding it (distributed work, e.g.
        add_constraint's verification scan, runs BEFORE locking)."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def _held():
            with open(os.path.join(self.meta_dir, "commit.lock"), "w") as fh:
                fcntl.flock(fh, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(fh, fcntl.LOCK_UN)

        return _held()

    def fast_forward(self, branch: str) -> int:
        """Publish a branch: move the MAIN head to the branch's snapshot
        — allowed only when the current head is an ancestor of the
        branch head (a true fast-forward; anything else would silently
        drop main-side commits). Returns the new head id. Atomic under
        the commit lock with the same conflict detection as writes."""
        target_id = self.resolve_ref(branch)
        with self._commit_lock():
            cur = self._load_meta().get("current_snapshot_id")
            if cur is not None and not self.is_ancestor(cur, target_id):
                raise CommitConflictError(
                    f"{self.database}.{self.name}: head {cur} is not an "
                    f"ancestor of branch {branch!r} ({target_id}); "
                    "not a fast-forward"
                )
            self._advance_pointer(self.snapshot(target_id))
        return target_id

    def snapshot(self, snapshot_id: int) -> Snapshot:
        path = os.path.join(self.meta_dir, f"snap-{snapshot_id}.json")
        if not os.path.exists(path):
            raise KeyError(f"snapshot {snapshot_id} not found for {self.database}.{self.name}")
        with open(path) as fh:
            s = Snapshot.from_json(json.load(fh))
            s._table = self
            return s

    def _snapshot_or_none(self, snapshot_id: int) -> "Snapshot | None":
        """:meth:`snapshot`, or None when the file is gone — ancestry
        walks use this to treat a parent deleted by expire_snapshots as
        end-of-chain instead of surfacing KeyError."""
        try:
            return self.snapshot(snapshot_id)
        except KeyError:
            return None

    def _write_snapshot(self, snap: Snapshot) -> None:
        with open(os.path.join(self.meta_dir, f"snap-{snap.snapshot_id}.json"), "w") as fh:
            json.dump(snap.to_json(), fh, indent=1)

    # ------------------------------------------------------------------
    # manifest segments (immutable, shared across snapshots)
    # ------------------------------------------------------------------
    def _segment_path(self, name: str) -> str:
        return os.path.join(self.meta_dir, name)

    def _read_segment(self, name: str) -> dict:
        """Load one immutable manifest segment ({"added": [...],
        "removed": [...]}) through a small process-wide LRU —
        immutability makes the cache trivially correct, and a planner
        re-materializing the same snapshot's live set touches each
        segment file once per process, not once per plan.

        Bodies dispatch on extension: ``.parquet`` (current) streams
        typed columns row-group by row-group via pyarrow — no
        whole-file ``json.load``, driver peak bounded by
        :data:`_SEGMENT_ROW_GROUP` rows per batch; ``.json`` (legacy)
        keeps reading, so time travel across a mixed-format chain is
        exact."""
        path = os.path.abspath(self._segment_path(name))

        def load() -> dict:
            if name.endswith(".parquet"):
                return _read_parquet_segment(path)
            with open(path) as fh:
                return json.load(fh)

        return _SEGMENT_CACHE.get(path, load)

    def _segment_path_delta(self, name: str) -> tuple[list[str], list[str]]:
        """(added file paths, removed paths) of one segment — the
        PROJECTED read for consumers that never look at entry stats
        (GC reference sweeps). Parquet bodies read only the kind and
        file_path columns (a few MB for 10^6 entries, no entry-document
        decode); JSON bodies and already-cached segments derive from
        the full form."""
        path = os.path.abspath(self._segment_path(name))
        hit = _SEGMENT_CACHE.peek(path)
        if hit is None and name.endswith(".parquet"):
            added: list[str] = []
            removed: list[str] = []
            pf = pq.ParquetFile(path)
            try:
                for batch in pf.iter_batches(
                    batch_size=_SEGMENT_ROW_GROUP, columns=["kind", "file_path"]
                ):
                    kinds = batch.column("kind").to_pylist()
                    paths = batch.column("file_path").to_pylist()
                    if 1 in kinds:
                        for k, p in zip(kinds, paths):
                            (removed if k == 1 else added).append(p)
                    else:
                        added.extend(paths)
            finally:
                pf.close()
            return added, removed
        seg = hit if hit is not None else self._read_segment(name)
        return (
            [e["file_path"] for e in seg.get("added", [])],
            list(seg.get("removed", [])),
        )

    def snapshot_live_paths(self, snap: "Snapshot") -> set[str]:
        """The snapshot's live FILE PATHS without materializing entry
        documents: segmented snapshots replay per-segment path deltas
        (projected parquet reads); legacy forms fall back to
        :attr:`Snapshot.files`. GC sweeps over many snapshots memoize
        the per-segment deltas across calls within a process via the
        parquet page cache — deltas are cheap enough not to pin."""
        if not snap.is_segmented:
            return {e["file_path"] for e in snap.files}
        live: set[str] = set()
        for desc in snap.manifest_list:
            added, removed = self._segment_path_delta(desc["path"])
            live.difference_update(removed)
            live.update(added)
        return live

    @staticmethod
    def _segment_ext() -> str:
        """Extension for NEW segment bodies (module-level switch)."""
        return ".parquet" if SEGMENT_FORMAT == "parquet" else ".json"

    _NUM_STAT_TYPES = frozenset(
        ("tinyint", "smallint", "int", "bigint", "float", "double")
    )

    def _stat_columns_for_schema(self) -> list[tuple[str, str]]:
        """(column, "n"|"s") stat-column plan for parquet segment
        bodies, derived from the TABLE schema (not segment content) so
        every segment of a table carries the SAME typed-stat schema —
        content-derived sets would drift between (e.g.) data and
        delete-only segments and knock the Arrow merge fast path back
        to the decoded fallback. Numeric columns → widened float64
        bounds; string/date/timestamp columns → raw string bounds (ISO
        strings order correctly lexicographically, matching the stats
        the residual pruner compares). Booleans, binaries, decimals,
        and nested types get no typed column = never prefiltered."""
        out: list[tuple[str, str]] = []
        for col in self.schema_string():
            t = col["type"]
            if t in self._NUM_STAT_TYPES:
                out.append((col["name"], "n"))
            elif (
                t in ("string", "date")
                or t.startswith("varchar")
                or t.startswith("char")
                or t.startswith("timestamp")
            ):
                out.append((col["name"], "s"))
        return sorted(out)

    def _write_segment(
        self,
        name: str,
        added: list[dict],
        removed: list[str],
        readds: int | None = 0,
    ) -> dict:
        """Write one immutable segment file; returns its manifest-list
        descriptor. Atomic (tmp + rename) so a concurrent reader never
        sees a torn segment. Body format follows the extension the
        caller chose via :meth:`_segment_ext`.

        ``readds`` must be an UPPER BOUND on how many of ``added``'s
        paths already appear as added paths in earlier segments of the
        manifest list this descriptor will join (0 — the default — is
        correct for every commit path: staged files are uuid-fresh and
        the base fold is the list's first segment)."""
        path = self._segment_path(name)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        if name.endswith(".parquet"):
            _write_parquet_segment(
                tmp, added, removed, stat_cols=self._stat_columns_for_schema()
            )
        else:
            with open(tmp, "w") as fh:
                json.dump({"added": added, "removed": removed}, fh)
        os.replace(tmp, path)
        return {
            "path": name,
            "added": len(added),
            "removed": len(removed),
            # n_deletes: exact count of added DELETE entries (content
            # 1/2) — lets read() skip the full live materialization on
            # append-only snapshots (see _delete_entries).
            "n_deletes": sum(1 for e in added if e.get("content", 0) != 0),
            # readds: how many added paths RE-ADD a path an earlier
            # segment of the same manifest list already added (the
            # format's override semantics). Every current writer stages
            # fresh uuid-named files (and the base fold is the list's
            # first segment), so direct writes are always 0; merges
            # carry an upper bound. Cold-plan segment skipping requires
            # readds == 0 — skipping a re-adding segment would leave
            # the superseded earlier entry in the plan.
            **({} if readds is None else {"readds": int(readds)}),
            "summary": _segment_summary(added),
        }

    def _merge_parquet_pair(
        self,
        name_a: str,
        name_b: str,
        out_name: str,
        at_head: bool,
        summary: dict | None = None,
        readds: int | None = 0,
    ) -> dict:
        """Merge two PARQUET segment bodies column-wise (a earlier, b
        later): keep a's added rows whose file_path b neither removed
        nor re-added, append b's added rows, union the removed lists
        (dropped entirely at the list head). Semantically identical to
        the decoded merge — pinned by a fast==slow equivalence test —
        but entry documents are never parsed or re-serialized, so the
        amortized O(log files) rewrite cost per entry is a column copy,
        not a JSON round-trip."""
        import pyarrow as pa
        import pyarrow.compute as pc

        ta = pq.read_table(self._segment_path(name_a))
        tb = pq.read_table(self._segment_path(name_b))
        if ta.schema != tb.schema:
            raise ValueError("segment schema drift")
        a_add = ta.filter(pc.equal(ta.column("kind"), 0))
        b_add = tb.filter(pc.equal(tb.column("kind"), 0))
        a_rem = ta.filter(pc.equal(ta.column("kind"), 1)).column("file_path")
        b_rem = tb.filter(pc.equal(tb.column("kind"), 1)).column("file_path")
        # b's removals and re-adds both supersede a's entries
        mask_vals = pa.concat_arrays(
            [b_rem.combine_chunks(), b_add.column("file_path").combine_chunks()]
        )
        keep = pc.invert(pc.is_in(a_add.column("file_path"), value_set=mask_vals))
        added = pa.concat_tables([a_add.filter(keep), b_add])
        removed: list[str] = (
            []
            if at_head
            else sorted(set(a_rem.to_pylist()) | set(b_rem.to_pylist()))
        )
        if removed:
            n = len(removed)
            # null-fill EVERY schema field generically (typed stat
            # columns vary per segment) — a hand-kept field list here
            # would silently knock the fast path back to the decoded
            # merge whenever the schema grows
            rem_cols: dict[str, pa.Array] = {}
            for f in added.schema:
                if f.name == "kind":
                    rem_cols[f.name] = pa.array([1] * n, f.type)
                elif f.name == "file_path":
                    rem_cols[f.name] = pa.array(removed, f.type)
                else:
                    rem_cols[f.name] = pa.array([None] * n, f.type)
            out = pa.concat_tables(
                [added, pa.table(rem_cols).cast(added.schema)]
            )
        else:
            out = added
        path = self._segment_path(out_name)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        pq.write_table(
            out, tmp, row_group_size=_SEGMENT_ROW_GROUP, compression="zstd"
        )
        os.replace(tmp, path)
        # exact delete-entry count straight off the typed column — the
        # fast path never decodes entry documents, but content is a
        # scalar column (null ⇒ data entry)
        n_del = pc.sum(
            pc.fill_null(pc.not_equal(added.column("content"), 0), False)
        ).as_py() or 0
        desc = {
            "path": out_name,
            "added": len(added),
            "removed": len(removed),
            "n_deletes": int(n_del),
        }
        if readds is not None:
            desc["readds"] = int(readds)
        if summary is not None:
            desc["summary"] = summary
        return desc

    def _base_segment_for(self, parent: "Snapshot") -> list[dict]:
        """Manifest list for a LEGACY (fold/delta) parent: fold its
        full inventory into one base segment, written once and reused
        by every later commit (the one-time O(files) migration cost of
        moving an old table onto the segmented log)."""
        # reuse a base segment written under EITHER body format — an
        # old table may already carry mseg-<id>-base.json
        name = None
        for ext in (self._segment_ext(), ".json", ".parquet"):
            cand = f"mseg-{parent.snapshot_id}-base{ext}"
            if os.path.exists(self._segment_path(cand)):
                name = cand
                break
        if name is None:
            name = f"mseg-{parent.snapshot_id}-base{self._segment_ext()}"
            files = list(parent.files)
            desc = self._write_segment(name, files, [])
        else:
            seg = self._read_segment(name)
            desc = {
                "path": name,
                "added": len(seg.get("added", [])),
                "removed": len(seg.get("removed", [])),
                "n_deletes": sum(
                    1
                    for e in seg.get("added", [])
                    if e.get("content", 0) != 0
                ),
                "readds": 0,  # the base fold is the list's first segment
                "summary": _segment_summary(seg.get("added", [])),
            }
        return [desc]

    def _parent_manifest_list(self, parent: "Snapshot | None") -> list[dict]:
        if parent is None:
            return []
        if parent.is_segmented:
            return list(parent.manifest_list)
        return self._base_segment_for(parent)

    def _merge_segments(self, mlist: list[dict], new_id: int) -> list[dict]:
        """Size-tiered manifest merging: while the second-to-last
        segment's weight is within MERGE_FACTOR x the last one's, merge
        the two into a new immutable segment. A merge that reaches the
        HEAD of the list drops its removed-path list entirely (nothing
        precedes it to remove from), so tombstones never accumulate
        forever. Old segments stay on disk — earlier snapshots still
        reference them; expire/orphan GC reclaims unreferenced ones."""

        def weight(d: dict) -> int:
            return int(d.get("added", 0)) + int(d.get("removed", 0))

        mlist = list(mlist)
        created: list[dict] = []  # merge outputs written by THIS call
        while len(mlist) >= 2 and weight(mlist[-2]) <= MERGE_FACTOR * max(
            1, weight(mlist[-1])
        ):
            at_head = len(mlist) == 2
            name = f"mseg-{new_id}-m{uuid.uuid4().hex[:8]}{self._segment_ext()}"
            # Arrow-native fast path for parquet x parquet merges: the
            # amortized O(log files) rewrite never decodes or re-encodes
            # entry documents — rows move column-wise between files.
            if (
                name.endswith(".parquet")
                and mlist[-2]["path"].endswith(".parquet")
                and mlist[-1]["path"].endswith(".parquet")
            ):
                try:
                    desc = self._merge_parquet_pair(
                        mlist[-2]["path"],
                        mlist[-1]["path"],
                        name,
                        at_head,
                        # conservative union (ranges widen, count is an
                        # upper bound) — the fast path never decodes
                        # entries, so it can't recompute exactly
                        summary=_combine_summaries(
                            mlist[-2].get("summary"), mlist[-1].get("summary")
                        ),
                        readds=_combine_readds(mlist[-2], mlist[-1]),
                    )
                    created.append(desc)
                    mlist[-2:] = [desc]
                    continue
                except Exception:  # schema drift etc. → decoded path
                    pass
            a = self._read_segment(mlist[-2]["path"])  # earlier
            b = self._read_segment(mlist[-1]["path"])  # later
            rem_b = set(b.get("removed", []))
            merged_entries: dict[str, dict] = {
                e["file_path"]: e
                for e in a.get("added", [])
                if e["file_path"] not in rem_b
            }
            for e in b.get("added", []):
                merged_entries[e["file_path"]] = e
            merged_removed = (
                []
                if at_head
                else sorted(set(a.get("removed", [])) | rem_b)
            )
            desc = self._write_segment(
                name,
                list(merged_entries.values()),
                merged_removed,
                readds=_combine_readds(mlist[-2], mlist[-1]),
            )
            created.append(desc)
            mlist[-2:] = [desc]
        # a CASCADE consumes its own earlier outputs: every merge
        # output from this call not in the final list was read once by
        # the next step and is referenced by nothing — delete now
        # instead of leaving it for orphan GC (it would sit on disk for
        # the whole age-guard window)
        final = {d["path"] for d in mlist}
        for d in created:
            if d["path"] not in final:
                try:
                    os.remove(self._segment_path(d["path"]))
                except OSError:
                    pass
                _SEGMENT_CACHE.pop(os.path.abspath(self._segment_path(d["path"])))
        return mlist

    def _commit(self, snap: Snapshot, expected_parent: object = "__FROM_SNAP__") -> None:
        """Atomic commit with optimistic concurrency: under an OS file
        lock, verify the current snapshot still equals the parent this
        writer built against, then swap the pointer. A concurrent
        commit in between raises CommitConflictError instead of
        silently losing the other writer's snapshot."""
        expected = snap.parent_id if expected_parent == "__FROM_SNAP__" else expected_parent
        with self._commit_lock():
            self._check_head(expected)
            snap._table = self
            self._write_snapshot(snap)
            self._advance_pointer(snap)

    def _check_head(self, expected: int | None) -> None:
        """Caller holds commit.lock: verify the head hasn't moved."""
        cur = self._load_meta().get("current_snapshot_id")
        if cur != expected:
            raise CommitConflictError(
                f"{self.database}.{self.name}: commit built against "
                f"snapshot {expected} but current is {cur}"
            )

    def _advance_pointer(self, snap: "Snapshot") -> None:
        """Caller holds commit.lock: swap the current-snapshot pointer."""
        meta = self._load_meta()
        meta["current_snapshot_id"] = snap.snapshot_id
        meta["last_updated_ms"] = snap.committed_at_ms
        self._store_meta(meta)

    def _next_snapshot_id(self) -> int:
        # filename scan only — computing the next id must not parse
        # every snapshot's JSON on the commit hot path
        best = 0
        for fn in os.listdir(self.meta_dir):
            if fn.startswith("snap-") and fn.endswith(".json"):
                try:
                    best = max(best, int(fn[5:-5]))
                except ValueError:
                    continue
        return best + 1

    def _allocate_snapshot_id(self) -> int:
        """Claim a UNIQUE snapshot id under commit.lock. A bare
        filename scan races: two transactions staging concurrently
        (prepare=True writes snap-<id>.json without a head check) can
        both claim the same id and the second clobbers the first's
        staged snapshot. A persistent high-water counter
        (``next-snapshot-id``), read-increment-written under the lock
        and floored at the filename scan, makes allocation atomic with
        O(1) lock hold. Ids may skip on aborted transactions — parent
        links are explicit, nothing assumes density."""
        ctr = os.path.join(self.meta_dir, "next-snapshot-id")
        with self._commit_lock():
            reserved = 0
            try:
                with open(ctr) as fh:
                    reserved = int(fh.read().strip() or 0)
            except (FileNotFoundError, ValueError):
                pass
            nid = max(self._next_snapshot_id(), reserved + 1)
            tmp = ctr + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                fh.write(str(nid))
            os.replace(tmp, ctr)
        return nid

    def _commit_delta(
        self,
        operation: str,
        summary: dict[str, str],
        added: list[dict],
        removed: list[str],
        parent: "Snapshot | None",
        prepare: bool = False,
        base_reset: bool = False,
    ) -> Snapshot:
        """Commit as a SEGMENTED snapshot (manifest list + own
        segment): writes one immutable O(delta) segment plus an
        O(log files) snapshot JSON — commit bytes and lock-hold time
        never scale with the table's file count (the Iceberg
        manifest-list design; reference: types.go:27).

        ``base_reset=True`` (overwrite) starts the manifest list from
        this commit's segment alone instead of extending the parent's.
        ``prepare=True`` stages the snapshot (file written, pointer NOT
        moved) for a WarehouseTransaction — the ledger analog of an
        Iceberg stage-only (WAP) commit."""
        next_id = self._allocate_snapshot_id()
        # Iceberg data-sequence-number analog: equality deletes apply
        # only to files with a STRICTLY SMALLER sequence, so rows
        # committed together with a delete are never self-deleted.
        # Assigned (not setdefault) so an append RETRY re-stamps with
        # the id it actually commits under.
        for e in added:
            e["sequence_number"] = next_id
        # the uuid suffix keeps concurrent writers racing for the same
        # id from clobbering each other's segment (the loser's file
        # becomes an orphan; remove_orphan_files reclaims it)
        own_name = f"mseg-{next_id}-d{uuid.uuid4().hex[:8]}{self._segment_ext()}"
        own = self._write_segment(own_name, added, removed)
        plist = [] if base_reset else self._parent_manifest_list(parent)
        mlist = self._merge_segments(plist + [own], next_id)
        snap = Snapshot(
            snapshot_id=next_id,
            parent_id=parent.snapshot_id if parent else None,
            committed_at_ms=int(time.time() * 1000),
            operation=operation,
            summary=summary,
            added=added,
            removed=removed,
            manifest_list=mlist,
            own_segment=own,
        )
        snap._table = self
        if prepare:
            self._write_snapshot(snap)
            return snap
        try:
            self._commit(snap)
        except CommitConflictError:
            # Segments are deliberately staged and merged BEFORE the
            # commit lock (lock-hold stays O(1), concurrent writers
            # merge in parallel) — so a losing commit leaves THIS
            # attempt's segment files referenced by nothing (its
            # snapshot JSON was never written). Delete them now
            # instead of leaving them for orphan GC's age-out window:
            # a retry (append's loop) re-stages against the new head.
            staged = ({own["path"]} | {d["path"] for d in mlist}) - {
                d["path"] for d in plist
            }
            for name in staged:
                try:
                    os.remove(self._segment_path(name))
                except OSError:
                    pass
                _SEGMENT_CACHE.pop(os.path.abspath(self._segment_path(name)))
            raise
        return snap

    # ------------------------------------------------------------------
    # manifest parquet (the distributed metadata path)
    # ------------------------------------------------------------------
    def manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.meta_dir, f"manifest-{snapshot_id}.parquet")

    def write_manifest(self, snapshot_id: int | None = None) -> str:
        """Fold one snapshot's JSON file list into a parquet manifest so
        the metadata ANALYTICS path (files_df → partitions_df /
        needs_optimize / drilldown) is a distributed parquet scan with
        pushdown and pruning, not a driver-side Python list turned into
        a DataFrame. The JSON commit log is unchanged (manifest is a
        derived, snapshot-id-keyed artifact — never stale for its id).

        Written via pyarrow streaming from the manifest entries: O(files)
        driver CPU once per fold — the same cost class as writing the
        JSON itself — after which inventory analytics at 10⁶-10⁷ files
        never rematerialize the list (the Iceberg manifest-file analog,
        reference reads these via Trino `$files`,
        service_browse_files.go:193-215)."""
        import pyarrow as pa

        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise ValueError(f"{self.database}.{self.name}: no snapshot to manifest")
        entries = self.snapshot(sid).files
        tbl = pa.table(
            {
                "content": pa.array([e.get("content", 0) for e in entries], pa.int64()),
                "file_path": pa.array([e["file_path"] for e in entries], pa.string()),
                "file_format": pa.array(
                    [e.get("file_format", "PARQUET") for e in entries], pa.string()
                ),
                "spec_id": pa.array([e.get("spec_id", 0) for e in entries], pa.int64()),
                "partition": pa.array(
                    [list((e["partition"] or {}).items()) for e in entries],
                    pa.map_(pa.string(), pa.string()),
                ),
                "record_count": pa.array([e["record_count"] for e in entries], pa.int64()),
                "file_size_in_bytes": pa.array(
                    [e["file_size_in_bytes"] for e in entries], pa.int64()
                ),
            }
        )
        path = self.manifest_path(sid)
        tmp = path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        return path

    def has_manifest(self, snapshot_id: int | None = None) -> bool:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        return sid is not None and os.path.exists(self.manifest_path(sid))

    # ------------------------------------------------------------------
    # writes (distributed Spark jobs; stats harvested from footers)
    # ------------------------------------------------------------------
    def sort_order(self) -> list[str]:
        """Write-time sort columns (Iceberg write.sort-order analog):
        set via create_table(sort_order=...); empty = unsorted."""
        return list(self._load_meta().get("sort_order") or [])

    def set_sort_order(self, columns: list[str]) -> None:
        """Replace the table's write sort order (Iceberg
        ReplaceSortOrder): affects FUTURE writes and compactions;
        existing files are not rewritten (run rewrite_data_files to
        re-cluster them)."""
        with self._commit_lock():
            meta = self._load_meta()
            meta["sort_order"] = list(columns)
            self._store_meta(meta)

    # ------------------------------------------------------------------
    # CHECK constraints (Delta constraint parity): validated on write
    # ------------------------------------------------------------------
    def constraints(self) -> dict[str, str]:
        """{name: SQL boolean expression} enforced on every write."""
        return dict(self._load_meta().get("constraints") or {})

    def add_constraint(self, name: str, expression: str) -> None:
        """Register a CHECK constraint (a Spark SQL boolean expression
        over the table's columns, e.g. ``"value >= 0"`` or
        ``"event_id IS NOT NULL"``). EXISTING rows must already satisfy
        it (Delta's ADD CONSTRAINT semantics) — verified with one
        distributed count before the constraint lands."""
        _validate_ident(name)
        if name in self.constraints():
            raise ValueError(f"constraint {name!r} already exists")
        if self.current_snapshot_id() is not None:
            # distributed verification runs BEFORE taking the lock —
            # never hold commit.lock across a Spark job
            bad = self.read().filter(~F.expr(expression).eqNullSafe(True)).limit(1).count()
            if bad:
                raise ValueError(
                    f"existing rows violate constraint {name!r}: {expression}"
                )
        with self._commit_lock():
            meta = self._load_meta()
            cons = meta.get("constraints") or {}
            cons[name] = expression
            meta["constraints"] = cons
            self._store_meta(meta)

    def drop_constraint(self, name: str) -> None:
        with self._commit_lock():
            meta = self._load_meta()
            cons = meta.get("constraints") or {}
            if name not in cons:
                raise KeyError(f"constraint {name!r} not found")
            del cons[name]
            meta["constraints"] = cons
            self._store_meta(meta)

    def _validate_constraints(self, df: DataFrame) -> None:
        """One distributed pass counting violations of every registered
        constraint (a single aggregate job — N conditional sums, not N
        scans). Raises with per-constraint counts; the caller never
        stages files for a violating write, so a failed write leaves no
        garbage to clean."""
        cons = self.constraints()
        if not cons:
            return
        aggs = [
            F.sum((~F.expr(expr).eqNullSafe(True)).cast("long")).alias(name)
            for name, expr in cons.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {name: int(row[name] or 0) for name in cons if (row[name] or 0) > 0}
        if bad:
            detail = ", ".join(
                f"{name} ({cons[name]}): {n} rows" for name, n in sorted(bad.items())
            )
            raise ValueError(
                f"{self.database}.{self.name}: write violates constraints — {detail}"
            )

    def _stage_write(self, df: DataFrame) -> list[dict]:
        """Write df's rows as new data files, return their file entries.

        The write is a normal distributed parquet write partitioned by
        the transform columns (hive layout). With a table sort order,
        rows are RANGE-partitioned on (partition cols, sort cols) and
        sorted within tasks — so a partition's files carry DISJOINT
        sort-key ranges and the footer min/max stats become selective
        enough for plan_files to skip files on sort-key predicates (the
        point of Iceberg's write.sort-order). Per-file record counts
        and sizes come from parquet FOOTERS via pyarrow — metadata-only
        reads, the moral equivalent of Iceberg collecting manifest
        stats at commit time. No data is re-read.
        """
        spec = self.partition_spec()
        stage_id = uuid.uuid4().hex[:12]
        # Indexed staging names: partition field names may contain dots
        # (nested identity sources like goal.conversionHappenedAt) which
        # partitionBy would mis-resolve as struct access.
        pcols = [f"_p_{i}" for i in range(len(spec))]
        staged = df
        for f_, pcol in zip(spec, pcols):
            staged = staged.withColumn(pcol, transform_expr(f_))
        sort_cols = self.sort_order()
        writer = staged.write.mode("append")
        if pcols or sort_cols:
            keys = [F.col(c) for c in pcols] + [F.col(c) for c in sort_cols]
            if sort_cols:
                # explicit partition count: AQE would coalesce a small
                # range shuffle to one task (one file, full-range
                # stats); production sizing targets file bytes instead
                n = self.spark.sparkContext.defaultParallelism
                staged = staged.repartitionByRange(n, *keys).sortWithinPartitions(*keys)
            else:
                # hash by partition value so each partition's rows land
                # in few files (mirrors Iceberg's fanout writer)
                staged = staged.repartition(*keys)
            writer = staged.write.mode("append")
            if pcols:
                writer = writer.partitionBy(*pcols)
        out_dir = os.path.join(self.data_dir, stage_id)
        writer.parquet(out_dir)
        return self._harvest_files(out_dir, spec, pcols)

    def _harvest_files(
        self, out_dir: str, spec: list[PartitionField], pcols: list[str]
    ) -> list[dict]:
        from urllib.parse import unquote

        spec_id = self.default_spec_id()
        entries = []
        for dirpath, _dirnames, filenames in os.walk(out_dir):
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(dirpath, fn)
                rel = os.path.relpath(dirpath, out_dir)
                partition: dict[str, str] = {}
                if rel != ".":
                    for part in rel.split(os.sep):
                        k, _, v = part.partition("=")
                        idx = int(k.removeprefix("_p_"))
                        # hive writer encodes NULL partition values as a
                        # sentinel dir; manifests carry a real null
                        # (rendered as "null" at the display edge, F10).
                        # Non-null values are percent-escaped by Spark's
                        # escapePathName (':', '=', '%', '/', …) — store
                        # the REAL value so predicates/rendering match.
                        partition[spec[idx].name] = (
                            None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                        )
                entries.append(self._file_entry(fpath, partition, spec_id))
        entries.sort(key=lambda e: e["file_path"])
        return entries

    def _file_entry(self, fpath: str, partition: dict, spec_id: int) -> dict:
        """Manifest entry for one written parquet file: stats come from
        the FOOTER (metadata-only read), never a data scan."""
        meta = pq.read_metadata(fpath)
        return {
            "file_path": fpath,
            "partition": partition,
            "record_count": meta.num_rows,
            "file_size_in_bytes": os.path.getsize(fpath),
            "spec_id": spec_id,
            "schema_id": int(self._load_meta().get("current_schema_id", 0)),
            "content": 0,
            "file_format": "PARQUET",
            "column_stats": _column_stats(meta),
            "null_counts": _null_counts(meta),
        }

    def _read_entries(self, entries: list[dict], with_meta: bool = False) -> DataFrame:
        """Scan data-file entries through the CURRENT schema, resolving
        columns by FIELD ID per schema epoch: files are grouped by their
        write-time schema_id, each group is read with its own schema and
        projected onto current names (renames follow the id; columns
        added later null-fill), then the groups union by name. One scan
        per epoch — epochs are few, files within them many.

        with_meta=True appends (_mor_fp, _mor_pos) from the ``_metadata``
        hidden columns for merge-on-read bookkeeping."""
        from pyspark.sql.types import StructType

        meta = self._load_meta()
        versions, cur_id = self._schema_versions(meta)
        cur_cols = versions[str(cur_id)]
        by_epoch: dict[int, list[str]] = {}
        for e in entries:
            by_epoch.setdefault(int(e.get("schema_id", 0)), []).append(e["file_path"])
        out = None
        for sid in sorted(by_epoch):
            old_cols = versions.get(str(sid), cur_cols)
            old_by_id = {c["id"]: c for c in old_cols}
            ddl = ", ".join(f"`{c['name']}` {c['type']}" for c in old_cols)
            proj = []
            for c in cur_cols:
                o = old_by_id.get(c["id"])
                if o is not None:
                    # cast: a widened column (int→bigint, float→double)
                    # reads old files at their written type and promotes
                    proj.append(
                        F.col(f"`{o['name']}`").cast(c["type"]).alias(c["name"])
                    )
                else:
                    # column added after this file was written: fill
                    # with the declared default (Iceberg v3 initial
                    # default) or null
                    dv = c.get("default")
                    proj.append(F.lit(dv).cast(c["type"]).alias(c["name"]))
            if with_meta:
                proj.append(F.col("_metadata.file_path").alias("_mor_fp"))
                proj.append(F.col("_metadata.row_index").alias("_mor_pos"))
            part = (
                self.spark.read.schema(StructType.fromDDL(ddl))
                .parquet(*by_epoch[sid])
                .select(*proj)
            )
            out = part if out is None else out.unionByName(part)
        return out

    def scan_entries(self, entries: list[dict]) -> DataFrame:
        """Public field-id-resolved scan over an EXPLICIT manifest-entry
        list — the hook bucket-wise planning (ledger_bucketing.py) uses
        to scan exactly one bucket's files. Position deletes are NOT
        applied here; callers holding delete files use
        :meth:`scan_entries_live` (or :meth:`read`) instead."""
        return self._read_entries(entries)

    def scan_entries_live(
        self, entries: list[dict], snapshot_id: int | None = None
    ) -> DataFrame:
        """Scan an explicit manifest-entry list with the snapshot's LIVE
        position/equality deletes applied — the correct per-bucket read
        on a table carrying row-level deletes. Position deletes anti-
        join only the pairs addressing these entries' files (broadcast);
        equality deletes apply key-wise with the usual sequence-number
        visibility. On an append-only table this is exactly
        :meth:`scan_entries` (no meta columns, no joins)."""
        live = self.live_files(snapshot_id)
        pos_paths = [e["file_path"] for e in live if e.get("content", 0) == 1]
        eq_entries = [e for e in live if e.get("content", 0) == 2]
        if not pos_paths and not eq_entries:
            return self._read_entries(entries)
        df = self._read_entries(entries, with_meta=True)
        df = self._apply_position_deletes(
            df,
            pos_paths,
            keep_meta=True,
            only_paths=[e["file_path"] for e in entries],
        )
        return self._apply_equality_deletes(df, eq_entries, entries)

    def _apply_position_deletes(
        self,
        df: DataFrame,
        delete_paths: list[str],
        keep_meta: bool = False,
        only_paths: list[str] | None = None,
    ) -> DataFrame:
        """Anti-join content=1 position deletes on the (_mor_fp,
        _mor_pos) columns a with_meta read carries. Broadcast: the
        delete side is proportional to deleted rows, not the table.
        ``keep_meta`` preserves the hidden columns for a downstream
        equality-delete pass. ``only_paths`` (plain manifest paths)
        restricts the delete side to pairs addressing THOSE data files
        before the broadcast — a per-bucket read then broadcasts only
        the bucket's deleted rows, not the table's (delete files store
        ``file:``-URI paths, so the filter compares the URI form)."""
        if not delete_paths:
            return df if keep_meta else df.drop("_mor_fp", "_mor_pos")
        dels = self.spark.read.parquet(*delete_paths)
        if only_paths is not None:
            # the pushed-down IN filter prunes delete rows at the scan
            dels = dels.filter(
                F.col("file_path").isin([path_to_file_uri(p) for p in only_paths])
            )
        out = df.join(
            F.broadcast(
                dels.select(
                    F.col("file_path").alias("_mor_fp"),
                    F.col("pos").alias("_mor_pos"),
                )
            ),
            ["_mor_fp", "_mor_pos"],
            "left_anti",
        )
        return out if keep_meta else out.drop("_mor_fp", "_mor_pos")

    def write_file_group(
        self,
        group: list[dict],
        partition: dict,
        spec_id: int,
        n_out: int,
        delete_paths: list[str] | None = None,
        eq_entries: list[dict] | None = None,
    ) -> list[dict]:
        """Rewrite ONE compaction file group (all entries share a
        partition tuple): read the group through the field-id-resolved
        current schema (a group may mix schema epochs — renames resolve
        by id, later-added columns null-fill; inferring from an
        arbitrary file would silently drop evolved columns), then
        ``coalesce`` — a NARROW dependency, no shuffle; rows never cross
        partition boundaries — into n_out outputs.

        Mirrors Iceberg's per-file-group binpack rewrite (reference
        submits rewrite_data_files with
        max-concurrent-file-group-rewrites, backend/config.dist.yml:70).
        Returns manifest entries carrying the group's original partition
        values and spec_id; the caller commits them atomically.

        ``delete_paths``: pending position-delete files — applied during
        the rewrite (Iceberg binpack-with-deletes semantics) so deletes
        referencing the OLD paths cannot resurrect rows after the
        rewrite invalidates those paths. ``eq_entries``: pending
        EQUALITY deletes — MANDATORY to fold in for the same reason in
        the other direction: the rewritten files get a NEW (larger)
        sequence number, so equality deletes would stop applying to
        them and deleted rows would resurrect.
        """
        df = self._read_entries(group, with_meta=True)
        df = self._apply_position_deletes(
            df, delete_paths or [], keep_meta=bool(eq_entries)
        )
        if eq_entries:
            df = self._apply_equality_deletes(df, eq_entries, group)
        stage_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, stage_id)
        sort_cols = self.sort_order()
        if sort_cols:
            # sort-aware compaction: a plain coalesce would merge files
            # with overlapping sort-key ranges and destroy the file
            # skipping the sorted write bought; range-repartition +
            # in-task sort keeps output ranges disjoint (costs the
            # group one range shuffle — the price of a sort compaction)
            df = df.repartitionByRange(
                max(1, n_out), *[F.col(c) for c in sort_cols]
            ).sortWithinPartitions(*sort_cols)
        else:
            df = df.coalesce(max(1, n_out))
        df.write.mode("append").parquet(out_dir)
        return self._collect_staged_entries(out_dir, partition, spec_id)

    def _collect_staged_entries(
        self, out_dir: str, partition: dict, spec_id: int
    ) -> list[dict]:
        """Manifest entries for a staged rewrite directory. Spark emits
        a schema-only part file for an EMPTY input (e.g. a group whose
        rows are all position-deleted); keep it out of the manifest —
        compaction should DROP a dead group, not replace it with an
        empty file — and unlink it so it never surfaces as an orphan."""
        entries = []
        for dirpath, _dirnames, filenames in os.walk(out_dir):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    entries.append(
                        self._file_entry(
                            os.path.join(dirpath, fn), dict(partition), spec_id
                        )
                    )
        live, dead = [], []
        for e in entries:
            (live if e["record_count"] > 0 else dead).append(e)
        for e in dead:
            try:
                os.remove(e["file_path"])
            except OSError:
                pass  # best-effort; remove_orphan_files sweeps stragglers
        live.sort(key=lambda e: e["file_path"])
        return live

    def write_clustered_files(
        self,
        df: DataFrame,
        partition: dict,
        spec_id: int,
        n_out: int,
        cluster_col: str,
    ) -> list[dict]:
        """Write one table-partition's rows as ``n_out`` files RANGE-
        CLUSTERED on ``cluster_col`` (dropped before writing): each file
        covers a disjoint cluster-key range, so footer min/max stats —
        and therefore manifest column_stats — become selective on every
        column correlated with the cluster key. The z-order rewrite
        (maintenance.rewrite_data_files_zorder) is the caller.

        The file boundaries are quantiles of ``cluster_col`` (one
        deterministic ``approxQuantile`` pass), not
        ``repartitionByRange``'s sample, whose seed follows the
        SparkContext's RDD id: the same input must give the same layout
        in every session. Each row's file index is mapped to a label
        that Spark's hash partitioner sends to exactly that partition."""
        n_out = max(1, n_out)
        key = F.col(cluster_col)
        bounds = sorted(set(
            df.stat.approxQuantile(cluster_col, [i / n_out for i in range(1, n_out)], 1e-4)
        )) if n_out > 1 else []
        fid = sum((F.when(key > b, 1).otherwise(0) for b in bounds), F.lit(0))
        labels = dict(
            self.spark.range(64 * n_out)
            .groupBy(F.pmod(F.hash("id"), F.lit(n_out)).alias("p"))
            .agg(F.min("id"))
            .collect()
        )
        label = F.element_at(
            F.array(*[F.lit(labels[i]).cast("long") for i in range(n_out)]), fid + 1
        )
        staged = (
            df.repartition(n_out, label)
            .sortWithinPartitions(cluster_col)
            .drop(cluster_col)
        )
        stage_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, stage_id)
        staged.write.mode("append").parquet(out_dir)
        return self._collect_staged_entries(out_dir, partition, spec_id)

    def append(
        self,
        df: DataFrame,
        extra_summary: dict[str, str] | None = None,
        prepare: bool = False,
    ) -> Snapshot:
        """Append commit — the hot path (streaming sinks land here):
        O(delta) end to end. Running totals come from the PARENT's
        summary, so neither the commit JSON nor driver memory ever
        touches the full file list."""
        self._validate_constraints(df)
        new_files = self._stage_write(df)
        added_records = sum(e["record_count"] for e in new_files)
        last_err: Exception | None = None
        for _attempt in range(5):  # staged files are parent-independent
            cur = self.current_snapshot_id()
            parent = self.snapshot(cur) if cur else None
            prev_files = int(parent.summary.get("total-data-files", -1)) if parent else 0
            prev_records = int(parent.summary.get("total-records", -1)) if parent else 0
            if prev_files < 0 or prev_records < 0:  # legacy summary: recount once
                base = _data_files(parent.files) if parent else []
                prev_files = len(base)
                prev_records = sum(e["record_count"] for e in base)
            try:
                return self._commit_delta(
                    operation="append",
                    summary={
                        **(extra_summary or {}),
                        "added-data-files": str(len(new_files)),
                        "added-records": str(added_records),
                        "total-data-files": str(prev_files + len(new_files)),
                        "total-records": str(prev_records + added_records),
                    },
                    added=new_files,
                    removed=[],
                    parent=parent,
                    prepare=prepare,
                )
            except CommitConflictError as ex:  # re-read head and retry
                last_err = ex
        raise last_err

    def overwrite(self, df: DataFrame, prepare: bool = False) -> Snapshot:
        self._validate_constraints(df)
        new_files = self._stage_write(df)
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        # the operation itself replaces the whole table, so the O(F)
        # removed list is inherent to it (it lands in the own segment
        # for CDC); the manifest list starts fresh from the new files
        removed = [e["file_path"] for e in parent.files] if parent else []
        return self._commit_delta(
            operation="overwrite",
            summary={
                "added-data-files": str(len(new_files)),
                "total-data-files": str(len(_data_files(new_files))),
                "total-records": str(
                    sum(e["record_count"] for e in _data_files(new_files))
                ),
            },
            added=new_files,
            removed=removed,
            parent=parent,
            prepare=prepare,
            base_reset=True,
        )

    def delete_partitions(self, predicate, prepare: bool = False) -> Snapshot:
        """File-level delete: drop every data file whose partition tuple
        matches ``predicate`` (dict[str,str] -> bool). Mirrors partition-
        scoped DELETE on an Iceberg table (metadata-only when aligned to
        partition boundaries)."""
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        base = parent.files if parent else []
        removed = [e["file_path"] for e in base if predicate(e["partition"])]
        kept = [e for e in base if not predicate(e["partition"])]
        return self._commit_delta(
            operation="delete",
            summary={
                "deleted-data-files": str(len(removed)),
                "total-data-files": str(len(_data_files(kept))),
                "total-records": str(sum(e["record_count"] for e in _data_files(kept))),
            },
            added=[],
            removed=removed,
            parent=parent,
            prepare=prepare,
        )

    def replace_files(
        self, removed: list[str], df: DataFrame, operation: str = "replace"
    ) -> Snapshot:
        """Commit a rewrite: ``removed`` file paths replaced by the
        files written from ``df`` (the compaction commit primitive)."""
        return self.commit_rewrite(removed, self._stage_write(df), operation)

    def commit_rewrite(
        self, removed: list[str], new_files: list[dict], operation: str = "replace"
    ) -> Snapshot:
        """Commit a rewrite from pre-staged manifest entries — ONE
        atomic commit covering every rewritten file group
        (partial-progress disabled, the reference's dist default)."""
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        base = parent.files if parent else []
        removed_set = set(removed)
        kept = [e for e in base if e["file_path"] not in removed_set]
        return self._commit_delta(
            operation=operation,
            summary={
                "rewritten-data-files": str(len(removed_set)),
                "added-data-files": str(len(_data_files(new_files))),
                "total-data-files": str(
                    len(_data_files(kept)) + len(_data_files(new_files))
                ),
                "total-records": str(
                    sum(e["record_count"] for e in _data_files(kept))
                    + sum(e["record_count"] for e in _data_files(new_files))
                ),
            },
            added=new_files,
            removed=list(removed_set),
            parent=parent,
        )

    def _stage_position_deletes(self, dels: DataFrame) -> list[dict]:
        """Write a (file_path, pos) DataFrame as content=1 position-
        delete files and return their manifest entries (uncommitted)."""
        stage_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, stage_id)
        dels.coalesce(1).write.mode("append").parquet(out_dir)
        new_entries = []
        for dirpath, _d, filenames in os.walk(out_dir):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    entry = self._file_entry(
                        os.path.join(dirpath, fn), {}, self.default_spec_id()
                    )
                    entry["content"] = 1
                    new_entries.append(entry)
        return new_entries

    def merge_into(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str = "update",  # update | delete | skip
        insert_not_matched: bool = True,
    ) -> Snapshot:
        """MERGE INTO (Iceberg/Delta upsert), merge-on-read and fully
        distributed:

        - matched target rows (equality on ``on``) become POSITION
          DELETES (content=1 — data files untouched); in ``update``
          mode their replacement is the source row, appended.
        - unmatched source rows are appended when
          ``insert_not_matched``.
        - everything lands in ONE atomic ``merge`` commit: delete files
          + new data files together, so readers see the upsert
          all-or-nothing.

        Cost is O(source + matched rows): the target's (file_path, pos)
        pairs come from the ``_metadata`` hidden columns; only delete
        files and the inserted rows are written, never a table rewrite.
        The changelog (:meth:`changelog_scan`) surfaces a merge commit
        as its delete rows + insert rows with no extra machinery.

        Raises if ``source`` carries duplicate ``on`` keys — a target
        row matching multiple source rows is ambiguous (Iceberg's
        MERGE cardinality check).
        """
        if when_matched not in ("update", "delete", "skip"):
            raise ValueError(f"unknown when_matched {when_matched!r}")
        dup = source.groupBy(*on).count().filter(F.col("count") > 1).limit(1).count()
        if dup:
            raise ValueError("MERGE source has duplicate keys on " + ",".join(on))
        live = self.live_files()
        data_entries = [e for e in live if e.get("content", 0) == 0]
        existing_deletes = [
            e["file_path"] for e in live if e.get("content", 0) == 1
        ]
        eq_entries = [e for e in live if e.get("content", 0) == 2]
        if not data_entries:
            raise ValueError(f"{self.database}.{self.name}: empty merge target")
        target = self._read_entries(data_entries, with_meta=True)
        if existing_deletes:
            # anti-join already-deleted rows but KEEP the meta columns
            # (they address the new position deletes)
            prior = self.spark.read.parquet(*existing_deletes).select(
                F.col("file_path").alias("_mor_fp"), F.col("pos").alias("_mor_pos")
            )
            target = target.join(F.broadcast(prior), ["_mor_fp", "_mor_pos"], "left_anti")
        if eq_entries:
            # equality-deleted rows are NOT part of the target either:
            # a source key that only matches an eq-deleted row is
            # unmatched (it must insert under insert_not_matched, and
            # must not stage deletes / block inserts otherwise)
            eq_matched = self._apply_equality_deletes(
                target, eq_entries, data_entries, invert=True
            ).select("_mor_fp", "_mor_pos")
            target = target.join(
                F.broadcast(eq_matched), ["_mor_fp", "_mor_pos"], "left_anti"
            )
        src_keys = source.select(*on).dropDuplicates(on)

        new_delete_entries: list[dict] = []
        if when_matched in ("update", "delete"):
            matched_pos = (
                target.join(src_keys, on)
                .select(
                    F.col("_mor_fp").alias("file_path"),
                    F.col("_mor_pos").alias("pos"),
                )
            )
            new_delete_entries = self._stage_position_deletes(matched_pos)
            if not any(e["record_count"] for e in new_delete_entries):
                new_delete_entries = []  # nothing actually matched

        target_keys = target.select(*on).dropDuplicates(on)
        if when_matched == "update" and insert_not_matched:
            insert_df = source  # upsert: every source row lands
        elif when_matched == "update":
            insert_df = source.join(target_keys, on, "left_semi")
        elif insert_not_matched:
            insert_df = source.join(target_keys, on, "left_anti")
        else:
            insert_df = None

        new_data_entries: list[dict] = []
        if insert_df is not None:
            self._validate_constraints(insert_df)
            new_data_entries = self._stage_write(insert_df.select(*[
                c["name"] for c in self._load_meta()["columns"]
            ]))

        added = new_delete_entries + new_data_entries
        n_deleted = sum(e["record_count"] for e in new_delete_entries)
        n_added = sum(e["record_count"] for e in new_data_entries)
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        prev_files = int(parent.summary.get("total-data-files", 0)) if parent else 0
        prev_records = int(parent.summary.get("total-records", 0)) if parent else 0
        return self._commit_delta(
            operation="merge",
            summary={
                "added-data-files": str(len(new_data_entries)),
                "added-records": str(n_added),
                "added-delete-files": str(len(new_delete_entries)),
                "added-position-deletes": str(n_deleted),
                "total-data-files": str(prev_files + len(new_data_entries)),
                "total-records": str(prev_records + n_added),
            },
            added=added,
            removed=[],
            parent=parent,
        )

    def _stage_equality_deletes(
        self, keys_df: DataFrame, columns: list[str]
    ) -> list[dict]:
        """Write DISTINCT key tuples as content=2 equality-delete files
        (Iceberg v2): O(keys) written, no row lookup at delete time —
        the shape a CDC/streaming upsert needs."""
        stage_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, stage_id)
        keys_df.select(*columns).dropDuplicates(columns).coalesce(1).write.mode(
            "append"
        ).parquet(out_dir)
        entries = []
        for dirpath, _d, filenames in os.walk(out_dir):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    entry = self._file_entry(
                        os.path.join(dirpath, fn), {}, self.default_spec_id()
                    )
                    entry["content"] = 2
                    entry["equality_columns"] = list(columns)
                    entries.append(entry)
        return entries

    def delete_by_key(self, keys_df: DataFrame, columns: list[str]) -> Snapshot:
        """Equality delete: drop every live row whose ``columns`` tuple
        appears in ``keys_df`` — WITHOUT locating the rows (contrast
        delete_where's position-delete scan). The commit writes only
        the key tuples; readers anti-join them against rows from files
        with a smaller sequence number."""
        entries = self._stage_equality_deletes(keys_df, columns)
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        n_keys = sum(e["record_count"] for e in entries)
        prev_files = int(parent.summary.get("total-data-files", 0)) if parent else 0
        prev_records = int(parent.summary.get("total-records", 0)) if parent else 0
        return self._commit_delta(
            operation="delete",
            summary={
                "added-delete-files": str(len(entries)),
                "added-equality-deletes": str(n_keys),
                "total-data-files": str(prev_files),
                "total-records": str(prev_records),
            },
            added=entries,
            removed=[],
            parent=parent,
        )

    def upsert_by_key(
        self,
        df: DataFrame,
        columns: list[str],
        extra_summary: dict[str, str] | None = None,
        prepare: bool = False,
    ) -> Snapshot:
        """Streaming upsert (the Flink-CDC-into-Iceberg shape): ONE
        commit carrying an equality-delete of ``df``'s key tuples plus
        ``df`` as new data files. Old versions of the keys vanish (their
        files have smaller sequence numbers); the new rows survive
        (equality deletes apply only to STRICTLY SMALLER sequences).
        O(batch) work — no target scan, no row lookup — which is what
        makes it viable as a per-micro-batch sink at ingest scale."""
        self._validate_constraints(df)
        eq_entries = self._stage_equality_deletes(df, columns)
        data_entries = self._stage_write(df)
        n_keys = sum(e["record_count"] for e in eq_entries)
        n_added = sum(e["record_count"] for e in data_entries)
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        prev_files = int(parent.summary.get("total-data-files", 0)) if parent else 0
        prev_records = int(parent.summary.get("total-records", 0)) if parent else 0
        return self._commit_delta(
            operation="merge",
            summary={
                **(extra_summary or {}),
                "added-data-files": str(len(data_entries)),
                "added-records": str(n_added),
                "added-delete-files": str(len(eq_entries)),
                "added-equality-deletes": str(n_keys),
                "total-data-files": str(prev_files + len(data_entries)),
                "total-records": str(prev_records + n_added),
            },
            added=eq_entries + data_entries,
            removed=[],
            parent=parent,
            prepare=prepare,
        )

    def _apply_equality_deletes(
        self,
        df: DataFrame,
        eq_entries: list[dict],
        data_entries: list[dict],
        invert: bool = False,
    ) -> DataFrame:
        """Anti-join equality-delete keys against rows from files with a
        strictly smaller sequence number. All delete files are unioned
        with their sequence and applied in ONE broadcast anti-join; the
        row side learns its file's sequence from a broadcast
        (file_path → sequence) map join on the ``_mor_fp`` column."""
        if not eq_entries:
            return df.drop("_mor_fp", "_mor_pos")
        col_sets = sorted({tuple(e.get("equality_columns") or ()) for e in eq_entries})
        if len(col_sets) > 1:
            # mixed key sets: apply each group independently (anti-joins
            # compose; the semi/invert caller unions the matches)
            if invert:
                matches = None
                for cs in col_sets:
                    grp = [
                        e
                        for e in eq_entries
                        if tuple(e.get("equality_columns") or ()) == cs
                    ]
                    m = self._apply_equality_deletes(
                        df, grp, data_entries, invert=True
                    ).select("_mor_fp", "_mor_pos")
                    matches = m if matches is None else matches.unionByName(m)
                return matches.distinct()
            matched = self._apply_equality_deletes(
                df, eq_entries, data_entries, invert=True
            )
            return df.join(
                F.broadcast(matched), ["_mor_fp", "_mor_pos"], "left_anti"
            ).drop("_mor_fp", "_mor_pos")
        (columns,) = col_sets
        columns = list(columns)
        # _metadata.file_path is a file: URI; manifests store plain paths
        seq_map = self.spark.createDataFrame(
            [
                (path_to_file_uri(e["file_path"]), int(e.get("sequence_number", 0)))
                for e in data_entries
            ],
            "_mor_fp string, _row_seq bigint",
        )
        dels = None
        for e in eq_entries:
            part = self.spark.read.parquet(e["file_path"]).select(
                *[F.col(c).alias(f"_del_{c}") for c in columns]
            ).withColumn("_del_seq", F.lit(int(e.get("sequence_number", 0))))
            dels = part if dels is None else dels.unionByName(part)
        df = df.join(F.broadcast(seq_map), "_mor_fp", "left")
        cond = F.col("_row_seq") < F.col("_del_seq")
        for c in columns:
            cond = cond & (F.col(c).eqNullSafe(F.col(f"_del_{c}")))
        if invert:
            # the MATCHING rows (meta kept) — convert_equality_deletes
            # uses this to materialize position deletes
            return df.join(F.broadcast(dels), cond, "left_semi").drop("_row_seq")
        return (
            df.join(F.broadcast(dels), cond, "left_anti")
            .drop("_mor_fp", "_mor_pos", "_row_seq")
        )

    def update_where(
        self, condition: Column, assignments: dict[str, Column]
    ) -> Snapshot:
        """Row-level UPDATE ... SET, merge-on-read: the matched rows
        become position deletes and their updated copies append — ONE
        atomic commit, O(matched rows), data files untouched (the same
        shape as merge_into with a computed source). Constraints are
        validated on the updated rows before anything stages."""
        data_entries = [e for e in self.live_files() if e.get("content", 0) == 0]
        if not data_entries:
            raise ValueError(f"{self.database}.{self.name}: nothing to update")
        pos_paths = [
            e["file_path"] for e in self.live_files() if e.get("content", 0) == 1
        ]
        eq_entries = [
            e for e in self.live_files() if e.get("content", 0) == 2
        ]
        df = self._read_entries(data_entries, with_meta=True)
        df = self._apply_position_deletes(df, pos_paths, keep_meta=True)
        if eq_entries:
            # matched rows must be LIVE rows only
            seqd = self._apply_equality_deletes(df, eq_entries, data_entries,
                                                invert=True).select("_mor_fp", "_mor_pos")
            df = df.join(F.broadcast(seqd), ["_mor_fp", "_mor_pos"], "left_anti")
        matched = df.filter(condition)
        updated = matched
        for col_name, expr in assignments.items():
            updated = updated.withColumn(col_name, expr)
        cols = [c["name"] for c in self._load_meta()["columns"]]
        updated = updated.select(*cols)
        self._validate_constraints(updated)
        del_entries = self._stage_position_deletes(
            matched.select(
                F.col("_mor_fp").alias("file_path"),
                F.col("_mor_pos").alias("pos"),
            )
        )
        n_updated = sum(e["record_count"] for e in del_entries)
        data_new = self._stage_write(updated) if n_updated else []
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        prev_files = int(parent.summary.get("total-data-files", 0)) if parent else 0
        prev_records = int(parent.summary.get("total-records", 0)) if parent else 0
        return self._commit_delta(
            operation="merge",
            summary={
                "updated-records": str(n_updated),
                "added-data-files": str(len(data_new)),
                "added-records": str(n_updated),
                "added-delete-files": str(len(del_entries)),
                "added-position-deletes": str(n_updated),
                "total-data-files": str(prev_files + len(data_new)),
                "total-records": str(prev_records + n_updated),
            },
            added=del_entries + data_new,
            removed=[],
            parent=parent,
        )

    def delete_where(self, condition: Column) -> Snapshot:
        """Merge-on-read row delete: write POSITION DELETE files
        (content = 1, Iceberg v2 semantics) instead of rewriting data.

        The delete scan selects (file_path, pos) of matching rows via
        Spark's ``_metadata`` hidden columns — a distributed job whose
        output is proportional to the DELETED rows, not the table.
        Readers anti-join on (file_path, pos); data files are untouched,
        so partition/file stats still describe the data files and
        metadata queries must filter ``content = 0`` exactly like the
        reference's `$files` browse does (service_browse_files.go:206).
        """
        live = self.live_files()
        data_entries = [e for e in live if e.get("content", 0) == 0]
        if not data_entries:
            raise ValueError(f"{self.database}.{self.name}: nothing to delete from")
        pos_paths = [e["file_path"] for e in live if e.get("content", 0) == 1]
        eq_entries = [e for e in live if e.get("content", 0) == 2]
        src = self._read_entries(data_entries, with_meta=True)
        # only LIVE rows may stage new position deletes: a row already
        # removed by an older position/equality delete must not be
        # re-recorded, or (file_path, pos) pairs duplicate across delete
        # files and metadata-only counts / the changelog double-count it
        src = self._apply_position_deletes(src, pos_paths, keep_meta=True)
        if eq_entries:
            eq_matched = self._apply_equality_deletes(
                src, eq_entries, data_entries, invert=True
            ).select("_mor_fp", "_mor_pos")
            src = src.join(F.broadcast(eq_matched), ["_mor_fp", "_mor_pos"], "left_anti")
        dels = src.filter(condition).select(
            F.col("_mor_fp").alias("file_path"),
            F.col("_mor_pos").alias("pos"),
        )
        new_entries = self._stage_position_deletes(dels)
        cur = self.current_snapshot_id()
        parent = self.snapshot(cur) if cur else None
        n_deleted = sum(e["record_count"] for e in new_entries)
        prev_files = int(parent.summary.get("total-data-files", 0)) if parent else 0
        prev_records = int(parent.summary.get("total-records", 0)) if parent else 0
        return self._commit_delta(
            operation="delete",
            summary={
                "added-delete-files": str(len(new_entries)),
                "added-position-deletes": str(n_deleted),
                "total-data-files": str(prev_files),
                "total-records": str(prev_records),
            },
            added=new_entries,
            removed=[],
            parent=parent,
        )

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Rollback: new commit whose file set is the target snapshot's
        (reference: rollback_to_snapshot,
        backend/internal/service_iceberg_mutations.go:37-48)."""
        cur_head = self.current_snapshot_id()
        target = self.snapshot(snapshot_id)
        snap = Snapshot(
            snapshot_id=self._allocate_snapshot_id(),
            # logical lineage continues from the TARGET: commits on the
            # abandoned branch are no longer current-ancestors (Iceberg
            # history-table semantics)
            parent_id=snapshot_id,
            committed_at_ms=int(time.time() * 1000),
            operation="rollback",
            summary={
                "rolled-back-to": str(snapshot_id),
                # running totals from the target's summary when present
                # (O(1)); legacy snapshots without them recount once
                "total-data-files": target.summary.get("total-data-files")
                or str(len(_data_files(target.files))),
                "total-records": target.summary.get("total-records")
                or str(sum(e["record_count"] for e in _data_files(target.files))),
            },
            # manifest REUSE (the whole point of immutable segments): a
            # rollback shares the target's segment files — O(segments)
            # commit, zero entry rewrites. own_segment=None: its delta
            # vs its lineage parent (the target) is empty by definition.
            added=[],
            removed=[],
            manifest_list=self._parent_manifest_list(target),
            own_segment=None,
        )
        snap._table = self
        self._commit(snap, expected_parent=cur_head)
        return snap

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def _snapshot_files(self, sid: int) -> _SnapshotFiles:
        """The committed snapshot's cached file views (see
        :class:`_SnapshotFiles`): a snapshot's live set is immutable
        once committed, so repeated planning against it replays the
        segment merge once, not per query."""
        return _SNAPSHOT_CACHE.get(
            (os.path.abspath(self.meta_dir), sid),
            lambda: _SnapshotFiles(self.snapshot(sid).files),
        )

    def live_files(self, snapshot_id: int | None = None) -> list[dict]:
        """The snapshot's live manifest entries (cached per snapshot).
        Treat the returned list as READ-ONLY."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return []
        return self._snapshot_files(sid).live

    def _data_files_for(self, snapshot_id: int | None) -> list[dict]:
        """The snapshot's live DATA entries (content == 0), cached as a
        pointer list into the live-file entries. Treat as READ-ONLY."""
        if snapshot_id is None:
            return []
        return self._snapshot_files(snapshot_id).data

    def _eq_index(self, sid: int, col: str) -> tuple[dict, list, type | None]:
        """(constant-value -> entries, varying entries, stats type) for
        one column of snapshot ``sid``'s data files — built once per
        (table, snapshot, column) and cached in the snapshot's entry.
        ``vtype`` is None when no file carries usable stats (index not
        applicable). Entries whose min != max — or with no stats — land
        in ``varying`` and are always candidates, so narrowing drops
        only files the residual pruner would provably drop anyway."""
        snap = self._snapshot_files(sid)
        hit = snap.eq.get(col)
        if hit is not None:
            return hit
        const: dict = {}
        varying: list[dict] = []
        vtype: type | None = None
        for e in snap.data:
            rng = (e.get("column_stats") or {}).get(col)
            if (
                rng is None
                or rng[0] is None
                or rng[0] != rng[1]
                or (vtype is not None and type(rng[0]) is not vtype)
            ):
                varying.append(e)
                continue
            if vtype is None:
                vtype = type(rng[0])
            const.setdefault(rng[0], []).append(e)
        out = snap.eq[col] = (const, varying, vtype)
        return out

    @staticmethod
    def _segment_may_match(desc: dict, predicates: list[tuple]) -> bool:
        """True unless the descriptor's summary PROVES no data entry in
        the segment can satisfy every predicate. Missing summary,
        missing column, null-ops, and incomparable probe types all
        answer True (unskippable) — exactly the residual pruner's
        keep-on-unknown semantics lifted to segment granularity."""
        s = desc.get("summary")
        if s is None:
            return True
        if s.get("n_data", 1) == 0:
            return False  # no data entries at all (pure-delete segment)
        cols = s.get("cols") or {}
        for c, op, v in predicates:
            if op in ("is_null", "not_null"):
                continue  # summaries carry no null counts
            rng = cols.get(c)
            if rng is None:
                continue
            lo, hi = rng
            try:
                possible = {
                    "<": lo < v, "<=": lo <= v, ">": hi > v,
                    ">=": hi >= v, "=": lo <= v <= hi,
                }[op]
            except (TypeError, KeyError):
                continue
            if not possible:
                return False
        return True

    def _segment_pruned_entries(
        self, snapshot_id: int, predicates: list[tuple]
    ) -> list[dict] | None:
        """Cold-plan materialization with MANIFEST SKIPPING: walk the
        snapshot's manifest list, reading only segments that (a) carry
        removals — a later segment's tombstones must always apply to
        earlier segments' files — or (b) may contain a matching data
        entry per their descriptor summary. Skipped segments contribute
        no entries, which is sound because none of their data entries
        could match; tombstones aimed at them become no-ops. Returns
        None for non-segmented snapshots (caller falls back to the full
        materialization)."""
        snap = self.snapshot(snapshot_id)
        if not snap.is_segmented:
            return None
        entries: dict[str, dict] = {}
        for desc in snap.manifest_list:
            # Skipping requires readds == 0 (proven, not assumed): the
            # format's merge semantics let a later segment RE-ADD a
            # path, superseding an earlier entry with different
            # stats/sequence_number — skipping such a segment would
            # leave the superseded entry in the plan. Current writers
            # never re-add (uuid-fresh staging), so this costs nothing;
            # a legacy descriptor without the field is simply never
            # skipped.
            if (
                int(desc.get("removed", 0)) == 0
                and desc.get("readds") == 0
                and not self._segment_may_match(desc, predicates)
            ):
                continue
            # Same readds == 0 proof unlocks ROW-level prefiltering of
            # an unskippable segment: dropped rows can't be superseding
            # a kept earlier entry, so filtering at decode time equals
            # filtering after the merge.
            if desc["path"].endswith(".parquet") and desc.get("readds") == 0:
                added, removed = self._segment_matching_entries(
                    desc["path"], predicates
                )
            else:
                seg = self._read_segment(desc["path"])
                added, removed = seg.get("added", []), seg.get("removed", [])
            for p in removed:
                entries.pop(p, None)
            for e in added:
                entries[e["file_path"]] = e
        return list(entries.values())

    def _segment_matching_entries(
        self, name: str, predicates: list[tuple]
    ) -> tuple[list[dict], list[str]]:
        """(entries that MAY match ``predicates``, removed paths) from
        one parquet segment body, json-parsing ONLY the candidate
        rows: the typed widened stat columns (``slo_*``/``shi_*``,
        written per table column) drive a C-side Arrow mask, so a
        10^6-entry base segment yields a range window at the cost of a
        typed column scan plus the selected entries' decode — not a
        full entry-document parse. Null bounds, absent columns, and
        null-op predicates keep the row (the residual pruner's
        unknown rule); the returned entries still carry exact stats,
        so plan_files' residual pass stays the ground truth.

        Callers must hold the readds == 0 proof for this segment — a
        dropped row must never be one that supersedes an earlier
        segment's kept entry. A cached full body is filtered in Python
        instead (no I/O beats a masked re-read)."""
        import pyarrow.compute as pc

        path = os.path.abspath(self._segment_path(name))
        hit = _SEGMENT_CACHE.peek(path)
        if hit is not None:
            return (
                [
                    e
                    for e in hit.get("added", [])
                    if _entry_may_match(e, predicates)
                ],
                list(hit.get("removed", [])),
            )
        pf = pq.ParquetFile(path)
        try:
            names = set(pf.schema_arrow.names)
            specs: list[tuple[str, str, str, object]] = []
            needed = {"kind", "file_path", "entry_json"}
            for c, op, v in predicates:
                if op in ("is_null", "not_null") or isinstance(v, bool):
                    continue
                if isinstance(v, (int, float)):
                    lo, hi, vv = f"slo_n:{c}", f"shi_n:{c}", float(v)
                elif isinstance(v, str):
                    lo, hi, vv = f"slo_s:{c}", f"shi_s:{c}", v
                else:
                    continue
                if lo in names and hi in names:
                    specs.append((lo, hi, op, vv))
                    needed |= {lo, hi}
            added: list[dict] = []
            removed: list[str] = []
            for batch in pf.iter_batches(
                batch_size=_SEGMENT_ROW_GROUP, columns=sorted(needed)
            ):
                kind = batch.column("kind")
                keep = None
                for lo, hi, op, vv in specs:
                    lo_c, hi_c = batch.column(lo), batch.column(hi)
                    if op == "<":
                        m = pc.less(lo_c, vv)
                    elif op == "<=":
                        m = pc.less_equal(lo_c, vv)
                    elif op == ">":
                        m = pc.greater(hi_c, vv)
                    elif op == ">=":
                        m = pc.greater_equal(hi_c, vv)
                    else:  # "=": lo <= v <= hi
                        m = pc.and_(
                            pc.less_equal(lo_c, vv), pc.greater_equal(hi_c, vv)
                        )
                    # null bounds (written as a pair) → unknown → keep
                    m = pc.fill_null(m, True)
                    keep = m if keep is None else pc.and_(keep, m)
                is_rem = pc.equal(kind, 1)
                if pc.any(is_rem).as_py():
                    removed.extend(
                        pc.filter(batch.column("file_path"), is_rem).to_pylist()
                    )
                sel = pc.equal(kind, 0)
                if keep is not None:
                    sel = pc.and_(sel, keep)
                docs = pc.filter(batch.column("entry_json"), sel).to_pylist()
                if docs:
                    added.extend(json.loads("[" + ",".join(docs) + "]"))
        finally:
            pf.close()
        return added, removed

    def _delete_entries(
        self, snapshot_id: int | None
    ) -> tuple[list[dict], list[dict]]:
        """(position-delete entries, equality-delete entries) LIVE in
        the snapshot — without materializing the full live set when the
        manifest proves there is nothing to find. Descriptor
        ``n_deletes`` counts (exact, maintained by every writer and
        both merge paths) let the common append-only case answer []
        from the manifest list alone, so a predicated cold read()
        keeps the benefit of manifest skipping instead of paying
        pruned reads PLUS a full materialization.

        When delete entries may exist, only segments that could affect
        the live delete set are read: a segment with no removals, zero
        delete adds, and readds == 0 contributes only fresh data
        entries — irrelevant to the delete set (same soundness argument
        as :meth:`_segment_pruned_entries`, with "matches predicates"
        replaced by "is a delete entry")."""
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id()
        )
        if sid is None:
            return [], []
        hit = _SNAPSHOT_CACHE.peek((os.path.abspath(self.meta_dir), sid))
        if hit is not None:
            return (
                [e for e in hit.live if e.get("content", 0) == 1],
                [e for e in hit.live if e.get("content", 0) == 2],
            )
        snap = self.snapshot(sid)
        if not snap.is_segmented:
            live = self.live_files(sid)
            return (
                [e for e in live if e.get("content", 0) == 1],
                [e for e in live if e.get("content", 0) == 2],
            )
        descs = snap.manifest_list
        if all(desc.get("n_deletes") == 0 for desc in descs):
            return [], []
        entries: dict[str, dict] = {}
        for desc in descs:
            if (
                int(desc.get("removed", 0)) == 0
                and desc.get("n_deletes") == 0
                and desc.get("readds") == 0
            ):
                continue  # fresh data-only segment: no delete impact
            # readds == 0 also proves a segment's DATA rows can't
            # supersede an earlier delete entry — so only its delete
            # rows and tombstones need decoding (typed content mask)
            if desc["path"].endswith(".parquet") and desc.get("readds") == 0:
                added, removed = self._segment_delete_rows(desc["path"])
            else:
                seg = self._read_segment(desc["path"])
                added, removed = seg.get("added", []), seg.get("removed", [])
            for p in removed:
                entries.pop(p, None)
            for e in added:
                entries[e["file_path"]] = e
        live_deletes = [
            e for e in entries.values() if e.get("content", 0) != 0
        ]
        return (
            [e for e in live_deletes if e.get("content", 0) == 1],
            [e for e in live_deletes if e.get("content", 0) == 2],
        )

    def _segment_delete_rows(
        self, name: str
    ) -> tuple[list[dict], list[str]]:
        """(delete-content entries, removed paths) from one parquet
        segment via the typed ``content`` column — a MOR table's base
        segment holds millions of data rows and a handful of delete
        rows; only the latter's entry documents parse. Callers must
        hold the readds == 0 proof (see
        :meth:`_segment_matching_entries`). Cached bodies filter in
        Python."""
        import pyarrow.compute as pc

        path = os.path.abspath(self._segment_path(name))
        hit = _SEGMENT_CACHE.peek(path)
        if hit is not None:
            return (
                [
                    e
                    for e in hit.get("added", [])
                    if e.get("content", 0) != 0
                ],
                list(hit.get("removed", [])),
            )
        pf = pq.ParquetFile(path)
        added: list[dict] = []
        removed: list[str] = []
        try:
            for batch in pf.iter_batches(
                batch_size=_SEGMENT_ROW_GROUP,
                columns=["kind", "file_path", "content", "entry_json"],
            ):
                kind = batch.column("kind")
                is_rem = pc.equal(kind, 1)
                if pc.any(is_rem).as_py():
                    removed.extend(
                        pc.filter(batch.column("file_path"), is_rem).to_pylist()
                    )
                sel = pc.and_(
                    pc.equal(kind, 0),
                    pc.not_equal(
                        pc.fill_null(batch.column("content"), 0), 0
                    ),
                )
                docs = pc.filter(batch.column("entry_json"), sel).to_pylist()
                if docs:
                    added.extend(json.loads("[" + ",".join(docs) + "]"))
        finally:
            pf.close()
        return added, removed

    def _range_index(
        self, sid: int, col: str
    ) -> tuple[list, list, list, list, list, type | None]:
        """Sorted interval index over one column of one snapshot's data
        files: (lo_keys, by_lo_entries, hi_keys, by_hi_entries,
        nostats, vtype) — entries sorted by their stats MIN and (again)
        by their stats MAX, so a range predicate selects a contiguous
        prefix/suffix by binary search: O(log files + selected) per
        plan instead of the O(files) residual stats scan. Built once
        per (table, snapshot, column) and cached in the snapshot's
        entry. Entries with no usable stats — or whose stats type
        differs from the first one seen — land in ``nostats`` and are
        ALWAYS candidates, mirroring :meth:`_eq_index`'s keep rule, so
        narrowing drops only files the residual pruner would provably
        drop anyway."""
        snap = self._snapshot_files(sid)
        hit = snap.range.get(col)
        if hit is not None:
            return hit
        spans: list[tuple] = []
        nostats: list[dict] = []
        vtype: type | None = None
        for e in snap.data:
            rng = (e.get("column_stats") or {}).get(col)
            if (
                rng is None
                or rng[0] is None
                or rng[1] is None
                or type(rng[0]) is not type(rng[1])
                or (vtype is not None and type(rng[0]) is not vtype)
            ):
                nostats.append(e)
                continue
            if vtype is None:
                vtype = type(rng[0])
            spans.append((rng[0], rng[1], e))
        by_lo = sorted(spans, key=lambda t: t[0])
        by_hi = sorted(spans, key=lambda t: t[1])
        out = snap.range[col] = (
            [t[0] for t in by_lo],
            [t[2] for t in by_lo],
            [t[1] for t in by_hi],
            [t[2] for t in by_hi],
            nostats,
            vtype,
        )
        return out

    def plan_files(
        self,
        predicates: list[tuple[str, str, object]] | None = None,
        snapshot_id: int | None = None,
    ) -> list[dict]:
        """Manifest-level file pruning: keep a file unless its column
        stats PROVE no row can match every predicate (the Iceberg
        file-skipping contract — metadata-only, no data reads).

        predicates: (column, op, value) with op in < <= > >= = , plus
        the null ops ``is_null`` / ``not_null`` (value ignored — pruned
        from footer null counts: a file with zero nulls cannot satisfy
        is_null; an all-null column cannot satisfy not_null). Values
        for timestamp/date columns are ISO strings (stats are stored as
        ISO strings, which compare correctly lexicographically).

        Plans DATA files only (content = 0) — position-delete files are
        not scannable data; :meth:`read` applies them separately."""
        # Resolve the head ONCE: the file list and the lookup indexes
        # narrowing it must describe the same snapshot even when a
        # commit lands mid-plan.
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id()
        )
        # Manifest skipping (Iceberg manifest-list-summary analog): on
        # a COLD plan (live list not yet materialized) with predicates,
        # skip reading entire segment BODIES whose descriptor summary
        # proves no data entry can match — the planner's first touch of
        # a 10^6-file snapshot reads only the window's segments. The
        # result is a SUBSET of the live list, so the snapshot-keyed
        # lookup indexes (built over FULL lists) must not narrow it;
        # the residual pruner alone finishes. Warm plans use the cached
        # full list + indexes as before.
        full_list = True
        if predicates and sid is not None:
            if _SNAPSHOT_CACHE.peek((os.path.abspath(self.meta_dir), sid)) is None:
                pruned = self._segment_pruned_entries(sid, predicates)
                if pruned is not None:
                    files = [e for e in pruned if e.get("content", 0) == 0]
                    full_list = False
        if full_list:
            files = self._data_files_for(sid)
        if not predicates or not files:
            # fresh list: the cached data-only subset must never be
            # exposed to caller mutation
            return list(files)
        # Snapshot-keyed lookup indexes (the Iceberg
        # manifest-partition-summary analog), built once per (snapshot,
        # column) and LRU-cached. `col = v` narrows through the
        # equality index (files with min == max group by that
        # constant); `< <= > >=` narrow through the sorted interval
        # index (binary-searched prefix of the by-min order / suffix of
        # the by-max order) — both O(log files + selected) instead of
        # an O(files) stats scan per plan. Only applied when the probe
        # value's type matches the stored stats type (an incomparable
        # pair must KEEP the file, exactly like the residual pruner's
        # TypeError branch). The FIRST predicate with an applicable
        # index narrows and the residual pruner finishes: indexes are
        # built over the full snapshot list, so applying a second one
        # to the already-narrowed subset would re-expand it.
        import bisect

        def _probe_ok(v, vtype) -> bool:
            both_num = isinstance(v, (int, float)) and issubclass(
                vtype, (int, float)
            )
            return both_num or isinstance(v, vtype)

        for c, op, v in predicates if full_list else ():
            if op == "=":
                const, varying, vtype = self._eq_index(sid, c)
                if vtype is None or not _probe_ok(v, vtype):
                    continue
                files = const.get(v, []) + varying
                break
            if op in ("<", "<=", ">", ">="):
                lo_keys, by_lo, hi_keys, by_hi, nostats, vtype = (
                    self._range_index(sid, c)
                )
                if vtype is None or not _probe_ok(v, vtype):
                    continue
                if op == "<":  # a file may match iff its min < v
                    sel = by_lo[: bisect.bisect_left(lo_keys, v)]
                elif op == "<=":  # min <= v
                    sel = by_lo[: bisect.bisect_right(lo_keys, v)]
                elif op == ">":  # max > v
                    sel = by_hi[bisect.bisect_right(hi_keys, v):]
                else:  # ">=": max >= v
                    sel = by_hi[bisect.bisect_left(hi_keys, v):]
                files = sel + nostats
                break
        # Puffin-style secondary pruning: per-file Bloom sketches prove
        # key-absence for `=` predicates on columns min/max can't prune
        # (non-sorted, non-bucketed). Metadata-only; files the sidecar
        # doesn't cover are kept (see sources/sketches.py).
        if any(op == "=" for _c, op, _v in predicates):
            from lakehouse_admin_spark.sources.sketches import prunable_by_sketch

            bloom_pruned = prunable_by_sketch(self, files, predicates)
            if bloom_pruned:
                files = [e for e in files if e["file_path"] not in bloom_pruned]

        return [e for e in files if _entry_may_match(e, predicates)]

    def _ancestry_range(
        self, from_snapshot_id: int | None, to_snapshot_id: int
    ) -> list[Snapshot]:
        """Snapshots strictly after ``from`` up to and including ``to``,
        oldest first, following parent links. ``from=None`` means "from
        the very beginning" (the root commit is included). Raises if
        ``from`` is not an ancestor of ``to``."""
        chain: list[Snapshot] = []
        cur = self.snapshot(to_snapshot_id)
        while cur.snapshot_id != from_snapshot_id:
            chain.append(cur)
            if cur.parent_id is None:
                if from_snapshot_id is not None:
                    raise ValueError(
                        f"snapshot {from_snapshot_id} is not an ancestor of {to_snapshot_id}"
                    )
                break
            nxt = self._snapshot_or_none(cur.parent_id)
            if nxt is None:
                # parent removed by expire_snapshots — the requested
                # range crosses the retention horizon; changes older
                # than the horizon are unrecoverable, so fail cleanly
                # instead of KeyError (consumers must re-bootstrap)
                raise ValueError(
                    f"{self.database}.{self.name}: incremental range "
                    f"({from_snapshot_id}, {to_snapshot_id}] crosses the "
                    f"retention horizon: ancestor {cur.parent_id} was "
                    "removed by expire_snapshots"
                )
            cur = nxt
        chain.reverse()
        return chain

    def _snapshot_delta(self, snap: Snapshot) -> tuple[list[dict], list[str]]:
        """(added entries, removed paths) of one snapshot — directly for
        delta-form commits, by file-path diff against the parent for
        fold-form ones (folds drop the delta record by design)."""
        if not snap.is_fold:
            return snap.added, snap.removed
        parent_files = (
            {e["file_path"]: e for e in self.snapshot(snap.parent_id).files}
            if snap.parent_id is not None
            else {}
        )
        cur_files = {e["file_path"]: e for e in snap.files}
        added = [e for p, e in cur_files.items() if p not in parent_files]
        removed = [p for p in parent_files if p not in cur_files]
        return added, removed

    def incremental_scan(
        self, from_snapshot_id: int | None, to_snapshot_id: int
    ) -> DataFrame:
        """Incremental APPEND scan (Iceberg's incremental read,
        reference admin plane surfaces snapshot lineage the same way):
        the rows committed strictly after ``from_snapshot_id`` up to
        ``to_snapshot_id`` — planned purely from manifest deltas, so
        the scan reads ONLY the files those commits added, never the
        table. Raises if any snapshot in the range removed or replaced
        files (same append-only restriction Iceberg enforces); use
        :meth:`changelog_scan` for ranges with deletes."""
        added_entries: list[dict] = []
        for snap in self._ancestry_range(from_snapshot_id, to_snapshot_id):
            added, removed = self._snapshot_delta(snap)
            if removed or snap.operation not in ("append",):
                raise ValueError(
                    f"snapshot {snap.snapshot_id} ({snap.operation}) is not "
                    "append-only; incremental_scan requires an append-only range"
                )
            added_entries.extend(e for e in added if e.get("content", 0) == 0)
        if not added_entries:
            return self.spark.createDataFrame([], self.unified_schema())
        return self._read_entries(added_entries)

    def changelog_scan(
        self, from_snapshot_id: int | None, to_snapshot_id: int
    ) -> DataFrame:
        """CDC changelog between two snapshots: every row added in the
        range tagged ``_change_type='insert'`` and every row removed
        tagged ``'delete'``, stamped with the committing snapshot id.
        ``replace`` commits (compaction/rewrites) move rows between
        files without changing table content, so they are skipped —
        Iceberg's changelog semantics. Planned from manifest deltas;
        reads only the added/removed files of the range."""
        pieces: list[DataFrame] = []
        for snap in self._ancestry_range(from_snapshot_id, to_snapshot_id):
            if snap.operation in ("replace",):
                continue
            added, removed = self._snapshot_delta(snap)
            data_added = [e for e in added if e.get("content", 0) == 0]
            pos_delete_added = [e for e in added if e.get("content", 0) == 1]
            eq_delete_added = [e for e in added if e.get("content", 0) == 2]
            if eq_delete_added and snap.parent_id is not None:
                # equality-delete commit: the removed rows are the
                # PARENT-VISIBLE rows matching the key tuples (the
                # parent read already applies all older deletes)
                cols = list(eq_delete_added[0].get("equality_columns") or [])
                keys = self.spark.read.parquet(
                    *[e["file_path"] for e in eq_delete_added]
                ).dropDuplicates(cols)
                deleted_rows = self.read(snapshot_id=snap.parent_id).join(
                    F.broadcast(keys), cols, "left_semi"
                )
                pieces.append(
                    deleted_rows.withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_snapshot_id", F.lit(snap.snapshot_id))
                )
            if pos_delete_added and snap.parent_id is not None:
                # merge-on-read delete commit: the removed ROWS are the
                # (file_path, pos) pairs in the new delete files. Only
                # the referenced data files are read (paths come from
                # the small delete files — a files-bounded collect).
                dels = self.spark.read.parquet(
                    *[e["file_path"] for e in pos_delete_added]
                )
                # delete files reference data files as file: URIs;
                # manifests store plain paths — normalize to paths
                ref_paths = {
                    file_uri_to_path(r[0])
                    for r in dels.select("file_path").distinct().collect()
                }
                parent_map = {
                    e["file_path"]: e for e in self.snapshot(snap.parent_id).files
                }
                ref_entries = [
                    parent_map[p]
                    for p in sorted(ref_paths)
                    if p in parent_map and parent_map[p].get("content", 0) == 0
                ]
                if ref_entries:
                    deleted_rows = (
                        self._read_entries(ref_entries, with_meta=True)
                        .join(
                            F.broadcast(
                                dels.select(
                                    F.col("file_path").alias("_mor_fp"),
                                    F.col("pos").alias("_mor_pos"),
                                )
                            ),
                            ["_mor_fp", "_mor_pos"],
                        )
                        .drop("_mor_fp", "_mor_pos")
                    )
                    pieces.append(
                        deleted_rows.withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_snapshot_id", F.lit(snap.snapshot_id))
                    )
            if data_added:
                pieces.append(
                    self._read_entries(data_added)
                    .withColumn("_change_type", F.lit("insert"))
                    .withColumn("_commit_snapshot_id", F.lit(snap.snapshot_id))
                )
            if removed:
                # entries of the removed paths live in the PARENT's file
                # list (they were live there by definition)
                parent_files = (
                    self.snapshot(snap.parent_id).files
                    if snap.parent_id is not None
                    else []
                )
                parent_entries = {e["file_path"]: e for e in parent_files}
                removed_entries = [
                    parent_entries[p]
                    for p in removed
                    if p in parent_entries
                    and parent_entries[p].get("content", 0) == 0
                ]
                if removed_entries:
                    # only PARENT-VISIBLE rows are deleted by removing a
                    # file: rows the parent's position/equality deletes
                    # already hid were emitted as deletes by the earlier
                    # MOR commit — re-emitting them here would
                    # double-count (e.g. in IVM delta absorption)
                    parent_pos = [
                        e["file_path"]
                        for e in parent_files
                        if e.get("content", 0) == 1
                    ]
                    parent_eq = [
                        e for e in parent_files if e.get("content", 0) == 2
                    ]
                    rm = self._read_entries(removed_entries, with_meta=True)
                    rm = self._apply_position_deletes(
                        rm, parent_pos, keep_meta=bool(parent_eq)
                    )
                    if parent_eq:
                        rm = self._apply_equality_deletes(
                            rm, parent_eq, removed_entries
                        )
                    pieces.append(
                        rm.withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_snapshot_id", F.lit(snap.snapshot_id))
                    )
        if not pieces:
            from pyspark.sql.types import LongType, StringType, StructField

            schema = self.unified_schema()
            schema = schema.add(StructField("_change_type", StringType())).add(
                StructField("_commit_snapshot_id", LongType())
            )
            return self.spark.createDataFrame([], schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def count_rows(
        self,
        predicates: list[tuple[str, str, object]] | None = None,
        snapshot_id: int | None = None,
    ) -> tuple[int, dict[str, int]]:
        """EXACT count with aggregation pushdown to the MANIFEST
        (Iceberg's metadata-only count): files are classified per the
        predicate set —

        - *pruned*: stats prove no row matches → contribute 0;
        - *full*: stats prove EVERY row matches (range fully inside the
          predicate, zero nulls — min/max ignore nulls, so a file with
          nulls can never be proven full) → contribute record_count
          minus its position-delete count, no data read;
        - *partial*: everything else → scanned with row filters.

        Only the partial files (and the small delete files) are read.
        On a day-partitioned 100 TB table a date-range count touches at
        most the two boundary partitions' files. Returns
        (count, {"full": n, "partial": n, "pruned": n}) — the
        classification is exposed so tests/telemetry can pin how much
        data the count actually read."""
        predicates = predicates or []
        all_files = self.live_files(snapshot_id)
        data_files = [e for e in all_files if e.get("content", 0) == 0]
        if any(e.get("content", 0) == 2 for e in all_files):
            # equality deletes can hit any smaller-sequence file, so no
            # file's metadata count is provable — scan conservatively
            total = self.read(snapshot_id=snapshot_id, predicates=predicates).count()
            return total, {"full": 0, "partial": len(data_files), "pruned": 0}
        candidates = {
            e["file_path"] for e in self.plan_files(predicates, snapshot_id)
        }
        delete_paths = [
            e["file_path"] for e in all_files if e.get("content", 0) == 1
        ]
        # per-file position-delete counts (delete files are tiny)
        del_by_file: dict[str, int] = {}
        if delete_paths:
            for row in (
                self.spark.read.parquet(*delete_paths)
                # a (file_path, pos) pair may appear in more than one
                # delete file (e.g. tables written before delete_where
                # filtered already-deleted rows); it removes ONE row
                .dropDuplicates(["file_path", "pos"])
                .groupBy("file_path")
                .count()
                .collect()
            ):
                p = file_uri_to_path(row["file_path"])
                del_by_file[p] = row["count"]

        def proves_all(entry: dict) -> bool:
            stats = entry.get("column_stats") or {}
            nulls = entry.get("null_counts") or {}
            for col, op, val in predicates:
                nc = nulls.get(col)
                if op == "is_null":
                    if nc is None or nc < entry["record_count"]:
                        return False
                    continue
                if op == "not_null":
                    if nc != 0:
                        return False
                    continue
                rng = stats.get(col)
                if rng is None or nc != 0:  # unknown nulls → can't prove
                    return False
                lo, hi = rng
                try:
                    ok = {
                        "<": hi < val,
                        "<=": hi <= val,
                        ">": lo > val,
                        ">=": lo >= val,
                        "=": lo == val == hi,
                    }[op]
                except TypeError:
                    return False
                if not ok:
                    return False
            return True

        total = 0
        partial_entries: list[dict] = []
        meta_counts = {"full": 0, "partial": 0, "pruned": 0}
        for e in data_files:
            if e["file_path"] not in candidates:
                meta_counts["pruned"] += 1
            elif proves_all(e):
                meta_counts["full"] += 1
                total += e["record_count"] - del_by_file.get(e["file_path"], 0)
            else:
                meta_counts["partial"] += 1
                partial_entries.append(e)
        if partial_entries:
            df = self._read_entries(partial_entries, with_meta=True)
            df = self._apply_position_deletes(df, delete_paths)
            for col, op, val in predicates:
                c = F.col(col)
                if op == "is_null":
                    df = df.filter(c.isNull())
                elif op == "not_null":
                    df = df.filter(c.isNotNull())
                else:
                    target = (
                        F.lit(val).cast(dict(df.dtypes).get(col, "string"))
                        if isinstance(val, str)
                        else F.lit(val)
                    )
                    df = df.filter(
                        {"<": c < target, "<=": c <= target, ">": c > target,
                         ">=": c >= target, "=": c == target}[op]
                    )
            total += df.count()
        return total, meta_counts

    def read(
        self,
        snapshot_id: int | None = None,
        predicates: list[tuple[str, str, object]] | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Scan the table (optionally time-traveled — by snapshot id,
        named ref (tag/branch), or FOR TIMESTAMP AS OF millis; at most
        one selector). With predicates, files are pruned by manifest
        stats FIRST (plan_files) and the same predicates are re-applied
        as Spark filters for row-level exactness — the two-tier skip
        Iceberg performs. Catalyst pushdown/pruning apply as usual on
        the surviving files."""
        if sum(x is not None for x in (snapshot_id, ref, as_of_ms)) > 1:
            raise ValueError("pass at most one of snapshot_id, ref, as_of_ms")
        if ref is not None:
            snapshot_id = self.resolve_ref(ref)
        elif as_of_ms is not None:
            snapshot_id = self.snapshot_as_of(as_of_ms)
        # resolve the head ONCE so planning and delete lookup see the
        # same snapshot even if a commit lands mid-read
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        files = self.plan_files(predicates, snapshot_id)
        if not files:
            raise ValueError(
                f"{self.database}.{self.name}: no files"
                + (" match the predicates" if predicates else " (empty table)")
            )
        # merge-on-read: anti-join position deletes (content = 1) on
        # (file_path, pos), then equality deletes (content = 2) on
        # their key columns against rows with a smaller sequence
        # number. Both delete sides are tiny relative to data → Spark
        # broadcasts them; data files are never rewritten. Delete
        # entries come from the manifest-list counts when possible
        # (_delete_entries) so a predicated COLD read keeps the
        # manifest-skipping win instead of re-materializing the full
        # live set just to learn there are no deletes.
        delete_entries, eq_entries = self._delete_entries(snapshot_id)
        # field-id-resolved scan: renames map by id per schema epoch,
        # later-added columns null-fill
        df = self._read_entries(files, with_meta=True)
        df = self._apply_position_deletes(
            df, [e["file_path"] for e in delete_entries], keep_meta=True
        )
        df = self._apply_equality_deletes(df, eq_entries, files)
        for col, op, val in predicates or []:
            c = F.col(col)
            if op == "is_null":
                df = df.filter(c.isNull())
                continue
            if op == "not_null":
                df = df.filter(c.isNotNull())
                continue
            target = (
                F.lit(val).cast(dict(df.dtypes).get(col, "string"))
                if isinstance(val, str)
                else F.lit(val)
            )
            df = df.filter(
                {"<": c < target, "<=": c <= target, ">": c > target,
                 ">=": c >= target, "=": c == target}[op]
            )
        return df


class LedgerCatalog:
    """Warehouse-level catalog: databases are directories, tables are
    ledger roots (reference catalog ops: iceberg_client.go:329-406)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        # heal any crashed multi-table transaction before new work: the
        # partial-commit window closes at catalog open (transactions.py)
        from lakehouse_admin_spark.sources.transactions import recover_pending

        recover_pending(self)

    def transaction(self):
        """Begin a multi-table atomic transaction (see transactions.py)."""
        from lakehouse_admin_spark.sources.transactions import WarehouseTransaction

        return WarehouseTransaction(self)

    def create_database(self, database: str) -> None:
        _validate_ident(database)
        os.makedirs(os.path.join(self.warehouse, database), exist_ok=True)

    def list_databases(self) -> list[str]:
        # underscore-prefixed dirs are engine-internal (e.g. _admin state)
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d)) and not d.startswith("_")
        )

    def list_tables(self, database: str) -> list[str]:
        db_dir = os.path.join(self.warehouse, database)
        if not os.path.isdir(db_dir):
            return []
        return sorted(
            t for t in os.listdir(db_dir)
            if os.path.exists(os.path.join(db_dir, t, "metadata", "table.json"))
        )

    def create_table(
        self,
        database: str,
        name: str,
        df_schema,
        partition_spec: list[PartitionField] | None = None,
        sort_order: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> LedgerTable:
        _validate_ident(database)
        _validate_ident(name)
        self.create_database(database)
        tbl = LedgerTable(self.spark, self.warehouse, database, name)
        if tbl.exists():
            raise ValueError(f"table {database}.{name} already exists")
        os.makedirs(tbl.meta_dir, exist_ok=True)
        os.makedirs(tbl.data_dir, exist_ok=True)
        columns = [
            {"name": f.name, "type": f.dataType.simpleString()} for f in df_schema.fields
        ]
        spec_json = [p.to_json() for p in (partition_spec or [])]
        tbl._store_meta(
            {
                "database": database,
                "name": name,
                "columns": columns,
                "partition_spec": spec_json,
                "partition_specs": {"0": spec_json},
                "default_spec_id": 0,
                "sort_order": list(sort_order or []),
                "current_snapshot_id": None,
                "created_ms": int(time.time() * 1000),
                "properties": {str(k): str(v) for k, v in (properties or {}).items()},
            }
        )
        return tbl

    def table(self, database: str, name: str) -> LedgerTable:
        tbl = LedgerTable(self.spark, self.warehouse, database, name)
        if not tbl.exists():
            raise KeyError(f"table {database}.{name} not found")
        return tbl

    def drop_table(self, database: str, name: str) -> None:
        import shutil

        tbl = self.table(database, name)
        shutil.rmtree(tbl.root)


def _validate_ident(s: str) -> None:
    if not _IDENT_RE.fullmatch(s):
        raise ValueError(f"invalid identifier {s!r}")


def _column_stats(meta) -> dict[str, list]:
    """Per-column [min, max] from parquet footer statistics — the
    manifest-level stats Iceberg uses for file skipping. JSON-encodable
    primitives only; columns without stats (or non-primitive) are
    omitted, which the pruner treats as 'cannot skip'."""
    import datetime as _dt

    out: dict[str, list] = {}
    for rg in range(meta.num_row_groups):
        grp = meta.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue
            if isinstance(lo, (_dt.datetime, _dt.date)):
                lo, hi = lo.isoformat(), hi.isoformat()
            prev = out.get(name)
            if prev is None:
                out[name] = [lo, hi]
            else:
                out[name] = [min(prev[0], lo), max(prev[1], hi)]
    return out


def _null_counts(meta) -> dict[str, int]:
    """Per-column null counts from parquet footers (Iceberg manifest
    ``null_value_counts``) — lets the planner skip files for
    ``is_null`` (no nulls present) and ``not_null`` (all-null column)
    predicates without touching data. Columns whose footers omit the
    null count are left out (pruner: cannot skip)."""
    out: dict[str, int] = {}
    incomplete: set[str] = set()
    for rg in range(meta.num_row_groups):
        grp = meta.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if st is None or not st.has_null_count:
                incomplete.add(name)
                continue
            out[name] = out.get(name, 0) + int(st.null_count)
    for name in incomplete:  # partial footer coverage → unusable
        out.pop(name, None)
    return out
