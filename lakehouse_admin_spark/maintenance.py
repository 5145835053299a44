"""Maintenance procedures over ledger tables — the engine's equivalent
of the Iceberg Spark procedures the reference shells out to:

- rewrite_data_files (binpack compaction)  — reference builds
  `CALL …system.rewrite_data_files(table, where, strategy=>'binpack',
  options => map(...))` (backend/build/spark/maintenance.py:153-179,
  submission service_maintenance_executor_spark.go:218-286)
- expire_snapshots            — maintenance.py:182-198 / trino
  executor service_maintenance_executor_trino.go:138-158
- remove_orphan_files         — maintenance.py:201-215 /
  service_maintenance_executor_trino.go:160-193 (metric-row fold)
- rollback_to_snapshot        — service_iceberg_mutations.go:37-48

Defaults mirror the reference configuration: 512 MiB target file size,
min-input-files 2, max 5 concurrent file-group rewrites
(backend/config.dist.yml:52,67-70) and a 7-day retention floor
(backend/internal/service_tasks.go:15,92-95).

Execution model: the *data* movement of compaction is a distributed
Spark read→repartition→write per file group; snapshot/orphan handling
is driver-side metadata work, O(files) — same division as Iceberg.
"""

from __future__ import annotations

import math
import os
import time

from lakehouse_admin_spark.metadata import PATH_SCHEMA, arrow_table, local_frame
from lakehouse_admin_spark.sources.ledger import LedgerTable, Snapshot

DEFAULT_TARGET_FILE_SIZE_BYTES = 512 * 1024 * 1024
DEFAULT_MIN_INPUT_FILES = 2
MIN_RETENTION_DAYS = 7
MS_PER_DAY = 24 * 3600 * 1000

# Independent minimum age for reclaiming UNREFERENCED metadata (segment
# bodies, atomic-rename litter): a writer stages its segment BEFORE
# taking commit.lock, so even a caller passing older_than_ms ≈ now
# (legal — relying on retain_last) must not get a zero-second window
# that deletes a just-written segment whose commit is about to land.
SEGMENT_GC_GRACE_MS = 10 * 60 * 1000


DEFAULT_MAX_CONCURRENT_GROUP_REWRITES = 5


def rewrite_data_files(
    table: LedgerTable,
    where: dict[str, str] | None = None,
    target_file_size_bytes: int = DEFAULT_TARGET_FILE_SIZE_BYTES,
    min_input_files: int = DEFAULT_MIN_INPUT_FILES,
    max_concurrent_file_group_rewrites: int = DEFAULT_MAX_CONCURRENT_GROUP_REWRITES,
) -> dict[str, int]:
    """Binpack compaction, per FILE GROUP: within each partition
    (optionally filtered by ``where`` raw-partition equality), rewrite
    every group of ≥ min_input_files undersized files into
    ceil(Σbytes / target) files.

    Each group is an INDEPENDENT read→coalesce→write — a narrow plan
    with no shuffle; rows never cross partition boundaries, so at 100 TB
    compaction cost is proportional to the small files touched, not a
    global repartition of every rewritten byte. Groups run under a
    bounded pool of ``max_concurrent_file_group_rewrites`` (reference
    default 5, backend/config.dist.yml:70). Reads go through the
    UNIFIED table schema so groups mixing pre-/post-add_column files
    keep the evolved column (null-filled) instead of silently dropping
    it. One commit covers all rewritten groups (partial-progress
    disabled — the reference's dist default, config.dist.yml:68).
    Returns the procedure-style metrics map.
    """
    from concurrent.futures import ThreadPoolExecutor

    files = table.live_files()
    groups: dict[tuple, list[dict]] = {}
    for e in files:
        if e.get("content", 0) != 0:
            continue  # never binpack delete files
        if where and any(e["partition"].get(k) != v for k, v in where.items()):
            continue
        key = (e.get("spec_id", 0), tuple(sorted(e["partition"].items(), key=str)))
        groups.setdefault(key, []).append(e)

    plan: list[tuple[dict, int, list[dict], int]] = []  # (partition, spec_id, entries, bytes)
    for (spec_id, _key), group in sorted(groups.items()):
        small = [e for e in group if e["file_size_in_bytes"] < target_file_size_bytes]
        if len(small) < min_input_files:
            continue
        plan.append(
            (
                small[0]["partition"],
                spec_id,
                small,
                sum(e["file_size_in_bytes"] for e in small),
            )
        )

    if not plan:
        return {
            "rewritten_data_files_count": 0,
            "added_data_files_count": 0,
            "rewritten_bytes_count": 0,
        }

    # pending position deletes are APPLIED during the rewrite (Iceberg
    # binpack-with-deletes): the rewrite invalidates the old file paths
    # the deletes reference, so folding them in is the only way rows
    # stay deleted afterwards
    delete_paths = [e["file_path"] for e in files if e.get("content", 0) == 1]
    eq_entries = [e for e in files if e.get("content", 0) == 2]

    def _rewrite_group(args: tuple[dict, int, list[dict], int]) -> list[dict]:
        partition, spec_id, group, nbytes = args
        n_out = max(1, math.ceil(nbytes / target_file_size_bytes))
        return table.write_file_group(
            group, partition, spec_id, n_out,
            delete_paths=delete_paths, eq_entries=eq_entries,
        )

    with ThreadPoolExecutor(max_workers=max(1, max_concurrent_file_group_rewrites)) as pool:
        per_group = list(pool.map(_rewrite_group, plan))

    removed = [e["file_path"] for _part, _sid, group, _b in plan for e in group]
    new_entries = [e for entries in per_group for e in entries]
    rewritten_bytes = sum(b for _part, _sid, _g, b in plan)
    table.commit_rewrite(removed, new_entries, operation="replace")
    return {
        "rewritten_data_files_count": len(removed),
        "added_data_files_count": len(new_entries),
        "rewritten_bytes_count": rewritten_bytes,
    }


ZORDER_BITS = 8  # quantization bits per z-order dimension (256 buckets)


def rewrite_data_files_zorder(
    table: LedgerTable,
    columns: list[str],
    bits: int = ZORDER_BITS,
    target_file_size_bytes: int = DEFAULT_TARGET_FILE_SIZE_BYTES,
    min_files_per_group: int = 1,
) -> dict[str, int]:
    """Z-order clustering rewrite (Iceberg `strategy => 'sort'` with a
    z-order sort expression; Delta OPTIMIZE ZORDER BY): within each
    table partition, rewrite ALL data files range-clustered on the
    interleaved-bit z-value of ``columns``, so every file covers a
    small hyper-rectangle of the column space and manifest min/max
    stats prune files on predicates over ANY of the z-columns — not
    just the first sort key.

    Mechanics: per-column min/max (one metadata-cheap agg per
    partition group) linearly quantize each column to ``bits`` bits;
    the z-value interleaves those bits (a pure codegen'd integer
    expression — no UDF); files are cut at quantiles of z
    (``LedgerTable.write_clustered_files``) so ranges are disjoint. At
    100 TB the cost is one shuffle of the rewritten partitions — the same
    price as a sort-order compaction — bought once, and every
    multi-dimensional scan afterwards skips at the manifest level.
    Pending position deletes are folded in exactly like binpack.

    ``min_files_per_group`` floors each partition's output file count:
    z-order pruning needs several files per partition to have boxes to
    skip, and a fixture-scale partition can fit one target-size file —
    at production bytes the bytes-based count dominates and the floor
    is inert."""
    from pyspark.sql import functions as F

    files = table.live_files()
    delete_paths = [e["file_path"] for e in files if e.get("content", 0) == 1]
    eq_entries = [e for e in files if e.get("content", 0) == 2]
    groups: dict[tuple, list[dict]] = {}
    for e in files:
        if e.get("content", 0) != 0:
            continue
        key = (e.get("spec_id", 0), tuple(sorted(e["partition"].items(), key=str)))
        groups.setdefault(key, []).append(e)

    removed: list[str] = []
    new_entries: list[dict] = []
    rewritten_bytes = 0
    max_bucket = (1 << bits) - 1
    ordered = sorted(groups.items())

    def read_group(gi: int):
        (_spec_id, _key), group = ordered[gi]
        df = table._read_entries(group, with_meta=True)
        df = table._apply_position_deletes(df, delete_paths, keep_meta=bool(eq_entries))
        if eq_entries:
            df = table._apply_equality_deletes(df, eq_entries, group)
        return df

    # Phase 1 — quantization ranges for EVERY partition group in ONE
    # job instead of one agg per group (the stats pass and the rewrite
    # previously alternated per group; at sf0.1 that serial job chain —
    # not data — was the 20 s build). Without equality deletes the
    # whole table reads as ONE scan and the _mor_fp metadata column
    # maps each row back to its partition group, so even the driver
    # builds a single plan (29 per-group plan subtrees cost ~5 s of
    # pure py4j time). Equality deletes apply per-group, so that rare
    # path keeps the tagged union-of-aggs (still one job).
    agg_cols = [
        f
        for c in columns
        for f in (
            F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
        )
    ]
    ranges: dict[int, object] = {}
    if ordered and not eq_entries:
        from lakehouse_admin_spark.sources.ledger import path_to_file_uri

        # _metadata.file_path is a file: URI; manifests store plain paths
        gi_of_path = {
            path_to_file_uri(e["file_path"]): gi
            for gi, (_k, group) in enumerate(ordered)
            for e in group
        }
        big = table._read_entries(
            [e for _k, group in ordered for e in group], with_meta=True
        )
        big = table._apply_position_deletes(big, delete_paths, keep_meta=True)
        gi_map = F.create_map(
            *[x for p, gi in gi_of_path.items() for x in (F.lit(p), F.lit(gi))]
        )
        for r in (
            big.withColumn("_gi", gi_map[F.col("_mor_fp")])
            .groupBy("_gi")
            .agg(*agg_cols)
            .collect()
        ):
            ranges[int(r["_gi"])] = r
    elif ordered:
        agg_union = None
        for gi in range(len(ordered)):
            agg = read_group(gi).agg(*agg_cols).select(F.lit(gi).alias("_gi"), "*")
            agg_union = agg if agg_union is None else agg_union.unionByName(agg)
        for r in agg_union.collect():
            ranges[int(r["_gi"])] = r

    # Phase 2 — per-group range-clustered writes run CONCURRENTLY on a
    # thread pool: the groups touch disjoint files and stage into
    # uuid-named dirs, so both the (py4j-bound) plan construction and
    # the write jobs overlap. Results are folded back in deterministic
    # sorted-group order.
    def rewrite_group(gi: int) -> list[dict]:
        (spec_id, _key), group = ordered[gi]
        df = read_group(gi)
        # A group whose rows are ALL covered by position deletes emits
        # NO row from the single-scan groupBy('_gi') stats pass (the
        # old per-group agg returned one all-null row instead) — e.g.
        # delete_where over a whole partition, then zorder. Fall back
        # to the same null-range behavior (lo=0.0, span=1.0): the
        # group rewrites to an empty file set cleanly.
        rng = ranges.get(gi)
        scaled = []
        for c in columns:
            lo = rng[f"_lo_{c}"] if rng is not None else None
            hi = rng[f"_hi_{c}"] if rng is not None else None
            span = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
            s = (
                F.least(
                    F.lit(max_bucket),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col(c).cast("double") - F.lit(float(lo or 0.0)))
                            / F.lit(float(span))
                            * max_bucket
                        ),
                    ),
                )
                .cast("long")
            )
            scaled.append(s)
        k = len(columns)
        z = F.lit(0).cast("long")
        for b in range(bits):
            for j, s in enumerate(scaled):
                z = z + F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * k + j)
        nbytes = sum(e["file_size_in_bytes"] for e in group)
        n_out = max(
            1, min_files_per_group, math.ceil(nbytes / target_file_size_bytes)
        )
        partition = group[0]["partition"]
        return table.write_clustered_files(
            df.withColumn("_z", z), partition, spec_id, n_out, "_z"
        )

    if ordered:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(ordered))) as pool:
            results = list(pool.map(rewrite_group, range(len(ordered))))
        for gi, ((_spec_id, _key), group) in enumerate(ordered):
            new_entries.extend(results[gi])
            removed.extend(e["file_path"] for e in group)
            rewritten_bytes += sum(e["file_size_in_bytes"] for e in group)

    if not removed:
        return {
            "rewritten_data_files_count": 0,
            "added_data_files_count": 0,
            "rewritten_bytes_count": 0,
        }
    table.commit_rewrite(removed, new_entries, operation="replace")
    return {
        "rewritten_data_files_count": len(removed),
        "added_data_files_count": len(new_entries),
        "rewritten_bytes_count": rewritten_bytes,
    }


def convert_equality_deletes(table: LedgerTable) -> dict[str, int]:
    """Materialize equality deletes as position deletes (Iceberg's
    convert-equality-deletes maintenance): one scan semi-joins the
    equality keys against smaller-sequence rows to locate their
    (file_path, pos), writes them as content=1 files, and ONE commit
    swaps the equality files out. Table content is unchanged
    ('replace' — changelog-silent); reads afterwards pay a position
    anti-join instead of the key join, and count_rows regains
    metadata-only counting (which equality deletes force to degrade to
    scans)."""
    from pyspark.sql import functions as F

    files = table.live_files()
    eq_entries = [e for e in files if e.get("content", 0) == 2]
    if not eq_entries:
        return {"converted_equality_files_count": 0, "position_deletes_written": 0}
    data_entries = [e for e in files if e.get("content", 0) == 0]
    pos_paths = [e["file_path"] for e in files if e.get("content", 0) == 1]
    df = table._read_entries(data_entries, with_meta=True)
    # rows already position-deleted don't need a second delete record
    df = table._apply_position_deletes(df, pos_paths, keep_meta=True)
    matched = table._apply_equality_deletes(
        df, eq_entries, data_entries, invert=True
    ).select(
        F.col("_mor_fp").alias("file_path"),
        F.col("_mor_pos").alias("pos"),
    )
    new_entries = table._stage_position_deletes(matched)
    n_pos = sum(e["record_count"] for e in new_entries)
    table.commit_rewrite(
        [e["file_path"] for e in eq_entries], new_entries, operation="replace"
    )
    return {
        "converted_equality_files_count": len(eq_entries),
        "position_deletes_written": n_pos,
    }


def rewrite_manifests(table: LedgerTable, snapshot_id: int | None = None) -> dict[str, int]:
    """Fold the snapshot's JSON file list into a parquet manifest so
    metadata analytics (files_df and everything above it) run as
    distributed scans — the Iceberg ``rewrite_manifests`` analog.
    Idempotent per snapshot id."""
    sid = snapshot_id if snapshot_id is not None else table.current_snapshot_id()
    if sid is None:
        return {"rewritten_manifests_count": 0, "manifest_entries_count": 0}
    table.write_manifest(sid)
    return {
        "rewritten_manifests_count": 1,
        "manifest_entries_count": len(table.snapshot(sid).files),
    }


def rewrite_position_delete_files(table: LedgerTable) -> dict[str, int]:
    """Drop dangling position deletes and compact the survivors — the
    Iceberg ``rewrite_position_delete_files`` analog. A delete row is
    DANGLING when the data file it references was itself rewritten or
    dropped (compaction applies pending deletes, so its refs die with
    the old paths); without this procedure fully-applied delete files
    linger in every scan's anti-join forever.

    Distributed: the delete rows semi-join (broadcast — the live-file
    URI list is manifest-sized) against the live data files; survivors
    rewrite into one compacted delete file."""
    files = table.live_files()
    delete_entries = [e for e in files if e.get("content", 0) == 1]
    if not delete_entries:
        return {"rewritten_delete_files_count": 0, "removed_dangling_deletes": 0}
    spark = table.spark
    from lakehouse_admin_spark.sources.ledger import path_to_file_uri

    data_uris = [
        (path_to_file_uri(e["file_path"]),)
        for e in files
        if e.get("content", 0) == 0
    ]
    dels = spark.read.parquet(*[e["file_path"] for e in delete_entries])
    total = dels.count()
    uris_df = local_frame(spark, arrow_table(data_uris, PATH_SCHEMA))
    from pyspark.sql import functions as F

    kept = dels.join(F.broadcast(uris_df), "file_path", "left_semi")
    n_kept = kept.count()
    removed_paths = [e["file_path"] for e in delete_entries]
    new_entries: list[dict] = []
    if n_kept > 0:
        import os as _os
        import uuid as _uuid

        out_dir = _os.path.join(table.data_dir, _uuid.uuid4().hex[:12])
        kept.coalesce(1).write.mode("append").parquet(out_dir)
        for dirpath, _d, filenames in _os.walk(out_dir):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    entry = table._file_entry(_os.path.join(dirpath, fn), {}, table.default_spec_id())
                    entry["content"] = 1
                    new_entries.append(entry)
    table.commit_rewrite(removed_paths, new_entries, operation="replace")
    return {
        "rewritten_delete_files_count": len(removed_paths),
        "added_delete_files_count": len(new_entries),
        "removed_dangling_deletes": total - n_kept,
    }


def expire_snapshots(
    table: LedgerTable,
    older_than_ms: int | None = None,
    retention_days: int | None = None,
    retain_last: int = 1,
) -> dict[str, int]:
    """Expire snapshots older than the cutoff, keeping the current one
    and at least ``retain_last``. Data files referenced *only* by
    expired snapshots are deleted from storage.

    Retention is clamped to the 7-day floor when given in days
    (reference: service_tasks.go:92-95 clamps, Trino/Spark procedures
    then enforce their own floors)."""
    if older_than_ms is None:
        days = max(retention_days or MIN_RETENTION_DAYS, MIN_RETENTION_DAYS)
        older_than_ms = int(time.time() * 1000) - days * MS_PER_DAY

    # The whole pass runs under commit.lock: a commit landing between
    # an unlocked snapshot listing and the snap-JSON deletions could
    # move the head to a snapshot this pass never saw, and the new
    # head's parent pointer would dangle at a just-deleted snapshot.
    # Holding the lock through the storage unlinks is deliberate —
    # expiration is a maintenance op (Iceberg's expire also commits),
    # the unlink loop is O(deleted), and nothing inside re-takes the
    # lock (flock is not reentrant).
    with table._commit_lock():
        return _expire_locked(table, older_than_ms, retain_last)


def _live_paths(
    table: LedgerTable,
    snap: Snapshot,
    memo: dict[str, tuple[list[str], list[str]]],
) -> set[str]:
    """The snapshot's live data-file PATHS for a GC reference sweep:
    projected segment reads (kind + file_path columns), never the entry
    documents, memoized per segment across the snapshots sharing it."""
    live: set[str] = set()
    for d in snap.manifest_list:
        if d["path"] not in memo:
            memo[d["path"]] = table._segment_path_delta(d["path"])
        added, removed = memo[d["path"]]
        live.difference_update(removed)
        live.update(added)
    return live


def _referenced_segments(snaps: list[Snapshot]) -> set[str]:
    """Names of every manifest segment the snapshots point at."""
    names: set[str] = set()
    for s in snaps:
        names.update(d["path"] for d in s.manifest_list)
        if s.own_segment is not None:
            names.add(s.own_segment["path"])
    return names


def _expire_locked(
    table: LedgerTable, older_than_ms: int, retain_last: int
) -> dict[str, int]:
    snaps = table.snapshots()
    current = table.current_snapshot_id()
    keep: list[Snapshot] = []
    expired: list[Snapshot] = []
    for s in snaps:
        if s.snapshot_id == current or s.committed_at_ms >= older_than_ms:
            keep.append(s)
        else:
            expired.append(s)
    # enforce retain_last over the newest snapshots regardless of age
    if retain_last > 1:
        by_age = sorted(snaps, key=lambda s: s.snapshot_id, reverse=True)
        for s in by_age[:retain_last]:
            if s in expired:
                expired.remove(s)
                keep.append(s)

    # named refs (tags/branches) pin their snapshot regardless of age —
    # Iceberg's ref-aware expiration
    ref_ids = {int(r["snapshot_id"]) for r in table.refs().values()}
    for s in list(expired):
        if s.snapshot_id in ref_ids:
            expired.remove(s)
            keep.append(s)

    memo: dict[str, tuple[list[str], list[str]]] = {}
    live_paths = set()
    for s in keep:
        live_paths |= _live_paths(table, s, memo)
    # manifest segments still referenced by any KEPT snapshot survive;
    # the rest (only expired snapshots pointed at them) are reclaimed
    kept_segments = _referenced_segments(keep)
    deleted_files = 0
    for s in expired:
        for p in _live_paths(table, s, memo):
            if p not in live_paths and os.path.exists(p):
                os.remove(p)
                deleted_files += 1
        os.remove(os.path.join(table.meta_dir, f"snap-{s.snapshot_id}.json"))
        if os.path.exists(table.manifest_path(s.snapshot_id)):
            os.remove(table.manifest_path(s.snapshot_id))
    # Unreferenced segments are deleted only past an mtime cutoff: the
    # caller's older_than_ms, FLOORED at SEGMENT_GC_GRACE_MS before now
    # — a concurrent writer stages its segment files BEFORE taking
    # commit.lock, so even with a cutoff at/near now (legal, e.g.
    # relying on retain_last) a just-written segment must survive until
    # its commit lands or orphan GC ages it out.
    deleted_segments = 0
    seg_cutoff_ms = min(
        older_than_ms, int(time.time() * 1000) - SEGMENT_GC_GRACE_MS
    )
    if expired:
        for fn in os.listdir(table.meta_dir):
            if (
                fn.startswith("mseg-")
                and fn.endswith(".parquet")
                and fn not in kept_segments
            ):
                p = os.path.join(table.meta_dir, fn)
                if os.path.getmtime(p) * 1000 >= seg_cutoff_ms:
                    continue
                os.remove(p)
                deleted_segments += 1
    return {
        "deleted_snapshots_count": len(expired),
        "deleted_data_files_count": deleted_files,
        "deleted_manifest_segments_count": deleted_segments,
        "retained_snapshots_count": len(keep),
    }


def remove_orphan_files(
    table: LedgerTable,
    older_than_ms: int | None = None,
    dry_run: bool = False,
    lister: "PrefixLister | None" = None,
) -> dict[str, int | list[str]]:
    """Delete data files on storage not referenced by ANY snapshot.

    Mirrors the procedure's metric-row output fold
    (reference: service_maintenance_executor_trino.go:176-184). The
    age guard (default 7 days, by mtime) protects in-flight writes —
    same rationale as Iceberg's older_than default.

    ``lister`` is the storage boundary (sources/listing.py): the local
    walk by default; an object store plugs in a paginated prefix
    lister and the procedure streams through its pages — the listing
    is never materialized, so warehouse-scale prefixes cost O(page)
    memory here (the referenced-path set is the driver-memory bound,
    and the piece a 100 TB deployment swaps for a distributed
    anti-join; the lister contract is unchanged by that swap)."""
    from lakehouse_admin_spark.sources.listing import LocalPrefixLister

    if lister is None:
        lister = LocalPrefixLister()
    if older_than_ms is None:
        older_than_ms = int(time.time() * 1000) - MIN_RETENTION_DAYS * MS_PER_DAY
    snaps = table.snapshots()
    memo: dict[str, tuple[list[str], list[str]]] = {}
    referenced: set[str] = set()
    for s in snaps:
        referenced |= _live_paths(table, s, memo)
    orphans: list[str] = []
    for f in lister.list(table.data_dir):
        if f.path in referenced:
            continue
        if f.mtime_ms >= older_than_ms:
            continue
        orphans.append(f.path)
    # manifest segments from aborted/raced commits (written before the
    # commit lock, never referenced by a snapshot) are metadata orphans
    ref_segments = _referenced_segments(snaps)
    for f in lister.list(table.meta_dir):
        # top-level meta files only (the pre-lister os.listdir scope)
        if os.path.dirname(f.path) != table.meta_dir.rstrip("/"):
            continue
        fn = os.path.basename(f.path)
        is_segment = fn.startswith("mseg-") and fn.endswith(".parquet")
        # crashed atomic-rename leftovers: segment bodies and
        # next-snapshot-id write <name>.tmp-<uuid> then os.replace;
        # a crash in between strands the tmp file forever
        is_tmp_litter = ".tmp-" in fn
        if not (is_segment or is_tmp_litter):
            continue
        if fn in ref_segments:
            continue
        if f.mtime_ms >= older_than_ms:
            continue
        orphans.append(f.path)
    if not dry_run:
        for p in orphans:
            lister.delete(p)
    return {
        "orphan_file_count": len(orphans),
        "deleted_files": sorted(orphans),
    }


def rollback_to_snapshot(table: LedgerTable, snapshot_id: int) -> dict[str, int]:
    """Rollback the table to an earlier snapshot's file set
    (reference: handler_iceberg.go:126-145 → Trino
    rollback_to_snapshot, then a full cache refresh)."""
    snap = table.rollback_to(snapshot_id)
    return {
        "rolled_back_to": snapshot_id,
        "new_snapshot_id": snap.snapshot_id,
        "total_records": int(snap.summary.get("total-records", "0")),
    }
