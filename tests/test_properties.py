"""Property-based tests (hypothesis) for the pure engine logic: chunker
coverage/alignment, clamp laws, partition normalize↔synthesize
round-trips, and the needs_optimize decision's monotonicity."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from lakehouse_admin_spark import tasks as T
from lakehouse_admin_spark.functions.partitions import (
    browse_fields,
    normalize_values,
    synth_partition_filters,
)
from lakehouse_admin_spark.operators.analyze import (
    OptimizeSettings,
    partition_needs_optimize,
)
from lakehouse_admin_spark.sources.ledger import PartitionField

dates = st.dates(min_value=dt.date(1990, 1, 1), max_value=dt.date(2100, 12, 1))
NOW = dt.datetime(2026, 3, 31, 12, 0)


@given(d1=dates, d2=dates)
@settings(max_examples=200, deadline=None)
def test_daily_chunks_cover_exactly(d1, d2):
    lo, hi = min(d1, d2), max(d1, d2)
    if (hi - lo).days > 1000:
        hi = lo + dt.timedelta(days=1000)
    chunks = T.chunk_range(lo, hi, "daily")
    assert len(chunks) == (hi - lo).days + 1
    assert all(a == b for a, b in chunks)
    assert chunks[0][0] == lo and chunks[-1][1] == hi


@given(d1=dates, d2=dates, mode=st.sampled_from(["weekly", "monthly"]))
@settings(max_examples=200, deadline=None)
def test_chunks_cover_and_align(d1, d2, mode):
    lo, hi = min(d1, d2), max(d1, d2)
    if (hi - lo).days > 1500:
        hi = lo + dt.timedelta(days=1500)
    chunks = T.chunk_range(lo, hi, mode)
    # coverage: every day in [lo, hi] falls in exactly one chunk
    assert chunks[0][0] <= lo and chunks[-1][1] >= hi
    for (a1, b1), (a2, b2) in zip(chunks, chunks[1:]):
        assert a2 == b1 + dt.timedelta(days=1)  # contiguous, disjoint
    for a, b in chunks:
        if mode == "weekly":
            assert a.weekday() == 0 and (b - a).days == 6
        else:
            assert a.day == 1 and (b + dt.timedelta(days=1)).day == 1


@given(d1=dates, d2=dates, cutoff=dates)
@settings(max_examples=200, deadline=None)
def test_clamp_laws(d1, d2, cutoff):
    lo, hi = min(d1, d2), max(d1, d2)
    out = T.clamp_optimize_range(lo, hi, cutoff)
    if lo > cutoff:
        assert out is None
    else:
        a, b = out
        assert a == lo and b == min(hi, cutoff) and a <= b


@given(d=dates, extra=st.text(alphabet="abcdef", min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_normalize_synth_roundtrip(d, extra):
    """synth(normalize(raw)) == raw for a mixed day+identity spec."""
    spec = [
        PartitionField("createdAt", "day", "createdAt_day"),
        PartitionField("tenant", "identity", "tenant"),
    ]
    raw = {"createdAt_day": d.isoformat(), "tenant": extra}
    browse = normalize_values(spec, raw)
    assert set(browse) == {"year", "month", "day", "tenant"}
    back = synth_partition_filters(spec, browse)
    assert back == raw


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=1000), min_size=1, max_size=40),
    threshold=st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=200, deadline=None)
def test_needs_optimize_monotone_in_threshold(sizes, threshold):
    """Raising the small-file threshold can only turn the flag ON (more
    files count as small), never off — for an undated partition."""
    s1 = OptimizeSettings(small_file_threshold_bytes=threshold)
    s2 = OptimizeSettings(small_file_threshold_bytes=threshold + 100)
    v1 = partition_needs_optimize(sizes, {"k": "v"}, s1, NOW)
    v2 = partition_needs_optimize(sizes, {"k": "v"}, s2, NOW)
    assert not (v1 and not v2)


@given(
    parts=st.lists(
        st.sampled_from(
            [
                PartitionField("a", "day", "a_day"),
                PartitionField("b", "month", "b_month"),
                PartitionField("c", "year", "c_year"),
                PartitionField("d", "identity", "d"),
                PartitionField("e", "bucket[8]", "e_bucket"),
            ]
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda f: f.name,
    )
)
@settings(max_examples=100, deadline=None)
def test_browse_fields_no_duplicates(parts):
    fields = browse_fields(parts)
    assert len(fields) == len(set(fields))


# ---------------------------------------------------------------------------
# Manifest-skipping soundness (r8): a segment the summary skips must
# contain NO entry the residual pruner would keep.
# ---------------------------------------------------------------------------

_vals = st.one_of(
    st.integers(min_value=-50, max_value=50),
    st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
    st.text(alphabet="abc0123456789-", min_size=0, max_size=6),
)


@st.composite
def _entries(draw):
    n = draw(st.integers(min_value=0, max_value=8))
    out = []
    for i in range(n):
        stats = {}
        for c in ("x", "y"):
            if draw(st.booleans()):
                a, b = draw(_vals), draw(_vals)
                if type(a) is not type(b) or isinstance(a, bool) != isinstance(b, bool):
                    continue
                lo, hi = (a, b) if not isinstance(a, str) and a <= b else (
                    (a, b) if isinstance(a, str) and a <= b else (b, a)
                )
                stats[c] = [lo, hi]
        out.append(
            {"file_path": f"/f{i}", "partition": {}, "record_count": 1,
             "file_size_in_bytes": 1,
             "content": draw(st.sampled_from([0, 0, 0, 1])),
             "column_stats": stats}
        )
    return out


_preds = st.lists(
    st.tuples(
        st.sampled_from(["x", "y"]),
        st.sampled_from(["<", "<=", ">", ">=", "="]),
        _vals,
    ),
    min_size=1,
    max_size=3,
)


def _residual_keeps(e: dict, preds) -> bool:
    """plan_files' may_match ground truth (stats-only ops)."""
    stats = e.get("column_stats") or {}
    for c, op, v in preds:
        rng = stats.get(c)
        if rng is None:
            continue
        lo, hi = rng
        try:
            ok = {"<": lo < v, "<=": lo <= v, ">": hi > v,
                  ">=": hi >= v, "=": lo <= v <= hi}[op]
        except TypeError:
            continue
        if not ok:
            return False
    return True


@settings(max_examples=300, deadline=None)
@given(_entries(), _preds)
def test_summary_skip_never_hides_a_match(entries, preds):
    from lakehouse_admin_spark.sources.ledger import (
        LedgerTable,
        _segment_summary,
    )

    desc = {"removed": 0, "summary": _segment_summary(entries)}
    if not LedgerTable._segment_may_match(desc, preds):
        for e in entries:
            if e.get("content", 0) == 0:
                assert not _residual_keeps(e, preds), (e, preds)


@settings(max_examples=300, deadline=None)
@given(_entries(), _entries(), _preds)
def test_combined_summary_sound_for_merged_segments(ea, eb, preds):
    """The Arrow merge path's conservative summary union must stay
    sound for the union of both segments' entries (ranges may only
    widen — a combined skip implies neither side held a match)."""
    from lakehouse_admin_spark.sources.ledger import (
        LedgerTable,
        _combine_summaries,
        _segment_summary,
    )

    combined = _combine_summaries(_segment_summary(ea), _segment_summary(eb))
    desc = {"removed": 0, "summary": combined}
    if not LedgerTable._segment_may_match(desc, preds):
        for e in ea + eb:
            if e.get("content", 0) == 0:
                assert not _residual_keeps(e, preds), (e, preds)


# ---------------------------------------------------------------------------
# Cold-plan + delete-lookup soundness over randomized segment CHAINS
# (r9): re-adds, removals, and delete-content entries with HONEST
# descriptor counts (n_deletes exact, readds = adds whose path an
# earlier segment already added). The real planner must equal the full
# materialization exactly — skipping may only ever save reads.
# ---------------------------------------------------------------------------


@st.composite
def _segment_chain(draw):
    n_segs = draw(st.integers(min_value=1, max_value=4))
    chain = []
    pool: list[str] = []  # paths added by earlier segments
    fresh_i = 0
    for _ in range(n_segs):
        n_add = draw(st.integers(min_value=0, max_value=5))
        added = []
        for _ in range(n_add):
            readd = pool and draw(st.booleans())
            if readd:
                path = draw(st.sampled_from(pool))
            else:
                path = f"/data/f{fresh_i}"
                fresh_i += 1
            lo = draw(st.integers(min_value=-20, max_value=20))
            hi = lo + draw(st.integers(min_value=0, max_value=10))
            added.append(
                {
                    "file_path": path,
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": 1,
                    "spec_id": 0,
                    "schema_id": 0,
                    "content": draw(st.sampled_from([0, 0, 0, 1, 2])),
                    "file_format": "PARQUET",
                    "column_stats": {"x": [lo, hi]},
                    "null_counts": {},
                }
            )
        removed = draw(
            st.lists(st.sampled_from(pool), max_size=3, unique=True)
            if pool
            else st.just([])
        )
        chain.append((added, removed))
        pool = sorted(
            (set(pool) | {e["file_path"] for e in added}) - set(removed)
        )
    preds = draw(
        st.lists(
            st.tuples(
                st.just("x"),
                st.sampled_from(["<", "<=", ">", ">=", "="]),
                st.integers(min_value=-25, max_value=25),
            ),
            min_size=1,
            max_size=2,
        )
    )
    return chain, preds


@settings(max_examples=60, deadline=None)
@given(_segment_chain())
def test_cold_plan_and_delete_lookup_equal_full_materialization(chain_preds):
    import tempfile
    import time as _time

    from lakehouse_admin_spark.sources import ledger as ledger_mod
    from lakehouse_admin_spark.sources.ledger import (
        LedgerCatalog,
        Snapshot,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    chain, preds = chain_preds
    with tempfile.TemporaryDirectory() as wh:
        cat = LedgerCatalog(None, wh)
        tbl = cat.create_table(
            "main", "prop_chain", StructType([StructField("x", LongType())])
        )
        descs = []
        seen_adds: set[str] = set()
        for i, (added, removed) in enumerate(chain):
            for e in added:
                e["sequence_number"] = i + 1
            readds = sum(1 for e in added if e["file_path"] in seen_adds)
            seen_adds |= {e["file_path"] for e in added}
            descs.append(
                tbl._write_segment(
                    f"mseg-{i + 1}-prop{tbl._segment_ext()}",
                    added,
                    list(removed),
                    readds=readds,
                )
            )
        snap = Snapshot(
            snapshot_id=len(chain),
            parent_id=None,
            committed_at_ms=int(_time.time() * 1000),
            operation="append",
            summary={},
            added=[],
            removed=[],
            manifest_list=descs,
            own_segment=descs[-1],
        )
        snap._table = tbl
        tbl._commit(snap, expected_parent=None)

        # ground truth: ordered replay of the whole chain
        entries: dict[str, dict] = {}
        for added, removed in chain:
            for p in removed:
                entries.pop(p, None)
            for e in added:
                entries[e["file_path"]] = e
        live = list(entries.values())
        want_plan = {
            e["file_path"]
            for e in live
            if e.get("content", 0) == 0 and _residual_keeps(e, preds)
        }
        want_pos = {
            e["file_path"] for e in live if e.get("content", 0) == 1
        }
        want_eq = {e["file_path"] for e in live if e.get("content", 0) == 2}

        ledger_mod._SEGMENT_CACHE.clear()
        ledger_mod._SNAPSHOT_CACHE.clear()
        cold = tbl.plan_files(preds)
        assert {e["file_path"] for e in cold} == want_plan
        # the COLD plan must also carry the SUPERSEDING entry version
        # for every re-added path (sequence_number decides eq-delete
        # visibility)
        latest = {e["file_path"]: e["sequence_number"] for e in live}
        for e in cold:
            assert e["sequence_number"] == latest[e["file_path"]]

        ledger_mod._SEGMENT_CACHE.clear()
        ledger_mod._SNAPSHOT_CACHE.clear()
        pos, eq = tbl._delete_entries(None)
        assert {e["file_path"] for e in pos} == want_pos
        assert {e["file_path"] for e in eq} == want_eq

        # warm agrees with cold
        warm = tbl.plan_files(preds)
        assert {e["file_path"] for e in warm} == want_plan


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=2,
        max_size=64,
    )
)
@settings(max_examples=200, deadline=None)
def test_sq8_quantization_error_bound(vals):
    """Pure replay of the ann_sq_topk quantizer: for any corpus column,
    |reconstructed - v| <= span/(2*255) + interpolation slack for every
    in-range value — the SQ8 error bound the recall pin rests on — and
    reconstruction is idempotent (codes of reconstructed values map to
    themselves)."""
    import math

    lo, hi = min(vals), max(vals)
    span = hi - lo
    for v in vals:
        if span == 0:
            rec = lo
            assert rec == v
            continue
        u = min(max((v - lo) / span, 0.0), 1.0)
        code = math.floor(u * 255 + 0.5)
        rec = lo + code / 255.0 * span
        assert abs(rec - v) <= span / (2 * 255) + 1e-9 * max(1.0, abs(span)), (
            v, rec, span
        )
        # idempotence: re-encoding the reconstruction yields the same code
        u2 = min(max((rec - lo) / span, 0.0), 1.0)
        assert math.floor(u2 * 255 + 0.5) == code


# --- streaming user-profile fold: order independence (r11) -----------
_EVENT_TYPES = ["signup", "view", "click", "purchase", "scroll"]
_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),  # ts (micros stand-in)
        st.integers(min_value=0, max_value=40),  # epoch day
        st.sampled_from(_EVENT_TYPES),
    ),
    min_size=0,
    max_size=60,
)


def _final_profile(batches):
    from lakehouse_admin_spark.streaming.user_profiles import _make_profile_kernel

    empty, fold, _snap = _make_profile_kernel()
    st_ = empty
    t_click = t_purchase = -1
    for b in batches:
        st_, t_click, t_purchase = fold(st_, b)
    t_signup, signup_day, t_view, _c, _p, act_days, n = st_
    return (t_signup, signup_day, t_view, t_click, t_purchase,
            tuple(sorted(act_days)), n)


@given(events=_events_strategy, data=st.data())
@settings(max_examples=300, deadline=None)
def test_profile_fold_order_and_batching_independent(events, data):
    """The user-profile fold is a join-semilattice with monotone
    pruning: the RESOLVED profile (first signup/view, first click
    after the view, first purchase after the click, active days,
    count) must be identical for ANY permutation of the events and ANY
    micro-batch split — the exactness-under-late-data property the
    stream==batch tests pin end-to-end, checked here over thousands of
    adversarial orderings hypothesis generates."""
    baseline = _final_profile([events])
    perm = data.draw(st.permutations(events))
    # random split into 1..6 batches
    if perm:
        n_cuts = data.draw(st.integers(min_value=0, max_value=min(5, len(perm))))
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=len(perm)),
                    min_size=n_cuts,
                    max_size=n_cuts,
                )
            )
        )
        bounds = [0, *cuts, len(perm)]
        batches = [perm[a:b] for a, b in zip(bounds, bounds[1:])]
    else:
        batches = [perm]
    assert _final_profile(batches) == baseline
    # reference semantics, computed independently: first-qualifying
    # chain over the globally sorted stream
    views = sorted(t for t, _d, e in events if e == "view")
    clicks = sorted(t for t, _d, e in events if e == "click")
    purchases = sorted(t for t, _d, e in events if e == "purchase")
    t_view = views[0] if views else -1
    t_click = next((c for c in clicks if t_view != -1 and c > t_view), -1)
    t_purchase = next(
        (p for p in purchases if t_click != -1 and p > t_click), -1
    )
    got = baseline
    assert got[2] == t_view and got[3] == t_click and got[4] == t_purchase
    assert got[5] == tuple(sorted({d for _t, d, _e in events}))
    assert got[6] == len(events)
