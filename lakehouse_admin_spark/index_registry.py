"""Session-index registry: the one cache for every session-scoped
operator index — trained quantizers and models, posting lists,
checkpointed band tables, graph indexes. An index is built once per
(session, tier) and served many times.

- Key: ``(applicationId, abspath(tier) without a trailing slash, name,
  variant)``. applicationId is unique per SparkContext (a restarted
  session gets a new one, unlike ``id(spark)``, which CPython can reuse
  after a session is GC'd), and the normalised tier means ``"dir/"``
  and ``"dir"`` share one entry.
- One LRU over all entries, bounded by ``MAX_ENTRIES``. Eviction and
  invalidation call the entry's ``release`` hook at once
  (:func:`free_checkpoint` for localCheckpoint'd frames, ``unpersist``
  for persisted ones) instead of leaving the blocks to the JVM GC.
- Single-flight builds: concurrent callers of one key wait for one
  build, which runs outside the registry lock, so builds of other keys
  (nested or on other threads) proceed.
- Base→derived edges are recorded automatically: a ``get()`` made while
  this thread is building another key makes the fetched key that
  build's base. Dropping a base (invalidation or eviction) drops
  everything derived from it, so no stale derived index can survive.
"""

from __future__ import annotations

import os
import threading
import time
from collections import OrderedDict
from typing import Any, Callable

# Sized from the most entries one tier holds: 35, when every registered
# query runs once against it (a superset of a bench.py run's and the test
# suite's builds per tier; the persisted LSH/IVF bases and bucketed fact
# copies count). Three tiers' worth, so a bench or perfbench run, which
# serves one tier, never evicts.
MAX_ENTRIES = 105


class _Entry:
    __slots__ = ("value", "release", "build_s", "born", "hits", "derived")

    def __init__(self, value, release, build_s: float):
        self.value, self.release, self.build_s = value, release, build_s
        self.born = time.monotonic()
        self.hits = 0
        self.derived: set[tuple] = set()


class _Flight:
    """One in-progress build; same-key callers wait on ``done``."""

    __slots__ = ("done", "value", "error", "stale")

    def __init__(self):
        self.done = threading.Event()
        self.value = self.error = None
        self.stale = False  # invalidated mid-build: serve, don't cache


_LOCK = threading.Lock()
_ENTRIES: OrderedDict[tuple, _Entry] = OrderedDict()
_FLIGHTS: dict[tuple, _Flight] = {}
_LOCAL = threading.local()  # .stack: the keys this thread is building


def _norm(tier: str) -> str:
    return os.path.abspath(tier.rstrip("/"))


def free_checkpoint(value: Any) -> None:
    """Promptly release the storage blocks of a localCheckpoint'd
    DataFrame (or of each one in a tuple). Dropping the Python
    reference alone leaves the checkpointed RDD in executor storage
    until the JVM GC and ContextCleaner get to it. A checkpointed
    Dataset's analyzed plan is a LogicalRDD whose backing RDD is
    unpersisted directly; for a frame layered on a checkpoint the
    LogicalRDD sits at a plan leaf, so the leaves are walked
    (best-effort: other plans are a no-op). Only call on frames whose
    checkpoint is exclusively theirs."""
    if isinstance(value, tuple):
        for v in value:
            free_checkpoint(v)
        return
    try:
        plan = value._jdf.queryExecution().analyzed()
        try:
            plan.rdd().unpersist(False)
            return
        except Exception:
            pass
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            try:
                leaves.apply(i).rdd().unpersist(False)
            except Exception:
                pass
    except Exception:
        pass


def _drop(key: tuple, out: list[_Entry]) -> None:
    """Remove ``key`` and, transitively, everything derived from it
    (lock held). Removed entries go to ``out`` for release; derived
    builds still in flight are marked stale."""
    ent = _ENTRIES.pop(key, None)
    if ent is None:
        flight = _FLIGHTS.get(key)
        if flight is not None:
            flight.stale = True
        return
    out.append(ent)
    for d in ent.derived:
        _drop(d, out)


def _release(dropped: list[_Entry]) -> None:
    # outside the lock: releases are py4j round-trips
    for ent in dropped:
        if ent.release is not None:
            try:
                ent.release(ent.value)
            except Exception:
                pass  # session already stopped — nothing to free


def _link(key: tuple, parent: tuple | None, stale: bool) -> None:
    """Record ``parent`` (the key this thread is building) as derived
    from ``key`` (lock held); a stale base makes the parent stale."""
    if parent is None:
        return
    ent = _ENTRIES.get(key)
    if ent is not None:
        ent.derived.add(parent)
    if stale or ent is None:
        flight = _FLIGHTS.get(parent)
        if flight is not None:
            flight.stale = True


def get(
    spark,
    tier: str,
    name: str,
    build: Callable[[], Any],
    variant: Any = None,
    release: Callable[[Any], None] | None = None,
) -> Any:
    """The session's ``name``/``variant`` index over ``tier``: served
    from the registry, or built by ``build()`` on first use (once, even
    under concurrent callers). ``release(value)`` frees the index's
    storage when it is evicted or invalidated."""
    key = (spark.sparkContext.applicationId, _norm(tier), name, variant)
    stack = _LOCAL.__dict__.setdefault("stack", [])
    if key in stack:
        raise RuntimeError(f"index build depends on itself: {key}")
    parent = stack[-1] if stack else None
    with _LOCK:
        ent = _ENTRIES.get(key)
        if ent is not None:
            _ENTRIES.move_to_end(key)
            ent.hits += 1
            _link(key, parent, False)
            return ent.value
        flight = _FLIGHTS.get(key)
        owner = flight is None
        if owner:
            flight = _FLIGHTS[key] = _Flight()
    if not owner:
        flight.done.wait()
        if flight.error is not None:
            raise flight.error
        with _LOCK:
            _link(key, parent, flight.stale)
        return flight.value

    stack.append(key)
    t0 = time.perf_counter()
    try:
        value = build()
    except BaseException as exc:
        with _LOCK:
            del _FLIGHTS[key]
        flight.error = exc
        flight.done.set()
        raise
    finally:
        stack.pop()
    dropped: list[_Entry] = []
    with _LOCK:
        del _FLIGHTS[key]
        if not flight.stale:
            _ENTRIES[key] = _Entry(value, release, time.perf_counter() - t0)
            while len(_ENTRIES) > MAX_ENTRIES:
                _drop(next(iter(_ENTRIES)), dropped)
        _link(key, parent, flight.stale)
    flight.value = value
    flight.done.set()
    _release(dropped)
    return value


def invalidate(tier: str | None = None, name: str | None = None) -> int:
    """Drop (and release) the indexes over ``tier`` and/or named
    ``name`` — every variant, every session — plus everything derived
    from them. Call after rewriting a tier's inputs in place. Returns
    the number of entries dropped."""
    norm = None if tier is None else _norm(tier)
    dropped: list[_Entry] = []
    with _LOCK:
        for key in [
            k for k in list(_ENTRIES) + list(_FLIGHTS)
            if (norm is None or k[1] == norm) and (name is None or k[2] == name)
        ]:
            _drop(key, dropped)
    _release(dropped)
    return len(dropped)


def entries() -> list[dict]:
    """One record per cached index, least recently used first."""
    now = time.monotonic()
    with _LOCK:
        return [
            {
                "app": k[0], "tier": k[1], "name": k[2], "variant": k[3],
                "build_s": round(e.build_s, 3), "hits": e.hits,
                "age_s": round(now - e.born, 3),
            }
            for k, e in _ENTRIES.items()
        ]
