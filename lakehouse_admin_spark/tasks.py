"""Maintenance task queue, chunk planner, and scheduler.

Control-plane port of the reference's MySQL-backed queue
(reference: backend/internal/service_task_queue.go, service_tasks.go,
module_tasks.go, service_maintenance_schedule.go). The observable
semantics are preserved — FIFO claim under a concurrency cap, guarded
completion, retry-once, result-JSON merge, day/week/month chunking with
delay clamping — while the storage degenerates from MySQL serializable
transactions to a single-driver, lock-serialized in-memory store with
optional JSON persistence (documented simplification, SURVEY.md §7:
claims are lock-serialized, same observable FIFO+cap behavior as T2).

Spark is the *executor* of the maintenance kinds (M1-M3 in
maintenance.py), not the queue store.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from lakehouse_admin_spark import maintenance
from lakehouse_admin_spark.sources.ledger import LedgerCatalog

# status machine (reference: types.go:14-18)
QUEUED = "queued"
RUNNING = "running"
SUCCESS = "success"
ERROR = "error"

# task kinds (reference: interfaces.go:10-23; retrain_vector_index is
# the engine-extension kind for the governed IVF index lifecycle)
KIND_OPTIMIZE = "optimize"
KIND_EXPIRE = "expire_snapshots"
KIND_ORPHANS = "remove_orphan_files"
KIND_RETRAIN_VECTOR = "retrain_vector_index"
KINDS = (KIND_OPTIMIZE, KIND_EXPIRE, KIND_ORPHANS, KIND_RETRAIN_VECTOR)

MIN_RETENTION_DAYS = 7  # reference: service_tasks.go:15


@dataclass
class Task:
    id: int
    database: str
    table: str
    kind: str
    engine: str = "spark"
    started_at: dt.datetime | None = None
    picked_up_at: dt.datetime | None = None
    finished_at: dt.datetime | None = None
    status: str = QUEUED
    retried: bool = False
    error_message: str | None = None
    input: dict = field(default_factory=dict)
    result: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        def ts(v):
            return v.isoformat() if v else None

        return {
            "id": str(self.id),  # int64 ids serialize as strings
            # (reference: types.go:24 json:"snapshot_id,string")
            "database": self.database,
            "table": self.table,
            "kind": self.kind,
            "engine": self.engine,
            "started_at": ts(self.started_at),
            "picked_up_at": ts(self.picked_up_at),
            "finished_at": ts(self.finished_at),
            "status": self.status,
            "retried": self.retried,
            "error_message": self.error_message,
            "input": self.input,
            "result": self.result,
        }


def merge_result(existing: dict, update: dict, nested_key: str | None = None) -> dict:
    """Shallow JSON merge, update wins; optionally nested under a key
    (reference: service_task_queue.go:384-409)."""
    out = dict(existing)
    if nested_key is not None:
        out[nested_key] = update
    else:
        out.update(update)
    return out


class TaskQueue:
    """Single-driver task queue with the reference's claim/complete/
    retry semantics (T1-T6)."""

    def __init__(self, concurrency: int = 1, persist_path: str | None = None):
        self.concurrency = concurrency
        self.persist_path = persist_path
        self._tasks: dict[int, Task] = {}
        self._next_id = 1
        self._lock = threading.Lock()
        self._now = dt.datetime.now  # injectable for tests
        if persist_path and os.path.exists(persist_path):
            self._load()

    @contextmanager
    def _exclusive(self):
        """Mutation critical section. For persisted queues this is an
        OS-level advisory lock (fcntl.flock on a sidecar .lock file)
        around load-modify-persist, so CONCURRENT PROCESSES sharing a
        warehouse cannot clobber each other's enqueues or double-claim
        a task; the in-memory state is re-synced from disk (which is
        authoritative at lock entry) before the mutation applies. The
        threading.Lock still serializes within the process."""
        with self._lock:
            if not self.persist_path:
                yield
                return
            import fcntl

            os.makedirs(os.path.dirname(self.persist_path) or ".", exist_ok=True)
            with open(self.persist_path + ".lock", "w") as lock_fh:
                fcntl.flock(lock_fh, fcntl.LOCK_EX)
                try:
                    if os.path.exists(self.persist_path):
                        # another process may have advanced the state
                        self._tasks = self._parse_file(revert_running=False)
                        if self._tasks:
                            self._next_id = max(self._tasks) + 1
                    yield
                finally:
                    fcntl.flock(lock_fh, fcntl.LOCK_UN)

    def _load(self) -> None:
        """Recover queue state at STARTUP (the reference's queue lives
        in MySQL and survives restarts; the JSONL file is our
        equivalent). Tasks stuck 'running' from a dead process revert to
        queued so the claim/execute cycle can retry them — an init-only
        policy: mid-flight syncs (_exclusive) never revert, because a
        running task may legitimately belong to another live process.
        The revert is PERSISTED under the file lock so later syncs
        don't resurrect the stale running state from disk."""
        import fcntl

        with open(self.persist_path + ".lock", "w") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
            try:
                self._tasks = self._parse_file(revert_running=True)
                if self._tasks:
                    self._next_id = max(self._tasks) + 1
                    self._persist()
            finally:
                fcntl.flock(lock_fh, fcntl.LOCK_UN)

    def _parse_file(self, revert_running: bool) -> dict[int, "Task"]:
        def ts(v):
            return dt.datetime.fromisoformat(v) if v else None

        tasks: dict[int, Task] = {}
        with open(self.persist_path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                d = json.loads(line)
                t = Task(
                    id=int(d["id"]),
                    database=d["database"],
                    table=d["table"],
                    kind=d["kind"],
                    engine=d.get("engine", "spark"),
                    started_at=ts(d.get("started_at")),
                    picked_up_at=ts(d.get("picked_up_at")),
                    finished_at=ts(d.get("finished_at")),
                    status=d.get("status", QUEUED),
                    retried=bool(d.get("retried")),
                    error_message=d.get("error_message"),
                    input=d.get("input") or {},
                    result=d.get("result") or {},
                )
                if revert_running and t.status == RUNNING:
                    t.status = QUEUED
                    t.picked_up_at = None
                tasks[t.id] = t
        return tasks

    def _sync_reads(self) -> None:
        """Refresh from disk under a SHARED lock so cross-process reads
        (list/counts/get — the CLI history surface) observe other
        processes' enqueues and completions."""
        if not self.persist_path or not os.path.exists(self.persist_path):
            return
        import fcntl

        with self._lock, open(self.persist_path + ".lock", "w") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_SH)
            try:
                self._tasks = self._parse_file(revert_running=False)
                if self._tasks:
                    self._next_id = max(self._tasks) + 1
            finally:
                fcntl.flock(lock_fh, fcntl.LOCK_UN)

    # -- T1 enqueue ----------------------------------------------------
    def enqueue(self, database: str, table: str, kind: str, input: dict | None = None) -> Task:
        if kind not in KINDS:
            raise ValueError(f"unknown task kind {kind!r}")
        with self._exclusive():
            t = Task(
                id=self._next_id,
                database=database,
                table=table,
                kind=kind,
                started_at=self._now(),
                input=input or {},
            )
            self._next_id += 1
            self._tasks[t.id] = t
            self._persist()
            return t

    # -- T2 claim ------------------------------------------------------
    def claim(self) -> Task | None:
        """Oldest queued task, only while running-count < concurrency
        (reference: service_task_queue.go:222-313; the serializable-tx
        CAS degenerates to this lock)."""
        with self._exclusive():
            running = sum(1 for t in self._tasks.values() if t.status == RUNNING)
            if running >= self.concurrency:
                return None
            queued = [t for t in self._tasks.values() if t.status == QUEUED]
            if not queued:
                return None
            t = min(queued, key=lambda t: (t.started_at, t.id))
            t.status = RUNNING
            t.picked_up_at = self._now()
            self._persist()
            return t

    # -- T3 complete ---------------------------------------------------
    def complete(self, task_id: int, result: dict | None = None, error: str | None = None) -> bool:
        """Guarded by status==running; idempotent no-op otherwise
        (reference: service_task_queue.go:315-359)."""
        with self._exclusive():
            t = self._tasks.get(task_id)
            if t is None or t.status != RUNNING:
                return False
            if result:
                t.result = merge_result(t.result, result)
            t.status = ERROR if error else SUCCESS
            t.error_message = error
            t.finished_at = self._now()
            self._persist()
            return True

    # -- T4 partial result update -------------------------------------
    def update_result(self, task_id: int, update: dict, nested_key: str | None = None) -> bool:
        with self._exclusive():
            t = self._tasks.get(task_id)
            if t is None:
                return False
            t.result = merge_result(t.result, update, nested_key)
            self._persist()
            return True

    # -- T5 retry-once -------------------------------------------------
    def retry(self, task_id: int) -> Task | None:
        """Only error && !retried; marks retried and clones as a fresh
        queued task (reference: service_task_queue.go:86-202)."""
        with self._exclusive():
            t = self._tasks.get(task_id)
            if t is None or t.status != ERROR or t.retried:
                return None
            t.retried = True
            clone = Task(
                id=self._next_id,
                database=t.database,
                table=t.table,
                kind=t.kind,
                engine=t.engine,
                started_at=self._now(),
                input=dict(t.input),
            )
            self._next_id += 1
            self._tasks[clone.id] = clone
            self._persist()
            return clone

    def retry_all(self, database: str | None = None) -> list[Task]:
        """Bulk retry ordered by started_at, optionally scoped to one
        database (reference: service_task_queue.go:115-122; the per-db
        variant backs POST /api/tasks/:database/retry-all,
        handler_tasks.go:158-167)."""
        candidates = sorted(
            (
                t
                for t in self._tasks.values()
                if t.status == ERROR
                and not t.retried
                and (database is None or t.database == database)
            ),
            key=lambda t: (t.started_at, t.id),
        )
        return [c for t in candidates if (c := self.retry(t.id))]

    # -- T11 async procedure callback ---------------------------------
    def procedure_callback(
        self,
        task_id: int,
        query: str,
        rows: list[dict] | None = None,
        meta: dict | None = None,
    ) -> None:
        """Record a Spark-procedure result reported back by an async job
        (reference: service_tasks.go:346-375 UpdateProcedureResult —
        spark-engine-only, running-only, merged under the "procedure"
        nested key with a receipt timestamp)."""
        with self._exclusive():
            t = self._tasks.get(task_id)
            if t is None:
                raise KeyError(f"task {task_id} not found")
            if t.engine != "spark":
                raise ValueError(f"task {task_id} does not use spark engine")
            if t.status != RUNNING:
                raise ValueError(
                    f"task {task_id} cannot accept procedure callback in status {t.status}"
                )
            result = {
                "query": query,
                "rows": rows or [],
                "received_at": self._now().isoformat(),
            }
            if meta:
                result["meta"] = meta
            t.result = merge_result(t.result, result, nested_key="procedure")
            self._persist()

    # -- T6 list/counts/flush -----------------------------------------
    def list(
        self,
        database: str | None = None,
        table: str | None = None,
        kinds: list[str] | None = None,
        statuses: list[str] | None = None,
        limit: int = 20,
        offset: int = 0,
    ) -> tuple[list[Task], int]:
        """Filtered listing, started_at DESC, LIMIT/OFFSET (default page
        20 — reference: service_task_queue.go:461-507). Returns
        (page, total)."""
        self._sync_reads()
        rows = [
            t
            for t in self._tasks.values()
            if (database is None or t.database == database)
            and (table is None or t.table == table)
            and (not kinds or t.kind in kinds)
            and (not statuses or t.status in statuses)
        ]
        rows.sort(key=lambda t: (t.started_at, t.id), reverse=True)
        return rows[offset : offset + limit], len(rows)

    def counts(self, database: str | None = None) -> dict[str, int]:
        """queued/running counts (reference: :411-443)."""
        out = {QUEUED: 0, RUNNING: 0}
        for t in self._tasks.values():
            if database is not None and t.database != database:
                continue
            if t.status in out:
                out[t.status] += 1
        return out

    def flush(
        self, statuses: list[str] | None = None, database: str | None = None
    ) -> int:
        with self._lock:
            victims = [
                tid
                for tid, t in self._tasks.items()
                if (not statuses or t.status in statuses)
                and (database is None or t.database == database)
            ]
            for tid in victims:
                del self._tasks[tid]
            self._persist()
            return len(victims)

    def get(self, task_id: int) -> Task | None:
        self._sync_reads()
        return self._tasks.get(task_id)

    def _persist(self) -> None:
        if not self.persist_path:
            return
        tmp = self.persist_path + ".tmp"
        with open(tmp, "w") as fh:
            for t in sorted(self._tasks.values(), key=lambda t: t.id):
                fh.write(json.dumps(t.to_json()) + "\n")
        os.replace(tmp, self.persist_path)


# ---------------------------------------------------------------------------
# chunking + clamping (F5/F6; reference: service_tasks.go:407-477)
# ---------------------------------------------------------------------------


def latest_optimizable_date(now: dt.datetime, delay_hours: int) -> dt.date:
    """Midnight truncation of now - delay
    (reference: service_iceberg.go:226-236)."""
    return (now - dt.timedelta(hours=delay_hours)).date()


def clamp_optimize_range(
    date_from: dt.date, date_until: dt.date, cutoff: dt.date
) -> tuple[dt.date, dt.date] | None:
    """Clamp [from, until] to the delay cutoff; None when the window
    empties (reference: service_tasks.go:407-437)."""
    until = min(date_until, cutoff)
    if date_from > until:
        return None
    return (date_from, until)


def chunk_range(
    date_from: dt.date, date_until: dt.date, chunking: str = "daily"
) -> list[tuple[dt.date, dt.date]]:
    """Split [from, until] into daily/weekly/monthly chunks.

    daily: one chunk per day; weekly: Monday-start [start, start+6];
    monthly: [first-of-month, last-of-month]; boundary chunks are NOT
    clipped to the requested range (the reference dedups whole chunks by
    their natural bounds, service_tasks.go:452-477) — clamping to the
    delay cutoff happens separately via clamp_optimize_range.
    """
    if date_from > date_until:
        return []
    chunks: list[tuple[dt.date, dt.date]] = []
    if chunking == "daily":
        d = date_from
        while d <= date_until:
            chunks.append((d, d))
            d += dt.timedelta(days=1)
    elif chunking == "weekly":
        d = date_from - dt.timedelta(days=date_from.weekday())  # Monday
        while d <= date_until:
            chunks.append((d, d + dt.timedelta(days=6)))
            d += dt.timedelta(days=7)
    elif chunking == "monthly":
        d = date_from.replace(day=1)
        while d <= date_until:
            if d.month == 12:
                nxt = d.replace(year=d.year + 1, month=1)
            else:
                nxt = d.replace(month=d.month + 1)
            chunks.append((d, nxt - dt.timedelta(days=1)))
            d = nxt
    else:
        raise ValueError(f"unknown chunking {chunking!r}")
    return chunks


def clamp_retention_days(days: int) -> int:
    """Retention floor (reference: service_tasks.go:92-95)."""
    return max(days, MIN_RETENTION_DAYS)


# ---------------------------------------------------------------------------
# T9 optimize planning + T7/T10 execution
# ---------------------------------------------------------------------------


def plan_optimize_tasks(
    queue: TaskQueue,
    catalog: LedgerCatalog,
    database: str,
    table_name: str,
    date_from: dt.date,
    date_until: dt.date,
    chunking: str = "daily",
    now: dt.datetime | None = None,
    delay_hours: int = 96,
    settings=None,
) -> list[Task]:
    """Plan optimize tasks: needs_optimize partitions in range → dates →
    chunks → clamp → dedup → one task per chunk
    (reference: service_tasks.go:190-296)."""
    from lakehouse_admin_spark.functions.partitions import get_date
    from lakehouse_admin_spark.metadata import partition_rollup

    now = now or dt.datetime.now()
    cutoff = latest_optimizable_date(now, delay_hours)
    clamped = clamp_optimize_range(date_from, date_until, cutoff)
    if clamped is None:
        return []
    date_from, date_until = clamped

    parts = partition_rollup(catalog.table(database, table_name), settings)
    dates: set[dt.date] = set()
    for flag, browse in zip(
        parts["needs_optimize"].to_pylist(), parts["partition_browse"].to_pylist()
    ):
        if not flag:
            continue
        browse = dict(browse)
        if not {"year", "month", "day"} <= set(browse):
            continue  # undated partitions aren't date-chunkable
        d = get_date(browse)
        if date_from <= d <= date_until:
            dates.add(d)
    if not dates:
        return []

    # chunk each qualifying date, dedup chunks by (from, until)
    seen: set[tuple[dt.date, dt.date]] = set()
    tasks: list[Task] = []
    for d in sorted(dates):
        for chunk in chunk_range(d, d, chunking="daily" if chunking == "daily" else chunking):
            c = clamp_optimize_range(chunk[0], chunk[1], cutoff)
            if c is None or c in seen:
                continue
            seen.add(c)
            tasks.append(
                queue.enqueue(
                    database,
                    table_name,
                    KIND_OPTIMIZE,
                    input={"from": c[0].isoformat(), "until": c[1].isoformat()},
                )
            )
    return tasks


def execute_task(
    queue: TaskQueue,
    catalog: LedgerCatalog,
    task: Task,
    backoff=None,
) -> Task:
    """Engine routing + execution (T8 collapses to the one in-session
    Spark engine; reference routed expire/orphans→trino, optimize→spark,
    task_engines.go:19-61). Pass a BackoffPolicy to retry transient
    procedure failures (the reference's Trino backoff,
    trino_client.go:37-51); exhausted retries mark the task error and
    the queue-level retry-once (T5) still applies."""
    from lakehouse_admin_spark.functions.retry import with_backoff

    def _run(fn):
        return with_backoff(fn, backoff) if backoff is not None else fn()

    tbl = catalog.table(task.database, task.table)
    try:
        if task.kind == KIND_OPTIMIZE:
            where = None
            if "from" in task.input and "until" in task.input:
                # partition-scoped rewrite: one rewrite call per day in
                # the chunk (day partitions are the rewrite unit)
                metrics: dict[str, int] = {}
                d = dt.date.fromisoformat(task.input["from"])
                until = dt.date.fromisoformat(task.input["until"])
                # day fields resolved across ALL spec versions: after
                # partition evolution, files written under an older spec
                # still carry the old field name, and the rewrite
                # matches raw partition names
                spec_day_fields = sorted(
                    {
                        f.name
                        for spec in tbl.all_specs().values()
                        for f in spec
                        if f.transform == "day"
                    }
                )
                if not spec_day_fields:
                    # a date-chunked optimize on a table with no day
                    # partitioning would silently no-op; surface it
                    raise ValueError(
                        f"{task.database}.{task.table}: date-chunked optimize "
                        "found no day-transform partition field in any spec"
                    )
                while d <= until:
                    for fname in spec_day_fields:
                        m = _run(lambda: maintenance.rewrite_data_files(
                            tbl,
                            where={fname: d.isoformat()},
                            target_file_size_bytes=task.input.get(
                                "target_file_size_bytes",
                                maintenance.DEFAULT_TARGET_FILE_SIZE_BYTES,
                            ),
                        ))
                        for k, v in m.items():
                            metrics[k] = metrics.get(k, 0) + v
                    d += dt.timedelta(days=1)
            else:
                metrics = _run(lambda: maintenance.rewrite_data_files(tbl, where=where))
            queue.complete(task.id, result={"procedure": metrics})
        elif task.kind == KIND_EXPIRE:
            days = clamp_retention_days(int(task.input.get("retention_days", MIN_RETENTION_DAYS)))
            metrics = _run(lambda: maintenance.expire_snapshots(tbl, retention_days=days))
            queue.complete(task.id, result={"procedure": metrics})
        elif task.kind == KIND_ORPHANS:
            metrics = _run(lambda: maintenance.remove_orphan_files(tbl))
            metrics.pop("deleted_files", None)
            queue.complete(task.id, result={"procedure": metrics})
        elif task.kind == KIND_RETRAIN_VECTOR:
            from lakehouse_admin_spark.vector_maintenance import (
                retrain_vector_index,
            )

            cents = catalog.table(
                task.database,
                task.input.get("centroids_table", task.table + "_centroids"),
            )
            metrics = _run(lambda: retrain_vector_index(catalog, tbl, cents))
            queue.complete(task.id, result={"procedure": metrics})
        else:
            queue.complete(task.id, error=f"unknown kind {task.kind}")
    except Exception as ex:  # noqa: BLE001 — task errors are recorded, not raised
        queue.complete(task.id, error=str(ex))
    return queue.get(task.id)


def run_worker_cycle(queue: TaskQueue, catalog: LedgerCatalog, max_tasks: int = 100) -> int:
    """One worker tick: claim-until-empty and execute (T7; the reference
    polls every 1 s, module_tasks.go:69-147 — callers own the cadence)."""
    n = 0
    while n < max_tasks:
        task = queue.claim()
        if task is None:
            break
        execute_task(queue, catalog, task)
        n += 1
    return n


def run_maintenance_cycle(
    queue: TaskQueue,
    catalog: LedgerCatalog,
    lookback_days: int = 30,
    retention_days: int = MIN_RETENTION_DAYS,
    chunking: str = "daily",
    now: dt.datetime | None = None,
    settings=None,
) -> list[Task]:
    """T10 scheduled cycle: for every table, plan optimize over
    [today-(lookback-1), today] and enqueue expire+orphans with the
    clamped retention (reference: service_maintenance_schedule.go:55-110)."""
    now = now or dt.datetime.now()
    today = now.date()
    planned: list[Task] = []
    for db in catalog.list_databases():
        for tname in catalog.list_tables(db):
            # governed vector indexes get drift-triggered retraining in
            # the same cycle (an engine-extension maintenance kind)
            if (
                catalog.table(db, tname).properties().get("index_kind")
                == "ivf"
            ):
                from lakehouse_admin_spark.vector_maintenance import (
                    plan_vector_index_tasks,
                )

                planned += plan_vector_index_tasks(queue, catalog, db, tname)
            planned += plan_optimize_tasks(
                queue,
                catalog,
                db,
                tname,
                today - dt.timedelta(days=lookback_days - 1),
                today,
                chunking=chunking,
                now=now,
                settings=settings,
            )
            planned.append(
                queue.enqueue(db, tname, KIND_EXPIRE, {"retention_days": clamp_retention_days(retention_days)})
            )
            planned.append(queue.enqueue(db, tname, KIND_ORPHANS, {}))
    return planned


def build_scheduler(
    queue: TaskQueue,
    catalog: LedgerCatalog,
    cache=None,
    refresh_cron: str = "0 * * * *",
    maintenance_cron: str = "0 2 * * *",
    now_fn=None,
    settings=None,
    lookback_days: int = 30,
    retention_days: int = MIN_RETENTION_DAYS,
    chunking: str = "daily",
):
    """T10 complete: the reference's two cron loops — hourly cache
    refresh (config.dist.yml:39-41) and the nightly maintenance cycle
    (config.dist.yml:43-49) — as jobs on a :class:`CronScheduler`
    (parser semantics: scheduler_cron.go:12-50). Drive with
    ``.tick(now)`` under test or ``.run(stop_event)`` for real."""
    from lakehouse_admin_spark.functions.cron import CronScheduler

    sched = CronScheduler(now_fn=now_fn) if now_fn else CronScheduler()
    if cache is not None:
        sched.add("refresh", refresh_cron, lambda: cache.refresh_all(catalog, settings))
    sched.add(
        "maintenance",
        maintenance_cron,
        lambda: run_maintenance_cycle(
            queue,
            catalog,
            lookback_days=lookback_days,
            retention_days=retention_days,
            chunking=chunking,
            now=sched.now_fn(),
            settings=settings,
        ),
    )
    return sched


def run_worker_pool(
    queue: TaskQueue,
    catalog: LedgerCatalog,
    max_tasks: int = 100,
) -> int:
    """Concurrent worker: claims and executes up to ``queue.concurrency``
    tasks in parallel threads until the queue drains (the reference's
    worker dispatches claimed tasks concurrently under the same cap,
    module_tasks.go:101-147). Spark is thread-safe for concurrent job
    submission — maintenance jobs from different tasks interleave on the
    cluster's scheduler."""
    import concurrent.futures as cf

    done = 0
    lock = threading.Lock()

    def drain() -> None:
        nonlocal done
        while True:
            with lock:
                if done >= max_tasks:
                    return
            task = queue.claim()
            if task is None:
                return
            execute_task(queue, catalog, task)
            with lock:
                done += 1

    n_workers = max(queue.concurrency, 1)
    with cf.ThreadPoolExecutor(max_workers=n_workers) as pool:
        futures = [pool.submit(drain) for _ in range(n_workers)]
        for f in futures:
            f.result()
    return done
