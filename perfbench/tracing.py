"""Traced mode: spans and counts around each layer's public functions,
installed from outside the package by wrapping module and class
attributes.

A span is (name, start, end, parent, op id). Spans stay in memory and
are written once when the run ends. Each operation of the schedule also
gets a Spark job group; after it, the jobs of that group plus any new
ungrouped jobs (pool threads in maintenance do not inherit the group)
are read back from the status tracker for job, stage and task counts.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

# (module, attribute) pairs wrapped as "<layer>.<attribute>"; module
# functions are also replaced wherever another package module imported
# them by name
MODULE_FUNCS = {
    "metadata": ("lakehouse_admin_spark.metadata",
                 ["snapshots_df", "files_df", "partitions_df", "drilldown", "list_files"]),
    "maintenance": ("lakehouse_admin_spark.maintenance",
                    ["rewrite_data_files", "expire_snapshots", "remove_orphan_files"]),
}
CLASS_METHODS = {
    "engine": ("lakehouse_admin_spark.engine", "LakehouseAdmin",
               ["list_tables_with_summaries", "table_summary", "drilldown",
                "list_partition_files", "snapshots", "partitions", "cached_partitions",
                "cached_snapshots", "describe", "refresh", "plan_optimize", "run_worker"]),
    "cache": ("lakehouse_admin_spark.cache", "MetadataCache",
              ["refresh_entity", "table_summaries", "cached"]),
    "catalog": ("lakehouse_admin_spark.sources.ledger", "LedgerCatalog", ["table"]),
    "ledger": ("lakehouse_admin_spark.sources.ledger", "LedgerTable",
               ["append", "snapshots", "live_files"]),
    "tasks": ("lakehouse_admin_spark.tasks", "TaskQueue", ["enqueue", "claim", "complete"]),
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_id = -1
        self.op_spark: list[tuple[int, int, int]] = []  # (jobs, stages, tasks) per op
        self.overhead_s = 0.0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._seen_ungrouped: set[int] = set()
        self._restore: list[tuple[object, str, object]] = []
        self.after_op: list = []  # callables run after each operation
        self.active = False  # spans are kept only while installed

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, fn, name: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        import importlib

        # jobs run before the timed phase (calibration, fixtures, index
        # builds, the warm cycle) are ungrouped; none belongs to an op
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._seen_ungrouped = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self.active = True
        for layer, (mod_name, names) in MODULE_FUNCS.items():
            mod = importlib.import_module(mod_name)
            for n in names:
                orig = getattr(mod, n)
                new = self.wrap(orig, f"{layer}.{n}", self._maint_result(n))
                for other in list(sys.modules.values()):
                    if (getattr(other, "__name__", "") or "").startswith("lakehouse_admin_spark") \
                            and getattr(other, n, None) is orig:
                        self._patch(other, n, new)
        for layer, (mod_name, cls_name, names) in CLASS_METHODS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for n in names:
                self._patch(cls, n, self.wrap(getattr(cls, n), f"{layer}.{n}"))
        from lakehouse_admin_spark.sources import ledger

        orig_commit = ledger.LedgerTable._commit_delta
        tracer = self

        @functools.wraps(orig_commit)
        def commit_delta(*args, **kwargs):
            try:
                return orig_commit(*args, **kwargs)
            except ledger.CommitConflictError:
                tracer.counts["ledger.commit_retries"] += 1
                raise

        self._patch(ledger.LedgerTable, "_commit_delta", commit_delta)
        from lakehouse_admin_spark import server

        self._patch(server, "df_rows", self.wrap(server.df_rows, "server.df_rows"))

    def install_server(self, srv) -> None:
        """Wrap one server's request handler: its span is the whole
        request (parse, route, engine, df_rows, JSON, socket write), and
        it puts the handler thread into the current operation's job
        group."""
        handler = srv._httpd.RequestHandlerClass
        orig = handler._dispatch
        tracer = self

        def _dispatch(h, method):
            if not tracer.active:
                return orig(h, method)
            tracer.sc.setJobGroup(f"op-{tracer.op_id}", "perfbench")
            with tracer.span("server.dispatch"):
                return orig(h, method)

        self._patch(handler, "_dispatch", _dispatch)

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _maint_result(self, name: str):
        if name == "rewrite_data_files":
            def on(out):
                self.counts["maintenance.rewrite_calls"] += 1
                self.counts["maintenance.useful_rewrites"] += out["rewritten_data_files_count"] > 0
                self.counts["maintenance.bytes_rewritten"] += out["rewritten_bytes_count"]
                self.counts["maintenance.files_rewritten"] += out["rewritten_data_files_count"]
            return on
        if name == "expire_snapshots":
            def on(out):
                self.counts["maintenance.files_expired"] += out.get("deleted_data_files_count", 0)
            return on
        return None

    # -- operations ------------------------------------------------------
    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self.sc.setJobGroup(f"op-{op_id}", "perfbench")

    def end_op(self) -> None:
        t = time.perf_counter()
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(f"op-{self.op_id}"))
        ungrouped = set(st.getJobIdsForGroup(None))
        jobs |= ungrouped - self._seen_ungrouped
        self._seen_ungrouped |= ungrouped
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        self.op_spark.append((len(jobs), stages, tasks))
        sc.setJobGroup("perfbench-idle", "perfbench")
        for fn in self.after_op:
            fn()
        self.overhead_s += time.perf_counter() - t

    def jobs_now(self) -> set[int]:
        """Every job id the status tracker knows (for hidden-job counts)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        out = set(st.getJobIdsForGroup(None))
        out |= set(st.getJobIdsForGroup(f"op-{self.op_id}"))
        return out

    # -- results ---------------------------------------------------------
    def durations_ms(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for name, t0, t1, _parent, _op in self.spans:
            out[name].append((t1 - t0) * 1000)
        return out

    def _self_ms(self) -> list[float]:
        """Each span's self time: its duration minus its children's."""
        child = defaultdict(float)
        for _n, t0, t1, parent, _op in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        return [(t1 - t0 - child[i]) * 1000 for i, (_n, t0, t1, _p, _op) in enumerate(self.spans)]

    def self_ms(self, name: str) -> list[float]:
        return [ms for ms, span in zip(self._self_ms(), self.spans) if span[0] == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Total self time per layer (the span name's first part)."""
        out: dict[str, float] = defaultdict(float)
        for ms, span in zip(self._self_ms(), self.spans):
            out[span[0].split(".")[0]] += ms
        return {k: round(v, 1) for k, v in sorted(out.items())}

    def spark_per_op(self) -> dict[str, float]:
        n = max(1, len(self.op_spark))
        return {
            "spark.jobs_per_op": sum(x[0] for x in self.op_spark) / n,
            "spark.stages_per_op": sum(x[1] for x in self.op_spark) / n,
            "spark.tasks_per_op": sum(x[2] for x in self.op_spark) / n,
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": t0, "end": t1,
                                     "parent": parent, "op": op}) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "idx", "t0")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        tr = self.tracer
        stack = tr._stack()
        with tr._lock:  # reserve the slot so children can name it
            self.idx = len(tr.spans)
            tr.spans.append(None)
        self.t0 = time.perf_counter()
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        tr = self.tracer
        stack = tr._stack()
        stack.pop()
        parent = stack[-1] if stack else None
        tr.spans[self.idx] = (self.name, self.t0, t1, parent, tr.op_id)
        return False


class WriteTracker:
    """Bytes and files written under some directories, found by
    comparing (size, mtime) listings between operations: a new or
    changed file counts its full size as written."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.data_bytes = self.meta_bytes = self.data_files = 0
        self.seen = self._scan()

    def _scan(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root in self.roots:
            for dirpath, _d, files in os.walk(root):
                for f in files:
                    p = os.path.join(dirpath, f)
                    try:
                        st = os.stat(p)
                    except OSError:
                        continue
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def step(self) -> None:
        cur = self._scan()
        for p, sig in cur.items():
            if self.seen.get(p) == sig:
                continue
            if f"{os.sep}data{os.sep}" in p:
                self.data_bytes += sig[0]
                self.data_files += p.endswith(".parquet")
            else:
                self.meta_bytes += sig[0]
        self.seen = cur
