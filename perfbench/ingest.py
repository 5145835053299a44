"""``ingest``: small appends beside admin reads and maintenance on
live metadata that changes every commit.

Two day-partitioned ledger tables start from a fixture (a fifth of the
generated events, one file per day), with ``AdminHTTPServer`` on
loopback. One untimed cycle warms the JVM and the metadata cache. The
timed schedule is a run of identical cycles, each on one table (the
tables alternate):

1. append ``BATCH`` unseen event rows to each of ``DAYS_PER_CYCLE``
   seeded days (one commit and one file per append);
2. maintenance: ``plan_optimize`` over the cycle's explicit dates +
   ``run_worker`` (compaction), then ``expire_snapshots`` older than the
   cycle's first commit and ``remove_orphan_files`` older than the cycle
   start;
3. refresh the table's cache slice over HTTP;
4. read back over HTTP, in seeded order: the file listings of the two
   touched days and of three other days, the day and year drill-downs,
   the cached partitions, the table summary and the live snapshots,
   each checked against the rows acknowledged so far.

Compaction dates come from the data and retention from the run's own
commit times, never from today's date, so every run with a seed does
the same work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import urllib.request
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

import gen

DB = "bench"
TABLES = ("ingest_0", "ingest_1")
BATCH = 200
DAYS_PER_CYCLE = 2
FIXTURE_SHARE = 5  # every 5th event is fixture data
# ten reads per cycle; the five file listings form the middle latency
# class, so the median read lands inside it, not in a gap between classes
READS = ("files_0", "files_1", "files_2", "files_3", "files_4", "drill_day", "drill_year",
         "cached_partitions", "summary", "live_snapshots")
# the untimed cycle reads each class once
WARM_READS = ("files_0", "drill_day", "drill_year", "cached_partitions", "summary",
              "live_snapshots")
OPS_PER_CYCLE = DAYS_PER_CYCLE + 1 + 1 + len(READS)
# operations per second of timed phase the schedule is sized for
RATE = 1.75


class Ingest:
    name = "ingest"
    inputs = ("events",)
    RATE = RATE

    def __init__(self, spark, work: str, seed: int, scale: str, tracer=None):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 2])
        self.srv = None
        self.commit_ms: list[int] = []

    # -- set-up ----------------------------------------------------------
    def build(self) -> None:
        """Inputs and fixture tables."""
        from lakehouse_admin_spark.engine import LakehouseAdmin
        from lakehouse_admin_spark.sources.ledger import PartitionField

        self.wh = os.path.join(self.work, "warehouse")
        self.admin = LakehouseAdmin(self.spark, self.wh)
        src = gen.write_inputs(os.path.join(self.work, "inputs"), self.seed, self.scale, self.inputs)
        ev = pq.read_table(os.path.join(src, "events.parquet")).to_pandas()
        ev["day"] = ev["ts"].dt.strftime("%Y-%m-%d")
        self.schema = self.spark.createDataFrame(ev.head(1).drop(columns="day")).schema
        fixture = ev[ev.event_id % FIXTURE_SHARE == 0]
        # per table, per day: the stream rows not yet appended
        self.pool = {
            t: {d: g.drop(columns="day") for d, g in
                ev[(ev.event_id % FIXTURE_SHARE != 0) & (ev.event_id % len(TABLES) == i)]
                .groupby("day")}
            for i, t in enumerate(TABLES)
        }
        self.cursor = defaultdict(int)
        self.expected = {t: defaultdict(lambda: [0, 0]) for t in TABLES}  # day -> [rows, Σid]
        for i, t in enumerate(TABLES):
            tbl = self.admin.create_table(
                DB, t, self.schema, [PartitionField(source="ts", transform="day", name="ts_day")]
            )
            rows = fixture[fixture.event_id % len(TABLES) == i]
            tbl.append(self._df(rows.drop(columns="day")))
            for d, g in rows.groupby("day"):
                self.expected[t][d][0] += len(g)
                self.expected[t][d][1] += int(g.event_id.sum())
        self.days = sorted(self.pool[TABLES[0]])

    def _df(self, pdf):
        return self.spark.createDataFrame(pdf, self.schema).coalesce(1)

    def _snapshot_ids(self, t: str) -> list[int]:
        return sorted(s.snapshot_id for s in self.admin.table(DB, t).snapshots())

    def close(self) -> None:
        if self.srv is not None:
            self.srv.stop()

    def _http(self, method: str, path: str, body=None):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(self.base + path, data=data, method=method)
        if data is not None:
            req.add_header("Content-Type", "application/json")
        with urllib.request.urlopen(req, timeout=120) as resp:
            payload = resp.read()
        self.response_bytes.append(len(payload))
        return json.loads(payload)

    # -- operations ------------------------------------------------------
    def _append(self, t: str, day: str):
        start = self.cursor[(t, day)]
        rows = self.pool[t][day].iloc[start:start + BATCH]
        self.cursor[(t, day)] = start + len(rows)
        snap = self.admin.table(DB, t).append(self._df(rows))
        self.expected[t][day][0] += len(rows)
        self.expected[t][day][1] += int(rows.event_id.sum())
        self.bytes_added += sum(e["file_size_in_bytes"] for e in snap.added)
        self.commit_ms.append(snap.committed_at_ms)
        return snap, len(rows)

    def _maintain(self, t: str, days: list[str], cutoff_ms: int, start_ms: int):
        from lakehouse_admin_spark import maintenance

        d0, d1 = dt.date.fromisoformat(days[0]), dt.date.fromisoformat(days[-1])
        planned = self.admin.plan_optimize(DB, t, d0, d1)
        done = self.admin.run_worker()
        tbl = self.admin.table(DB, t)
        maintenance.expire_snapshots(tbl, older_than_ms=cutoff_ms, retain_last=1)
        maintenance.remove_orphan_files(tbl, older_than_ms=start_ms)
        return planned, done

    def _maint_ok(self, t: str, out, days: list[str]) -> bool:
        planned, done = out
        if done != len(planned) or len(planned) != len(days):
            return False
        if any(self.admin.tasks.get(p.id).status != "success" for p in planned):
            return False
        per_day = defaultdict(int)
        for e in self.admin.table(DB, t).live_files():
            per_day[e["partition"]["ts_day"]] += 1
        self.snapshots[t] = self._snapshot_ids(t)
        return all(per_day[d] == 1 for d in days)

    def read(self, cls: str, t: str, days: list[str]):
        """(call, check) for one HTTP read of class ``cls``."""
        exp = self.expected[t]
        total = sum(v[0] for v in exp.values())
        day = days[int(cls[-1])] if cls.startswith("files_") else days[0]
        y, m, d = day.split("-")
        g = lambda path: self._http("GET", path)  # noqa: E731
        p = lambda path, b: self._http("POST", path, b)  # noqa: E731
        base = f"/api/browse/{DB}/{t}"
        if cls.startswith("files_"):
            # one file per day: the fixture's, or the compaction's output
            want = [exp[day][0]] if day in exp else []
            return (lambda: p(f"{base}/files", {"partitions": {"year": y, "month": m, "day": d}}),
                    lambda r: [f["record_count"] for f in r["files"]] == want)
        if cls == "drill_day":
            return (lambda: p(f"{base}/partitions", {"partitions": {"year": y, "month": m}}),
                    lambda r: {f"{y}-{m}-{x['name']}": x["record_count"] for x in r["partitions"]}
                    == {k: v[0] for k, v in exp.items() if k.startswith(f"{y}-{m}-")})
        if cls == "drill_year":
            return (lambda: p(f"{base}/partitions", {"partitions": {}}),
                    lambda r: [(x["name"], x["record_count"]) for x in r["partitions"]]
                    == [(y, total)])
        if cls == "cached_partitions":
            return (lambda: g(f"/api/metadata/{DB}/{t}/partitions"),
                    lambda r: len(r) == len(exp) and sum(x["record_count"] for x in r) == total)
        if cls == "summary":
            return (lambda: g(base),
                    lambda r: (r["record_count"], r["file_count"], r["partition_count"],
                               r["snapshot_count"])
                    == (total, len(exp), len(exp), len(self.snapshots[t])))
        if cls == "live_snapshots":
            return (lambda: g(f"/api/iceberg/{DB}/{t}/snapshots"),
                    lambda r: sorted(int(x["snapshot_id"]) for x in r["snapshots"])
                    == self.snapshots[t])
        raise KeyError(cls)

    def cycle(self, ops, t: str, days: list[str], reads: list[str]) -> None:
        """``days``: the days appended to, then days that are only read."""
        start_ms = int(time.time() * 1000)
        first = len(self.commit_ms)
        touched = days[:DAYS_PER_CYCLE]
        for d in touched:
            ops.run("append", "commit", lambda d=d: self._append(t, d),
                    lambda out: out[0].summary.get("added-records") == str(out[1]))
        cutoff_ms = self.commit_ms[first]
        ops.run("maintenance", "maint", lambda: self._maintain(t, touched, cutoff_ms, start_ms),
                lambda out: self._maint_ok(t, out, touched))
        ops.run("refresh", "refresh", lambda: self._http("GET", f"/api/refresh/{DB}/{t}"),
                lambda r: r == {"partitions": len(self.expected[t]),
                                "snapshots": len(self.snapshots[t])})
        for cls in reads:
            call, check = self.read(cls, t, days)
            ops.run(cls, "read", call, check)

    # -- phases ----------------------------------------------------------
    def _plan(self, i: int):
        picked = [str(d) for d in self.rng.choice(self.days, size=5, replace=False)]
        days = sorted(picked[:DAYS_PER_CYCLE]) + picked[DAYS_PER_CYCLE:]
        reads = list(READS)
        self.rng.shuffle(reads)
        return TABLES[i % len(TABLES)], days, reads

    def warm(self, ops) -> None:
        """Start the server, then one untimed cycle."""
        from lakehouse_admin_spark.server import AdminHTTPServer

        self.snapshots = {t: self._snapshot_ids(t) for t in TABLES}
        self.srv = AdminHTTPServer(self.admin).start()
        if self.tracer is not None:
            self.tracer.install_server(self.srv)
        self.base = f"http://127.0.0.1:{self.srv.port}"
        self.response_bytes: list[int] = []
        self.bytes_added = 0
        t, days, _reads = self._plan(1)
        self.cycle(ops, t, days, list(WARM_READS))

    def schedule(self, n_ops: int) -> list[tuple]:
        n_cycles = max(len(TABLES), round(n_ops / OPS_PER_CYCLE))
        return [self._plan(i) for i in range(n_cycles)]

    def run(self, ops, cycles) -> None:
        self.bytes_added = 0
        self.response_bytes = []
        if self.tracer is not None:
            from tracing import WriteTracker

            self.writes = WriteTracker([os.path.join(self.wh, DB, t) for t in TABLES])
            self.tracer.after_op.append(self.writes.step)
        for plan in cycles:
            self.cycle(ops, *plan)

    def _table_bytes(self) -> dict[str, int]:
        from common import dir_bytes

        return {t: dir_bytes(os.path.join(self.wh, DB, t))[0] for t in TABLES}

    def final_check(self) -> list[str]:
        """Reopen the warehouse with a fresh catalog: live rows are the
        fixture plus every acknowledged append, no file is missing, and
        the cached summaries match the live manifests."""
        from pyspark.sql import functions as F

        from lakehouse_admin_spark.cache import MetadataCache
        from lakehouse_admin_spark.integrity import integrity_report
        from lakehouse_admin_spark.sources.ledger import LedgerCatalog

        errs = []
        cat = LedgerCatalog(self.spark, self.wh)
        cached = {r["table"]: r.asDict() for r in
                  MetadataCache(self.spark, self.admin.cache.cache_dir).table_summaries(DB).collect()}
        for t in TABLES:
            tbl = cat.table(DB, t)
            got = tbl.read().agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")).first()
            exp = self.expected[t]
            if (got["n"], got["s"]) != (sum(v[0] for v in exp.values()), sum(v[1] for v in exp.values())):
                errs.append(f"{t}: live rows {got['n']} differ from acknowledged appends")
            if not integrity_report(tbl)["ok"]:
                errs.append(f"{t}: integrity report lists missing files")
            files = [e for e in tbl.live_files() if e.get("content", 0) == 0]
            live = {
                "record_count": sum(e["record_count"] for e in files),
                "file_count": len(files),
                "partition_count": len({e["partition"]["ts_day"] for e in files}),
                "snapshot_count": len(tbl.snapshots()),
            }
            c = cached.get(t, {})
            for k, v in live.items():
                if c.get(k) != v:
                    errs.append(f"{t}: cached {k} {c.get(k)} != live {v}")
        return errs

    def layer_metrics(self, tr, ops) -> dict:
        from common import dir_bytes, p50, pctl

        w = self.writes
        files_live = bytes_live = 0
        parts, snaps = set(), 0
        for t in TABLES:
            tbl = self.admin.table(DB, t)
            for e in tbl.live_files():
                files_live += 1
                bytes_live += e["file_size_in_bytes"]
                parts.add((t, e["partition"]["ts_day"]))
            snaps += len(tbl.snapshots())
        commit = ops.ms("commit")
        cache_b, cache_n = dir_bytes(self.admin.cache.cache_dir)
        dispatch = tr.durations_ms().get("server.dispatch", [])
        return {
            "server.requests": len(dispatch),
            "server.self_ms_p50": p50(tr.self_ms("server.dispatch")),
            "server.response_kb_mean": sum(self.response_bytes) / max(1, len(self.response_bytes)) / 1024,
            "cache.disk_bytes": float(cache_b),
            "cache.files": float(cache_n),
            "commit_p50_ms": p50(commit),
            "commit_p90_ms": pctl(commit, 90),
            "maint_p50_s": p50(ops.ms("maint")) / 1000,
            "write_amp": (w.data_bytes + w.meta_bytes) / self.bytes_added,
            "space_amp": sum(self._table_bytes().values()) / bytes_live,
            "files_per_partition": files_live / len(parts),
            "ledger.data_bytes_written": float(w.data_bytes),
            "ledger.meta_bytes_written": float(w.meta_bytes),
            "ledger.files_written": float(w.data_files),
            "ledger.snapshot_count_end": float(snaps),
        }
