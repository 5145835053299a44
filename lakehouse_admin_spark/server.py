"""S12 — HTTP JSON API over the :class:`LakehouseAdmin` facade.

The reference is an admin web backend; its route table
(reference: backend/main.go:41-100) is reproduced here 1:1 on the Python
stdlib ``http.server`` so a user of the reference's HTTP API can point the
same client at this engine. Routes delegate to the facade — the server
holds no logic of its own, mirroring the reference's thin handlers
(handler_browse.go / handler_tasks.go / handler_iceberg.go).

Response conventions kept from the reference:

- collection payloads are wrapped (``{"tables": [...]}`` /
  ``{"partitions": [...]}`` / ``{"files": [...]}`` — handler_browse.go:23-36),
- task ids serialize as STRINGS (the reference frontend is JS;
  Number.MAX_SAFE_INTEGER < int64 — ``Task.to_json`` pins this),
- task counts return ``{"running": n, "queued": n}`` (handler_tasks.go:71-74),
- settings GET/PUT exchange ``{"value": n}`` (handler_settings.go:12-18).

Scale note: the server is an ADMIN plane. Every endpoint returns either
bounded metadata (partitions, snapshots, task pages) or a paged listing;
nothing streams table data through the driver.

Serving path: the browse, metadata and refresh-entity routes call the
Arrow producers of :mod:`~lakehouse_admin_spark.metadata` and
:class:`~lakehouse_admin_spark.cache.MetadataCache` — the same ones the
facade's DataFrame methods wrap — and :func:`df_rows` writes the Arrow
rows out with the values ``DataFrame.collect()`` would give, so a
driver-held answer reaches the client without a DataFrame, a Spark job
or a Py4J call.
"""

from __future__ import annotations

import datetime as dt
import decimal
import inspect
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs

import pyarrow as pa

from lakehouse_admin_spark import metadata as md
from lakehouse_admin_spark.engine import LakehouseAdmin
from lakehouse_admin_spark.functions.partitions import synth_partition_filters


def _json_default(o: Any) -> Any:
    if isinstance(o, (dt.datetime, dt.date)):
        return o.isoformat()
    if isinstance(o, decimal.Decimal):
        return float(o)
    if isinstance(o, bytes):
        return o.hex()
    raise TypeError(f"not JSON serializable: {type(o)!r}")


def _java_string_hash(s: str) -> int:
    """``String.hashCode`` (over UTF-16 code units) spread the way
    ``java.util.HashMap`` spreads it, as an unsigned 32-bit int."""
    h = 0
    units = s.encode("utf-16-be")
    for i in range(0, len(units), 2):
        h = (31 * h + (units[i] << 8 | units[i + 1])) & 0xFFFFFFFF
    return h ^ (h >> 16)


def _collected_map(entries: list[tuple[str, Any]]) -> dict:
    """A ``map<string, …>`` value as ``DataFrame.collect()`` returns it.
    Spark hands a map to Python as a ``java.util.HashMap`` sized for its
    entries, so the dict's keys come in that table's bucket order
    (insertion order within a bucket), not in entry order. The table
    starts at the next power of two of the entry count and doubles each
    time it is more than 3/4 full. A bucket of more than eight colliding
    keys, which Java keeps as a tree, is not modelled."""
    values = dict(entries)
    cap = 1 << (len(values) - 1).bit_length() if values else 1
    for size in range(1, len(values) + 1):
        if size > cap * 3 // 4:
            cap *= 2
    order = sorted(enumerate(values), key=lambda ik: (_java_string_hash(ik[1]) & (cap - 1), ik[0]))
    return {k: values[k] for _, k in order}


def _column_values(column: pa.ChunkedArray) -> list:
    """One Arrow column as the Python values ``collect()`` gives: a
    timestamp is the naive local datetime of
    ``TimestampType.fromInternal`` and a map is :func:`_collected_map`."""
    kind = column.type
    if pa.types.is_timestamp(kind):  # microseconds, Spark's Arrow unit
        micros = column.cast(pa.int64()).to_pylist()
        return [
            None if us is None
            else dt.datetime.fromtimestamp(us // 1_000_000).replace(microsecond=us % 1_000_000)
            for us in micros
        ]
    values = column.to_pylist()
    if pa.types.is_map(kind):
        return [None if m is None else _collected_map(m) for m in values]
    return values


def df_rows(table: pa.Table) -> list[dict]:
    """An admin answer (an Arrow table) → list of plain dicts, equal to
    the facade DataFrame's ``[r.asDict(recursive=True) for r in
    collect()]`` (admin-plane result sets are bounded: partitions /
    snapshots / file pages, never table data)."""
    columns = [_column_values(c) for c in table.columns]
    return [dict(zip(table.column_names, row)) for row in zip(*columns)]


class _Route:
    __slots__ = ("method", "pattern", "fn", "takes_query")

    def __init__(self, method: str, template: str, fn):
        self.method = method
        self.pattern = re.compile(
            "^" + re.sub(r":(\w+)", r"(?P<\1>[^/]+)", template) + "$"
        )
        self.fn = fn
        # handlers that bind query-string ("form") params declare a
        # ``query`` kwarg — mirrors the reference's form tags
        # (handler_tasks.go:34-47); lambdas without it never see the qs
        try:
            self.takes_query = "query" in inspect.signature(fn).parameters
        except (TypeError, ValueError):
            self.takes_query = False


class AdminHTTPServer:
    """Threaded JSON server over one :class:`LakehouseAdmin`.

    ``port=0`` binds an ephemeral port (read it back from ``.port`` after
    ``start()``). ``stop()`` shuts the listener down; also usable as a
    context manager.
    """

    def __init__(self, admin: LakehouseAdmin, host: str = "127.0.0.1", port: int = 0):
        self.admin = admin
        self.routes = self._build_routes()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # silence per-request stderr logging
            def log_message(self, fmt, *args):  # noqa: D102
                pass

            def _dispatch(self, method: str) -> None:
                try:
                    body = None
                    n = int(self.headers.get("Content-Length") or 0)
                    if n:
                        body = json.loads(self.rfile.read(n))
                    path, _, qstr = self.path.partition("?")
                    for route in outer.routes:
                        if route.method != method:
                            continue
                        m = route.pattern.match(path)
                        if m:
                            kwargs = m.groupdict()
                            if route.takes_query:
                                kwargs["query"] = parse_qs(qstr)
                            result = route.fn(body, **kwargs)
                            self._reply(200, result)
                            return
                    self._reply(404, {"err": f"no route {method} {self.path}"})
                except (KeyError, FileNotFoundError) as e:
                    self._reply(404, {"err": str(e)})
                except (ValueError, TypeError) as e:
                    self._reply(400, {"err": str(e)})
                except Exception as e:  # 500 with the message, like the ref
                    self._reply(500, {"err": f"{type(e).__name__}: {e}"})

            def _reply(self, status: int, payload: Any) -> None:
                data = json.dumps(payload, default=_json_default).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):  # noqa: D102
                self._dispatch("GET")

            def do_POST(self):  # noqa: D102
                self._dispatch("POST")

            def do_PUT(self):  # noqa: D102
                self._dispatch("PUT")

            def do_DELETE(self):  # noqa: D102
                self._dispatch("DELETE")

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    # -- lifecycle -----------------------------------------------------
    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "AdminHTTPServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "AdminHTTPServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- routes --------------------------------------------------------
    def _build_routes(self) -> list[_Route]:
        a = self.admin

        def task_page(body, database=None, table=None, query=None):
            # query-param binding mirrors the reference's form tags
            # (handler_tasks.go:34-47): repeated kind=/status= keys
            # (gin []string binding; kind[]= accepted too), table from
            # the query string on the per-database route, limit<=0 →
            # default page 20 and offset<0 → 0 exactly like the service
            # (service_task_queue.go:461-468; TaskQueue.list applies
            # the same floors)
            q = query or {}
            kinds = (q.get("kind") or q.get("kind[]")) or None
            statuses = (q.get("status") or q.get("status[]")) or None
            table = table or (q.get("table") or [None])[0]
            limit = int((q.get("limit") or [0])[0])
            offset = int((q.get("offset") or [0])[0])
            page, total = a.tasks.list(
                database=database,
                table=table,
                kinds=kinds,
                statuses=statuses,
                limit=limit if limit > 0 else 20,
                offset=max(offset, 0),
            )
            return {"tasks": [t.to_json() for t in page], "total": total}

        def optimize(body, database, table):
            body = body or {}
            planned = a.plan_optimize(
                database,
                table,
                dt.date.fromisoformat(body["from"][:10]),
                dt.date.fromisoformat(body["to"][:10]),
                chunking=body.get("chunk_by", "daily"),
            )
            return {"tasks": [t.to_json() for t in planned]}

        def retry(body, id):
            t = a.tasks.retry(int(id))
            if t is None:
                raise KeyError(f"task {id} not retryable")
            return t.to_json()

        def rollback(body, database, table, snapshotId):
            return a.rollback(database, table, int(snapshotId))

        def files(body, database, table):
            tbl = a.table(database, table)
            selected = (body or {}).get("partitions", {})
            raw = synth_partition_filters(tbl.partition_spec(), selected)
            return {"files": df_rows(md.listing_table(tbl, raw))}

        def refresh_entity(database, table, entity):
            return df_rows(a.cache.refresh_entity_table(
                a.catalog, database, table, entity, a.settings.optimize_settings()
            ))

        def missing_files(body, database, table, snapshotId):
            from lakehouse_admin_spark.integrity import missing_files as mf

            return {"missing_files": mf(a.table(database, table), int(snapshotId))}

        def set_concurrency(body, **_):
            a.settings.set("task_concurrency", str(int(body["value"])))
            return {"value": a.settings.get_int("task_concurrency")}

        def batch_optimize(body, database):
            body = body or {}
            if not body.get("from") or not body.get("to"):
                raise ValueError("from and to dates are required for optimize")
            return a.enqueue_optimize_batch(
                database,
                body.get("tables") or [],
                dt.date.fromisoformat(body["from"][:10]),
                dt.date.fromisoformat(body["to"][:10]),
            )

        def procedure_callback(body, id):
            body = body or {}
            a.tasks.procedure_callback(
                int(id),
                query=body.get("query", ""),
                rows=body.get("rows"),
                meta=body.get("meta"),
            )
            return {"status": "ok"}

        r = _Route
        return [
            # -- iceberg (catalog) -- main.go:91-100
            r("GET", "/api/iceberg/databases", lambda b: {"databases": a.list_databases()}),
            r("GET", "/api/iceberg/:database/tables",
              lambda b, database: {"tables": a.catalog.list_tables(database)}),
            r("POST", "/api/iceberg/:database/:table/snapshots/:snapshotId/rollback", rollback),
            r("GET", "/api/iceberg/:database/:table/snapshots/:snapshotId/missing-files",
              missing_files),
            r("GET", "/api/iceberg/:database/:table/snapshots",
              lambda b, database, table: {
                  "snapshots": df_rows(md.snapshot_table(a.table(database, table)))
              }),
            r("GET", "/api/iceberg/:database/:table/partitions",
              lambda b, database, table: {
                  "partitions": df_rows(md.partition_rollup(
                      a.table(database, table), a.settings.optimize_settings()
                  ))
              }),
            r("GET", "/api/iceberg/:database/:table",
              lambda b, database, table: a.describe(database, table)),
            # -- browse (cached metadata) -- main.go:84-89
            r("GET", "/api/browse/:database/tables",
              lambda b, database: {"tables": df_rows(a.cache.summary_table(database))}),
            r("POST", "/api/browse/:database/:table/partitions",
              lambda b, database, table: {
                  "partitions": df_rows(md.drilldown_table(
                      a.table(database, table),
                      (b or {}).get("partitions", {}),
                      a.settings.optimize_settings(),
                  ))
              }),
            r("POST", "/api/browse/:database/:table/files", files),
            # -- browse table summary -- main.go:86 (after the static
            #    /:database/tables route so "tables" wins the match)
            r("GET", "/api/browse/:database/:table",
              lambda b, database, table: a.table_summary(database, table)),
            # -- metadata (cached listings, no catalog touch) -- main.go:68-72
            r("GET", "/api/metadata/:database/:table/partitions",
              lambda b, database, table: df_rows(
                  a.cache.cached_table("partitions", database, table)
              )),
            r("GET", "/api/metadata/:database/:table/snapshots",
              lambda b, database, table: df_rows(
                  a.cache.cached_table("snapshots", database, table)
              )),
            # -- maintenance (per-database batch) -- main.go:41-46
            r("POST", "/api/maintenance/:database/expire-snapshots",
              lambda b, database: a.enqueue_expire_batch(
                  database,
                  (b or {}).get("tables") or [],
                  int((b or {}).get("retention_days", 0)),
              )),
            r("POST", "/api/maintenance/:database/remove-orphan-files",
              lambda b, database: a.enqueue_orphans_batch(
                  database, (b or {}).get("tables") or []
              )),
            r("POST", "/api/maintenance/:database/optimize", batch_optimize),
            # -- refresh -- main.go:74-81 (static segments first)
            r("GET", "/api/refresh/full", lambda b: a.refresh_all()),
            r("GET", "/api/refresh/tables",
              lambda b: {"status": "ok", **a.refresh_tables()}),
            r("GET", "/api/refresh/:database/:table/partitions",
              lambda b, database, table: refresh_entity(database, table, "partitions")),
            r("GET", "/api/refresh/:database/:table/snapshots",
              lambda b, database, table: refresh_entity(database, table, "snapshots")),
            r("GET", "/api/refresh/:database/:table",
              lambda b, database, table: a.refresh(database, table)),
            r("GET", "/api/refresh/:database",
              lambda b, database: {"status": "ok", **a.refresh_database(database)}),
            # -- integrity (engine extra; reference exposes via iceberg svc)
            r("GET", "/api/integrity/:database/:table",
              lambda b, database, table: a.integrity(database, table)),
            # -- tasks -- main.go:47-62 (static segments before :database)
            r("GET", "/api/tasks/counts", lambda b: a.tasks.counts()),
            r("POST", "/api/tasks/retry-all",
              lambda b: {"retried_count": len(a.tasks.retry_all())}),
            r("POST", "/api/tasks/retry/:id", retry),
            r("POST", "/api/tasks/callback/:id/result", procedure_callback),
            r("POST", "/api/tasks/:database/retry-all",
              lambda b, database: {
                  "retried_count": len(a.tasks.retry_all(database))
              }),
            r("POST", "/api/tasks/:database/:table/optimize", optimize),
            r("POST", "/api/tasks/:database/:table/expire-snapshots",
              lambda b, database, table: a.enqueue_expire(
                  database, table, int((b or {}).get("retention_days", 0))
              ).to_json()),
            r("POST", "/api/tasks/:database/:table/remove-orphan-files",
              lambda b, database, table: a.enqueue_orphans(database, table).to_json()),
            r("GET", "/api/tasks/:database/counts",
              lambda b, database: a.tasks.counts(database)),
            r("GET", "/api/tasks/:database", task_page),
            r("GET", "/api/tasks", task_page),
            r("DELETE", "/api/tasks/:database",
              lambda b, database: {"deleted": a.tasks.flush(database=database)}),
            r("DELETE", "/api/tasks", lambda b: {"deleted": a.tasks.flush()}),
            # -- settings -- main.go:64-67
            r("GET", "/api/settings/task-concurrency",
              lambda b: {"value": a.settings.get_int("task_concurrency")}),
            r("PUT", "/api/settings/task-concurrency", set_concurrency),
            # -- worker drive (reference runs this as a kernel module)
            r("POST", "/api/worker/run", lambda b: {"completed": a.run_worker()}),
        ]
