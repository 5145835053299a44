"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it, prefixed ``# run``, stamps host cpus, Spark version, seed,
schedule size, calibration time, the per-class latency histogram, the
median read and every read's latency.

Each run is a fixed, seeded operation schedule: ``--seconds`` sets its
size through a constant per-workload rate, so two runs with the same
arguments do identical work however fast the host is. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` installs the tracer
(spans and Spark job counts around each layer's public calls) and
reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import common  # noqa: E402

WORKLOADS = ("ingest", "llm_pipeline")

# The read latency is the mean over every read of the fixed schedule, an
# aggregate of the whole mix. The median of a run's 15-20 reads lands
# inside one operation class and is that class's median over a few
# samples; it is stamped, not bounded.
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "read_mean_ms": "ms"}
_STAGES = ("list_tables_with_summaries", "table_summary", "drilldown", "list_partition_files",
           "snapshots", "partitions", "cached_partitions", "refresh", "plan_optimize",
           "run_worker")
PER_LAYER = {
    "session.start_s": "s", "fixtures.build_s": "s",
    "server.requests": "count", "server.self_ms_p50": "ms", "server.df_rows_ms_p50": "ms",
    "server.response_kb_mean": "KiB",
    **{f"engine.{n}_ms_p50": "ms" for n in _STAGES},
    **{f"cache.{n}_ms_p50": "ms" for n in ("refresh_entity", "table_summaries", "cached")},
    "cache.disk_bytes": "B", "cache.files": "count",
    **{f"metadata.{n}_ms_p50": "ms"
       for n in ("snapshots_df", "files_df", "partitions_df", "drilldown", "list_files")},
    "catalog.table_ms_p50": "ms",
    **{f"ledger.{n}_ms_p50": "ms" for n in ("append", "snapshots", "live_files")},
    "ledger.data_bytes_written": "B", "ledger.meta_bytes_written": "B",
    "ledger.files_written": "count", "ledger.snapshot_count_end": "count",
    "ledger.commit_retries": "count",
    **{f"maintenance.{n}_ms_p50": "ms" for n in ("rewrite", "expire", "orphans")},
    "maintenance.rewrite_calls": "count", "maintenance.useful_rewrite_ratio": "ratio",
    "maintenance.bytes_rewritten": "B", "maintenance.files_rewritten": "count",
    "maintenance.files_expired": "count",
    "tasks.mutation_ms_p50": "ms", "tasks.history_len": "count", "tasks.wait_ms_p50": "ms",
    "tasks.executed": "count", "tasks.failed": "count",
    **{f"operators.{f}.{p}_ms_p50": "ms"
       for f in ("dedup", "similarity", "textual", "retrieval", "curation")
       for p in ("construct", "collect")},
    "operators.hidden_jobs": "count", "operators.index_build_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "jvm.gc_ms": "ms", "host.calib_ms": "ms", "peak_rss_mb": "MB",
    "refresh_p50_ms": "ms", "commit_p50_ms": "ms", "commit_p90_ms": "ms", "maint_p50_s": "s",
    "write_amp": "ratio", "space_amp": "ratio", "files_per_partition": "count",
    "fail_ratio": "ratio", "trace.ops_per_s": "1/s", "trace.overhead_ms": "ms",
}
# (operation kind, stamp key, divisor to the key's unit)
STAMPED = (("commit", "commit_p50_ms", 1), ("maint", "maint_p50_s", 1000),
           ("refresh", "refresh_p50_ms", 1))
# span name -> per-layer metric (median inclusive span time)
SPAN_METRICS = {
    **{f"engine.{n}": f"engine.{n}_ms_p50" for n in _STAGES},
    **{f"cache.{n}": f"cache.{n}_ms_p50" for n in ("refresh_entity", "table_summaries", "cached")},
    **{f"metadata.{n}": f"metadata.{n}_ms_p50"
       for n in ("snapshots_df", "files_df", "partitions_df", "drilldown", "list_files")},
    "catalog.table": "catalog.table_ms_p50",
    **{f"ledger.{n}": f"ledger.{n}_ms_p50" for n in ("append", "snapshots", "live_files")},
    "maintenance.rewrite_data_files": "maintenance.rewrite_ms_p50",
    "maintenance.expire_snapshots": "maintenance.expire_ms_p50",
    "maintenance.remove_orphan_files": "maintenance.orphans_ms_p50",
    "server.df_rows": "server.df_rows_ms_p50",
}


def load_workload(name: str):
    if name == "ingest":
        from ingest import Ingest as W
    else:
        from llm import LlmPipeline as W
    return W


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.1", help="input size (sf0.001 for smoke tests)")
    args = ap.parse_args(argv)

    work = common.new_workdir(args.workload, args.seed)
    common.pin_env(work)
    spark = None
    try:
        W = load_workload(args.workload)
        spark = common.start_spark(work, traced=bool(args.trace))
        spark.range(1).collect()
        session_s = time.perf_counter() - T_PROCESS
        common.log(f"session: {session_s:.2f} s")
        calib_ms = common.calibrate(spark)
        result = run_workload(spark, W, work, args, session_s, calib_ms)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics, attempted, failed, correct, stamp = result
    common.emit(correct, attempted, failed, metrics, stamp)
    return 0


def task_metrics(wl, tracer) -> dict:
    admin = getattr(wl, "admin", None)
    if admin is None:
        return {}
    tasks, _total = admin.tasks.list(limit=1_000_000)
    done = [t for t in tasks if t.picked_up_at is not None]
    mutations = [m for n in ("tasks.enqueue", "tasks.claim", "tasks.complete")
                 for m in tracer.durations_ms().get(n, [])]
    return {
        "tasks.mutation_ms_p50": common.p50(mutations),
        "tasks.history_len": len(tasks),
        "tasks.wait_ms_p50": common.p50(
            [(t.picked_up_at - t.started_at).total_seconds() * 1000 for t in done]),
        "tasks.executed": sum(t.status == "success" for t in tasks),
        "tasks.failed": sum(t.status == "error" for t in tasks),
    }


def run_workload(spark, W, work, args, session_s, calib_ms):
    from tracing import Tracer

    tracer = Tracer(spark) if args.trace else None
    wl = W(spark, work, args.seed, args.scale, tracer)
    warm_ops = common.Ops()
    try:
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        common.log(f"build: {build_s:.2f} s")
        t = time.perf_counter()
        wl.warm(warm_ops)
        warm_s = time.perf_counter() - t
        common.log(f"warm: {warm_s:.2f} s")
        setup_s = time.perf_counter() - T_PROCESS

        seq = wl.schedule(max(1, math.ceil(args.seconds * wl.RATE)))
        if tracer is not None:
            tracer.install()
            gc0 = common.gc_ms(spark)
        ops = common.Ops(tracer)
        t = time.perf_counter()
        wl.run(ops, seq)
        wall = time.perf_counter() - t
        common.log(f"timed phase: {len(ops.records)} ops in {wall:.2f} s")
        if tracer is not None:
            tracer.uninstall()
        final_errors = wl.final_check()
        layer = wl.layer_metrics(tracer, ops) if tracer is not None else {}
    finally:
        wl.close()

    reads = ops.ms("read")
    errors = warm_ops.errors + ops.errors + final_errors
    attempted = len(warm_ops.records) + len(ops.records) + 1  # +1: the final check
    failed = warm_ops.failed + ops.failed + (1 if final_errors else 0)
    for e in errors[:10]:
        print("error: " + e, file=sys.stderr)

    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": len(ops.records) / wall,
            "read_mean_ms": sum(reads) / len(reads),
        }
        units = END_TO_END
    else:
        metrics = {name: 0.0 for name in PER_LAYER}
        for span, vals in tracer.durations_ms().items():
            if span in SPAN_METRICS:
                metrics[SPAN_METRICS[span]] = common.p50(vals)
        metrics.update(tracer.spark_per_op())
        metrics.update({k: v for k, v in tracer.counts.items() if k in PER_LAYER})
        metrics.update({
            "session.start_s": session_s,
            "fixtures.build_s": build_s,
            "jvm.gc_ms": common.gc_ms(spark) - gc0,
            "host.calib_ms": calib_ms,
            "peak_rss_mb": common.peak_rss_mb(),
            "fail_ratio": failed / attempted,
            "trace.ops_per_s": len(ops.records) / wall,
            "trace.overhead_ms": tracer.overhead_s * 1000,
        })
        metrics.update(layer)
        metrics.update(task_metrics(wl, tracer))
        if metrics["maintenance.rewrite_calls"]:
            metrics["maintenance.useful_rewrite_ratio"] = (
                tracer.counts["maintenance.useful_rewrites"] / metrics["maintenance.rewrite_calls"])
        if ops.ms("refresh"):
            metrics["refresh_p50_ms"] = common.p50(ops.ms("refresh"))
        tracer.write(os.path.join(common.WORK_ROOT, f"spans-{wl.name}.jsonl"))
        units = PER_LAYER
    stamp = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "scale": args.scale,
        "trace": args.trace, "cpus": common.cpus(), "spark": spark.version,
        "host_calib_ms": round(calib_ms, 2), "ops": len(ops.records), "reads": len(reads),
        "wall_s": round(wall, 3), "build_s": round(build_s, 3),
        "warm_s": round(warm_s, 3), "per_class": ops.per_class_p50(), "errors": errors[:5],
        "read_p50_ms": round(common.p50(reads), 3), "reads_ms": [round(m, 1) for m in reads],
    }
    # latencies of the write-side classes: too few per run for a bounded
    # metric, stamped so runs can still be compared
    for kind, name, div in STAMPED:
        if ops.ms(kind):
            stamp[name] = round(common.p50(ops.ms(kind)) / div, 3)
    if tracer is not None:
        stamp["self_ms_by_layer"] = tracer.self_ms_by_layer()
    out = {k: (float(v), units[k]) for k, v in metrics.items() if k in units}
    return out, attempted, failed, not errors, stamp


if __name__ == "__main__":
    sys.exit(main())
