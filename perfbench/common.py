"""Run environment, session lifecycle and metric helpers shared by the
workloads.

Nothing here imports pyspark or the package at module load: ``pin_env``
must run first, because ``lakehouse_admin_spark.session`` reads
``SPARK_GRAFT_CPUS`` at import time.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> None:
    """Point every writer at ``work`` and size Spark to this host.

    The package defaults to 32 cores (``local[32]``, 32 shuffle
    partitions) whatever the host has; the benchmark pins the real
    count so results from different hosts say what they ran on."""
    for sub in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_spark(work: str, traced: bool):
    from lakehouse_admin_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: growing it on the G1 schedule made run time
        # and memory depend on when collections happened
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
    }
    if traced:
        # the traced run reads every job/stage of the run back from the
        # status store; keep them all
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM is killed, not leaked
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM child."""
    kb = _hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def gc_ms(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def calibrate(spark) -> float:
    """A fixed Spark job, median of three, in ms: reads how fast this
    host is right now, so a host swing shows in every result."""
    samples = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(3_000_000).selectExpr("sum(id * id % 7919) AS s").collect()
        samples.append((time.perf_counter() - t) * 1000)
    return statistics.median(samples)


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100 * len(s)) - 1))
    return s[k]


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n = b = 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            try:
                b += os.path.getsize(os.path.join(dirpath, f))
                n += 1
            except OSError:
                pass
    return b, n


def new_workdir(workload: str, seed: int) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def emit(correct: bool, attempted: int, failed: int, metrics: dict, stamp: dict) -> None:
    """Print the run stamp, then the result object as the last line."""
    print("# run " + json.dumps(stamp, sort_keys=True))
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)


class Ops:
    """Closed-loop operation runner: one client, the next operation
    starts when the previous one returns. Records (class, kind, ms, ok)
    per operation; ``kind`` is ``read`` or a write class."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.records: list[tuple[str, str, float, bool]] = []
        self.errors: list[str] = []

    def run(self, cls: str, kind: str, fn, check=None):
        tr = self.tracer
        if tr is not None:
            tr.begin_op(len(self.records))
        t = time.perf_counter()
        out, ok = None, False
        try:
            out = fn()
            ok = True if check is None else bool(check(out))
            if not ok:
                self.errors.append(f"{cls}: wrong result")
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
            self.errors.append(f"{cls}: {type(ex).__name__}: {ex}"[:300])
        ms = (time.perf_counter() - t) * 1000
        if tr is not None:
            tr.end_op()
        self.records.append((cls, kind, ms, ok))
        return out

    def ms(self, kind: str | None = None, cls: str | None = None) -> list[float]:
        return [
            m for c, k, m, _ok in self.records
            if (kind is None or k == kind) and (cls is None or c == cls)
        ]

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r[3])

    def per_class_p50(self) -> dict[str, list[float]]:
        """{class: [count, median ms]}: the per-class latency histogram."""
        by: dict[str, list[float]] = {}
        for c, _k, m, _ok in self.records:
            by.setdefault(c, []).append(m)
        return {c: [len(v), round(statistics.median(v), 2)] for c, v in sorted(by.items())}


def mix(counts: dict[str, int], rng) -> list[str]:
    """A fixed multiset of operation classes in seeded order."""
    seq = [c for c, n in sorted(counts.items()) for _ in range(n)]
    rng.shuffle(seq)
    return seq


def scaled_counts(weights: dict[str, int], n_ops: int) -> dict[str, int]:
    """Split ``n_ops`` over the classes in proportion to ``weights``
    (largest remainder, so the total is exact and the same every run)."""
    total = sum(weights.values())
    raw = {c: n_ops * w / total for c, w in weights.items()}
    out = {c: int(v) for c, v in raw.items()}
    rest = sorted(raw, key=lambda c: (out[c] - raw[c], c))
    for c in rest[: n_ops - sum(out.values())]:
        out[c] += 1
    return out
