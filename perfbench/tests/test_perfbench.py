"""Tests of the benchmark itself, at sf0.001 with a tiny schedule.

    python3 -m pytest perfbench/tests -q

Each test runs ``perfbench/run.py`` in a subprocess (a fresh JVM, as the
benchmark always uses), from the root of the checkout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = ["--scale", "sf0.001", "--seconds", "1"]


def run(args: list[str], prelude: str = "") -> tuple[int, list[str]]:
    """Run the benchmark (after ``prelude``, if any) and return its exit
    code and stdout lines."""
    code = (
        "import sys, runpy\n"
        f"{prelude}\n"
        f"sys.argv = [{RUN!r}] + {args!r}\n"
        f"runpy.run_path({RUN!r}, run_name='__main__')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_its_unit(workload, trace):
    rc, out = run(["--workload", workload, "--seed", "7", "--trace", str(trace)] + TINY)
    assert rc == 0
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for m in BENCH["end_to_end"] if not trace else []:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


DROP_ONE_APPEND = """
sys.path.insert(0, {root!r})
from lakehouse_admin_spark.sources import ledger
_append = ledger.LedgerTable.append
_calls = [0]
def append(self, df, *a, **k):
    _calls[0] += 1
    snap = _append(self, df, *a, **k)
    if _calls[0] == 6:  # an acknowledged append of the timed phase is lost
        self.rollback_to(snap.parent_id)
    return snap
ledger.LedgerTable.append = append
"""


def test_dropped_append_is_caught():
    rc, out = run(
        ["--workload", "ingest", "--seed", "7", "--trace", "0"] + TINY,
        prelude=DROP_ONE_APPEND.format(root=ROOT),
    )
    assert rc == 0
    result = json.loads(out[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1


def test_same_seed_same_counts():
    """Count metrics repeat exactly for a seed."""
    counts = ("spark.jobs_per_op", "spark.stages_per_op", "tasks.history_len",
              "ledger.files_written", "ledger.data_bytes_written", "maintenance.files_rewritten",
              "files_per_partition")
    seen = []
    for _ in range(2):
        rc, out = run(["--workload", "ingest", "--seed", "7", "--trace", "1"] + TINY)
        assert rc == 0
        m = json.loads(out[-1])["metrics"]
        seen.append({k: m[k]["value"] for k in counts})
    assert seen[0] == seen[1]


def test_generated_inputs_have_the_sf01_shapes():
    """gen.py's sf0.1 output keeps the shapes measured on the sf0.1 test
    tables (``shapes.py``; figures in STEADINESS.md)."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import gen
    import shapes

    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        gen.write_inputs(tmp, 5, "sf0.1", ("documents", "embeddings", "events"))
        s = shapes.measure(tmp)
    docs, emb, ev = s["documents"], s["embeddings"], s["events"]
    assert (docs["rows"], docs["words_min"], docs["words_max"], docs["vocab"]) == (5000, 10, 100, 31)
    assert docs["rare_terms"] == ["dup"] and docs["sources"] == 20
    assert 53 <= docs["words_mean"] <= 56 and 0.06 <= docs["stopword_share"] <= 0.073
    assert 0.085 <= docs["near_dup_share"] <= 0.11 and 0.38 <= docs["en_share"] <= 0.44
    assert (emb["rows"], emb["dim"], emb["labels"], emb["norm_mean"]) == (2000, 64, 10, 1.0)
    assert emb["centroid_std"] < 0.012 and emb["nn_same_label"] < 0.15
    assert (ev["rows"], ev["ts_type"], ev["first_day"], ev["days"]) == (
        100_000, "timestamp[us]", "2024-01-01", 30)
    assert ev["ts_sorted"] and ev["users"] == 1500 and ev["event_types"] == 5
    assert 48 <= ev["value_mean"] <= 52 and 33 <= ev["value_median"] <= 36.5
