"""Run the benchmark over several seeds and report each end-to-end
metric's spread: the distance between the first and third quartiles of
the per-run values (``statistics.quantiles(values, n=4)``) as a share
of their median.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads ingest] [--out runs.jsonl]
    python3 perfbench/steadiness.py --report first.jsonl second.jsonl

Runs are sequential, one fresh process each, from the checkout root.
Also prints, per workload, the read classes' median latency and share of
reads, and the spread of the medians each run stamps (reads, commit,
maintenance, refresh), which have no bound. Given two sets of runs of
the same code, it compares their medians the way a regression check does.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    rec = {"workload": workload, "seed": seed, "rc": proc.returncode,
           "wall_s": round(time.perf_counter() - t, 1)}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
        rec["stamp"] = json.loads(lines[-2][len("# run "):])
    else:
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


STAMPED = ("read_p50_ms", "commit_p50_ms", "maint_p50_s", "refresh_p50_ms")  # unbounded


def values(rs: list[dict]) -> dict[str, tuple[str, list[float]]]:
    """{metric: (unit, per-run values)}: the result's metrics, then the
    medians each run stamps."""
    out = {name: (v["unit"], [r["result"]["metrics"][name]["value"] for r in rs])
           for name, v in rs[0]["result"]["metrics"].items()}
    for name in STAMPED:
        if all(name in r["stamp"] for r in rs):
            unit = name.rsplit("_", 1)[1]
            out[name] = (unit, [r["stamp"][name] for r in rs])
    return out


def by_workload(recs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in recs:
        out.setdefault(r["workload"], []).append(r)
    return out


def report(recs: list[dict], bench: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w, all_rs in by_workload(recs).items():
        rs = [r for r in all_rs if "result" in r]
        bad = [r["seed"] for r in all_rs if "result" not in r]
        print(f"\n### {w}: {len(rs)} runs, wall {min(r['wall_s'] for r in rs)}-"
              f"{max(r['wall_s'] for r in rs)} s, all correct: "
              f"{all(r['result']['correct'] for r in rs)}, failed runs: {bad}\n")
        print("| metric | median | q1 | q3 | IQR/median | bound |")
        print("|---|---|---|---|---|---|")
        for name, (unit, vals) in values(rs).items() if len(rs) > 1 else []:
            med, q1, q3, sp = spread(vals)
            print(f"| {name} ({unit}) | {med:.4g} | {q1:.4g} | {q3:.4g} | {sp:.3f} | "
                  f"{bounds.get(name, '-')} |")
        classes: dict[str, list] = {}
        for r in rs:
            for c, (n, med) in r["stamp"]["per_class"].items():
                classes.setdefault(c, []).append((n, med))
        print("\nper-class median latency (median over runs):\n")
        print("| class | ops per run | median ms |")
        print("|---|---|---|")
        for c, v in sorted(classes.items(), key=lambda kv: statistics.median(x[1] for x in kv[1])):
            print(f"| {c} | {v[0][0]} | {statistics.median(x[1] for x in v):.1f} |")


def compare(first: list[dict], second: list[dict], bench: dict) -> None:
    """Median of each metric in two sets of runs of the same code, and
    how much worse the second is, as a share of the first."""
    spec = {m["name"]: m for m in bench["end_to_end"]}
    a, b = by_workload(first), by_workload(second)
    print("| workload | metric | first median | second median | worse by | bound |")
    print("|---|---|---|---|---|---|")
    for w in a.keys() & b.keys():
        va = values([r for r in a[w] if "result" in r])
        vb = values([r for r in b[w] if "result" in r])
        for name, (unit, vals) in va.items():
            if name not in vb:
                continue
            m1, m2 = statistics.median(vals), statistics.median(vb[name][1])
            sign = -1 if spec.get(name, {}).get("better") == "higher" else 1
            print(f"| {w} | {name} ({unit}) | {m1:.4g} | {m2:.4g} | "
                  f"{sign * (m2 - m1) / m1:+.3f} | {spec.get(name, {}).get('bound', '-')} |")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="append every run record to this JSONL file")
    ap.add_argument("--report", nargs="+", metavar="JSONL",
                    help="only report the records in this file; with two files, also "
                         "compare their medians")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.report:
        sets = [[json.loads(line) for line in open(f)] for f in args.report]
        for recs in sets:
            report(recs, bench)
        if len(sets) == 2:
            print()
            compare(*sets, bench)
        return 0
    recs = []
    for w in args.workloads or [x["name"] for x in bench["workloads"]]:
        for s in seeds(args.seeds):
            rec = one_run(w, s, bench["run_seconds"], args.trace)
            recs.append(rec)
            print(f"{w} seed {s}: rc {rec['rc']}, {rec['wall_s']} s", file=sys.stderr, flush=True)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
    report(recs, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
