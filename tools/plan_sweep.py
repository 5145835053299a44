"""Plan sweep (r13): capture explain("formatted") for every registered
query and flag physical-plan antipatterns programmatically.

Emits one JSON line per query to stdout (redirect to a file) with:
  name, n_exchange, n_smj, n_bhj, n_shj, n_bnlj, n_cartesian, n_window,
  n_window_group_limit, n_partitionless_window, n_python
  (BatchEvalPython/ArrowEvalPython/MapInArrow/MapInPandas/
  FlatMapGroupsInPandas), n_scans, n_rdd_scan (Scan ExistingRDD),
  n_local_scan (LocalTableScan), n_cache_scan (InMemoryTableScan),
  n_range_exchange (rangepartitioning Exchanges: each costs a sampling
  job), pushedfilters_empty, plan_len
Operator counts read the numbered tree only, so each node counts once
(the details section below the tree repeats every node). The tree also
shows each cached relation's stored plan; n_cache_scan and
n_range_exchange skip those nodes, which ran once, when the cache was
built, so they count what every call runs.

Usage: python tools/plan_sweep.py [--only name1,name2] [--dir OUTDIR]
With --dir, also writes each query's formatted plan to OUTDIR/<name>.txt.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_admin_spark import registry
from lakehouse_admin_spark.plans.inspect import explain_str, plan_tree
from lakehouse_admin_spark.session import get_spark


PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def per_call_nodes(plan: str) -> list[tuple[int, str]]:
    """``(id, operator)`` for the numbered tree's nodes outside every
    cached relation's stored plan, top down. Spark numbers a cached
    scan's stored plan right after the scan, bottom-up, so its root,
    the line under ``InMemoryRelation``, carries the subtree's highest
    id; every node printed after the subtree is numbered later still.
    (Columns cannot delimit the subtree: a nested adaptive plan prints
    its sections at the wrong depth.)"""
    tree = []
    for line in plan.split("\n\n")[0].splitlines():
        m = re.match(r"[ :|+\-]*(?:\* )?([A-Za-z]\w*)[^(]*\((\d+)\)", line)
        if m:
            tree.append((int(m.group(2)), m.group(1)))
    nodes, cached_to = [], 0
    for i, (nid, name) in enumerate(tree):
        if name == "InMemoryRelation":
            below = tree[i + 1][0] if i + 1 < len(tree) else nid
            cached_to = max(cached_to, nid, below)
        elif nid > cached_to:
            nodes.append((nid, name))
    return nodes


def analyze(plan: str) -> dict:
    names = [name for _col, name in plan_tree(plan)]
    flags = {
        "n_exchange": names.count("Exchange"),
        "n_smj": names.count("SortMergeJoin"),
        "n_bhj": names.count("BroadcastHashJoin"),
        "n_shj": names.count("ShuffledHashJoin"),
        "n_bnlj": names.count("BroadcastNestedLoopJoin"),
        "n_cartesian": names.count("CartesianProduct"),
        "n_window": names.count("Window"),
        "n_window_group_limit": names.count("WindowGroupLimit"),
        "n_python": sum(names.count(x) for x in PYTHON_NODES),
    }
    # partition-less windows: the details section shows
    # "Arguments: [sum(...)...], [partcol ASC ...], or windowspecdefinition(...)
    # A partition-less WindowExec detail line looks like:
    #   Arguments: [... windowspecdefinition(<sort>... )], [], [ordspec]
    # Simpler robust heuristic: find "Window" detail blocks and check for
    # "Arguments: [" lines whose partition-spec list is empty "], []".
    n_pw = 0
    for m in re.finditer(r"\(\d+\) Window(?:GroupLimit)?\n(?:[^\n]*\n)*?Arguments: (.*)", plan):
        args = m.group(1)
        # WindowExec formatted detail: Arguments: [exprs], [partspec], [ordspec]
        if re.search(r"\],\s*\[\],\s*\[", args):
            n_pw += 1
    flags["n_partitionless_window"] = n_pw
    # scans and pushdown
    scans = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    flags["n_scans"] = names.count("Scan")
    # plan_tree keeps a node's first word only, so an RDD scan and a
    # parquet scan both read "Scan"; the full tree line tells them apart
    tree = plan.split("\n\n")[0]
    flags["n_rdd_scan"] = tree.count("Scan ExistingRDD")
    flags["n_local_scan"] = tree.count("LocalTableScan")
    per_call = per_call_nodes(plan)
    flags["n_cache_scan"] = sum(1 for _id, name in per_call if name == "InMemoryTableScan")
    flags["n_range_exchange"] = sum(
        1
        for i, name in per_call
        if name == "Exchange"
        and re.search(rf"^\({i}\) Exchange\n(?:.+\n)*?Arguments: rangepartitioning", plan, re.M)
    )
    flags["pushedfilters_empty"] = sum(1 for s in scans if not s.strip())
    flags["plan_len"] = len(plan)
    return flags


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    ap.add_argument("--dir", default="")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    registry.load_all_operators()
    spark = get_spark(app_name="plan-sweep-r13")
    spark.sparkContext.setLogLevel("ERROR")

    names = list(registry.QUERIES)
    if args.only:
        names = [n for n in args.only.split(",") if n]
    if args.dir:
        os.makedirs(args.dir, exist_ok=True)

    for name in names:
        spec = registry.QUERIES[name]
        try:
            spark.sparkContext.setJobDescription(f"plan-sweep: {name}")
            df = spec.fn(spark, args.sf_dir)
            plan = explain_str(df, "formatted")
        except Exception as exc:  # noqa: BLE001
            print(json.dumps({"name": name, "error": f"{type(exc).__name__}: {exc}"[:300]}))
            traceback.print_exc(file=sys.stderr)
            continue
        row = {"name": name}
        row.update(analyze(plan))
        if args.dir:
            with open(os.path.join(args.dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
