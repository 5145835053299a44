"""Physical-plan inspection helpers.

The engine's performance claims are plan-shape claims: filters reach the
scan, dimensions broadcast, no accidental cartesian products, whole-stage
codegen spans the hot path. These helpers turn those claims into
assertions so tests pin them (a perf regression then fails CI, not a
benchmark eyeball)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def has_pushed_filters(df: DataFrame) -> bool:
    """True when the parquet scan carries PushedFilters (predicate
    reached the data source)."""
    plan = explain_str(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    import re

    plan = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols += [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
    return sorted(set(cols))


def join_strategies(df: DataFrame) -> list[str]:
    plan = explain_str(df, "simple")
    out = []
    for marker in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        out += [marker] * plan.count(marker)
    return out


def has_cartesian(df: DataFrame) -> bool:
    return "CartesianProduct" in explain_str(df, "simple")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges in the physical plan (before AQE
    reuse) — the scale-cost headline of a plan."""
    plan = explain_str(df, "simple")
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ) + plan.count("Exchange RoundRobinPartitioning")


def plan_tree(plan: str) -> list[tuple[int, str]]:
    """``(column, operator)`` for every node of the numbered operator
    tree of an ``explain("formatted")`` plan, top down. The details
    section below the tree repeats each node, so a count over the whole
    text sees every operator twice. A node's parent is the nearest
    earlier node with a smaller column."""
    import re

    tree = plan.split("\n\n")[0]
    nodes = []
    for line in tree.splitlines():
        m = re.match(r"([ :|+\-]*)(?:\* )?([A-Za-z]\w*).* \(\d+\)$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))
    return nodes
