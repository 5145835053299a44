"""SQL identifier/literal helpers for Spark SQL generation.

The reference quotes with ANSI double-quotes for Trino
(backend/internal/sql_helpers.go:5-15) and validates identifier paths
with a regex before splicing them into procedure where-clauses
(backend/build/spark/maintenance.py:23-24,99-107). Spark SQL uses
backtick quoting; the validation regex is kept verbatim-equivalent."""

from __future__ import annotations

import re

IDENT_PART = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def quote_ident(name: str) -> str:
    """Backtick-quote one identifier (doubling embedded backticks)."""
    return "`" + name.replace("`", "``") + "`"


def quote_ident_path(path: str) -> str:
    """Validate and quote a dotted identifier path
    (reference: maintenance.py:99-107 raises on invalid parts)."""
    parts = path.split(".")
    for p in parts:
        if not IDENT_PART.fullmatch(p):
            raise ValueError(f"invalid identifier part {p!r} in {path!r}")
    return ".".join(quote_ident(p) for p in parts)


def quote_literal(s: str) -> str:
    """Single-quote a string literal (doubling embedded quotes,
    reference: sql_helpers.go:11-13)."""
    return "'" + s.replace("'", "''") + "'"


def optimize_where_clause(column_path: str, date_from: str, date_until: str) -> str:
    """The partition-scoped rewrite predicate
    `` `col` >= 'from 00:00:00' AND `col` < 'until 00:00:00' ``
    (reference: maintenance.py:110-134 — note the exclusive upper bound
    is the day AFTER `until`)."""
    col = quote_ident_path(column_path)
    return (
        f"{col} >= {quote_literal(date_from + ' 00:00:00')} "
        f"AND {col} < {quote_literal(date_until + ' 00:00:00')}"
    )
