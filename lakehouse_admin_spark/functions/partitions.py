"""Partition-spec normalization and hidden-transform helpers.

This ports the reference's most behavior-pinned logic (its own unit
tests cover exactly these): hidden-transform expansion, browse-field
derivation, filter-value synthesis, date reconstruction, and rendering.

Reference anchors:
- day/month/year expansion to zero-padded string parts:
  backend/internal/iceberg_client.go:292-311 (test :31-47)
- partition-spec → browse fields (nested identity sources keep their
  dotted path; bucket/truncate fall through to the raw field name;
  unknown transforms → field_<id>): iceberg_client.go:422-496
  (tests :49-89)
- hidden filter-value synthesis with completeness + unknown-key
  validation: backend/internal/service_browse_files.go:82-191
  (tests handler_browse_test.go:9-67)
- PartitionValues.GetDate (strip leading zeros → UTC date):
  backend/internal/types_iceberg.go:73-123
- rendering: spec-ordered {k=v, …} (handler_browse_test.go:81-98) and
  sorted k=v join (types_iceberg.go:61-71)

All of this is driver-side spec logic (specs are tiny); the row-level
counterpart (normalize_map_expr) is a pure Spark Column expression.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

from lakehouse_admin_spark.sources.ledger import PartitionField

DATE_PART_FIELDS = {"year": ["year"], "month": ["year", "month"], "day": ["year", "month", "day"]}


def browse_fields(spec: list[PartitionField]) -> list[str]:
    """Drill-down field names, in spec order.

    day → year, month, day; month → year, month; year → year;
    identity → source column name (nested paths kept verbatim);
    bucket/truncate → raw source field name.
    """
    out: list[str] = []
    for f in spec:
        if f.transform in DATE_PART_FIELDS:
            for part in DATE_PART_FIELDS[f.transform]:
                if part not in out:
                    out.append(part)
        else:  # identity / bucket / truncate → the source column
            if f.source not in out:
                out.append(f.source)
    return out


def normalize_values(spec: list[PartitionField], raw: dict[str, str]) -> dict[str, str]:
    """Normalize a raw partition tuple (ledger field name → value) into
    browse-field values with zero-padded date parts, e.g. a day
    transform value "2006-1-2" → {"year": "2006", "month": "01",
    "day": "02"}."""
    out: dict[str, str] = {}
    for f in spec:
        v = raw.get(f.name)
        if v is None:
            continue
        if f.transform in DATE_PART_FIELDS:
            parts = v.split("-")
            names = DATE_PART_FIELDS[f.transform]
            if len(parts) < len(names):
                raise ValueError(f"partition value {v!r} too short for {f.transform}")
            out["year"] = parts[0].zfill(4)
            if "month" in names:
                out["month"] = parts[1].zfill(2)
            if "day" in names:
                out["day"] = parts[2].zfill(2)
        else:
            out[f.source] = v
    return out


def normalize_map_expr(spec: list[PartitionField], partition: Column) -> Column:
    """Spark-side normalize_values: MapType(raw) → MapType(browse).

    Pure built-in expressions (substring/lpad/map) — stays inside
    whole-stage codegen, so partition normalization is free at any file
    count."""
    entries: list[Column] = []
    for f in spec:
        v = partition[f.name]
        if f.transform == "day":
            entries += [
                F.lit("year"), F.lpad(F.split(v, "-")[0], 4, "0"),
                F.lit("month"), F.lpad(F.split(v, "-")[1], 2, "0"),
                F.lit("day"), F.lpad(F.split(v, "-")[2], 2, "0"),
            ]
        elif f.transform == "month":
            entries += [
                F.lit("year"), F.lpad(F.split(v, "-")[0], 4, "0"),
                F.lit("month"), F.lpad(F.split(v, "-")[1], 2, "0"),
            ]
        elif f.transform == "year":
            entries += [F.lit("year"), F.lpad(v, 4, "0")]
        else:
            entries += [F.lit(f.source), v]
    # an unpartitioned spec's empty map is typed like the others: an
    # untyped map() is map<void,void>, which has no Arrow form
    return F.create_map(*entries) if entries else F.create_map().cast("map<string,string>")


def synth_partition_filters(
    spec: list[PartitionField], selected: dict[str, str]
) -> dict[str, str]:
    """Reverse of normalization: browse-field selections → raw partition
    predicates, validating completeness and rejecting unknown keys
    (reference: service_browse_files.go:82-191; e.g. {year: "2026",
    month: "03", day: "25"} ⇒ {"<day-field>": "2026-03-25"}).
    """
    known = set(browse_fields(spec))
    unknown = set(selected) - known
    if unknown:
        raise ValueError(f"unknown partition keys: {sorted(unknown)}")
    out: dict[str, str] = {}
    for f in spec:
        if f.transform in DATE_PART_FIELDS:
            names = DATE_PART_FIELDS[f.transform]
            missing = [n for n in names if n not in selected]
            if missing:
                raise ValueError(
                    f"incomplete date selection for {f.name!r}: missing {missing}"
                )
            parts = [selected[n] for n in names]
            if f.transform == "day":
                out[f.name] = f"{parts[0]}-{parts[1]}-{parts[2]}"
            elif f.transform == "month":
                out[f.name] = f"{parts[0]}-{parts[1]}"
            else:
                out[f.name] = parts[0]
        else:
            if f.source not in selected:
                raise ValueError(f"missing selection for partition field {f.source!r}")
            out[f.name] = selected[f.source]
    return out


def get_date(values: dict[str, str]) -> datetime.date:
    """(year, month, day) strings → UTC date, tolerating leading zeros
    and unpadded values (reference: types_iceberg.go:73-123)."""
    try:
        y = int(values["year"].lstrip("0") or "0")
        m = int(values["month"].lstrip("0") or "0")
        d = int(values["day"].lstrip("0") or "0")
    except KeyError as e:
        raise ValueError(f"missing date part {e.args[0]!r} in {values}") from None
    return datetime.date(y, m, d)


def render_partition(spec: list[PartitionField], values: dict[str, str]) -> str:
    """Spec-ordered render "{k=v, …}" (reference tuple render keeps
    positional field order, service_browse_files.go:261-347)."""
    items = []
    for f in spec:
        if f.name in values:
            v = values[f.name]
            items.append(f"{f.name}={'null' if v is None else v}")
    return "{" + ", ".join(items) + "}"


def render_values_sorted(values: dict[str, str]) -> str:
    """Key-sorted "k=v, " join (reference: types_iceberg.go:61-71)."""
    return ", ".join(f"{k}={values[k]}" for k in sorted(values))
