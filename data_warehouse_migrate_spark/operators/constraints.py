"""Constraint enforcement: non-nullable policies + typed default backfill
(reference ``migrator.py:509-679``).

Policies (reference ``migrator.py:616-679``):
  * ``fail``  — raise with per-column null counts
  * ``fill``  — sentinel fill for string/date-ish destination types only
                (numeric columns intentionally not filled, mirroring the
                reference's quirk at ``migrator.py:655-657``)
  * ``skip``  — drop rows with NULL in any non-nullable column

Scale note: ``fail`` needs one aggregate over the data (unavoidable — it is
a data-quality gate); ``fill``/``skip`` stay narrow. The null-count
aggregate is a single partial-aggregated pass, not per-column scans.
The null counts, the ``fill`` projection and the default backfill are
each issued as quoted Spark SQL text in one call
(``data_warehouse_migrate_spark.sqltext``).
"""

from __future__ import annotations

import datetime as _dt
import logging
import re
from typing import Any

from pyspark.sql import DataFrame

from data_warehouse_migrate_spark.exceptions import DataMigrationError
from data_warehouse_migrate_spark.sqltext import (
    ident,
    project,
    sql_literal,
    sql_string,
)

logger = logging.getLogger(__name__)

NULL_POLICIES = ("fail", "fill", "skip")

# destination types eligible for sentinel fill (reference migrator.py:649-657)
_FILLABLE_RE = re.compile(
    r"char|text|blob|string|varchar|date|time|year", re.IGNORECASE)


class NullPolicyViolation(DataMigrationError):
    def __init__(self, null_counts: dict[str, int]):
        self.null_counts = null_counts
        super().__init__(
            "non-nullable constraint violated: "
            + ", ".join(f"{c}={n} nulls" for c, n in null_counts.items()))


def null_counts(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """Per-column null counts in ONE aggregate pass (A4, reference
    ``migrator.py:645-648``)."""
    low = {c.lower(): c for c in df.columns}
    cols = [low[c.lower()] for c in columns if c.lower() in low]
    if not cols:
        return {}
    row = df.selectExpr(*[null_count_sql(c, f"null_{i}")
                          for i, c in enumerate(cols)]).first()
    return {c: int(row[f"null_{i}"] or 0) for i, c in enumerate(cols)}


def null_count_sql(column: str, alias: str) -> str:
    """The aggregate counting the NULLs of ``column``, as SQL text."""
    return f"sum(CAST({ident(column)} IS NULL AS BIGINT)) AS {ident(alias)}"


def apply_null_policy(df: DataFrame, non_nullable: list[str],
                      policy: str = "fail",
                      sentinel: str = "",
                      dest_types: dict[str, str] | None = None,
                      counts: dict[str, int] | None = None) -> DataFrame:
    """Enforce non-nullable columns per policy (C1).

    ``dest_types`` maps column → destination type string; under ``fill``
    only _FILLABLE_RE-matching types get the sentinel (reference
    ``migrator.py:649-657``). Unknown types are treated as fillable when no
    dest_types is provided. ``counts`` are per-column null counts the
    caller already measured on ``df`` (keyed by its column names); with
    them ``fail`` runs no aggregate of its own.
    """
    if policy not in NULL_POLICIES:
        raise ValueError(f"unknown null policy {policy!r}; expected one of {NULL_POLICIES}")
    low = {c.lower(): c for c in df.columns}
    cols = [low[c.lower()] for c in non_nullable if c.lower() in low]
    if not cols:
        return df

    if policy == "fail":
        if counts is None:
            counts = null_counts(df, cols)
        violations = {c: counts[c] for c in cols if counts.get(c)}
        if violations:
            raise NullPolicyViolation(violations)
        return df

    if policy == "skip":
        # drop rows with NULL in ANY non-nullable column (migrator.py:666-674)
        return df.na.drop(subset=[ident(c) for c in cols])

    # fill
    types = {k.lower(): v for k, v in (dest_types or {}).items()}
    out = []
    for c, dtype in df.dtypes:
        x = ident(c)
        dest_t = types.get(c.lower())
        if c in cols and (dest_t is None or _FILLABLE_RE.search(dest_t)):
            if dtype == "string":
                x = f"coalesce({x}, {sql_string(sentinel)})"
            elif dtype in ("date", "timestamp", "timestamp_ntz"):
                # date-ish sentinel: epoch (the reference fills '' which
                # MySQL coerces to zero-date; Spark needs a typed value)
                x = f"coalesce({x}, CAST('1970-01-01 00:00:00' AS {dtype}))"
            # numeric: intentionally unfilled
        out.append((c, x))
    return project(df, out)


# ---------------------------------------------------------------------------
# Typed default parsing + backfill (C2 / F12, reference migrator.py:509-593)
# ---------------------------------------------------------------------------

_HEX_BIT_RE = re.compile(r"^b'([01]+)'$|^0x([0-9a-fA-F]+)$")


def parse_default_value(raw: Any, dest_type: str) -> Any:
    """Parse a destination-catalog default string into a typed Python value
    (reference ``migrator.py:537-592``): ints, floats, bools,
    ``b'0'``/``b'1'``/hex bit literals, CURRENT_TIMESTAMP/NOW() → now,
    datetime strings; everything else stays a string.
    """
    if raw is None:
        return None
    s = str(raw).strip()
    t = dest_type.lower()
    m = _HEX_BIT_RE.match(s)
    if m:
        bits = m.group(1)
        val = int(bits, 2) if bits is not None else int(m.group(2), 16)
        if "tinyint(1)" in t or "bool" in t:
            return bool(val)
        return val
    if s.upper() in ("CURRENT_TIMESTAMP", "NOW()"):
        return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    if "int" in t and "point" not in t:
        try:
            return int(float(s))
        except ValueError:
            return None
    if any(x in t for x in ("double", "float", "decimal", "numeric", "real")):
        try:
            return float(s)
        except ValueError:
            return None
    if "bool" in t:
        return s.strip().lower() in ("true", "1", "yes", "y")
    if any(x in t for x in ("datetime", "timestamp")):
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return _dt.datetime.strptime(s, fmt)
            except ValueError:
                continue
        return None
    if "date" in t:
        try:
            return _dt.datetime.strptime(s, "%Y-%m-%d").date()
        except ValueError:
            return None
    return s.strip("'\"")


def apply_defaults_backfill(df: DataFrame,
                            dest_schema: list[dict]) -> DataFrame:
    """For non-nullable destination columns that declare a default, fill
    NULLs with the typed default (C2). ``dest_schema`` rows look like
    introspected ``information_schema.COLUMNS``:
    ``{'name','type','is_nullable':bool,'default':str|None}``
    (reference ``mysql_writer.py:69-96`` + ``migrator.py:509-535``).
    """
    low = {c.lower(): c for c in df.columns}
    dtypes = dict(df.dtypes)
    out = {c: ident(c) for c in df.columns}
    for col in dest_schema:
        name = low.get(str(col.get("name", "")).lower())
        if name is None or col.get("is_nullable", True) or col.get("default") is None:
            continue
        val = parse_default_value(col["default"], str(col.get("type", "")))
        if val is None:
            continue
        out[name] = (f"coalesce({ident(name)}, "
                     f"CAST({sql_literal(val)} AS {dtypes[name]}))")
    return project(df, out.items())
