"""Column-mapping pipeline: include/exclude → rename → computed → defaults →
order (the documented order, reference ``README.md:218``, data path
``migrator.py:827-977``).

All name matching is case-insensitive (reference ``migrator.py:838-852``).
The whole pipeline is narrow (one projection, no shuffle) — at 100 TB
it runs entirely map-side inside whole-stage codegen. Each stage is
rendered as quoted Spark SQL text (``data_warehouse_migrate_spark
.sqltext``) and :func:`apply_mapping` folds all five steps into ONE
``selectExpr`` call: building them as ``Column`` objects, one ``select``
per step, cost a py4j round trip per expression node (about 850 per
run on the benchmark's 19-column mapping).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from data_warehouse_migrate_spark.exceptions import SchemaError
from data_warehouse_migrate_spark.functions.computed import (
    COMPUTED_WHITELIST,
    _CALL_RE,
    _split_args,
    _strip_quotes,
    put_computed,
)
from data_warehouse_migrate_spark.sqltext import ident, project, sql_literal


class MappingError(SchemaError):
    """Raised on invalid mapping config (reference ``migrator.py:752-825``).
    A :class:`~data_warehouse_migrate_spark.exceptions.SchemaError`, so it
    is catchable categorically; still a ValueError as before."""


@dataclass
class Mapping:
    """A table mapping plan — the reference's per-table ``mapping`` JSON."""

    include: list[str] | None = None
    exclude: list[str] | None = None
    rename: dict[str, str] = field(default_factory=dict)
    computed: dict[str, str] = field(default_factory=dict)
    defaults: dict[str, Any] = field(default_factory=dict)
    order: list[str] = field(default_factory=list)
    type_override: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict[str, Any] | None) -> "Mapping":
        d = d or {}
        return cls(
            include=d.get("include"),
            exclude=d.get("exclude"),
            rename=d.get("rename") or {},
            computed=d.get("computed") or {},
            defaults=d.get("defaults") or {},
            order=d.get("order") or [],
            type_override=d.get("type_override") or {},
        )


def _lower_map(columns: list[str]) -> dict[str, str]:
    return {c.lower(): c for c in columns}


def validate_mapping(mapping: Mapping, columns: list[str]) -> None:
    """Pre-flight validation (reference ``migrator.py:752-825``):
    include columns must exist; rename sources must exist and targets be
    unique; computed functions whitelisted; format templates must parse and
    reference existing columns (including rename/computed targets).
    Nonexistent *excludes* are tolerated (``migrator.py:769-771``).
    """
    low = _lower_map(columns)
    if mapping.include:
        missing = [c for c in mapping.include if c.lower() not in low]
        if missing:
            raise MappingError(f"include columns not in source: {missing}")
    if mapping.rename:
        missing = [c for c in mapping.rename if c.lower() not in low]
        if missing:
            raise MappingError(f"rename source columns not in source: {missing}")
        targets = [t.lower() for t in mapping.rename.values()]
        if len(targets) != len(set(targets)):
            raise MappingError("rename targets must be unique")
        # a target colliding with a SURVIVING (un-renamed) column would
        # produce two same-named columns and ambiguous references later
        surviving = {c.lower() for c in columns
                     if c.lower() not in {k.lower() for k in mapping.rename}}
        clash = [t for t in mapping.rename.values()
                 if t.lower() in surviving]
        if clash:
            raise MappingError(
                f"rename targets collide with surviving columns: {clash}")

    # the column universe visible to computed/format: after include/exclude
    # and rename, plus earlier computed targets
    visible = list(columns)
    if mapping.include:
        inc = {c.lower() for c in mapping.include}
        visible = [c for c in visible if c.lower() in inc]
    if mapping.exclude:
        exc = {c.lower() for c in mapping.exclude}
        visible = [c for c in visible if c.lower() not in exc]
    ren = {k.lower(): v for k, v in mapping.rename.items()}
    visible = [ren.get(c.lower(), c) for c in visible]

    for target, expression in mapping.computed.items():
        m = _CALL_RE.match(expression)
        if not m:
            raise MappingError(f"computed {target!r}: not a function call: {expression!r}")
        func = m.group(1).lower()
        if func not in COMPUTED_WHITELIST:
            raise MappingError(
                f"computed {target!r}: function {func!r} not in whitelist "
                f"{sorted(COMPUTED_WHITELIST)}")
        if func == "format":
            args = _split_args(m.group(2))
            if not args:
                raise MappingError(f"computed {target!r}: format needs a template")
            template, quoted = _strip_quotes(args[0])
            if not quoted:
                raise MappingError(f"computed {target!r}: format template must be quoted")
            vis_low = {c.lower() for c in visible}
            # run the REAL translation pre-flight — Formatter().parse alone
            # accepts specs (e.g. '{x:>8}') that the printf translation
            # rejects, which would otherwise abort mid-migration
            from data_warehouse_migrate_spark.functions.computed import (
                ComputedExpressionError,
                translate_format_template,
            )

            try:
                _, tfields = translate_format_template(template)
            except (ComputedExpressionError, ValueError) as e:
                raise MappingError(
                    f"computed {target!r}: bad format template: {e}") from e
            named = [fn for fn, _ in tfields if fn]
            positional = [fn for fn, _ in tfields if fn is None]
            col_args = [_strip_quotes(a)[0] for a in args[1:]]
            for n in named:
                if n.lower() not in vis_low:
                    raise MappingError(
                        f"computed {target!r}: format references unknown column {n!r}")
            if len(positional) > len(col_args):
                raise MappingError(
                    f"computed {target!r}: template has {len(positional)} positional "
                    f"fields but only {len(col_args)} column args")
            for c in col_args:
                if c.lower() not in vis_low:
                    raise MappingError(
                        f"computed {target!r}: format references unknown column {c!r}")
        visible.append(target)


def apply_mapping(df: DataFrame, mapping: Mapping | dict | None,
                  pandas_compat: bool = True, validate: bool = True) -> DataFrame:
    """Run the full mapping pipeline in the documented order
    (reference ``README.md:218``): include/exclude → rename → computed →
    defaults → order.
    """
    if mapping is None:
        return df
    if isinstance(mapping, dict):
        mapping = Mapping.from_dict(mapping)
    if validate:
        validate_mapping(mapping, df.columns)

    # the projection so far: [name, sql, simple type] per output column
    out = [[n, ident(n), t] for n, t in df.dtypes]
    # P1 include (keeps include-list order) / P2 exclude
    if mapping.include:
        low = {c[0].lower(): c for c in out}
        out = [list(low[c.lower()]) for c in mapping.include]
    if mapping.exclude:
        exc = {c.lower() for c in mapping.exclude}
        out = [c for c in out if c[0].lower() not in exc]

    # P3 rename (case-insensitive source matching)
    ren_low = {k.lower(): v for k, v in mapping.rename.items()}
    for c in out:
        c[0] = ren_low.get(c[0].lower(), c[0])

    # F1-F6 computed, in config order, may chain
    put_computed(out, mapping.computed, pandas_compat=pandas_compat)

    # F13 defaults: fillna per configured column (app layer)
    if mapping.defaults:
        low = {c[0].lower(): c for c in out}
        fill = {k.lower(): v for k, v in mapping.defaults.items()
                if k.lower() in low}
        numeric_t = ("tinyint", "smallint", "int", "bigint",
                     "float", "double")
        for k, v in fill.items():
            c, _, t = low[k]
            if (t in numeric_t or t.startswith("decimal")):
                try:
                    float(str(v))
                except (TypeError, ValueError):
                    # fail HERE, not rows-deep: under ANSI the cast would
                    # abort mid-job; with try_cast it would silently never
                    # apply — neither is an acceptable way to learn a
                    # default doesn't fit its column
                    raise MappingError(
                        f"default {v!r} is not castable to {c!r}:{t}")
        for k, v in fill.items():
            # try_cast: a runtime-surprise value (post-validation) must
            # degrade to no-fill, never abort the batch (T3 contract)
            c = low[k]
            c[1] = f"coalesce({c[1]}, TRY_CAST({sql_literal(v)} AS {c[2]}))"

    # P4 order: listed columns first, remainder appended in original order
    if mapping.order:
        low = {c[0].lower(): c for c in out}
        ordered = [low[c.lower()] for c in mapping.order if c.lower() in low]
        out = ordered + [c for c in out if all(c is not o for o in ordered)]
    return project(df, [(n, sql) for n, sql, _ in out])


def project_to_destination(df: DataFrame, dest_columns: list[str]) -> DataFrame:
    """P5: keep only columns present in the destination table, reordered to
    destination column order (reference ``migrator.py:320-325``)."""
    low = _lower_map(df.columns)
    return project(df, [(d, ident(low[d.lower()])) for d in dest_columns
                        if d.lower() in low])
