"""Source-schema-driven cast expressions.

The reference's central design commitment: values are coerced to the
*declared* source type, never inferred (reference ``migrator.py:345-507``,
``README.md:400-408``). Numeric-looking string status codes must stay
strings. Every cast is a ``try_cast`` — a per-column cast failure must
never fail the job (reference ``migrator.py:385-386``).

Each rule is rendered once, as Spark SQL text (``data_warehouse_migrate_spark.sqltext``):
:func:`apply_source_schema` issues a whole table's casts as ONE
``selectExpr`` call, where building them as ``Column`` objects cost a
py4j round trip per node (about 1,600 per run on a 19-column table).
The public helpers wrap the same text in ``F.expr``. Every expression
is a built-in Spark function (JVM-side, codegen-friendly); no Python
UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.schema import _base_type, parse_source_type
from data_warehouse_migrate_spark.sqltext import ident, project, sql_string, sql_type

# reference migrator.py:431-446 (strip + lower first)
TRUTHY_TOKENS = ("true", "1", "yes", "y")
FALSY_TOKENS = ("false", "0", "no", "n", "")

# reference migrator.py:95-96, config.py:50-52 — literal string null tokens
STRING_NULL_TOKENS = ("nan", "none", "null", "<na>")


# Python str.strip()'s whitespace set (str.isspace): regex \s plus the
# C0 separators \x1c-\x1f, NEL \x85, and the unicode space category
_PY_WS = r"[\s\x1c-\x1f\x85\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"


def _in(x: str, tokens) -> str:
    return f"{x} IN ({', '.join(map(sql_string, tokens))})"


def _pystrip(x: str) -> str:
    """Python ``str.strip()`` semantics: ALL leading/trailing whitespace.
    Spark's ``trim`` removes only spaces — '\\r'/'\\t'/'\\x1f' would
    survive and flip token classification (found by hypothesis)."""
    return f"regexp_replace({x}, {sql_string(f'^{_PY_WS}+|{_PY_WS}+$')}, '')"


def _boolean_token_sql(x: str, unknown_to_null: bool = True) -> str:
    s = f"lower({_pystrip(f'CAST({x} AS STRING)')})"
    return (f"CASE WHEN {x} IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN {_in(s, TRUTHY_TOKENS)} THEN TRUE "
            f"WHEN {_in(s, FALSY_TOKENS)} THEN FALSE "
            f"ELSE {'CAST(NULL AS BOOLEAN)' if unknown_to_null else 'FALSE'} END")


def boolean_token_expr(name: str, unknown_to_null: bool = True) -> Column:
    """Parse boolean tokens in column ``name``: 'true','1','yes','y' →
    True; 'false','0','no','n','' → False; unknown → NULL (reference
    ``migrator.py:431-446``) or False (legacy client variant,
    ``maxcompute_client.py:438-451``) when ``unknown_to_null=False``.
    Non-string inputs are stringified first, mirroring the pandas path;
    stripping matches Python ``str.strip()``, not SQL ``trim``.
    """
    return F.expr(_boolean_token_sql(ident(name), unknown_to_null))


def _string_preserve_sql(x: str, preserve_null_tokens: bool = True,
                         treat_empty_as_null: bool = False) -> str:
    s = f"CAST({x} AS STRING)"
    if not preserve_null_tokens:
        s = (f"CASE WHEN {_in(f'lower({s})', STRING_NULL_TOKENS)} "
             f"THEN NULL ELSE {s} END")
    if treat_empty_as_null:
        # reference uses Python .strip() (maxcompute_client.py:369)
        s = f"CASE WHEN {_pystrip(s)} = '' THEN NULL ELSE {s} END"
    return s


def string_preserve_expr(name: str,
                         preserve_null_tokens: bool = True,
                         treat_empty_as_null: bool = False) -> Column:
    """Force-preserve column ``name`` as string (reference
    ``migrator.py:449-473``).

    With ``preserve_null_tokens`` (the default —
    ``preserve_string_null_tokens=true``), literal tokens like 'nan'/'None'/
    'null'/'<NA>' stay as strings; disabled, they convert to NULL
    case-insensitively. Empty string → NULL only if ``treat_empty_as_null``
    (reference ``maxcompute_client.py:366-378``, default false).
    """
    return F.expr(_string_preserve_sql(ident(name), preserve_null_tokens,
                                       treat_empty_as_null))


def _inf_nan_to_null_sql(x: str) -> str:
    c = f"CAST({x} AS DOUBLE)"
    return (f"CASE WHEN isnan({c}) OR {c} IN (CAST('Infinity' AS DOUBLE), "
            f"CAST('-Infinity' AS DOUBLE)) THEN CAST(NULL AS DOUBLE) "
            f"ELSE {c} END")


def inf_nan_to_null(name: str) -> Column:
    """±inf → NULL in float column ``name`` (reference
    ``migrator.py:503-505``, ``bigquery_client.py:273-278``); NaN → NULL
    likewise (the Arrow path treats NaN as missing)."""
    return F.expr(_inf_nan_to_null_sql(ident(name)))


def _try_cast_text(x: str, target: str) -> str:
    return f"TRY_CAST(CAST({x} AS STRING) AS {target})"


_INT_TYPES = {"bigint": "bigint", "int": "int", "integer": "int",
              "smallint": "smallint", "tinyint": "tinyint",
              "long": "bigint", "short": "smallint", "byte": "tinyint"}


def _cast_sql(x: str, type_str: str, preserve_null_tokens: bool = True,
              treat_empty_as_null: bool = False) -> str:
    base = _base_type(type_str)
    if base in _INT_TYPES:
        # the reference's '1.0' → 1 semantics (pd.to_numeric then int64 —
        # reference migrator.py:411-422, maxcompute_client.py:406-411):
        # parse as double first, then truncate. Spark nullable longs make
        # the reference's NaN→float64 widening hack unnecessary
        # (SURVEY.md §1.3)
        return f"TRY_CAST({_try_cast_text(x, 'double')} AS {_INT_TYPES[base]})"
    if base in ("double", "float"):
        return _inf_nan_to_null_sql(_try_cast_text(x, "double"))
    if base == "decimal":
        return _try_cast_text(x, parse_source_type(type_str).simpleString())
    if base in ("string", "varchar", "char"):
        return _string_preserve_sql(x, preserve_null_tokens, treat_empty_as_null)
    if base == "boolean":
        return _boolean_token_sql(x)
    if base in ("datetime", "timestamp_ntz"):
        return _try_cast_text(x, "timestamp_ntz")
    if base in ("timestamp", "date"):
        return _try_cast_text(x, base)
    if base == "binary":
        return f"CAST({x} AS BINARY)"
    if base in ("array", "map", "struct"):
        # already-typed nested values pass through; no coercion path in the
        # reference for complex types (they only exist in schema translation)
        return x
    return f"CAST({x} AS STRING)"


def cast_expr_for_source_type(name: str, type_str: str,
                              preserve_null_tokens: bool = True,
                              treat_empty_as_null: bool = False) -> Column:
    """The T3 operator (reference ``migrator.py:345-394``): one cast
    expression per declared source type, over column ``name``. Unknown
    types pass through as strings.
    """
    return F.expr(_cast_sql(ident(name), type_str, preserve_null_tokens,
                            treat_empty_as_null))


def apply_source_schema(df, schema, preserve_null_tokens: bool = True,
                        treat_empty_as_null: bool = False):
    """Apply declared source types to a whole DataFrame in one select —
    the reference's per-batch ``_apply_source_schema_types`` collapses into
    a single narrow projection (no shuffle), issued as one SQL-text call.

    ``schema`` is a list of ``ColumnSpec``; columns absent from the
    DataFrame are ignored, extra DataFrame columns pass through unchanged
    (matching the reference's per-column, never-fail-the-batch behavior).
    """
    from pyspark.sql import types as T

    by_name = {c.name.lower(): c for c in schema}
    out = []
    for f in df.schema.fields:
        x = ident(f.name)
        spec = by_name.get(f.name.lower())
        if spec is None:
            out.append((f.name, x))
            continue
        target = parse_source_type(spec.type)
        # Fast path: column already has the declared type → no string
        # round-trip. Keeps parquet predicate pushdown intact and saves a
        # cast chain per column per row at scale. Semantics preserved:
        # string identity holds under default flags, doubles still get the
        # inf/NaN cleanup the reference applies unconditionally.
        if f.dataType == target:
            if isinstance(target, T.DoubleType):
                x = _inf_nan_to_null_sql(x)
            elif isinstance(target, T.StringType) and (
                    not preserve_null_tokens or treat_empty_as_null):
                x = _string_preserve_sql(x, preserve_null_tokens,
                                         treat_empty_as_null)
            out.append((f.name, x))
            continue
        out.append((f.name, _cast_sql(
            x, spec.type, preserve_null_tokens=preserve_null_tokens,
            treat_empty_as_null=treat_empty_as_null)))
    return project(df, out)


# ---------------------------------------------------------------------------
# schema-drift reconciliation (beyond-reference: the reference moves a
# table once, so drift never bites it; an INCREMENTAL sync meets the same
# table again after the source added/widened/dropped columns)
# ---------------------------------------------------------------------------

# widenings that cannot lose information (order within each chain
# matters). Cross-family moves are NOT free and are handled explicitly
# in _is_lossless_widening: bigint→double loses integers above 2^53,
# int→decimal(p,s) overflows (→NULL, non-ANSI) when p−s has too few
# integer digits — both are narrowing in disguise.
_WIDEN_CHAINS = (
    ["byte", "short", "int", "bigint"],
    ["float", "double"],
    ["date", "timestamp"],
)

# max decimal digits of each integer type (for int→decimal admission)
_INT_DIGITS = {"byte": 3, "short": 5, "int": 10, "bigint": 19}

# integer types double represents exactly (|x| < 2^53); float is exact
# in double by construction
_DOUBLE_EXACT = {"byte", "short", "int", "float"}


def _is_lossless_widening(src: str, tgt: str) -> bool:
    """True iff CAST(src AS tgt) cannot lose information for ANY value."""
    s, t = src.split("(")[0], tgt.split("(")[0]
    if s == t and src == tgt:
        return True
    for chain in _WIDEN_CHAINS:
        if s in chain and t in chain:
            return chain.index(s) <= chain.index(t)
    if t == "double":
        return s in _DOUBLE_EXACT
    if t == "decimal":
        try:
            p2, s2 = (tgt.split("(")[1].rstrip(")").split(",") + ["0"])[:2]
            p2, s2 = int(p2), int(s2)
        except (IndexError, ValueError):
            return False
        if s in _INT_DIGITS:
            # p−s integer digits must hold the whole int range
            return p2 - s2 >= _INT_DIGITS[s]
        if s == "decimal":
            # wider precision AND no scale reduction
            try:
                p1, s1 = (src.split("(")[1].rstrip(")").split(",")
                          + ["0"])[:2]
                p1, s1 = int(p1), int(s1)
            except (IndexError, ValueError):
                return False
            return s2 >= s1 and p2 - s2 >= p1 - s1
    return False


def reconcile_to_schema(df, target_schema,
                        on_narrowing: str = "error"):
    """Project ``df`` onto ``target_schema`` for schema-drift tolerance:

      * columns MISSING from ``df`` appear as typed NULLs (the source
        dropped them, or the destination is ahead);
      * columns whose type sits BELOW the target on a lossless widening
        chain (int→bigint, float→double, date→timestamp, int→double) are
        cast up;
      * EXTRA source columns are dropped (disclosed via the return — the
        destination's schema is the contract);
      * a NARROWING mismatch (bigint source → int target, string →
        anything) is an error by default — silent truncation corrupts;
        ``on_narrowing='try_cast'`` opts into the engine's
        cast-failure→NULL convention instead.

    Column matching is case-insensitive (the engine's mapping convention);
    output order and names follow ``target_schema``. Pure projection —
    no shuffle, no data pass. Returns the reconciled DataFrame.
    """
    if on_narrowing not in ("error", "try_cast"):
        raise ValueError(f"on_narrowing must be 'error' or 'try_cast' "
                         f"(got {on_narrowing!r})")
    by_lower = {c.lower(): c for c in df.columns}
    src_types = {f.name.lower(): f.dataType.simpleString()
                 for f in df.schema.fields}
    out = []
    for fld in target_schema.fields:
        key = fld.name.lower()
        tgt_t = fld.dataType.simpleString()
        if key not in by_lower:
            out.append((fld.name, f"CAST(NULL AS {sql_type(fld.dataType)})"))
            continue
        x = ident(by_lower[key])
        src_t = src_types[key]
        if src_t == tgt_t:
            out.append((fld.name, x))
            continue
        if _is_lossless_widening(src_t, tgt_t):
            out.append((fld.name, f"CAST({x} AS {sql_type(fld.dataType)})"))
            continue
        if on_narrowing == "error":
            raise ValueError(
                f"narrowing/incompatible drift on {fld.name!r}: source "
                f"{src_t} -> target {tgt_t}; pass on_narrowing='try_cast' "
                "to accept cast-failure->NULL semantics")
        out.append((fld.name, f"TRY_CAST({x} AS {sql_type(fld.dataType)})"))
    return project(df, out)
