"""The computed-column expression language: the reference's whitelist
``{concat, upper, lower, substr, now, format}`` (reference
``migrator.py:783-788``, dispatch ``:854-860``, impl ``:875-977``).

Deliberately NOT an arbitrary-expression surface — the whitelist is the
contract (reference ``README.md:221``). Everything compiles to Spark SQL
text over built-in functions, quoted by ``data_warehouse_migrate_spark
.sqltext``: ``operators.mapping`` folds a mapping's computed columns
into its one projection call, where a ``Column`` tree cost a py4j round
trip per node. ``format`` templates are translated to
``format_string`` printf with the reference's exact null-coercion rules
(``migrator.py:923-936``): numeric ``d``/``f`` specs treat None/NaN/'' as 0,
everything else treats None/NaN as ''.
"""

from __future__ import annotations

import re
import string as _string
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.exceptions import SchemaError
from data_warehouse_migrate_spark.sqltext import ident, project, sql_string

COMPUTED_WHITELIST = frozenset({"concat", "upper", "lower", "substr", "now", "format"})

_CALL_RE = re.compile(r"^\s*([a-zA-Z_][a-zA-Z0-9_]*)\s*\((.*)\)\s*$", re.DOTALL)


class ComputedExpressionError(SchemaError):
    """Invalid computed-column expression — a
    :class:`~data_warehouse_migrate_spark.exceptions.SchemaError`
    (and still a ValueError, as before the typed hierarchy)."""


def _split_args(s: str) -> list[str]:
    """Split a call's argument list on top-level commas (quote-aware)."""
    parts, cur, depth, quote = [], [], 0, None
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _strip_quotes(s: str) -> tuple[str, bool]:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1], True
    return s, False


# the columns a computed expression sees: lower-cased name -> (its SQL
# text, whether it is float-typed)
Visible = dict[str, tuple[str, bool]]


def _visible(columns: Sequence[str],
             dtypes: dict[str, str] | None = None) -> Visible:
    dt_low = {c.lower(): t for c, t in (dtypes or {}).items()}
    return {c.lower(): (ident(c), dt_low.get(c.lower()) in ("float", "double"))
            for c in columns}


def _col_or_lit(arg: str, cols: Visible, pandas_compat: bool) -> str:
    """An argument is a column if its (unquoted) name matches a visible
    column case-insensitively, else a literal (reference
    ``migrator.py:879-893``). Columns are stringified; with
    ``pandas_compat`` NULL stringifies to 'nan' like pandas ``astype(str)``.
    """
    text, quoted = _strip_quotes(arg)
    if quoted or text.lower() not in cols:
        return sql_string(text)
    null = "'nan'" if pandas_compat else "''"
    return f"coalesce(CAST({cols[text.lower()][0]} AS STRING), {null})"


# ---------------------------------------------------------------------------
# format(template, cols...) — Python str.format → printf translation
# ---------------------------------------------------------------------------

_NUMERIC_SPEC = re.compile(r"^(0?\d*)d$")
_FLOAT_SPEC = re.compile(r"^(0?\d*)(?:\.(\d+))?f$")


def translate_format_template(template: str) -> tuple[str, list[tuple[str | None, str]]]:
    """Translate a Python format template into a printf format string plus
    an ordered list of ``(field_name_or_None, kind)`` where kind is
    ``'int' | 'float' | 'str'``. Positional fields get ``field_name=None``
    and consume the call's column arguments in order
    (reference ``README.md:224-263``).

    Raises ComputedExpressionError on specs we cannot translate (the
    supported surface is the reference's documented one: s/d/f with
    optional zero-pad width; there is NO udf fallback — unsupported specs
    fail fast, and validate_mapping runs this translation pre-flight so
    they fail before the pipeline starts).
    """
    fmt_parts: list[str] = []
    fields: list[tuple[str | None, str]] = []
    for literal, field_name, format_spec, conversion in _string.Formatter().parse(template):
        fmt_parts.append(literal.replace("%", "%%"))
        if field_name is None:
            continue
        if conversion:
            raise ComputedExpressionError(f"unsupported conversion !{conversion}")
        spec = format_spec or ""
        name = field_name if field_name != "" else None
        if spec in ("", "s"):
            fmt_parts.append("%s")
            fields.append((name, "str"))
        elif _NUMERIC_SPEC.match(spec):
            width = _NUMERIC_SPEC.match(spec).group(1)
            fmt_parts.append(f"%{width}d" if width else "%d")
            fields.append((name, "int"))
        elif _FLOAT_SPEC.match(spec):
            m = _FLOAT_SPEC.match(spec)
            w = m.group(1) or ""
            p = f".{m.group(2)}" if m.group(2) else ""
            fmt_parts.append(f"%{w}{p}f")
            fields.append((name, "float"))
        else:
            raise ComputedExpressionError(f"unsupported format spec {spec!r}")
    return "".join(fmt_parts), fields


def _format_arg_sql(x: str, kind: str, is_float_col: bool = False) -> str:
    """Per-arg null coercion (reference ``migrator.py:923-936``):
    numeric specs: None/NaN/'' → 0; string specs: None/NaN → ''.

    NaN is NOT NULL, so a bare coalesce leaves it through — the float
    path nanvl's it to 0 and the string path empties it, but only when
    the SOURCE column is float-typed (``is_float_col``): a string column
    whose text happens to be "NaN" must pass through verbatim, exactly
    as the reference's isinstance(val, float) check behaves."""
    d = f"TRY_CAST(CAST({x} AS STRING) AS DOUBLE)"
    if kind == "int":
        return f"coalesce(TRY_CAST({d} AS BIGINT), 0)"
    if kind == "float":
        return f"coalesce(nanvl({d}, 0.0D), 0.0D)"
    s = f"CAST({x} AS STRING)"
    if is_float_col:
        s = f"CASE WHEN isnan({x}) THEN '' ELSE {s} END"
    return f"coalesce({s}, '')"


def _format_sql(template: str, col_args: Sequence[str], cols: Visible) -> str:
    printf_fmt, fields = translate_format_template(template)
    args: list[str] = []
    pos = 0
    for name, kind in fields:
        if name is None:
            if pos >= len(col_args):
                raise ComputedExpressionError(
                    f"format template needs {pos + 1} positional args, got {len(col_args)}")
            ref = col_args[pos]
            pos += 1
        else:
            ref = name
        if ref.lower() not in cols:
            raise ComputedExpressionError(f"format references unknown column {ref!r}")
        x, is_float = cols[ref.lower()]
        args.append(_format_arg_sql(x, kind, is_float_col=is_float))
    return f"format_string({', '.join([sql_string(printf_fmt), *args])})"


def format_expr(template: str, col_args: Sequence[str], columns: Sequence[str],
                dtypes: dict[str, str] | None = None) -> Column:
    """Compile format(template, cols...) into a JVM-side format_string call.
    ``dtypes`` (column → simple type string) enables the reference's
    float-NaN→'' coercion on string specs; without it a float NaN renders
    'NaN' (only distinguishable from the STRING value "NaN" by type)."""
    return F.expr(_format_sql(template, col_args, _visible(columns, dtypes)))


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def _computed_sql(expression: str, cols: Visible,
                  pandas_compat: bool = True) -> str:
    """One computed-column expression string as SQL text over the
    ``cols`` it may reference. Whitelist enforced (reference
    ``migrator.py:783-788``)."""
    m = _CALL_RE.match(expression)
    if not m:
        raise ComputedExpressionError(f"not a function call: {expression!r}")
    func, argstr = m.group(1).lower(), m.group(2)
    if func not in COMPUTED_WHITELIST:
        raise ComputedExpressionError(
            f"function {func!r} not in whitelist {sorted(COMPUTED_WHITELIST)}")
    args = _split_args(argstr)

    if func == "now":
        # one scalar per run, broadcast (reference migrator.py:877-878)
        return "current_timestamp()"
    if func == "concat":
        if not args:
            raise ComputedExpressionError("concat() needs at least one argument")
        return f"concat({', '.join(_col_or_lit(a, cols, pandas_compat) for a in args)})"
    if func in ("upper", "lower"):
        if len(args) != 1:
            raise ComputedExpressionError(f"{func}() takes exactly one column")
        return f"{func}({_col_or_lit(args[0], cols, pandas_compat)})"
    if func == "substr":
        # Python slice semantics s[start:start+length] (reference
        # migrator.py:900-905 uses pandas str.slice), INCLUDING negative
        # indices — the old start+1 shift silently returned the wrong
        # characters for start<0 (substr(col,-1) gave the whole string).
        # Both bounds resolve to clamped 0-based offsets against the
        # string's own length, then one 1-based Spark substring.
        if len(args) not in (2, 3):
            raise ComputedExpressionError("substr(col, start[, length])")
        col = _col_or_lit(args[0], cols, pandas_compat)
        start = int(_strip_quotes(args[1])[0])
        ln = f"length({col})"
        frm = (str(start) if start >= 0
               else f"greatest({ln} + {start}, 0)")
        if len(args) == 3:
            end = start + int(_strip_quotes(args[2])[0])
            to = (f"least({end}, {ln})" if end >= 0
                  else f"greatest({ln} + {end}, 0)")
        else:
            to = ln
        return f"substring({col}, {frm} + 1, greatest({to} - {frm}, 0))"
    if func == "format":
        if not args:
            raise ComputedExpressionError("format(template[, cols...])")
        template, quoted = _strip_quotes(args[0])
        if not quoted:
            raise ComputedExpressionError("format template must be a quoted string")
        col_args = [_strip_quotes(a)[0] for a in args[1:]]
        return _format_sql(template, col_args, cols)
    raise AssertionError("unreachable")


def computed_expr(expression: str, columns: Sequence[str],
                  pandas_compat: bool = True,
                  dtypes: dict[str, str] | None = None) -> Column:
    """Compile one computed-column expression string (e.g.
    ``concat(spu_code, '-', size)`` or ``format("{year}-{week:02d}")``)
    into a Column over ``columns``.
    """
    return F.expr(_computed_sql(expression, _visible(columns, dtypes),
                                pandas_compat))


def put_computed(out: list[list], computed: dict[str, str],
                 pandas_compat: bool = True) -> None:
    """Add ``computed`` columns **in config order** to ``out``, a
    projection of ``[name, sql, simple type]`` items: later expressions
    may reference earlier targets (their text is inlined) and the key
    replaces any existing column in place, case-insensitively, as
    ``withColumn`` does (reference ``README.md:316-317``)."""
    for target, expression in computed.items():
        cols = {n.lower(): (sql if sql == ident(n) else f"({sql})",
                            t in ("float", "double"))
                for n, sql, t in out}
        sql = _computed_sql(expression, cols, pandas_compat)
        typ = "timestamp" if sql == "current_timestamp()" else "string"
        hits = [c for c in out if c[0].lower() == target.lower()]
        for c in hits:
            c[:] = [target, sql, typ]
        if not hits:
            out.append([target, sql, typ])


def with_computed_columns(df: DataFrame, computed: dict[str, str],
                          pandas_compat: bool = True) -> DataFrame:
    """Apply computed columns **in config order** in one projection;
    later expressions may reference earlier targets; the key overwrites
    any existing column (reference ``README.md:316-317``)."""
    out = [[n, ident(n), t] for n, t in df.dtypes]
    put_computed(out, computed, pandas_compat)
    return project(df, [(n, sql) for n, sql, _ in out])
