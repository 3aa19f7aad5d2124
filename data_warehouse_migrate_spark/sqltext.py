"""Spark SQL text for plan building: quoted names, typed literals and one
projection call.

Every node of a ``Column`` tree built with ``pyspark.sql.functions``
(``F.col``, ``.cast``, ``F.when``, ``.alias`` ...) is at least one py4j
round trip to the JVM, so a stage over a 20-column table cost hundreds.
The migration path instead renders each stage as SQL text and hands it
to the JVM in one ``selectExpr`` / ``F.expr`` call, where Spark's parser
builds the same expressions.

Text is only safe when every name and value in it is quoted:

* :func:`ident` backtick-quotes a name and doubles an embedded backtick,
  so ``a.b`` stays one column (not field ``b`` of struct ``a``) and
  ``we`ird`` parses;
* :func:`sql_string` escapes ``\\`` and ``'`` (Spark unescapes both in
  a quoted literal; every other character, newline and NUL included,
  may stand in it as it is);
* :func:`sql_literal` renders a Python value as a typed literal: a float
  as a double (a bare ``0.1`` would parse as a decimal), dates and
  timestamps as ``DATE '…'`` / ``TIMESTAMP '…'``.
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def ident(name: str) -> str:
    """``name`` as one quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as a quoted string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_literal(value: Any) -> str:
    """A typed literal for ``value`` (None, bool, int, float, str, date
    or datetime)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        # an INT literal where it fits, as F.lit does, else BIGINT
        return str(value) if -2**31 <= value < 2**31 else f"{value}L"
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        special = ("NaN" if math.isnan(value)
                   else "Infinity" if value > 0 else "-Infinity")
        return f"CAST('{special}' AS DOUBLE)"
    if isinstance(value, str):
        return sql_string(value)
    if isinstance(value, _dt.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, _dt.date):
        return f"DATE '{value.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def sql_type(dt: T.DataType) -> str:
    """``dt`` as SQL type text, nested field names quoted."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{ident(f.name)}: {sql_type(f.dataType)}"
            for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def project(df: DataFrame, columns: Iterable[tuple[str, str]]) -> DataFrame:
    """``df`` projected onto ``(name, sql)`` output columns in one call."""
    return df.selectExpr(*[sql if sql == ident(name)
                           else f"{sql} AS {ident(name)}"
                           for name, sql in columns])
