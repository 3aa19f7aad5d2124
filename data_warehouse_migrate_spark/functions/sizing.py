"""Row/partition byte estimation shared by the broadcast guard
(operators/dedup.py) and the sized writer (sources/sinks.py).

Schema-priced fixed widths plus measured variable-width payloads
(string/binary/array octet+element counts) — one aggregate, no UDFs.
Estimates are in-MEMORY bytes; on-disk parquet is smaller by the
encoding/compression ratio, which callers apply explicitly so the
assumption is visible at the call site. The per-row term and the
aggregate are built as quoted Spark SQL text and issued in one call
(``data_warehouse_migrate_spark.sqltext``), not as a ``Column`` tree
that costs a py4j round trip per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_warehouse_migrate_spark.sqltext import ident


def _row_bytes_sql(schema: T.StructType) -> tuple[float, str | None]:
    """(fixed bytes/row, SQL text summing variable-width bytes or None).

    Fixed-width columns are priced from the schema alone; each
    string/binary/array column contributes a measured per-row term.
    """
    fixed = 8.0  # per-row null bitmap / object overhead
    var_terms: list[str] = []
    for fld in schema.fields:
        dt, x = fld.dataType, ident(fld.name)
        if isinstance(dt, (T.StringType, T.BinaryType)):
            var_terms.append(
                f"(coalesce(CAST(octet_length({x}) AS DOUBLE), 0.0D) + 16.0D)")
        elif isinstance(dt, T.ArrayType):
            el = dt.elementType
            w = (8.0 if isinstance(el, (T.LongType, T.DoubleType,
                                        T.TimestampType))
                 else 4.0 if isinstance(el, (T.IntegerType, T.FloatType,
                                             T.DateType))
                 else 16.0)  # strings/structs inside arrays: rough
            var_terms.append(
                f"(coalesce(CAST(size({x}) AS DOUBLE), 0.0D) * {w!r}D + 16.0D)")
        elif isinstance(dt, (T.BooleanType, T.ByteType)):
            fixed += 1.0
        elif isinstance(dt, (T.IntegerType, T.FloatType, T.DateType,
                             T.ShortType)):
            fixed += 4.0
        else:  # long/double/timestamp/decimal and anything exotic
            fixed += 8.0
    return fixed, " + ".join(var_terms) or None


def count_and_row_bytes(df: DataFrame) -> tuple[int, float]:
    """(row count, avg in-memory bytes/row) from ONE full aggregate —
    unbiased (no head sample); use where a count job is affordable or
    already being paid."""
    n_rows, row_bytes, _ = count_bytes_and_nulls(df, [])
    return n_rows, row_bytes


def count_bytes_and_nulls(df: DataFrame, null_columns: list[str]
                          ) -> tuple[int, float, dict[str, int]]:
    """:func:`count_and_row_bytes` plus the NULL count of each of
    ``null_columns`` (matched case-insensitively, keyed by ``df``'s
    names), still ONE aggregate: a sized write and a 'fail' null check
    share its pass."""
    from data_warehouse_migrate_spark.operators.constraints import (
        null_count_sql,
    )

    low = {c.lower(): c for c in df.columns}
    cols = [low[c.lower()] for c in null_columns if c.lower() in low]
    fixed, var = _row_bytes_sql(df.schema)
    row = df.selectExpr(
        "count(*) AS n", f"avg({var or '0.0D'}) AS w",
        *[null_count_sql(c, f"null_{i}") for i, c in enumerate(cols)]
    ).first()
    return (int(row["n"]), fixed + float(row["w"] or 0.0),
            {c: int(row[f"null_{i}"] or 0) for i, c in enumerate(cols)})
