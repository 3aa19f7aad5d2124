"""Row/partition byte estimation shared by the broadcast guard
(operators/dedup.py) and the sized writer (sources/sinks.py).

Schema-priced fixed widths plus measured variable-width payloads
(string/binary/array octet+element counts) — one aggregate, no UDFs.
Estimates are in-MEMORY bytes; on-disk parquet is smaller by the
encoding/compression ratio, which callers apply explicitly so the
assumption is visible at the call site.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def row_bytes_expr(schema: T.StructType) -> tuple[float, Column | None]:
    """(fixed bytes/row, Column summing variable-width bytes or None).

    Fixed-width columns are priced from the schema alone; each
    string/binary/array column contributes a measured per-row term.
    """
    fixed = 8.0  # per-row null bitmap / object overhead
    var_exprs: list[Column] = []
    for fld in schema.fields:
        dt = fld.dataType
        if isinstance(dt, (T.StringType, T.BinaryType)):
            var_exprs.append(
                F.coalesce(F.octet_length(F.col(fld.name)).cast("double"),
                           F.lit(0.0)) + F.lit(16.0))
        elif isinstance(dt, T.ArrayType):
            el = dt.elementType
            w = (8.0 if isinstance(el, (T.LongType, T.DoubleType,
                                        T.TimestampType))
                 else 4.0 if isinstance(el, (T.IntegerType, T.FloatType,
                                             T.DateType))
                 else 16.0)  # strings/structs inside arrays: rough
            var_exprs.append(
                F.coalesce(F.size(F.col(fld.name)).cast("double"),
                           F.lit(0.0)) * w + F.lit(16.0))
        elif isinstance(dt, (T.BooleanType, T.ByteType)):
            fixed += 1.0
        elif isinstance(dt, (T.IntegerType, T.FloatType, T.DateType,
                             T.ShortType)):
            fixed += 4.0
        else:  # long/double/timestamp/decimal and anything exotic
            fixed += 8.0
    if not var_exprs:
        return fixed, None
    total = var_exprs[0]
    for e in var_exprs[1:]:
        total = total + e
    return fixed, total


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
    low = {c.lower(): c for c in df.columns}
    cols = [low[c.lower()] for c in null_columns if c.lower() in low]
    fixed, var = row_bytes_expr(df.schema)
    aggs = [F.count("*").alias("n"),
            F.avg(var if var is not None else F.lit(0.0)).alias("w")]
    aggs += [F.sum(F.col(c).isNull().cast("long")).alias(f"null_{i}")
             for i, c in enumerate(cols)]
    row = df.agg(*aggs).first()
    return (int(row["n"]), fixed + float(row["w"] or 0.0),
            {c: int(row[f"null_{i}"] or 0) for i, c in enumerate(cols)})
