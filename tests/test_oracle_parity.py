"""Driver-shaped correctness gate, run locally: every queries() entry vs its
DuckDB oracle at sf0.001 — row count, column names, and exact values after
order-insensitive sort (the driver hashes; we compare cell-exact, which is
stricter).

Runtime note: ~4 min for the full 125-pair replay. Marked ``seal``
(r13 verdict item 6): deselect with ``-m "not seal"`` for the
development fast lane; the full suite remains the commit gate."""

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.seal

from data_warehouse_migrate_spark.queries import ORACLES, QUERIES

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if s.dtype == object and s.map(
                lambda v: isinstance(v, (list, np.ndarray)), na_action="ignore").any():
            df[c] = s.map(lambda v: tuple(v) if v is not None else None)
            continue
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif s.dtype == object and s.map(lambda v: hasattr(v, "as_tuple"),
                                         na_action="ignore").any():
            # Decimal → normalized string
            df[c] = s.map(lambda v: None if v is None else format(v, "f"))
        elif s.dtype == object and s.dropna().map(lambda v: isinstance(v, (bool,))).all() \
                and len(s.dropna()):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    df = df.sort_values(by=list(df.columns), na_position="last",
                        key=lambda col: col.map(str) if col.dtype == object else col)
    return df.reset_index(drop=True)


def _kind(s: pd.Series) -> str:
    """Coarse dtype kind, PRE-canon — the axis the driver's type-sensitive
    value hash is sensitive to (int vs float vs Decimal/object)."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    sample = s.dropna()
    if len(sample) and hasattr(sample.iloc[0], "as_tuple"):
        return "decimal"
    if len(sample) and isinstance(sample.iloc[0], (list, np.ndarray)):
        return "array"
    return "object"


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), \
        f"{name}: row count {len(spark_pdf)} vs oracle {len(duck_pdf)}"
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), \
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    # dtype-kind parity BEFORE canon normalizes it away: a kind mismatch
    # (int vs float vs Decimal) breaks the driver's type-sensitive value
    # hash even when the values compare equal. Empty/all-null columns
    # are skipped — object-dtype placeholders carry no kind signal.
    for c in spark_pdf.columns:
        if spark_pdf[c].notna().any() and duck_pdf[c].notna().any():
            ka, kb = _kind(spark_pdf[c]), _kind(duck_pdf[c])
            assert ka == kb, \
                f"{name}: column {c!r} dtype kind: spark {ka} vs oracle {kb}"
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            ok = np.array_equal(av, bv.astype(av.dtype), equal_nan=True)
        else:
            ok = a[c].where(a[c].notna(), None).tolist() == \
                 b[c].where(b[c].notna(), None).tolist()
        assert ok, f"{name}: column {c!r} differs\nspark head: {av[:5]}\noracle head: {bv[:5]}"


ORACLE_CHECKED = sorted(set(QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    ddf = duck.execute(ORACLES[name]).fetchdf()
    assert_frames_match(sdf, ddf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
