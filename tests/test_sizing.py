"""Byte estimation (functions/sizing.py) and the sized writer."""

import glob

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.sizing import (
    _row_bytes_sql,
    count_and_row_bytes,
)
from data_warehouse_migrate_spark.sources.sinks import write_sized


def test_row_bytes_sql_fixed_only(spark):
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    fixed, var = _row_bytes_sql(df.schema)
    assert var is None
    assert fixed == 8.0 + 8.0 + 8.0  # overhead + two longs


def test_count_and_row_bytes_measures_strings(spark):
    df = spark.range(100).select(
        F.col("id"), F.lpad(F.lit("x"), 100, "x").alias("s"))
    n, w = count_and_row_bytes(df)
    assert n == 100
    assert 100 < w < 200  # 100 string bytes + overheads


def test_write_sized_splits_to_target(spark, tmp_path):
    df = spark.range(10_000).select(
        F.col("id"), F.lpad(F.lit("x"), 100, "x").alias("s"))
    out = str(tmp_path / "sized")
    # ratio 1.0 removes the compression assumption: ~10k × ~140 B ≈ 1.4 MB
    # at 200 KB/file → expect several files, exactly as returned
    n_files = write_sized(df, out, target_file_bytes=200_000,
                          compression_ratio=1.0)
    parts = glob.glob(f"{out}/part-*")
    assert n_files > 1
    assert len(parts) == n_files
    assert spark.read.parquet(out).count() == 10_000


def test_write_sized_compacts_to_one(spark, tmp_path):
    # 32 input partitions of trivial data would naively write 32 files
    df = spark.range(0, 1000, 1, 32)
    out = str(tmp_path / "one")
    n_files = write_sized(df, out)  # default 128 MB target
    assert n_files == 1
    assert len(glob.glob(f"{out}/part-*")) == 1


def test_write_sized_validates(spark, tmp_path):
    df = spark.range(1)
    with pytest.raises(ValueError):
        write_sized(df, str(tmp_path / "x"), target_file_bytes=0)
    with pytest.raises(ValueError):
        write_sized(df, str(tmp_path / "x"), compression_ratio=0.0)
