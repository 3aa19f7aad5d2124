"""Sinks: mode-aware writers (S9-S14).

Mode semantics (reference ``migrator.py:23-27,181-275``):
  * ``append``    — plain append
  * ``overwrite`` — truncate-then-append for JDBC targets that support it
                    (reference MySQL TRUNCATE, ``mysql_writer.py:63-67``),
                    drop-and-recreate otherwise (reference BigQuery path).

Spark's ``SaveMode`` covers both; for JDBC we surface the reference's
truncate distinction via ``option('truncate','true')`` so the destination
table's DDL (and grants) survive an overwrite.
"""

from __future__ import annotations

import enum
import logging

from pyspark.sql import DataFrame

from data_warehouse_migrate_spark.exceptions import ConfigurationError

logger = logging.getLogger(__name__)


class MigrationMode(str, enum.Enum):
    APPEND = "append"
    OVERWRITE = "overwrite"

    @classmethod
    def parse(cls, s: str) -> "MigrationMode":
        try:
            return cls(s.lower())
        except ValueError:
            raise ConfigurationError(
                f"unknown mode {s!r}; expected one of {[m.value for m in cls]}") from None


def write_table(df: DataFrame, path_or_table: str,
                fmt: str = "parquet",
                mode: str | MigrationMode = MigrationMode.APPEND,
                jdbc_options: dict[str, str] | None = None,
                create_table_column_types: str | None = None,
                partition_by: list[str] | None = None,
                **options) -> None:
    """Unified writer (S9/S10/S13/S14).

    ``create_table_column_types`` carries per-column DDL type overrides into
    JDBC table creation (C6, reference ``schema_mapper.py:122-128``).
    ``partition_by`` enables hive-style layout on file sinks — the scale
    path for downstream partition pruning.
    """
    mode = MigrationMode.parse(mode) if isinstance(mode, str) else mode
    if fmt == "jdbc":
        writer = df.write.format("jdbc").mode(mode.value)
        for k, v in (jdbc_options or {}).items():
            writer = writer.option(k, v)
        writer = writer.option("dbtable", path_or_table)
        if mode is MigrationMode.OVERWRITE:
            # truncate keeps DDL — the reference's MySQL overwrite semantics
            writer = writer.option("truncate", "true")
        if create_table_column_types:
            writer = writer.option("createTableColumnTypes", create_table_column_types)
        writer.save()
        return
    if fmt == "table":
        df.write.mode(mode.value).saveAsTable(path_or_table)
        return
    writer = df.write.mode(mode.value).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        options.setdefault("header", "true")
    writer.options(**options).save(path_or_table)


def write_sized(df: DataFrame, path: str,
                fmt: str = "parquet",
                mode: str | MigrationMode = MigrationMode.OVERWRITE,
                target_file_bytes: int = 128 * 1024 * 1024,
                compression_ratio: float = 0.35,
                partition_by: list[str] | None = None,
                figures: tuple[int, float] | None = None,
                **options) -> int:
    """Write with a TARGET OUTPUT FILE SIZE — the anti-small-files
    operator. A 100 TB pipeline that writes one file per task from a
    4,000-partition shuffle produces 4,000 tiny files per run; readers
    then pay per-file open/footer costs and the namenode holds millions
    of entries. This writer measures the data (row count and average
    in-memory bytes per row), converts the in-memory estimate
    to on-disk bytes with ``compression_ratio`` (parquet+snappy on mixed
    columns lands around 0.2-0.5; the assumption is a visible knob, not
    a hidden constant), and repartitions to
    ceil(total_disk_bytes / target_file_bytes) before writing.

    ``figures`` is that (row count, bytes/row) pair when the caller has
    already measured it: ``MigrationJob``'s pre-write gate computes it in
    the same aggregate as its 'fail' null check
    (``functions.sizing.count_bytes_and_nulls``), so a sized migration
    reads its plan once before the write, not twice. Without ``figures``
    the writer runs that aggregate itself
    (``functions.sizing.count_and_row_bytes``).

    Returns the partition (≈ file) count it chose. ``maxRecordsPerFile``
    is set as a belt-and-braces cap so a skewed partition still splits.
    With ``partition_by``, sizing applies per write overall — hive
    partition fan-out multiplies file counts and the caller should size
    against the largest partition instead.

    The repartition is one round-robin shuffle of the output data — the
    price of sized files. Callers that just finished a shuffle on some
    key can instead pass that layout straight through ``write_table``;
    this helper is for compaction and for narrow pipelines whose input
    split count (not data volume) would otherwise dictate file count.
    """
    import math

    from data_warehouse_migrate_spark.functions.sizing import (
        count_and_row_bytes,
    )

    if target_file_bytes <= 0 or not 0.0 < compression_ratio <= 1.0:
        raise ValueError("target_file_bytes must be > 0 and "
                         "compression_ratio in (0, 1]")
    n_rows, row_bytes = figures or count_and_row_bytes(df)
    disk_bytes = n_rows * row_bytes * compression_ratio
    n_files = max(1, math.ceil(disk_bytes / target_file_bytes))
    rows_per_file = max(1, math.ceil(n_rows / n_files)) if n_rows else 1
    options.setdefault("maxRecordsPerFile", str(rows_per_file))
    write_table(df.repartition(n_files), path, fmt=fmt, mode=mode,
                partition_by=partition_by, **options)
    logger.info("write_sized: %d rows ≈ %.1f MB on disk → %d file(s)",
                n_rows, disk_bytes / 1e6, n_files)
    return n_files


def write_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                    n_files: int | None = None,
                    fmt: str = "parquet",
                    mode: str | MigrationMode = MigrationMode.OVERWRITE,
                    **options) -> int:
    """Range-partition + sort-within-partitions on ``cluster_cols`` before
    writing — the zone-map layout. Parquet/ORC footers carry per-row-group
    min/max statistics; when the data is range-clustered those ranges are
    DISJOINT across files, so a predicate on the cluster column skips
    whole files/row-groups at scan time instead of reading and filtering.
    For a 100 TB event table queried by time range, this is the difference
    between scanning one day and scanning the year.

    ``n_files`` defaults to the current partition count. Returns the file
    count written. Range partitioning samples the column to build balanced
    bounds (one extra pass over a sample — the write-time cost of read-time
    skipping); ties/skew fall back to Spark's range exchange semantics.
    """
    n = n_files or df.rdd.getNumPartitions()
    cols = [df[c] for c in cluster_cols]
    clustered = (df.repartitionByRange(n, *cols)
                 .sortWithinPartitions(*cols))
    write_table(clustered, path, fmt=fmt, mode=mode, **options)
    return n


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 32,
                   sort_cols: list[str] | None = None,
                   fmt: str = "parquet",
                   mode: str | MigrationMode = MigrationMode.OVERWRITE) -> None:
    """Write a bucketed (and optionally sorted) managed table — the
    co-located-join scale path: two tables bucketed by the same key with
    the same bucket count join WITHOUT a shuffle (and without the sort,
    when sorted within buckets). For a 100 TB fact table joined repeatedly
    on the same key, bucketing pays the shuffle cost once at write time.

    Requires ``saveAsTable`` (bucketing metadata lives in the catalog).
    """
    mode = MigrationMode.parse(mode) if isinstance(mode, str) else mode
    writer = (df.write.mode(mode.value).format(fmt)
              .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_zordered(df: DataFrame, path: str, zorder_cols: list[str],
                   n_files: int | None = None,
                   bits_per_col: int = 8,
                   fmt: str = "parquet",
                   mode: str | MigrationMode = MigrationMode.OVERWRITE,
                   **options) -> int:
    """Multi-dimensional clustering via Morton (Z-order) interleaving —
    the two-predicate counterpart of :func:`write_clustered`. Range
    clustering on column A gives perfect file-skipping on A and NONE on
    B; interleaving the bit patterns of both columns' quantile bins
    gives every file a bounded range in EVERY z-ordered column, so
    scans filtered on A, on B, or on both skip most files (the
    Delta/Iceberg OPTIMIZE ZORDER layout, re-expressed on vanilla
    parquet footers).

    Mechanics: each column is bucketed into ``2^bits_per_col`` ranks by
    sampled quantiles (``approxQuantile`` — skew-robust where raw
    min/max normalization collapses under outliers; driver holds
    2^bits floats per column), ranks are computed per row with a JVM
    binary-search-free bounded ``filter`` over the bound array, the
    Morton code interleaves their bits, and the frame is
    range-partitioned + sorted on that code before writing. One sample
    pass (a single multi-column ``approxQuantile``) + one range
    exchange — same write-time cost class as single-column clustering.
    ``bits_per_col × len(zorder_cols)`` must stay ≤ 63: the Morton code
    lives in a signed long, and a bit at position 63 flips the sign and
    inverts the range order. Numeric/timestamp columns only (quantiles
    need an order); NULLs rank 0, documented. Returns the file target
    count (range partitions).
    """
    from pyspark.sql import functions as F

    if not 1 <= bits_per_col <= 16:
        raise ValueError(f"bits_per_col must be in [1, 16] "
                         f"(got {bits_per_col})")
    if not zorder_cols or len(zorder_cols) > 4:
        raise ValueError("zorder_cols must name 1-4 columns")
    if bits_per_col * len(zorder_cols) > 63:
        # bit 63 of a signed long is the sign: a Morton code reaching it
        # sorts the HIGHEST codes first under repartitionByRange, silently
        # destroying clustering quality at exactly the max configuration
        raise ValueError(
            f"bits_per_col * len(zorder_cols) must be <= 63 to keep the "
            f"Morton code out of the long's sign bit "
            f"(got {bits_per_col} * {len(zorder_cols)} = "
            f"{bits_per_col * len(zorder_cols)}); lower bits_per_col")
    n_bins = 1 << bits_per_col
    n = n_files or df.rdd.getNumPartitions()

    # quantile bounds per column (sampled; 2^bits floats each on the
    # driver — KBs). Timestamps quantile through their epoch seconds.
    # ONE multi-column approxQuantile call = one scan for all columns
    # (the per-column loop paid a full pass each).
    work = df
    probe_cols = {}
    for c in zorder_cols:
        dt = dict(df.dtypes)[c]
        probe_cols[c] = f"__z_{c}"
        expr = F.col(c).cast("double") if dt not in ("timestamp", "date") \
            else F.unix_timestamp(F.col(c)).cast("double")
        work = work.withColumn(probe_cols[c], expr)
    qs = [i / n_bins for i in range(1, n_bins)]
    all_bounds = work.approxQuantile(
        [probe_cols[c] for c in zorder_cols], qs, 0.001)
    bounds = dict(zip(zorder_cols, all_bounds))

    # per-row rank: how many bounds lie at or below the value (bounded
    # JVM filter over the literal bound array — no UDF, no join)
    def rank_col(c: str) -> F.Column:
        arr = F.array(*[F.lit(float(b)) for b in bounds[c]])
        v = F.col(probe_cols[c])
        return F.when(v.isNull(), F.lit(0)).otherwise(
            F.size(F.filter(arr, lambda b: b <= v)))

    # Morton interleave: bit i of column j lands at position
    # i * n_cols + j — identical locality math for 2-4 dimensions
    ncols = len(zorder_cols)
    zkey = F.lit(0).cast("long")
    for j, c in enumerate(zorder_cols):
        r = rank_col(c).cast("long")
        for i in range(bits_per_col):
            zkey = zkey.bitwiseOR(
                F.shiftleft(F.shiftright(r, i).bitwiseAND(F.lit(1)),
                            i * ncols + j))
    clustered = (work.withColumn("__zkey", zkey)
                 .repartitionByRange(n, F.col("__zkey"))
                 .sortWithinPartitions("__zkey")
                 .drop("__zkey", *probe_cols.values()))
    write_table(clustered, path, fmt=fmt, mode=mode, **options)
    return n
