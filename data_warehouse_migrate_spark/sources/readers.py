"""Readers: parquet/csv/json/orc/jdbc + partition pruning + access probes.

The reference's scan is a remote ``SELECT * FROM t [WHERE pt=...] [LIMIT n]``
executed by MaxCompute (reference ``maxcompute_client.py:105-217``); here the
scan is a Spark datasource read and the same pruning semantics are expressed
as DataFrame filters, which Catalyst pushes into the scan (PushedFilters /
partition pruning — free at any scale, verified in tests via the query plan).

Scale notes:
  * latest-partition discovery on a hive-partitioned file source reads the
    candidate values off the file index's listing and confirms the newest
    with one LIMIT-1 probe (one task on one partition). Every other source
    pays an ``agg(max)``: two Spark jobs (AQE) that read every file.
  * the reference's sequential batch loop (S3) does not exist: Spark's
    split planning (``maxPartitionBytes``) parallelizes the scan.
"""

from __future__ import annotations

import datetime as _dt
import logging
import re
from decimal import Decimal
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

_FORMAT_READERS = ("parquet", "csv", "json", "orc", "text")

# the reference auto-adds LIMIT 100000 when no prunable partition exists
# (maxcompute_client.py:192-195,207-210)
FULL_SCAN_GUARD_LIMIT = 100_000


def read_table(spark: SparkSession, path_or_table: str,
               fmt: str = "parquet",
               jdbc_options: dict[str, str] | None = None,
               schema=None, **options) -> DataFrame:
    """Unified reader (S1). ``fmt`` ∈ parquet/csv/json/orc/text/jdbc/
    table. ``text`` reads raw corpora — one row per LINE by default, or
    one row per FILE with ``wholetext=True`` (the document-ingestion
    shape; Spark's text source parallelizes line mode by split and
    wholetext by file). See ``read_text_corpus`` for the id-stamped
    convenience wrapper."""
    if fmt == "table":
        return spark.table(path_or_table)
    if fmt == "jdbc":
        reader = spark.read.format("jdbc")
        for k, v in (jdbc_options or {}).items():
            reader = reader.option(k, v)
        return reader.option("dbtable", path_or_table).load()
    if fmt not in _FORMAT_READERS:
        raise ValueError(f"unsupported format {fmt!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path_or_table)


def nanos_to_timestamp(col) -> "F.Column":
    """Convert int64 epoch-nanos (from TIMESTAMP(NANOS) parquet read under
    ``spark.sql.legacy.parquet.nanosAsLong``) to a timestamp (µs truncation,
    same as DuckDB/Arrow µs-precision reads of the file).

    NB: integer division must stay exact — epoch nanos (~1.7e18) exceed
    double's 2^53 integer range, so ``floor(col/1000)`` is off by 1µs on a
    fair fraction of rows. Decimal division keeps it exact.
    """
    return F.timestamp_micros(
        F.floor(col.cast("decimal(38,0)") / F.lit(1000)).cast("long"))


def normalize_nano_timestamps(df: DataFrame, columns: list[str]) -> DataFrame:
    """Apply nanos_to_timestamp to any of ``columns`` that read as bigint."""
    dtypes = dict(df.dtypes)
    for c in columns:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, nanos_to_timestamp(F.col(c)))
    return df


# Spark's name for the directory of a NULL partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_PATH_ESCAPE = re.compile(r"%([0-9A-Fa-f]{2})")
# partition types whose directory names parse exactly into the Python value
# a collected row holds; other types (timestamp, double ...) take the
# aggregate
_PATH_VALUE_PARSERS = (
    ((T.StringType,), str),
    ((T.ByteType, T.ShortType, T.IntegerType, T.LongType), int),
    ((T.DecimalType,), Decimal),
    ((T.DateType,), _dt.date.fromisoformat),
)


def _unescape(path_name: str) -> str:
    """Spark's ``unescapePathName``: decode each ``%XX``."""
    return _PATH_ESCAPE.sub(lambda m: chr(int(m.group(1), 16)), path_name)


def _directory_partition_types(df: DataFrame,
                               cols: list[str]) -> dict[str, T.DataType] | None:
    """{requested column: Spark type} when ``df`` is a bare file-source
    read and every column in ``cols`` is one of its ``name=value``
    directory partition columns; None otherwise."""
    plan = df._jdf.queryExecution().analyzed()
    if (plan.getClass().getSimpleName() != "LogicalRelation"
            or plan.relation().getClass().getSimpleName()
            != "HadoopFsRelation"):
        return None
    partition_names = {n.lower()
                       for n in plan.relation().partitionSchema().fieldNames()}
    types = {f.name.lower(): f.dataType for f in df.schema.fields}
    if not all(c.lower() in partition_names for c in cols):
        return None
    return {c: types[c.lower()] for c in cols}


def _listed_partition_values(df: DataFrame, col: str,
                             dtype: T.DataType) -> set | None:
    """The non-NULL values of directory partition ``col`` over the files
    the index listed, typed as Spark typed the column (so ``hour=10``
    sorts after ``hour=9``); None when some value does not parse."""
    parse = next((p for types, p in _PATH_VALUE_PARSERS
                  if isinstance(dtype, types)), None)
    if parse is None:
        return None
    values = set()
    for uri in df.inputFiles():
        # the URI escapes what Spark already escaped in the directory
        # name: undo the URI layer here, Spark's own %XX layer below
        dirs = unquote(urlparse(uri).path).split("/")[:-1]
        raw = next((value for name, eq, value
                    in (seg.partition("=") for seg in reversed(dirs))
                    if eq and _unescape(name).lower() == col.lower()), None)
        if raw is None:
            return None
        if raw == _NULL_PARTITION:
            continue
        try:
            values.add(parse(_unescape(raw)))
        except (ValueError, ArithmeticError):  # decimal.InvalidOperation
            return None
    return values


def latest_partition_values(df: DataFrame, partition_cols: list[str]) -> dict[str, object]:
    """A1/A2: latest value per partition column — the reference's MAX over
    the rows, taken for each column on its own (reference
    ``maxcompute_client.py:241-252,279-297``). Returns {} when the table
    is empty or all partition values are NULL (A3 existence probe folded
    in).

    When ``df`` is a bare read of a hive-partitioned file source and every
    column is a directory partition column, the candidates come from the
    file index's listing (no job); the newest is confirmed by a LIMIT-1
    probe, stepping down past partitions whose files hold no rows.
    Otherwise — in-memory frames, JDBC and catalog tables, data columns —
    one ``agg(max)`` over the rows."""
    if not partition_cols:
        return {}
    types = _directory_partition_types(df, partition_cols)
    listed = types and {c: _listed_partition_values(df, c, t)
                        for c, t in types.items()}
    if not listed or any(v is None for v in listed.values()):
        row = df.agg(*[F.max(F.col(c)).alias(c)
                       for c in partition_cols]).first()
        if row is None:
            return {}
        return {c: row[c] for c in partition_cols if row[c] is not None}
    vals = {}
    for c, candidates in listed.items():
        for v in sorted(candidates, reverse=True):
            if not df.filter(F.col(c) == F.lit(v)).isEmpty():
                vals[c] = v
                break
    return vals


def latest_partition_filter(df: DataFrame, partition_cols: list[str],
                            guard_limit: int | None = FULL_SCAN_GUARD_LIMIT) -> DataFrame:
    """S2/P6: prune to the latest partition; when nothing is prunable, apply
    the full-scan LIMIT guard (reference ``maxcompute_client.py:165-217``).

    The returned plan carries plain equality filters — Catalyst turns them
    into real partition pruning on partitioned layouts.
    """
    vals = latest_partition_values(df, partition_cols)
    if not vals:
        logger.warning("no prunable partition values; applying LIMIT %s guard", guard_limit)
        return df.limit(guard_limit) if guard_limit else df
    out = df
    for c, v in vals.items():
        out = out.filter(F.col(c) == F.lit(v))
    # REFERENCE QUIRK preserved (maxcompute_client.py:279-297): with
    # multiple partition columns each MAX is taken INDEPENDENTLY, so the
    # combination (max(dt), max(hour)) may name a partition that does not
    # exist — e.g. (dt=01-02, hour=03) and (dt=01-01, hour=23) prune to
    # dt=01-02 AND hour=23 → empty. The reference migrates 0 rows
    # silently there; we keep the semantics (it is the oracle-checked
    # contract) but SAY so — one limit-1 probe, metadata-cheap.
    if len(vals) > 1 and out.isEmpty():
        logger.warning(
            "independent per-column latest-partition values %s name a "
            "combination with no rows (reference semantics); result is "
            "empty — pass a single partition column or filter manually "
            "for lexicographic latest", vals)
    return out


def open_file_stream(spark: SparkSession, source_path: str,
                     fmt: str = "parquet", **options) -> DataFrame:
    """Open a file-format path (file OR directory) as a streaming
    DataFrame with the batch-inferred schema (file streams require an
    explicit one; the batch read also validates the source up front).
    ``options`` go to the stream reader (e.g. ``maxFilesPerTrigger``);
    CSV defaults to a header row, as in :func:`read_table`. File stream
    sources require a directory, so a single file streams via its parent
    plus a ``pathGlobFilter`` on the glob-escaped file name; a
    ``scheme://`` path is taken as a directory. A relative local path
    resolves against this process's working directory — the one the
    file-or-directory check sees — not the JVM's launch directory. The
    shared logic behind every ``run_*_stream`` runner."""
    import os as _os

    if not urlparse(source_path).scheme:
        source_path = _os.path.abspath(source_path)
    schema = read_table(spark, source_path, fmt=fmt).schema
    if fmt == "csv":
        options.setdefault("header", "true")
    reader = spark.readStream.format(fmt).schema(schema).options(**options)
    if _os.path.isdir(source_path) or "://" in source_path:
        return reader.load(source_path)
    base, fname = _os.path.split(source_path.rstrip("/"))
    for ch in "\\*?[]{}":
        fname = fname.replace(ch, "\\" + ch)
    return reader.option("pathGlobFilter", fname).load(base)


def validate_table_access(df: DataFrame) -> bool:
    """S7: LIMIT-1 readability probe (reference
    ``maxcompute_client.py:303-332``)."""
    try:
        df.limit(1).collect()
        return True
    except Exception as e:  # probe, never raises
        logger.warning("table access probe failed: %s", e)
        return False


def introspect_jdbc_schema(spark: SparkSession, jdbc_options: dict[str, str],
                           table: str, database: str | None = None) -> list[dict]:
    """S6: destination schema from information_schema.COLUMNS incl.
    nullability + defaults, ordered by ORDINAL_POSITION (reference
    ``mysql_writer.py:69-96``). Returns
    ``[{'name','type','is_nullable','default'}]``.
    """
    # names are interpolated into the pushed-down query — double any
    # single quotes (ANSI escaping) so a name with an apostrophe (or a
    # config-sourced injection attempt) cannot break out of the literal
    def _q(s: str) -> str:
        return s.replace("'", "''")

    where = f"TABLE_NAME = '{_q(table)}'"
    if database:
        where += f" AND TABLE_SCHEMA = '{_q(database)}'"
    q = ("(SELECT COLUMN_NAME, COLUMN_TYPE, IS_NULLABLE, COLUMN_DEFAULT, ORDINAL_POSITION "
         f"FROM information_schema.COLUMNS WHERE {where}) AS cols")
    reader = spark.read.format("jdbc")
    for k, v in jdbc_options.items():
        reader = reader.option(k, v)
    rows = reader.option("dbtable", q).load().orderBy("ORDINAL_POSITION").collect()
    return [{"name": r["COLUMN_NAME"], "type": r["COLUMN_TYPE"],
             "is_nullable": str(r["IS_NULLABLE"]).upper() == "YES",
             "default": r["COLUMN_DEFAULT"]} for r in rows]


def introspect_jdbc_schema_generic(spark: SparkSession,
                                   jdbc_options: dict[str, str],
                                   table: str) -> list[dict]:
    """S6, dialect-neutral: destination schema via a ZERO-ROW pushdown
    query (``SELECT * FROM t WHERE 1=0``) — the JDBC driver returns
    ResultSet metadata and Spark maps it through its dialect, so names,
    engine-mapped Spark types, and nullability come back for ANY database
    without an information_schema (Derby, Oracle, ...). Complements the
    MySQL-shaped :func:`introspect_jdbc_schema` (which additionally
    surfaces column DEFAULTs — not part of ResultSet metadata). No data
    moves. Returns ``[{'name','type','is_nullable'}]`` in table order.
    """
    # the table name passes through UNQUOTED, the same convention as every
    # other dbtable option in this module: quoting here would force
    # exact-case lookup while the engine's own writer creates tables
    # unquoted (case-folded per dialect — Derby uppercases, MySQL keeps).
    # Bare correlation name, no AS: Oracle rejects AS on a table alias,
    # while Derby, MySQL, and Postgres all accept the bare form.
    probe = f"(SELECT * FROM {table} WHERE 1=0) probe"
    reader = spark.read.format("jdbc")
    for k, v in jdbc_options.items():
        reader = reader.option(k, v)
    schema = reader.option("dbtable", probe).load().schema
    return [{"name": f.name, "type": f.dataType.simpleString(),
             "is_nullable": bool(f.nullable)} for f in schema.fields]


def parquet_footer_stats(path: str,
                         columns: list[str] | None = None) -> dict:
    """Table statistics from parquet FOOTERS ONLY — zero data scanned:

      {'n_files', 'n_rows', 'total_bytes',
       'columns': {name: {'min', 'max', 'null_count'}}}

    The free complement of ``operators.validate.column_profile`` (which
    is exact but scans): row counts, byte sizes, and per-column min/max
    ranges come from the row-group statistics every parquet writer
    embeds — the same zone maps ``sinks.write_clustered`` lays out for
    file skipping, so this probe also SHOWS a table's clustering quality
    (disjoint per-file ranges → range scans skip files).

    Driver-side file iteration: cost is #files × footer parse, no row
    data moves. Bounded and appropriate for per-table ops checks; for a
    catalog-wide sweep over millions of files, parallelize the listing
    and run this per-directory.  min/max (and null_count) are None for
    columns whose writer emitted no statistics — None means "no
    information", never "zero".
    """
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    files = ([path] if _os.path.isfile(path)
             else sorted(_glob.glob(_os.path.join(path, "*.parquet"))
                         or _glob.glob(_os.path.join(path, "part-*"))))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    n_rows = 0
    total_bytes = 0
    n_row_groups = 0
    col_stats: dict[str, dict] = {}
    covered: dict[str, int] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        total_bytes += _os.path.getsize(f)
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for g in range(md.num_row_groups):
            n_row_groups += 1
            rg = md.row_group(g)
            for i, name in enumerate(names):
                if columns is not None and name not in columns:
                    continue
                st = rg.column(i).statistics
                # null_count starts None (no information), NOT 0 — a
                # writer that omits stats must be distinguishable from a
                # true zero-null column
                acc = col_stats.setdefault(
                    name, {"min": None, "max": None, "null_count": None,
                           "partial": False})
                if st is None:
                    continue
                covered[name] = covered.get(name, 0) + 1
                if st.null_count is not None:
                    acc["null_count"] = ((acc["null_count"] or 0)
                                         + st.null_count)
                if st.has_min_max:
                    if acc["min"] is None or st.min < acc["min"]:
                        acc["min"] = st.min
                    if acc["max"] is None or st.max > acc["max"]:
                        acc["max"] = st.max
    # a column with stats in only SOME row groups would report a
    # definite-looking total that silently omits the stats-less groups —
    # mark it partial and withdraw the null_count (min/max stay as
    # best-effort bounds of the covered part, flagged)
    for name, acc in col_stats.items():
        if covered.get(name, 0) < n_row_groups:
            acc["partial"] = True
            acc["null_count"] = None
    return {"n_files": len(files), "n_rows": n_rows,
            "total_bytes": total_bytes, "columns": col_stats}


def read_text_corpus(spark: SparkSession, path: str,
                     wholetext: bool = False,
                     id_from: str = "hash") -> DataFrame:
    """Raw-text corpus ingestion: (doc_id, text[, source_file]) from a
    directory/glob of plain-text files — the front door for corpora
    that arrive as flat files rather than parquet.

    ``wholetext=False`` (default) yields one document per LINE (the
    jsonl-adjacent shape; splittable, parallel at any file size);
    ``wholetext=True`` yields one document per FILE (parallel per file
    — a single 100 GB text file would be one task, so shard first).

    ``id_from``: 'hash' stamps ``doc_id`` as the 64-bit xxhash of
    (source file, text, occurrence ordinal) — deterministic across runs
    and partitionings AND unique per physical line: identical repeated
    lines within one file (blank lines, boilerplate — common in
    line-mode corpora) are ranked 1..k within their (file, text) group,
    so each copy gets a distinct id instead of k certain collisions
    (which would break dedup tie-breaks, sampling draws, and id-keyed
    joins downstream). The rank assignment among byte-identical rows is
    arbitrary but the resulting id MULTISET is deterministic — any
    assignment yields the same ids. Residual collision odds are the
    hash's ~n²/2⁶⁵. Cost: line mode pays one exchange keyed
    (source_file, text) for the occurrence window — the same key an
    exact line-dedup shuffles on; wholetext mode skips it (file paths
    are unique, ordinal is literally 1). 'file' keeps only the
    source-file column and no id (caller assigns). A
    monotonically-increasing id is deliberately NOT offered: it is
    partitioning-dependent, which would break the engine's
    deterministic-id conventions (sampling draws, dedup tie-breaks).

    ID-COMPATIBILITY BREAK (r8): adding the occurrence ordinal to the
    hash input changed EVERY doc_id relative to corpora materialized by
    pre-r8 builds — including corpora with no duplicate lines at all
    (their ordinal is 1, but it is now part of the hashed bytes).
    Re-derive id-keyed artifacts (dedup decisions, sample draws,
    similarity indexes) from re-ingested corpora; never join new ids
    against a pre-r8 materialization.
    """
    from pyspark.sql import Window as W

    reader = spark.read
    if wholetext:
        reader = reader.option("wholetext", "true")
    df = (reader.format("text").load(path)
          .select(F.input_file_name().alias("source_file"),
                  F.col("value").alias("text")))
    if id_from == "hash":
        occ = (F.lit(1) if wholetext
               else F.row_number().over(
                   W.partitionBy("source_file", "text").orderBy(F.lit(1))))
        return df.select(
            F.xxhash64(F.col("source_file"), F.col("text"),
                       occ.cast("long")).alias("doc_id"),
            "text", "source_file")
    if id_from == "file":
        return df
    raise ValueError(f"id_from must be 'hash' or 'file' (got {id_from!r})")
