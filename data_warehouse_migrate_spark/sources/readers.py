"""Readers: parquet/csv/json/orc/jdbc + partition pruning + access probes.

The reference's scan is a remote ``SELECT * FROM t [WHERE pt=...] [LIMIT n]``
executed by MaxCompute (reference ``maxcompute_client.py:105-217``); here the
scan is a Spark datasource read and the same pruning semantics are expressed
as DataFrame filters, which Catalyst pushes into the scan (PushedFilters /
partition pruning — free at any scale, verified in tests via the query plan).

Scale notes:
  * a local Parquet path is listed on the driver the way Spark's file
    index lists it (:func:`list_parquet_files`), and its footers answer
    what Spark would otherwise ask a job for: the schema
    (:func:`footer_schema`, so :func:`read_table` runs no inference
    job) and row counts (:func:`parquet_rows`). The cost is one footer
    read per file consulted, about a millisecond each, on the driver.
    Whenever Spark could read the path differently (another filesystem
    or format, a reader option, a session setting that changes the
    types, an unusual layout or type, a footer that does not parse) the
    helpers return None and Spark's own path runs unchanged.
  * latest-partition discovery on a hive-partitioned file source reads the
    candidate values off the file index's listing and confirms the newest
    by the row counts in its files' footers: no Spark job. A footer that
    does not parse takes a LIMIT-1 probe (one task on one partition)
    instead. Every other source pays an ``agg(max)``: two Spark jobs (AQE)
    that read every file.
  * the reference's sequential batch loop (S3) does not exist: Spark's
    split planning (``maxPartitionBytes``) parallelizes the scan.
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import os
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
    convenience wrapper. A local Parquet path read without options takes
    its schema from a footer (:func:`footer_schema`) instead of an
    inference job."""
    if fmt == "table":
        return spark.table(path_or_table)
    if fmt == "jdbc":
        reader = spark.read.format("jdbc")
        for k, v in (jdbc_options or {}).items():
            reader = reader.option(k, v)
        return reader.option("dbtable", path_or_table).load()
    if fmt not in _FORMAT_READERS:
        raise ValueError(f"unsupported format {fmt!r}")
    if schema is None and fmt == "parquet" and not options:
        schema = footer_schema(spark, path_or_table)
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


# ---------------------------------------------------------------------------
# Parquet footers read on the driver
# ---------------------------------------------------------------------------

# the summary files Spark's Parquet schema inference reads before any data
# file, in its order of preference (ParquetUtils.inferSchema)
_SUMMARY_FILES = ("_common_metadata", "_metadata")
# the footer key under which Spark's writer stores the Spark schema as JSON;
# Spark's reader takes it over the Parquet types when it is present
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# the session settings under which Spark types Parquet as the footer
# conversion does: any other value takes Spark's own inference
_FOOTER_SETTINGS = {"spark.sql.parquet.mergeSchema": "false",
                    "spark.sql.parquet.binaryAsString": "false",
                    "spark.sql.parquet.inferTimestampNTZ.enabled": "true"}
# the Parquet logical types of the leaf columns whose Spark type follows
# from their arrow type alone (ENUM, JSON, UUID, TIME ... do not)
_FOOTER_LOGICAL_TYPES = frozenset({"NONE", "STRING", "INT", "DATE",
                                   "DECIMAL", "TIMESTAMP"})


def _spark_lists(name: str) -> bool:
    """Whether Spark's file index keeps a file or directory of this name
    (``HadoopFSUtils.shouldFilterOutPathName``, negated)."""
    hidden = ((name.startswith("_") and "=" not in name)
              or name.startswith(".") or name.endswith("._COPYING_"))
    return not hidden or name.startswith(_SUMMARY_FILES)


def _raise(err: OSError):
    raise err


def list_parquet_files(path: str
                       ) -> tuple[list[str], list[str], list[str]] | None:
    """(data files, summary files, partition column names) of the local
    file or directory ``path``, listed as Spark's file index lists it:
    recursively, skipping names that start with ``_`` (unless they hold
    ``=`` or are ``_metadata`` / ``_common_metadata``) or ``.``. Files
    come in Spark's path order (its ``Path.toString`` sort, UTF-16 code
    units). None when that listing is in doubt: no data file, a symlink,
    an unreadable directory, another ``_`` file, or data files that are
    not all at the same depth of ``name=value`` directories with the same
    names."""
    if os.path.isfile(path):
        name = os.path.basename(path)
        return (([path], [], []) if _spark_lists(name)
                and not name.startswith("_") else None)
    files = []
    try:
        for d, dirs, names in os.walk(path, onerror=_raise):
            dirs[:] = [n for n in dirs if _spark_lists(n)]
            names = [n for n in names if _spark_lists(n)]
            if any(os.path.islink(os.path.join(d, n)) for n in dirs + names):
                return None
            files += [os.path.join(d, n) for n in names]
    except OSError:
        return None
    files.sort(key=lambda f: f.encode("utf-16-be", "surrogatepass"))
    data = [f for f in files if not os.path.basename(f).startswith("_")]
    summaries = [f for f in files if os.path.basename(f) in _SUMMARY_FILES]
    if not data or len(data) + len(summaries) < len(files):
        return None
    layouts = set()
    for f in data:
        rel = os.path.relpath(os.path.dirname(f), path)
        dirs = [seg.partition("=") for seg in
                ([] if rel == "." else rel.split(os.sep))]
        if not all(name and eq for name, eq, _ in dirs):
            return None
        layouts.add(tuple(name for name, _, _ in dirs))
    if len(layouts) > 1:
        return None
    return data, summaries, [_unescape(k) for k in layouts.pop()]


def _local_path(spark: SparkSession, path: str) -> str | None:
    """The local file-system path Spark reads for ``path``: a ``file:``
    URI, or an absolute path while the default file system is local.
    None for another scheme, a relative path or a glob pattern."""
    if any(ch in path for ch in "*?[]{}\\"):
        return None
    url = urlparse(path)
    if url.scheme == "file" and not url.netloc:
        return url.path
    if url.scheme or not path.startswith("/"):
        return None
    default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
    return path if str(default_fs).startswith("file:") else None


def _footer_rows(files) -> int | None:
    """Summed ``num_rows`` of the Parquet footers of local ``files``;
    None when one is None or its footer does not parse."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 0
    for f in files:
        if f is None:
            return None
        try:
            n += pq.read_metadata(f).num_rows
        except (OSError, pa.ArrowException):
            return None
    return n


def parquet_rows(spark: SparkSession, path: str) -> int | None:
    """Rows of the local Parquet table at ``path``, summed from the
    footers of the data files Spark would scan: no Spark job. None
    whenever the listing is in doubt (see :func:`list_parquet_files`)
    or a footer does not parse."""
    local = _local_path(spark, path)
    listed = list_parquet_files(local) if local else None
    return _footer_rows(listed[0]) if listed else None


def _arrow_leaf_paths(name: str, field):
    """The Parquet column paths of arrow ``field`` in the standard
    nested layout (3-level lists, ``key_value`` maps). Raises
    ``ValueError`` at a type whose Spark type is not what
    ``from_arrow_schema`` gives: unsigned, ns timestamps (INT96 reads as
    those), durations, fixed-size binary, float16 ..."""
    import pyarrow.types as pat

    t = field.type
    if field.metadata:  # field ids and the like
        raise ValueError(name)
    if pat.is_dictionary(t):
        t = t.value_type
    if pat.is_struct(t):
        for f in t:
            yield from _arrow_leaf_paths(f"{name}.{f.name}", f)
    elif pat.is_list(t):
        yield from _arrow_leaf_paths(
            f"{name}.list.{t.value_field.name}", t.value_field)
    elif pat.is_map(t):
        yield from _arrow_leaf_paths(f"{name}.key_value.key", t.key_field)
        yield from _arrow_leaf_paths(f"{name}.key_value.value", t.item_field)
    elif (pat.is_boolean(t) or pat.is_signed_integer(t) or pat.is_float32(t)
          or pat.is_float64(t) or pat.is_decimal128(t) or pat.is_string(t)
          or pat.is_large_string(t) or pat.is_binary(t)
          or pat.is_large_binary(t) or pat.is_date32(t)
          or (pat.is_timestamp(t) and t.unit != "ns")):
        yield name
    else:
        raise ValueError(name)


def _file_schema(file: str) -> T.StructType | None:
    """The Spark schema of one Parquet file, from its footer: the Spark
    schema its writer stored, else ``from_arrow_schema`` of its arrow
    schema (tz-naive timestamps as TIMESTAMP_NTZ, as Spark infers them).
    None for a footer that does not parse or a type the conversion
    could get wrong."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        md = pq.read_metadata(file)
    except (OSError, pa.ArrowException):
        return None
    stored = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        try:
            return T.StructType.fromJson(json.loads(stored))
        except (ValueError, KeyError, TypeError):  # not a schema PySpark reads
            return None
    columns = [md.schema.column(i) for i in range(md.num_columns)]
    if any(c.logical_type.type not in _FOOTER_LOGICAL_TYPES for c in columns):
        return None
    arrow = md.schema.to_arrow_schema()
    try:
        paths = [p for f in arrow for p in _arrow_leaf_paths(f.name, f)]
    except ValueError:
        return None
    if paths != [c.path for c in columns]:  # a legacy nested layout
        return None
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's Parquet inference gives the local ``path``,
    read on the driver from the footer of the file that inference reads
    (``_common_metadata``, then ``_metadata``, then the first data file
    in path order), so no Spark job runs. Spark still appends the hive
    partition columns itself. None, for Spark's own inference, whenever
    the answer could differ: a path that is not local, a session setting
    in ``_FOOTER_SETTINGS`` off its default, a listing in doubt, a
    footer that does not parse or holds a type Spark reads otherwise,
    no columns, duplicate names, or a data column named like a
    partition column."""
    local = _local_path(spark, path)
    if local is None or any(
            str(spark.conf.get(k, v)).lower() != v
            for k, v in _FOOTER_SETTINGS.items()):
        return None
    listed = list_parquet_files(local)
    if listed is None:
        return None
    data, summaries, partitions = listed
    source = min(summaries, default=data[0],
                 key=lambda f: _SUMMARY_FILES.index(os.path.basename(f)))
    schema = _file_schema(source)
    if schema is None:
        return None
    names = [n.lower() for n in schema.fieldNames()]
    if (not names or len(set(names)) < len(names)
            or set(names) & {p.lower() for p in partitions}):
        return None
    return schema


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


def _partition_listing(df: DataFrame, cols: list[str]
                       ) -> list[tuple[str | None, dict]] | None:
    """[(local path or None, {col: value})] over the data files the index
    listed, when ``df`` is a bare read of a hive-partitioned file source
    and every column in ``cols`` is a directory partition column. Values
    are typed as Spark typed the column (so ``hour=10`` sorts after
    ``hour=9``), None for a NULL partition; a file not on the local
    file system has no path. None when a value does not parse."""
    types = _directory_partition_types(df, cols)
    if not types:
        return None
    parsers = {}
    for c, dtype in types.items():
        parsers[c] = next((p for ts, p in _PATH_VALUE_PARSERS
                           if isinstance(dtype, ts)), None)
        if parsers[c] is None:
            return None
    listing = []
    for uri in df.inputFiles():
        # the URI escapes what Spark already escaped in the directory
        # name: undo the URI layer here, Spark's own %XX layer below
        url = urlparse(uri)
        *dirs, name = unquote(url.path).split("/")
        if name.startswith(("_", ".")):  # summary files: never scanned
            continue
        values = {}
        for c, parse in parsers.items():
            raw = next((value for key, eq, value
                        in (seg.partition("=") for seg in reversed(dirs))
                        if eq and _unescape(key).lower() == c.lower()), None)
            if raw is None:
                return None
            try:
                values[c] = (None if raw == _NULL_PARTITION
                             else parse(_unescape(raw)))
            except (ValueError, ArithmeticError):  # decimal.InvalidOperation
                return None
        listing.append((unquote(url.path) if url.scheme == "file" else None,
                        values))
    return listing


def _has_rows(df: DataFrame, listing, vals: dict) -> bool:
    """Whether ``df`` holds rows in the partition ``vals``: the footer
    row counts of its listed files, or a LIMIT-1 probe when there is no
    listing or a footer cannot answer."""
    n = None if listing is None else _footer_rows(
        path for path, values in listing
        if all(values[c] == v for c, v in vals.items()))
    if n is not None:
        return n > 0
    out = df
    for c, v in vals.items():
        out = out.filter(F.col(c) == F.lit(v))
    return not out.isEmpty()


def _latest_partition(df: DataFrame, partition_cols: list[str]):
    """(:func:`latest_partition_values`, the partition listing it used
    or None)."""
    if not partition_cols:
        return {}, None
    listing = _partition_listing(df, partition_cols)
    if listing is None:
        row = df.agg(*[F.max(F.col(c)).alias(c)
                       for c in partition_cols]).first()
        if row is None:
            return {}, None
        return {c: row[c] for c in partition_cols if row[c] is not None}, None
    vals = {}
    for c in partition_cols:
        candidates = {values[c] for _, values in listing} - {None}
        for v in sorted(candidates, reverse=True):
            if _has_rows(df, listing, {c: v}):
                vals[c] = v
                break
    return vals, listing


def latest_partition_values(df: DataFrame, partition_cols: list[str]) -> dict[str, object]:
    """A1/A2: latest value per partition column — the reference's MAX over
    the rows, taken for each column on its own (reference
    ``maxcompute_client.py:241-252,279-297``). Returns {} when the table
    is empty or all partition values are NULL (A3 existence probe folded
    in).

    When ``df`` is a bare read of a hive-partitioned file source and every
    column is a directory partition column, the candidates come from the
    file index's listing, and the newest one whose files' footers count
    any rows wins, stepping down past partitions whose files hold none:
    no Spark job. A file whose footer cannot answer (not local, not
    Parquet, unreadable) takes a LIMIT-1 probe instead. Otherwise —
    in-memory frames, JDBC and catalog tables, data columns — one
    ``agg(max)`` over the rows."""
    return _latest_partition(df, partition_cols)[0]


def latest_partition_filter(df: DataFrame, partition_cols: list[str],
                            guard_limit: int | None = FULL_SCAN_GUARD_LIMIT) -> DataFrame:
    """S2/P6: prune to the latest partition; when nothing is prunable, apply
    the full-scan LIMIT guard (reference ``maxcompute_client.py:165-217``).

    The returned plan carries plain equality filters — Catalyst turns them
    into real partition pruning on partitioned layouts.
    """
    vals, listing = _latest_partition(df, partition_cols)
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
    # contract) but SAY so — by the footers of the listed files, or one
    # limit-1 probe.
    if len(vals) > 1 and not _has_rows(df, listing, vals):
        logger.warning(
            "independent per-column latest-partition values %s name a "
            "combination with no rows (reference semantics); result is "
            "empty — pass a single partition column or filter manually "
            "for lexicographic latest", vals)
    return out


def open_file_stream(spark: SparkSession, source_path: str,
                     fmt: str = "parquet", **options) -> DataFrame:
    """Open a file-format path (file OR directory) as a streaming
    DataFrame with the batch read's schema (file streams require an
    explicit one; the batch read also validates the source up front; a
    local Parquet source takes it from a footer, see :func:`read_table`).
    ``options`` go to the stream reader (e.g. ``maxFilesPerTrigger``);
    CSV defaults to a header row, as in :func:`read_table`. File stream
    sources require a directory, so a single file streams via its parent
    plus a ``pathGlobFilter`` on the glob-escaped file name; a
    ``scheme://`` path is taken as a directory. A relative local path
    resolves against this process's working directory — the one the
    file-or-directory check sees — not the JVM's launch directory. The
    shared logic behind every ``run_*_stream`` runner."""
    if not urlparse(source_path).scheme:
        source_path = os.path.abspath(source_path)
    schema = read_table(spark, source_path, fmt=fmt).schema
    if fmt == "csv":
        options.setdefault("header", "true")
    reader = spark.readStream.format(fmt).schema(schema).options(**options)
    if os.path.isdir(source_path) or "://" in source_path:
        return reader.load(source_path)
    base, fname = os.path.split(source_path.rstrip("/"))
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

    The files are the data files Spark would scan, hive ``name=value``
    partition directories included (:func:`list_parquet_files`).
    Driver-side file iteration: cost is #files × footer parse, no row
    data moves. Bounded and appropriate for per-table ops checks; for a
    catalog-wide sweep over millions of files, parallelize the listing
    and run this per-directory.  min/max (and null_count) are None for
    columns whose writer emitted no statistics — None means "no
    information", never "zero".
    """
    import pyarrow.parquet as pq

    listed = list_parquet_files(path)
    if listed is None:
        raise FileNotFoundError(
            f"no parquet data files Spark would list the same way under "
            f"{path!r}")
    files = listed[0]
    n_rows = 0
    total_bytes = 0
    n_row_groups = 0
    col_stats: dict[str, dict] = {}
    covered: dict[str, int] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        total_bytes += os.path.getsize(f)
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
