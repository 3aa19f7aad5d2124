"""Parquet footers read on the driver (``sources.readers``): the listing
equals Spark's file index, the footer schema equals Spark's inference
whenever it is used, every case of doubt takes Spark's own path, and the
row counts they give replace Spark jobs."""

import datetime as dt
import decimal
import os
import subprocess
import sys
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_warehouse_migrate_spark.sources import readers
from data_warehouse_migrate_spark.sources.readers import (
    footer_schema,
    list_parquet_files,
    parquet_footer_stats,
    parquet_rows,
    read_table,
)

_TS = dt.datetime(2024, 1, 2, 3, 4, 5, 678000)


def _arrow_table(n=3):
    """Every arrow type the footer path converts, nested ones included."""
    return pa.table({
        "i8": pa.array(range(n), pa.int8()),
        "i16": pa.array(range(n), pa.int16()),
        "i32": pa.array(range(n), pa.int32()),
        "i64": pa.array(range(n), pa.int64()),
        "f32": pa.array([0.5] * n, pa.float32()),
        "f64": pa.array([0.25] * n, pa.float64()),
        "flag": pa.array([True] * n),
        "dec_small": pa.array([decimal.Decimal("1.25")] * n,
                              pa.decimal128(9, 2)),
        "dec_long": pa.array([decimal.Decimal("1.25")] * n,
                             pa.decimal128(18, 2)),
        "dec_wide": pa.array([decimal.Decimal("1.25")] * n,
                             pa.decimal128(30, 5)),
        "day": pa.array([dt.date(2024, 1, 2)] * n, pa.date32()),
        "ts_ltz": pa.array([_TS] * n, pa.timestamp("us", tz="UTC")),
        "ts_ntz": pa.array([_TS] * n, pa.timestamp("us")),
        "ts_ms": pa.array([_TS] * n, pa.timestamp("ms")),
        "raw": pa.array([b"\x00\x01"] * n, pa.binary()),
        "s": pa.array(["x"] * n),
        "ls": pa.array(["x"] * n, pa.large_string()),
        "cat": pa.array(["x"] * n).dictionary_encode(),
        "ints": pa.array([[1, None]] * n, pa.list_(pa.int32())),
        "recs": pa.array([[{"a": 1, "b": "x"}]] * n),
        "m": pa.array([[("k", [1.5])]] * n,
                      pa.map_(pa.string(), pa.list_(pa.float64()))),
        "nest": pa.array([{"a": {"b": "x"}, "c": [dt.date(2024, 1, 2)]}] * n),
    })


def _write(path, table, **kw):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, **kw)
    return path


def _input_files(df):
    return sorted(unquote(urlparse(u).path) for u in df.inputFiles())


def _hive_layout(root):
    """Three ``dt=`` partitions, one of them NULL, plus what a Spark
    write leaves next to the data: ``_SUCCESS``, ``.crc`` files and a
    ``_temporary`` directory."""
    for d, ids in (("dt=2024-01-01", [1, 2]), ("dt=2024-01-02", [3]),
                   ("dt=__HIVE_DEFAULT_PARTITION__", [4, 5, 6])):
        _write(root / d / "part-00000.parquet",
               pa.table({"id": pa.array(ids, pa.int64())}))
        (root / d / ".part-00000.parquet.crc").write_bytes(b"")
    (root / "_SUCCESS").write_bytes(b"")
    _write(root / "_temporary" / "0" / "part-9.parquet",
           pa.table({"id": [99]}))
    return root


# ---------------------------------------------------------------------------
# the footer schema equals Spark's inference
# ---------------------------------------------------------------------------

def _assert_footer_matches(spark, path):
    assert footer_schema(spark, str(path)) is not None
    assert read_table(spark, str(path)).schema == \
        spark.read.parquet(str(path)).schema


def _assert_spark_path(spark, path):
    """No footer schema, and read_table reads ``path`` as Spark does: the
    same schema, or the same kind of error."""
    assert footer_schema(spark, str(path)) is None
    try:
        want = spark.read.parquet(str(path)).schema
    except Exception as e:
        with pytest.raises(type(e)):
            read_table(spark, str(path))
    else:
        assert read_table(spark, str(path)).schema == want


@pytest.mark.parametrize("options", [
    {}, {"version": "1.0"}, {"version": "2.4"}, {"store_schema": False},
    {"use_compliant_nested_type": False}, {"use_dictionary": False},
    {"coerce_timestamps": "ms", "allow_truncated_timestamps": True},
], ids=["default", "v1.0", "v2.4", "no_arrow_schema", "item_lists",
        "plain", "ms"])
def test_arrow_written_types_match_spark(spark, tmp_path, options):
    _assert_footer_matches(spark, _write(tmp_path / "t" / "part-0.parquet",
                                         _arrow_table(), **options))


def test_arrow_written_hive_partitions_match_spark(spark, tmp_path):
    for d in ("dt=2024-01-01", "dt=2024-01-02",
              "dt=__HIVE_DEFAULT_PARTITION__"):
        _write(tmp_path / "t" / d / "hour=3" / "part-0.parquet",
               _arrow_table())
    _assert_footer_matches(spark, tmp_path / "t")
    assert read_table(spark, str(tmp_path / "t")).columns[-2:] == [
        "dt", "hour"]


def test_spark_written_types_match_spark(spark, tmp_path):
    path = tmp_path / "spark_types"
    spark.sql(
        "SELECT CAST(id AS TINYINT) AS b, CAST(id AS SMALLINT) AS sh, "
        "CAST(id AS FLOAT) AS f, CAST(id AS DECIMAL(10,2)) AS d10, "
        "CAST(id AS DECIMAL(30,5)) AS d30, DATE '2024-01-02' AS day, "
        "TIMESTAMP '2024-01-02 03:04:05' AS ltz, "
        "TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz, "
        "CAST('ab' AS BINARY) AS raw, array(id, NULL) AS arr, "
        "map('k', array(0.5D)) AS m, "
        "named_struct('x', id, 'y', named_struct('z', 'v')) AS st, "
        "IF(id = 2, NULL, DATE '2024-01-01' + CAST(id AS INT)) AS dt "
        "FROM range(3)").write.partitionBy("dt").parquet(str(path))
    assert (path / "dt=__HIVE_DEFAULT_PARTITION__").is_dir()
    _assert_footer_matches(spark, path)


def test_spark_written_char_varchar_match_spark(spark, tmp_path):
    path = tmp_path / "cv"
    spark.sql(f"CREATE TABLE footer_cv (c CHAR(3), v VARCHAR(5), s STRING) "
              f"USING parquet LOCATION '{path}'")
    try:
        spark.sql("INSERT INTO footer_cv VALUES ('a', 'bb', 'x')")
        _assert_footer_matches(spark, path)
    finally:
        spark.sql("DROP TABLE footer_cv")


def test_schema_comes_from_the_file_spark_reads(spark, tmp_path):
    """Data files with different schemas: Spark reads the first in path
    order, not the first written or the newest; a ``_common_metadata``
    summary wins over them all."""
    root = tmp_path / "t"
    _write(root / "b=2" / "part-0.parquet", pa.table({"x": [1], "y": ["s"]}))
    _write(root / "b=1" / "part-9.parquet", pa.table({"x": [1.5]}))
    _write(root / "b=3" / "part-0.parquet", pa.table({"w": [True]}))
    _assert_footer_matches(spark, root)
    assert read_table(spark, str(root)).dtypes == [("x", "double"),
                                                   ("b", "int")]
    pq.write_metadata(pa.schema([("x", pa.int64()), ("z", pa.string())]),
                      root / "_common_metadata")
    _assert_footer_matches(spark, root)
    assert read_table(spark, str(root)).columns == ["x", "z", "b"]


def test_file_uri_and_single_file_take_footers(spark, tmp_path):
    f = _write(tmp_path / "one.parquet", pa.table({"id": [1]}))
    _assert_footer_matches(spark, f)
    _assert_footer_matches(spark, f"file://{tmp_path}")


# ---------------------------------------------------------------------------
# every doubt takes Spark's own path
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("column", [
    pa.array([_TS], pa.timestamp("ns")),
    pa.array([1], pa.uint32()),
    pa.array([1], pa.duration("s")),
    pa.array([b"ab"], pa.binary(2)),
    pa.array([dt.time(1, 2)], pa.time64("us")),
    pa.array([None], pa.null()),
], ids=["ns", "unsigned", "duration", "fixed_binary", "time", "null"])
def test_types_spark_reads_otherwise_fall_back(spark, tmp_path, column):
    path = _write(tmp_path / "t" / "part-0.parquet",
                  pa.table({"id": [1], "v": column}))
    _assert_spark_path(spark, path.parent)


def test_int96_falls_back(spark, tmp_path):
    path = _write(tmp_path / "t" / "part-0.parquet",
                  pa.table({"ts": pa.array([_TS], pa.timestamp("us"))}),
                  use_deprecated_int96_timestamps=True)
    _assert_spark_path(spark, path.parent)
    assert read_table(spark, str(path.parent)).dtypes == [("ts", "timestamp")]


def test_ns_timestamps_under_nanos_as_long_read_as_spark_reads(spark,
                                                               tmp_path):
    path = _write(tmp_path / "t" / "part-0.parquet",
                  pa.table({"ts": pa.array([_TS], pa.timestamp("ns"))}))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        assert read_table(spark, str(path.parent)).dtypes == [
            ("ts", "bigint")]
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


@pytest.mark.parametrize("key, value", [
    ("spark.sql.parquet.mergeSchema", "true"),
    ("spark.sql.parquet.binaryAsString", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
])
def test_session_settings_fall_back(spark, tmp_path, key, value):
    root = tmp_path / "t"
    _write(root / "part-0.parquet", _arrow_table())
    _write(root / "part-1.parquet", pa.table({"extra": [1]}))
    spark.conf.set(key, value)
    try:
        _assert_spark_path(spark, root)
    finally:
        spark.conf.unset(key)
    assert footer_schema(spark, str(root)) is not None


def test_reader_options_and_other_formats_skip_footers(spark, tmp_path,
                                                       monkeypatch):
    root = tmp_path / "t"
    _write(root / "part-0.parquet", pa.table({"a": [1]}))
    _write(root / "part-1.parquet", pa.table({"b": ["x"]}))
    spark.createDataFrame([(1,)], "a int").write.json(str(tmp_path / "j"))
    calls = []
    monkeypatch.setattr(readers, "footer_schema",
                        lambda *a: calls.append(a))
    merged = read_table(spark, str(root), mergeSchema="true")
    assert sorted(merged.columns) == ["a", "b"]
    read_table(spark, str(tmp_path / "j"), fmt="json")
    assert calls == []


@pytest.mark.parametrize("layout", [
    "empty", "only_success", "corrupt", "nested_plain_dir",
    "mixed_depth", "stray_underscore", "partition_named_column",
    "symlink"])
def test_doubtful_layouts_fall_back(spark, tmp_path, layout):
    """No data file, a footer that does not parse, a layout Spark reads
    differently, or a data column that a partition directory would
    shadow: no footer schema, and the read behaves as Spark's own."""
    root = tmp_path / "t"
    root.mkdir()
    one = pa.table({"id": [1]})
    if layout == "only_success":
        (root / "_SUCCESS").write_bytes(b"")
    elif layout == "corrupt":
        (root / "part-0.parquet").write_bytes(b"not parquet at all")
    elif layout == "nested_plain_dir":
        _write(root / "2024" / "part-0.parquet", one)
    elif layout == "mixed_depth":
        _write(root / "part-0.parquet", one)
        _write(root / "dt=1" / "part-0.parquet", one)
    elif layout == "stray_underscore":
        _write(root / "part-0.parquet", one)
        _write(root / "_metadata_old", one)
    elif layout == "partition_named_column":
        _write(root / "id=5" / "part-0.parquet", one)
    elif layout == "symlink":
        _write(tmp_path / "elsewhere" / "part-0.parquet", one)
        (root / "dt=1").symlink_to(tmp_path / "elsewhere")
    _assert_spark_path(spark, root)


def test_paths_that_are_not_plainly_local_fall_back(spark, tmp_path):
    _write(tmp_path / "t" / "part-0.parquet", pa.table({"id": [1]}))
    for path in ("hdfs://namenode:8020/t", "file://host/t",
                 str(tmp_path / "t*"), os.path.relpath(tmp_path / "t")):
        assert footer_schema(spark, path) is None, path
    assert footer_schema(spark, "/no/such/dir") is None
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:  # an absolute path then names a file on that file system
        assert footer_schema(spark, str(tmp_path / "t")) is None
    finally:
        conf.set("fs.defaultFS", default_fs)
    assert footer_schema(spark, str(tmp_path / "t")) is not None


# ---------------------------------------------------------------------------
# the listing is Spark's listing
# ---------------------------------------------------------------------------

def test_listing_equals_spark_input_files(spark, tmp_path):
    hive = _hive_layout(tmp_path / "hive")
    flat = tmp_path / "flat"
    _write(flat / "part-0.parquet", pa.table({"id": [1]}))
    _write(flat / "part-1.parquet", pa.table({"id": [2]}))
    (flat / "_SUCCESS").write_bytes(b"")
    (flat / ".part-0.parquet.crc").write_bytes(b"")
    pq.write_metadata(pa.schema([("id", pa.int64())]),
                      flat / "_common_metadata")
    escaped = str(tmp_path / "escaped")
    spark.createDataFrame([(1, "k:1"), (2, "a b"), (3, None)],
                          "id long, s string").write.partitionBy("s") \
        .parquet(escaped)
    for root in (hive, flat, escaped):
        data, summaries, _ = list_parquet_files(str(root))
        assert sorted(data + summaries) == _input_files(
            spark.read.parquet(str(root))), root
    assert list_parquet_files(str(hive))[2] == ["dt"]
    assert list_parquet_files(escaped)[2] == ["s"]


# ---------------------------------------------------------------------------
# row counts from footers
# ---------------------------------------------------------------------------

def test_parquet_footer_stats_reads_hive_layouts(tmp_path):
    stats = parquet_footer_stats(str(_hive_layout(tmp_path / "t")))
    assert (stats["n_files"], stats["n_rows"]) == (3, 6)
    assert (stats["columns"]["id"]["min"],
            stats["columns"]["id"]["max"]) == (1, 6)


def test_parquet_rows_counts_what_spark_counts(spark, tmp_path):
    root = _hive_layout(tmp_path / "t")
    assert parquet_rows(spark, str(root)) == \
        spark.read.parquet(str(root)).count() == 6
    (root / "dt=2024-01-02" / "part-00001.parquet").write_bytes(b"")
    assert parquet_rows(spark, str(root)) is None


def test_latest_partition_takes_no_spark_job(spark, tmp_path):
    from test_migrate import _spark_jobs

    root = tmp_path / "t"
    _write(root / "dt=2024-01-01" / "part-0.parquet", pa.table({"id": [1]}))
    _write(root / "dt=2024-01-02" / "part-0.parquet",
           pa.table({"id": pa.array([], pa.int64())}))
    df = read_table(spark, str(root))
    vals, jobs, _ = _spark_jobs(
        spark, lambda: readers.latest_partition_values(df, ["dt"]))
    assert (vals, jobs) == ({"dt": dt.date(2024, 1, 1)}, 0)


def test_unreadable_footer_takes_the_probe(spark, tmp_path):
    """A zero-byte file holds no rows for Spark, but its footer does not
    parse: the newest partition is confirmed by a LIMIT-1 probe."""
    from test_migrate import _spark_jobs

    root = tmp_path / "t"
    _write(root / "dt=1" / "part-0.parquet", pa.table({"id": [1]}))
    (root / "dt=2").mkdir()
    (root / "dt=2" / "part-0.parquet").write_bytes(b"")
    df = spark.read.parquet(str(root))
    vals, jobs, _ = _spark_jobs(
        spark, lambda: readers.latest_partition_values(df, ["dt"]))
    assert vals == {"dt": 1} and jobs >= 1


def test_engine_import_leaves_pyarrow_and_pandas_unloaded():
    """Importing the engine loads neither pyarrow nor pandas: the footer
    helpers import pyarrow when they run, so ``setup_s`` does not pay
    for it."""
    code = ("import sys\n"
            "import data_warehouse_migrate_spark\n"
            "import data_warehouse_migrate_spark.migrate\n"
            "import data_warehouse_migrate_spark.sources.readers\n"
            "print(sorted(m for m in ('pyarrow', 'pandas')"
            " if m in sys.modules))\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]", out.stderr
