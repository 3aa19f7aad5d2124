"""Latest-partition semantics on real hive directory layouts (``col=value``
directories written file by file): the reference's MAX over the rows
(``maxcompute_client.py:241-252,279-297``), typed by the column's
inferred type, with NULL partitions ignored and the independent
per-column quirk kept."""

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from data_warehouse_migrate_spark.migrate import MigrationJob
from data_warehouse_migrate_spark.sources.readers import (
    latest_partition_filter,
    latest_partition_values,
    read_table,
)


def _layout(root, parts):
    """Write one parquet file per partition: ``parts`` maps a relative
    partition directory (``"dt=2024-01-01/hour=3"``) to its ids (an
    empty list writes a zero-row file)."""
    for rel, ids in parts.items():
        (root / rel).mkdir(parents=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       root / rel / "part-00000.parquet")
    return str(root)


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_empty_newest_partition_falls_back_to_previous(spark, tmp_path):
    src = _layout(tmp_path / "src", {"dt=2024-01-01": [1, 2, 3],
                                     "dt=2024-01-02": [4, 5],
                                     "dt=2024-01-03": []})
    df = read_table(spark, src)
    assert latest_partition_values(df, ["dt"]) == {"dt": dt.date(2024, 1, 2)}
    assert _ids(latest_partition_filter(df, ["dt"])) == [4, 5]
    job = MigrationJob(source_path=src, destination_path=str(tmp_path / "d"),
                       mode="overwrite", partition_columns=["dt"])
    assert job.run(spark)["rows_written"] == 2


def test_integer_partitions_order_numerically(spark, tmp_path):
    src = _layout(tmp_path / "src", {"hour=9": [1, 2], "hour=10": [3],
                                     "hour=2": [4]})
    df = read_table(spark, src)
    assert latest_partition_values(df, ["hour"]) == {"hour": 10}
    assert _ids(latest_partition_filter(df, ["hour"])) == [3]


def test_hive_default_partition_is_null(spark, tmp_path):
    # '_' sorts after every digit, so a string comparison would pick the
    # NULL partition; MAX ignores NULLs
    src = _layout(tmp_path / "src", {"dt=2024-01-01": [1],
                                     "dt=2024-01-02": [2, 3],
                                     "dt=__HIVE_DEFAULT_PARTITION__": [9]})
    df = read_table(spark, src)
    assert latest_partition_values(df, ["dt"]) == {"dt": dt.date(2024, 1, 2)}
    assert _ids(latest_partition_filter(df, ["dt"])) == [2, 3]


def test_only_null_partitions_apply_the_guard(spark, tmp_path):
    src = _layout(tmp_path / "src",
                  {"dt=__HIVE_DEFAULT_PARTITION__": [1, 2, 3]})
    df = read_table(spark, src)
    assert latest_partition_values(df, ["dt"]) == {}
    assert latest_partition_filter(df, ["dt"], guard_limit=2).count() == 2


def test_escaped_partition_names_are_unescaped(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "k:1"), (2, "k:2"), (3, "k:2")],
                          "id long, s string").write.partitionBy("s") \
        .parquet(src)
    df = read_table(spark, src)
    assert latest_partition_values(df, ["s"]) == {"s": "k:2"}
    assert _ids(latest_partition_filter(df, ["s"])) == [2, 3]


def test_two_columns_take_independent_maxima(spark, tmp_path):
    # the reference quirk: MAX(dt) and MAX(hour) are taken separately, so
    # (2024-01-02, 23) names a partition that does not exist → no rows
    src = _layout(tmp_path / "src", {"dt=2024-01-01/hour=23": [1, 2],
                                     "dt=2024-01-02/hour=3": [3]})
    df = read_table(spark, src)
    assert latest_partition_values(df, ["dt", "hour"]) == {
        "dt": dt.date(2024, 1, 2), "hour": 23}
    assert latest_partition_filter(df, ["dt", "hour"]).count() == 0
    job = MigrationJob(source_path=src, destination_path=str(tmp_path / "d"),
                       mode="overwrite", partition_columns=["dt", "hour"])
    assert job.run(spark)["rows_written"] == 0
