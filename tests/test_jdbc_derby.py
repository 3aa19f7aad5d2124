"""Live-JDBC end-to-end tests against embedded Apache Derby.

The reference exercises a real MySQL via SQLAlchemy
(``mysql_writer.py:46-104``): table creation, TRUNCATE-preserving
overwrite, type DDL. Mock tests assert our writer ISSUES those options;
these tests run them against a real database engine — Derby ships inside
Spark's own jars (it backs the Hive metastore), runs embedded in the same
JVM, and speaks enough ANSI DDL to verify the semantics end-to-end:

  * append auto-creates the table and round-trips values (S10)
  * overwrite goes through TRUNCATE — the created DDL (and its column
    type overrides) SURVIVES the overwrite (S13)
  * createTableColumnTypes is real DDL, enforced by the engine (C6)
  * MigrationJob runs parquet→JDBC and JDBC→parquet whole (S1/S8/S14)

Derby has no information_schema, so the MySQL-shaped introspection
(``introspect_jdbc_schema``) stays mock-tested; the dialect-neutral
zero-row probe (``introspect_jdbc_schema_generic``) IS live-tested here.
Everything else is the real write/read path with zero mocks.
"""

from __future__ import annotations

import datetime
import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.migrate import MigrationJob
from data_warehouse_migrate_spark.sources.readers import (
    read_table,
    validate_table_access,
)
from data_warehouse_migrate_spark.sources.sinks import write_table

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def _derby_available() -> bool:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "derby-*.jar")))


pytestmark = pytest.mark.skipif(
    not _derby_available(), reason="Derby jar not on the Spark classpath")


@pytest.fixture()
def derby_opts():
    db = tempfile.mkdtemp(prefix="dwms_derby_") + "/db"
    return {"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER}


def _read(spark, opts, table):
    return (spark.read.format("jdbc").options(**opts)
            .option("dbtable", table).load())


def test_append_creates_and_roundtrips(spark, derby_opts):
    df = spark.createDataFrame(
        [(1, "A", 10.5), (2, "B", 20.25), (3, None, 1.0)],
        "k long, status string, price double")
    write_table(df, "t_rt", fmt="jdbc", mode="append",
                jdbc_options=derby_opts)
    back = _read(spark, derby_opts, "t_rt")
    assert dict(back.dtypes) == {"k": "bigint", "status": "string",
                                 "price": "double"}
    rows = {(r.k, r.status, r.price) for r in back.collect()}
    assert rows == {(1, "A", 10.5), (2, "B", 20.25), (3, None, 1.0)}
    # second append accumulates (no truncate on append)
    write_table(df.filter("k = 1"), "t_rt", fmt="jdbc", mode="append",
                jdbc_options=derby_opts)
    assert _read(spark, derby_opts, "t_rt").count() == 4


def test_overwrite_truncates_and_ddl_survives(spark, derby_opts):
    df = spark.createDataFrame([(1, "abc")], "k long, status string")
    write_table(df, "t_ow", fmt="jdbc", mode="append",
                jdbc_options=derby_opts,
                create_table_column_types="status VARCHAR(5)")
    # overwrite → TRUNCATE path (option('truncate','true')): old rows gone
    write_table(spark.createDataFrame([(2, "xyz")], "k long, status string"),
                "t_ow", fmt="jdbc", mode="overwrite",
                jdbc_options=derby_opts)
    back = _read(spark, derby_opts, "t_ow")
    assert [(r.k, r.status) for r in back.collect()] == [(2, "xyz")]
    # the VARCHAR(5) DDL from CREATE survived the overwrite: a 6-char
    # value must now be rejected by the ENGINE (truncate kept the table;
    # a drop-recreate overwrite would have reverted to Spark's default
    # CLOB/VARCHAR(255) mapping and accepted it)
    too_long = spark.createDataFrame([(3, "sixchr")], "k long, status string")
    with pytest.raises(Exception, match="(?i)truncat|22001"):
        write_table(too_long, "t_ow", fmt="jdbc", mode="append",
                    jdbc_options=derby_opts)
    # within-bound value still fine
    write_table(spark.createDataFrame([(4, "ok")], "k long, status string"),
                "t_ow", fmt="jdbc", mode="append", jdbc_options=derby_opts)
    assert _read(spark, derby_opts, "t_ow").count() == 2


def test_create_table_column_types_enforced_on_create(spark, derby_opts):
    df = spark.createDataFrame([(1, "longer-than-four")],
                               "k long, status string")
    with pytest.raises(Exception, match="(?i)truncat|22001"):
        write_table(df, "t_ddl", fmt="jdbc", mode="append",
                    jdbc_options=derby_opts,
                    create_table_column_types="status VARCHAR(4)")


def test_type_override_reaches_scd2_first_run_create(spark, derby_opts,
                                                     tmp_path):
    """A first-run run_scd2 into a missing JDBC table creates it with the
    mapping's type_override column types: the VARCHAR(4) DDL accepts the
    history's values and then rejects a longer one."""
    src = str(tmp_path / "scd_ddl_src.parquet")
    spark.createDataFrame([(1, "abcd"), (2, "ab")],
                          "k long, status string").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path="t_scd2_ddl",
                       destination_format="jdbc", destination_jdbc=derby_opts,
                       mode="append",
                       mapping={"type_override": {"status": "VARCHAR(4)"}})
    out = job.run_scd2(spark, key_cols=["k"], batch_date="2026-01-01")
    assert out["first_run"] is True and out["history_rows"] == 2
    longer = spark.createDataFrame(
        [(3, "abcde", datetime.date(2026, 1, 1), None, True)],
        "k long, status string, valid_from date, valid_to date, "
        "is_current boolean")
    with pytest.raises(Exception, match="(?i)truncat|22001"):
        write_table(longer, "t_scd2_ddl", fmt="jdbc", mode="append",
                    jdbc_options=derby_opts)


def test_migration_job_parquet_to_jdbc(spark, sf_dir, derby_opts):
    job = MigrationJob(
        source_path=f"{sf_dir}/orders.parquet",
        destination_path="orders_mig",
        destination_format="jdbc",
        destination_jdbc=derby_opts,
        mode="overwrite",
        limit=100,
        mapping={"exclude": ["o_orderdate"],  # NTZ timestamps stay out of
                                              # the JDBC surface
                 "rename": {"o_totalprice": "total_price"},
                 "computed": {"status_tag": "concat('S-', o_orderstatus)"}},
    )
    summary = job.run(spark)
    assert summary["status"] == "success"
    assert summary["rows_written"] == 100
    assert summary["destination_rows"] is None  # JDBC: no metadata count
    back = _read(spark, derby_opts, "orders_mig")
    assert back.count() == 100
    assert "total_price" in back.columns and "status_tag" in back.columns
    assert back.filter(~F.col("status_tag").startswith("S-")).count() == 0


def test_migration_job_jdbc_to_parquet(spark, sf_dir, derby_opts, tmp_path):
    # seed Derby from parquet, then migrate OUT of JDBC (source side, S1)
    seed = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select("c_custkey", "c_name", "c_acctbal").limit(50))
    write_table(seed, "cust_src", fmt="jdbc", mode="append",
                jdbc_options=derby_opts)
    dest = str(tmp_path / "cust_out")
    job = MigrationJob(
        source_path="cust_src",
        source_format="jdbc",
        source_jdbc=derby_opts,
        destination_path=dest,
        destination_format="parquet",
        mode="overwrite",
    )
    summary = job.run(spark)
    assert summary["rows_written"] == 50
    out = spark.read.parquet(dest)
    assert out.count() == 50
    assert set(out.columns) == {"c_custkey", "c_name", "c_acctbal"}


def test_validate_table_access_jdbc(spark, derby_opts):
    df = spark.createDataFrame([(1,)], "k long")
    write_table(df, "t_probe", fmt="jdbc", mode="append",
                jdbc_options=derby_opts)
    ok = read_table(spark, "t_probe", fmt="jdbc", jdbc_options=derby_opts)
    assert validate_table_access(ok) is True
    # JDBC resolves the schema EAGERLY on load() — a missing table fails at
    # read_table, before any DataFrame exists for the probe to take; the
    # probe contract covers lazily-failing sources (files), and callers on
    # the JDBC path treat the read itself as the access check
    with pytest.raises(Exception, match="(?i)t_missing|does not exist|42"):
        read_table(spark, "t_missing", fmt="jdbc", jdbc_options=derby_opts)


def test_introspect_generic_against_derby(spark, derby_opts):
    """Dialect-neutral S6: the zero-row probe must surface names, mapped
    Spark types, and nullability from a REAL engine without an
    information_schema."""
    from data_warehouse_migrate_spark.sources.readers import (
        introspect_jdbc_schema_generic,
    )

    df = spark.createDataFrame([(1, "abc", 2.5)],
                               "k long, status string, price double")
    write_table(df, "t_intro", fmt="jdbc", mode="append",
                jdbc_options=derby_opts,
                create_table_column_types="status VARCHAR(10)")
    # Derby upper-cases unquoted identifiers; Spark's writer quotes them,
    # so the created table preserves the exact names
    cols = introspect_jdbc_schema_generic(spark, derby_opts, "t_intro")
    assert [c["name"] for c in cols] == ["k", "status", "price"]
    types = {c["name"]: c["type"] for c in cols}
    assert types == {"k": "bigint", "status": "string", "price": "double"}
    assert all(c["is_nullable"] for c in cols)


def test_incremental_jdbc_merge_end_to_end(spark, derby_opts, tmp_path):
    """run_incremental with a JDBC destination: first run full-loads,
    second run applies the snapshot_delta IN PLACE via server-side MERGE
    (stage table + one statement) — insert, update, and delete all land."""
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
        "k long, status string, price double").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path="t_incr",
                       destination_format="jdbc",
                       destination_jdbc=derby_opts, mode="append")
    out1 = job.run_incremental(spark, key_cols=["k"])
    assert out1["incremental"] is False  # first run = full load
    assert _read(spark, derby_opts, "t_incr").count() == 3

    # change the source: update k=2, delete k=3, insert k=4
    import shutil
    shutil.rmtree(src)
    spark.createDataFrame(
        [(1, "A", 10.0), (2, "B2", 21.0), (4, "D", 40.0)],
        "k long, status string, price double").write.parquet(src)
    out2 = job.run_incremental(spark, key_cols=["k"])
    assert out2["incremental"] is True
    assert out2["delta_counts"] == {"unchanged": 1, "update": 1,
                                    "delete": 1, "insert": 1}
    assert out2["jdbc_apply"]["staged"] == 3
    rows = {(r.k, r.status, r.price)
            for r in _read(spark, derby_opts, "t_incr").collect()}
    assert rows == {(1, "A", 10.0), (2, "B2", 21.0), (4, "D", 40.0)}
    # stage table cleaned up — resolving it fails at load time
    with pytest.raises(Exception, match="(?i)not exist|not found|42"):
        _read(spark, derby_opts, "t_incr_dwms_stage").schema


def test_incremental_jdbc_delete_insert_fallback(spark, derby_opts, tmp_path):
    """The MERGE-less dialect path (use_merge=False): DELETE+INSERT pair
    reaches the same end state."""
    src = str(tmp_path / "src2.parquet")
    spark.createDataFrame(
        [(1, "A"), (2, "B")], "k long, status string").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path="t_incr_fb",
                       destination_format="jdbc",
                       destination_jdbc=derby_opts, mode="append")
    job.run_incremental(spark, key_cols=["k"])

    import shutil
    shutil.rmtree(src)
    spark.createDataFrame(
        [(2, "B2"), (3, "C")], "k long, status string").write.parquet(src)
    out = job.run_incremental(spark, key_cols=["k"], jdbc_merge=False)
    assert out["incremental"] is True
    rows = {(r.k, r.status)
            for r in _read(spark, derby_opts, "t_incr_fb").collect()}
    assert rows == {(2, "B2"), (3, "C")}


def test_incremental_jdbc_merge_string_key(spark, derby_opts, tmp_path):
    """String business keys exercise the CLOB-comparison workaround:
    Spark's Derby dialect maps strings to CLOB, which the engine refuses
    to compare — apply_delta_jdbc must route string keys through VARCHAR
    casts on BOTH merge sides."""
    src = str(tmp_path / "src3.parquet")
    spark.createDataFrame(
        [("alpha", 1.0), ("beta", 2.0), ("gamma", 3.0)],
        "sku string, price double").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path="t_incr_sk",
                       destination_format="jdbc",
                       destination_jdbc=derby_opts, mode="append")
    job.run_incremental(spark, key_cols=["sku"])

    import shutil
    shutil.rmtree(src)
    spark.createDataFrame(
        [("alpha", 1.5), ("delta", 4.0)],
        "sku string, price double").write.parquet(src)
    out = job.run_incremental(spark, key_cols=["sku"])
    assert out["delta_counts"] == {"update": 1, "delete": 2, "insert": 1}
    rows = {(r.sku, r.price)
            for r in _read(spark, derby_opts, "t_incr_sk").collect()}
    assert rows == {("alpha", 1.5), ("delta", 4.0)}


def test_table_missing_classification_by_sqlstate(spark, derby_opts):
    """The first-run check classifies by SQLState, not error prose (the
    r6 advisor's hazard): a missing TABLE (Derby 42X05) is first-run; a
    missing SCHEMA — whose prose says "does not exist", which the old
    substring matcher would have swallowed — is NOT, because its
    SQLState (42Y07) is not a table-not-found state."""
    from data_warehouse_migrate_spark.migrate import (
        _jdbc_table_missing,
        _missing_by_sqlstate,
    )
    from data_warehouse_migrate_spark.sources.readers import (
        introspect_jdbc_schema_generic,
    )

    # concrete table so the database exists before the probes
    write_table(spark.createDataFrame([(1,)], "k long"), "t_cls",
                fmt="jdbc", mode="append", jdbc_options=derby_opts)

    def probe_error(table):
        with pytest.raises(Exception) as ei:
            introspect_jdbc_schema_generic(spark, derby_opts, table)
        return ei.value

    missing_table = probe_error("t_cls_nope")
    assert _missing_by_sqlstate(missing_table) is True
    assert _jdbc_table_missing(missing_table, spark, derby_opts,
                               "t_cls_nope") is True

    missing_schema = probe_error("nosuchschema.t_cls")
    # prose contains "does not exist" — the SQLState verdict must win
    assert "not exist" in str(missing_schema).lower()
    assert _missing_by_sqlstate(missing_schema) is False
    assert _jdbc_table_missing(missing_schema, spark, derby_opts,
                               "nosuchschema.t_cls") is False


def test_read_destination_classifies_its_one_read(spark, derby_opts):
    """MigrationJob._read_destination reads a JDBC destination once and
    classifies that read's error: a missing table is a first run (None),
    a missing schema propagates."""
    write_table(spark.createDataFrame([(1,)], "k long"), "t_rd",
                fmt="jdbc", mode="append", jdbc_options=derby_opts)

    def read(table):
        return MigrationJob(source_path="unused", destination_path=table,
                            destination_format="jdbc",
                            destination_jdbc=derby_opts
                            )._read_destination(spark)

    assert read("t_rd").count() == 1
    assert read("t_rd_nope") is None
    with pytest.raises(Exception, match="(?i)not exist"):
        read("nosuchschema.t_rd")


def test_jdbc_table_exists_metadata_probe(spark, derby_opts):
    """DatabaseMetaData.getTables fallback: case-insensitive existence,
    tri-state None when the connection itself is broken."""
    from data_warehouse_migrate_spark.migrate import _jdbc_table_exists

    write_table(spark.createDataFrame([(1,)], "k long"), "t_meta",
                fmt="jdbc", mode="append", jdbc_options=derby_opts)
    assert _jdbc_table_exists(spark, derby_opts, "t_meta") is True
    assert _jdbc_table_exists(spark, derby_opts, "T_META") is True
    assert _jdbc_table_exists(spark, derby_opts, "t_meta_nope") is False
    broken = {"url": "jdbc:derby:/nonexistent/denied/db",
              "driver": derby_opts["driver"]}
    assert _jdbc_table_exists(spark, broken, "t_meta") is None


def test_stage_dropped_after_failed_merge(spark, derby_opts, tmp_path):
    """A failed server-side apply must not strand the stage table (the
    r6 advisor item): force the MERGE to fail by dropping the target
    between staging setup and apply, then assert the stage is gone."""
    from data_warehouse_migrate_spark.operators.delta import (
        apply_delta_jdbc,
        snapshot_delta,
    )

    write_table(spark.createDataFrame([(1, "A")], "k long, v string"),
                "t_stage_tgt", fmt="jdbc", mode="append",
                jdbc_options=derby_opts)
    src = spark.createDataFrame([(1, "B"), (2, "C")], "k long, v string")
    dest = _read(spark, derby_opts, "t_stage_tgt")
    delta = snapshot_delta(src, dest, ["k"]).localCheckpoint()
    with pytest.raises(Exception):
        apply_delta_jdbc(delta, ["k"], derby_opts, "t_stage_gone")
    # the apply failed (target never existed) but the stage was dropped
    with pytest.raises(Exception, match="(?i)not exist|not found|42"):
        _read(spark, derby_opts, "t_stage_gone_dwms_stage").schema


def test_scd2_jdbc_end_to_end(spark, derby_opts, tmp_path):
    """run_scd2 with a JDBC destination: first run initializes the
    history, second run closes + reopens the changed key and inserts the
    new one IN PLACE via the staged MERGE keyed on (k, valid_from)."""
    src = str(tmp_path / "scd_src.parquet")
    spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0)],
        "k long, status string, price double").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path="t_scd2",
                       destination_format="jdbc",
                       destination_jdbc=derby_opts, mode="append")
    out1 = job.run_scd2(spark, key_cols=["k"], batch_date="2026-01-01")
    assert out1["first_run"] is True and out1["history_rows"] == 2

    import shutil
    shutil.rmtree(src)
    spark.createDataFrame(
        [(1, "A", 10.0), (2, "B2", 21.0), (3, "C", 30.0)],
        "k long, status string, price double").write.parquet(src)
    out2 = job.run_scd2(spark, key_cols=["k"], batch_date="2026-06-01")
    assert out2["first_run"] is False
    assert out2["versions_closed"] == 1   # k=2 v1 closes
    assert out2["versions_opened"] == 2   # k=2 v2 + k=3 v1
    rows = {(r.k, r.status, str(r.valid_from), str(r.valid_to),
             bool(r.is_current))
            for r in _read(spark, derby_opts, "t_scd2").collect()}
    assert rows == {
        (1, "A", "2026-01-01", "None", True),
        (2, "B", "2026-01-01", "2026-06-01", False),
        (2, "B2", "2026-06-01", "None", True),
        (3, "C", "2026-06-01", "None", True),
    }
    # idempotent: same snapshot again, later date → no new versions
    out3 = job.run_scd2(spark, key_cols=["k"], batch_date="2026-07-01")
    assert (out3["versions_opened"], out3["versions_closed"]) == (0, 0)
    assert _read(spark, derby_opts, "t_scd2").count() == 4


@pytest.mark.parametrize("runner", ["run_incremental", "run_scd2"])
def test_failing_jdbc_apply_leaves_nothing_cached(spark, derby_opts,
                                                  tmp_path, monkeypatch,
                                                  runner):
    """A sync whose in-place apply fails propagates the error and leaves
    no cached delta behind, for both sync runners: the delta is
    persisted and counted, then the apply raises."""
    from data_warehouse_migrate_spark.operators import delta as delta_ops

    src = str(tmp_path / "fail_src.parquet")
    spark.createDataFrame([(1, "A"), (2, "B")],
                          "k long, v string").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path=f"t_fail_{runner}",
                       destination_format="jdbc",
                       destination_jdbc=derby_opts, mode="append")
    sync = getattr(job, runner)
    kwargs = {"batch_date": "2026-01-01"} if runner == "run_scd2" else {}
    sync(spark, ["k"], **kwargs)
    spark.createDataFrame([(1, "A"), (2, "B2")], "k long, v string").write.mode(
        "overwrite").parquet(src)

    def failing_apply(*args, **kw):
        raise RuntimeError("apply failed")

    monkeypatch.setattr(delta_ops, "apply_delta_jdbc", failing_apply)

    # RDD id sets, not counts: the ContextCleaner may reap an earlier
    # test's cached RDD in between
    def rdd_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc()
                .getRDDStorageInfo()}

    before = rdd_ids()
    if runner == "run_scd2":
        kwargs = {"batch_date": "2026-02-01"}
    with pytest.raises(RuntimeError, match="apply failed"):
        sync(spark, ["k"], **kwargs)
    assert not (rdd_ids() - before)


def test_scd2_jdbc_history_equals_file_history_on_one_date(
        spark, derby_opts, tmp_path):
    """A JDBC history, applied in place keyed by (k, valid_from), and a
    file history of the same runs hold the same rows and report the same
    counts after every run. On one date: a key's first change closes
    its version, its second and third rewrite the version it opened in
    place, a new key opens one, closing as deleted removes a version
    opened that date and closes an older one, and keys reopening on the
    date they closed open a version from it. No version is the empty
    [d, d), which a JDBC history used to refuse and a file history to
    keep."""
    src = str(tmp_path / "same_src.parquet")
    jdbc = MigrationJob(source_path=src, destination_path="t_scd2_same",
                        destination_format="jdbc",
                        destination_jdbc=derby_opts, mode="append")
    files = MigrationJob(source_path=src,
                         destination_path=str(tmp_path / "same_hist"),
                         mode="overwrite")

    def history(df):
        return sorted((r.k, r.v, str(r.valid_from), str(r.valid_to),
                       bool(r.is_current)) for r in df.collect())

    def sync(job, rows, day, **kw):
        spark.createDataFrame(rows, "k long, v string").write.mode(
            "overwrite").parquet(src)
        out = job.run_scd2(spark, ["k"], batch_date=day, **kw)
        return tuple(out.get(c) for c in ("versions_opened",
                                          "versions_closed",
                                          "rows_applied", "history_rows"))

    day = "2026-02-01"
    for rows, d, kw, counts in [
            ([(1, "A"), (2, "B")], "2026-01-01", {}, (2, 0, None, 2)),
            ([(1, "A"), (2, "B2")], day, {}, (1, 1, 2, 3)),
            ([(1, "A"), (2, "B3"), (3, "C")], day, {}, (1, 0, 2, 4)),
            ([(1, "A"), (2, "B4"), (3, "C")], day, {}, (0, 0, 1, 4)),
            ([(2, "B4")], day, {"close_deleted": True}, (0, 1, 2, 3)),
            ([(1, "A2"), (2, "B4"), (3, "C2")], day, {}, (2, 0, 2, 5))]:
        assert [sync(job, rows, d, **kw) for job in (jdbc, files)] == [
            counts, counts]
        assert history(_read(spark, derby_opts, "t_scd2_same")) == history(
            spark.read.parquet(str(tmp_path / "same_hist")))
    assert history(_read(spark, derby_opts, "t_scd2_same")) == [
        (1, "A", "2026-01-01", day, False),
        (1, "A2", day, "None", True),
        (2, "B", "2026-01-01", day, False),
        (2, "B4", day, "None", True),
        (3, "C2", day, "None", True)]


def test_scd2_stream_jdbc_takes_two_changes_of_a_key_on_one_day(
        spark, derby_opts, tmp_path):
    """run_scd2_stream into a JDBC history, two micro-batches changing
    one key on one day: the first closes the key's version and opens
    one from that day, the second rewrites that version in place. The
    second used to stop the stream with a refusal."""
    import shutil

    src = str(tmp_path / "scd_stream_src")
    ckpt = str(tmp_path / "ckpt")
    job = MigrationJob(source_path=src, destination_path="t_scd2_stream",
                       destination_format="jdbc",
                       destination_jdbc=derby_opts, mode="append")

    def arrive(rows, day):
        spark.createDataFrame(rows, "k long, v string").coalesce(1).write \
            .mode("append").parquet(src)
        shutil.rmtree(f"{src}/_spark_metadata", ignore_errors=True)
        out = job.run_scd2_stream(spark, ckpt, ["k"], batch_date=day)
        return out["batches"], out["versions_opened"], out["versions_closed"]

    assert arrive([(1, "A"), (2, "B")], "2026-01-01") == (1, 2, 0)
    assert arrive([(1, "A2")], "2026-02-01") == (1, 1, 1)
    assert arrive([(1, "A3")], "2026-02-01") == (1, 0, 0)
    rows = sorted((r.k, r.v, str(r.valid_from), str(r.valid_to),
                   bool(r.is_current))
                  for r in _read(spark, derby_opts, "t_scd2_stream").collect())
    assert rows == [(1, "A", "2026-01-01", "2026-02-01", False),
                    (1, "A3", "2026-02-01", "None", True),
                    (2, "B", "2026-01-01", "None", True)]


def test_scd2_refuses_an_earlier_batch_date(spark, derby_opts, tmp_path):
    """A batch_date earlier than a date already in the history is refused
    before anything is written, into files and into JDBC alike. Folding
    it would close key 1's current version before it opened and open a
    second version of key 1 from 2026-01-01, or open a version of key 3
    overlapping the one closed as deleted on 2026-02-01."""
    from data_warehouse_migrate_spark.exceptions import ConfigurationError

    src = str(tmp_path / "order_src.parquet")
    jdbc = MigrationJob(source_path=src, destination_path="t_scd2_order",
                        destination_format="jdbc",
                        destination_jdbc=derby_opts, mode="append")
    files = MigrationJob(source_path=src,
                         destination_path=str(tmp_path / "order_hist"),
                         mode="overwrite")

    def histories():
        return [sorted((r.k, r.v, str(r.valid_from), str(r.valid_to),
                        bool(r.is_current)) for r in df.collect())
                for df in (_read(spark, derby_opts, "t_scd2_order"),
                           spark.read.parquet(str(tmp_path / "order_hist")))]

    def sync(rows, day, **kw):
        spark.createDataFrame(rows, "k long, v string").write.mode(
            "overwrite").parquet(src)
        for job in (jdbc, files):
            job.run_scd2(spark, ["k"], batch_date=day, **kw)

    sync([(1, "A"), (3, "X")], "2026-01-01")
    sync([(1, "B")], "2026-02-01", close_deleted=True)
    folded = histories()
    assert folded[0] == folded[1] == [
        (1, "A", "2026-01-01", "2026-02-01", False),
        (1, "B", "2026-02-01", "None", True),
        (3, "X", "2026-01-01", "2026-02-01", False)]
    for rows, day in [([(1, "C")], "2026-01-01"), ([(3, "Y")], "2026-01-15")]:
        with pytest.raises(ConfigurationError, match="precedes"):
            sync(rows, day)
        assert histories() == folded


def test_run_scd2_jdbc_spark_job_counts(spark, derby_opts, tmp_path):
    """The second-run run_scd2 of ``test_run_scd2_spark_job_counts``
    into a JDBC table takes the same path as into files: the
    checkpoint's pass runs the fold and counts its marks, and the staged
    MERGE reads the changed versions from the checkpoint, which is not
    cached a second time. The source's schema comes from a Parquet
    footer. It was 12 jobs / 39 tasks while a JDBC history was persisted
    and counted on a path of its own, and 7 / 15 while the source's
    schema was inferred."""
    from test_migrate import _sync_cost

    out, jobs, tasks = _sync_cost(spark, tmp_path, "scd2", "changed",
                                  jdbc=derby_opts)
    assert (out["versions_opened"], out["versions_closed"],
            out["history_rows"]) == (50, 50, 1050)
    assert out["jdbc_apply"] == {"staged": 100, "applied": 100}
    assert (jobs, tasks) == (6, 14)


def test_type_override_quotes_the_column_name(spark, derby_opts, tmp_path):
    """A type_override on a column whose name needs quoting creates that
    column with the override's type; the unquoted name used to fail to
    parse."""
    from data_warehouse_migrate_spark.operators.delta import _jdbc_connection

    src = str(tmp_path / "spaced_src.parquet")
    spark.createDataFrame([(1, "9.50"), (2, "12.00")],
                          "`k` long, `unit price` string").write.parquet(src)
    out = MigrationJob(
        source_path=src, destination_path="t_spaced",
        destination_format="jdbc", destination_jdbc=derby_opts,
        mode="overwrite",
        mapping={"type_override": {"unit price": "VARCHAR(20)"}}).run(spark)
    assert out["rows_written"] == 2
    conn = _jdbc_connection(spark, derby_opts)
    try:
        col = conn.getMetaData().getColumns(None, None, "T_SPACED",
                                            "unit price")
        assert col.next()
        assert (col.getString("TYPE_NAME"), col.getInt("COLUMN_SIZE")) == (
            "VARCHAR", 20)
    finally:
        conn.close()
