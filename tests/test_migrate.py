"""End-to-end migration pipeline on driver testdata (t1-smoke shape):
read → prune → cast → map → constrain → write, plus plan-quality asserts
(shuffle-free, pushdown)."""

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.migrate import MigrationJob
from data_warehouse_migrate_spark.plans.dryrun import plan_report
from data_warehouse_migrate_spark.sources.readers import (
    latest_partition_filter,
    latest_partition_values,
    validate_table_access,
)


@pytest.fixture()
def orders_path(sf_dir):
    return f"{sf_dir}/orders.parquet"


def test_migrate_end_to_end(spark, orders_path, tmp_path):
    dest = str(tmp_path / "orders_out")
    job = MigrationJob(
        source_path=orders_path,
        destination_path=dest,
        mode="overwrite",
        mapping={
            "exclude": ["o_orderpriority"],
            "rename": {"o_totalprice": "total_price"},
            "computed": {"status_tag": "concat('S-', o_orderstatus)"},
            "order": ["o_orderkey", "total_price"],
        },
    )
    result = job.run(spark)
    assert result["status"] == "success"
    out = spark.read.parquet(dest)
    src_count = spark.read.parquet(orders_path).count()
    assert result["destination_rows"] == src_count
    assert out.columns[:2] == ["o_orderkey", "total_price"]
    assert "o_orderpriority" not in out.columns
    row = out.orderBy("o_orderkey").first()
    assert row.status_tag.startswith("S-")


def test_migrate_append_vs_overwrite(spark, orders_path, tmp_path):
    dest = str(tmp_path / "modes_out")
    job = MigrationJob(source_path=orders_path, destination_path=dest, mode="overwrite")
    n = job.run(spark)["destination_rows"]
    assert MigrationJob(source_path=orders_path, destination_path=dest,
                        mode="append").run(spark)["destination_rows"] == 2 * n
    assert MigrationJob(source_path=orders_path, destination_path=dest,
                        mode="overwrite").run(spark)["destination_rows"] == n


def test_pipeline_is_shuffle_free(spark, orders_path):
    job = MigrationJob(
        source_path=orders_path, destination_path="/tmp/unused",
        mapping={"computed": {"tag": "upper(o_orderstatus)"}},
        non_nullable=["o_orderkey"], null_policy="skip",
    )
    report = plan_report(job.build_plan(spark))
    assert report["num_exchanges"] == 0          # scan→map→filter: narrow only
    assert not report["has_python_udf"]          # everything JVM-side
    assert report["whole_stage_codegen"]


def test_column_pruning_reaches_scan(spark, orders_path):
    job = MigrationJob(source_path=orders_path, destination_path="/tmp/unused",
                       mapping={"include": ["o_orderkey", "o_totalprice"]})
    report = plan_report(job.build_plan(spark))
    # ReadSchema must not contain the excluded columns (scan-level pruning)
    assert report["read_schema"], report
    assert "o_orderpriority" not in report["read_schema"][0]


def test_latest_partition_pruning(spark):
    df = spark.createDataFrame(
        [(1, "20240101"), (2, "20240102"), (3, "20240102"), (4, None)],
        "id int, pt string")
    assert latest_partition_values(df, ["pt"]) == {"pt": "20240102"}
    out = latest_partition_filter(df, ["pt"])
    assert sorted(r.id for r in out.collect()) == [2, 3]


def test_full_scan_guard_when_unprunable(spark):
    df = spark.createDataFrame([(i, None) for i in range(10)], "id int, pt string")
    out = latest_partition_filter(df, ["pt"], guard_limit=3)
    assert out.count() == 3


def test_access_probe(spark, orders_path):
    assert validate_table_access(spark.read.parquet(orders_path))
    bad = spark.createDataFrame([(1,)], "x int").filter(
        F.assert_true(F.col("x") > 99).isNull())
    assert validate_table_access(bad) is False


def test_dry_run_reports_without_writing(spark, orders_path, tmp_path):
    dest = str(tmp_path / "never_written")
    job = MigrationJob(source_path=orders_path, destination_path=dest,
                       mapping={"rename": {"o_orderkey": "key"}})
    report = job.dry_run(spark)
    assert report["source_accessible"] is True
    assert ("key", "bigint") in report["output_schema"]
    assert report["mapping_summary"]["rename"] == {"o_orderkey": "key"}
    assert "Scan parquet" in report["physical_plan"] or "FileScan" in report["physical_plan"]
    import os
    assert not os.path.exists(dest)


def test_dry_run_defers_eager_checks(spark, tmp_path):
    # a source with NULLs in a non-nullable column under policy='fail':
    # dry_run must plan (and report the planned check) WITHOUT running the
    # null-count aggregate or resolving partition maxima; run() enforces
    src = str(tmp_path / "nullable_src")
    spark.createDataFrame(
        [(1, "a", "p1"), (None, "b", "p2")], "id int, v string, pt string"
    ).write.parquet(src)
    job = MigrationJob(source_path=src, destination_path=str(tmp_path / "out"),
                       mode="overwrite", non_nullable=["id"],
                       null_policy="fail", partition_columns=["pt"])
    # must not raise NullPolicyViolation; only the LIMIT-1 access probe
    # (the probe and the plan share the read, whose schema comes from a
    # footer: 2 jobs while it was inferred)
    report, jobs, _ = _spark_jobs(spark, lambda: job.dry_run(spark))
    assert jobs == 1
    assert report["planned_checks"]["null_policy"] == {
        "policy": "fail", "columns": ["id"]}
    assert report["planned_checks"]["partition_filter"] == "latest of ['pt']"

    from data_warehouse_migrate_spark.operators.constraints import NullPolicyViolation
    # the run path still enforces: latest partition p2 holds the NULL row
    with pytest.raises(NullPolicyViolation):
        job.run(spark)


def test_rows_written_vs_destination_rows(spark, orders_path, tmp_path):
    dest = str(tmp_path / "rows_out")
    n = MigrationJob(source_path=orders_path, destination_path=dest,
                     mode="overwrite").run(spark)
    assert n["rows_written"] == n["destination_rows"]
    m = MigrationJob(source_path=orders_path, destination_path=dest,
                     mode="append").run(spark)
    # append reports only what THIS run wrote; destination holds both
    assert m["rows_written"] == n["rows_written"]
    assert m["destination_rows"] == 2 * n["rows_written"]


def test_type_override_reaches_jdbc_writer(spark, orders_path, monkeypatch):
    # C6: Mapping.type_override must surface as createTableColumnTypes on
    # the write path (reference schema_mapper.py:122-128)
    import data_warehouse_migrate_spark.migrate as mig

    seen = {}

    def fake_write(df, path, fmt="parquet", mode="append", jdbc_options=None,
                   create_table_column_types=None, partition_by=None, **opts):
        seen["ctypes"] = create_table_column_types
        df.count()  # trigger the observed plan so run()'s Observation fires

    monkeypatch.setattr(mig, "write_table", fake_write)
    job = MigrationJob(
        source_path=orders_path, destination_path="jdbc_table",
        destination_format="jdbc",
        mapping={"include": ["o_orderkey", "o_orderstatus"],
                 "type_override": {"o_orderstatus": "VARCHAR(255)"}})
    out = job.run(spark)
    assert seen["ctypes"] == "`o_orderstatus` VARCHAR(255)"
    assert out["rows_written"] > 0
    assert out["destination_rows"] is None  # no post-write JDBC full scan


def test_connection_probes(spark, orders_path, tmp_path):
    ok = MigrationJob(source_path=orders_path,
                      destination_path=str(tmp_path / "dst")).test_connections(spark)
    assert ok == {"source": True, "destination": True}
    bad = MigrationJob(source_path=str(tmp_path / "missing_src"),
                       destination_path=str(tmp_path / "dst")).test_connections(spark)
    assert bad["source"] is False


def test_partition_columns_dropped_from_destination(spark, tmp_path):
    src = str(tmp_path / "partitioned_src")
    dest = str(tmp_path / "partitioned_dest")
    spark.createDataFrame(
        [(1, "a", "20240101"), (2, "b", "20240102")], "id int, v string, pt string"
    ).write.mode("overwrite").parquet(src)
    job = MigrationJob(source_path=src, destination_path=dest, mode="overwrite",
                       partition_columns=["pt"])
    job.run(spark)
    out = spark.read.parquet(dest)
    assert "pt" not in out.columns
    assert [r.id for r in out.collect()] == [2]  # latest partition only


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located bucketed tables must sort-merge join without Exchange."""
    from data_warehouse_migrate_spark.plans.dryrun import explain_plan
    from data_warehouse_migrate_spark.sources.sinks import write_bucketed

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(o.select("o_orderkey", "o_custkey", "o_totalprice"),
                   "bkt_orders", ["o_custkey"], n_buckets=8,
                   sort_cols=["o_custkey"])
    write_bucketed(c.select("c_custkey", "c_name"),
                   "bkt_customer", ["c_custkey"], n_buckets=8,
                   sort_cols=["c_custkey"])
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (spark.table("bkt_orders")
                  .join(spark.table("bkt_customer"),
                        F.col("o_custkey") == F.col("c_custkey")))
        plan = explain_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == o.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Hive-partitioned sink layout must let a filtered read prune files."""
    from data_warehouse_migrate_spark.sources.sinks import write_table

    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM")))
    path = str(tmp_path / "orders_by_month")
    write_table(o, path, fmt="parquet", mode="overwrite",
                partition_by=["order_month"])
    back = spark.read.parquet(path)
    months = sorted(r.order_month for r in
                    back.select("order_month").distinct().collect())
    pick = months[len(months) // 2]
    filtered = back.filter(F.col("order_month") == pick)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_month" in plan, plan
    expected = o.filter(F.col("order_month") == pick).count()
    assert filtered.count() == expected


def test_run_stream_incremental(spark, sf_dir, tmp_path):
    """Streaming migration: drain existing files, then migrate ONLY the
    delta on the next run (checkpoint-scoped incrementality), applying the
    same mapping chain as the batch path."""
    import shutil

    src = str(tmp_path / "stream_src")
    dest = str(tmp_path / "stream_dest")
    ckpt = str(tmp_path / "stream_ckpt")
    base = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(400)
    base.write.mode("overwrite").parquet(src)
    shutil.rmtree(f"{src}/_spark_metadata", ignore_errors=True)

    mapping = {"rename": {"o_totalprice": "total_price"},
               "computed": {"status_tag": "concat('S-', o_orderstatus)"}}
    job = MigrationJob(source_path=src, destination_path=dest,
                       mode="overwrite", mapping=mapping)
    r1 = job.run_stream(spark, ckpt)
    assert r1["status"] == "success"
    assert r1["rows_written"] == 400
    got = spark.read.parquet(dest)
    assert "total_price" in got.columns and "status_tag" in got.columns
    assert got.count() == 400

    # new file arrives; a fresh catch-up run migrates ONLY the delta
    delta = (spark.read.parquet(f"{sf_dir}/orders.parquet")
             .orderBy("o_orderkey").limit(100))
    delta.coalesce(1).write.mode("append").parquet(src)
    r2 = job.run_stream(spark, ckpt)
    assert r2["rows_written"] == 100  # not 500: checkpoint skips old files
    assert spark.read.parquet(dest).count() == 500  # appended, not clobbered


def test_run_stream_rejects_unsupported(spark, sf_dir, tmp_path):
    job = MigrationJob(source_path=f"{sf_dir}/orders.parquet",
                       destination_path=str(tmp_path / "d"),
                       source_format="jdbc")
    with pytest.raises(ValueError, match="file-based"):
        job.run_stream(spark, str(tmp_path / "c"))
    job2 = MigrationJob(source_path=f"{sf_dir}/orders.parquet",
                        destination_path=str(tmp_path / "d"), limit=10)
    with pytest.raises(ValueError, match="NEW files"):
        job2.run_stream(spark, str(tmp_path / "c"))


def test_run_stream_always_on(spark, sf_dir, tmp_path):
    """processing_time mode returns a live query immediately; totals
    advance as batches commit; the caller owns stop()."""
    import time

    src = str(tmp_path / "ao_src")
    dest = str(tmp_path / "ao_dest")
    spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100) \
        .write.parquet(src)
    job = MigrationJob(source_path=src, destination_path=dest, mode="append")
    with pytest.raises(ValueError, match="processing_time"):
        job.run_stream(spark, str(tmp_path / "ao_ckpt0"),
                       available_now=False)
    r = job.run_stream(spark, str(tmp_path / "ao_ckpt"),
                       available_now=False, processing_time="1 seconds")
    q = r["query"]
    try:
        assert r["status"] == "running"
        deadline = time.time() + 60
        while r["totals"]["batches"] == 0 and time.time() < deadline:
            time.sleep(0.5)
        assert r["totals"] == {"rows_written": 100, "batches": 1}
        assert spark.read.parquet(dest).count() == 100
    finally:
        q.stop()


def test_run_incremental_sync(spark, tmp_path):
    """Incremental sync e2e: first run falls back to full migrate; the
    second ships only the insert/update/delete delta and converges the
    destination to the new source state."""
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    dst = str(tmp_path / "dst")
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    ).write.parquet(src1)
    # evolved snapshot: keys 0,1 gone (deletes), every k%10==3 repriced
    # (updates), keys 200,201 new (inserts)
    spark.createDataFrame(
        [(i, float(i) if i % 10 != 3 else -1.0) for i in range(2, 100)]
        + [(200, 0.5), (201, 1.5)], "k long, v double"
    ).write.parquet(src2)

    r1 = MigrationJob(source_path=src1, destination_path=dst,
                      mode="overwrite").run_incremental(spark, ["k"])
    assert r1["incremental"] is False and r1["rows_written"] == 100

    r2 = MigrationJob(source_path=src2,
                      destination_path=dst).run_incremental(spark, ["k"])
    assert r2["incremental"] is True
    assert r2["delta_counts"] == {"insert": 2, "update": 10, "delete": 2,
                                  "unchanged": 88}
    assert r2["rows_applied"] == 14
    got = sorted(map(tuple, spark.read.parquet(dst).collect()))
    want = sorted(map(tuple, spark.read.parquet(src2).collect()))
    assert got == want

    # converged: a third run is a no-op (nothing rewritten)
    r3 = MigrationJob(source_path=src2,
                      destination_path=dst).run_incremental(spark, ["k"])
    assert r3["rows_applied"] == 0 and r3["delta_counts"] == {"unchanged": 100}


def test_run_incremental_unpersists_on_failing_apply(spark, tmp_path):
    """A failing sync must not leave anything cached. Failure injection:
    the evolved source DROPPED a destination column, so resolving the
    next snapshot's schema (the destination's columns) raises at
    analysis, before any job runs and before anything could be cached;
    only a JDBC destination persists its delta, inside a try/finally."""
    import pytest as _pytest

    src1 = str(tmp_path / "unp_src1")
    src2 = str(tmp_path / "unp_src2")
    dst = str(tmp_path / "unp_dst")
    spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b")], "k long, v double, s string"
    ).write.parquet(src1)
    spark.createDataFrame(
        [(1, 9.0), (2, 2.0)], "k long, v double").write.parquet(src2)
    MigrationJob(source_path=src1, destination_path=dst,
                 mode="overwrite").run_incremental(spark, ["k"])

    # Compare RDD id SETS, not counts: the ContextCleaner may reap an
    # earlier test's weakly-referenced cached RDD between the two reads
    # (count-based comparison flaked in full-suite runs). The invariant
    # under test is that no NEW cache entry survives the failed apply.
    def rdd_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc()
                .getRDDStorageInfo()}

    before = rdd_ids()
    with _pytest.raises(Exception):
        MigrationJob(source_path=src2,
                     destination_path=dst).run_incremental(spark, ["k"])
    assert not (rdd_ids() - before)  # no cached delta survives the failure


def test_run_incremental_jdbc_guard_precedes_probe(spark, tmp_path):
    """The subset-source guard fires BEFORE any JDBC work: a limited
    source must be refused for a JDBC destination too (it would classify
    every out-of-subset key as a delete). The full live MERGE path is
    covered in tests/test_jdbc_derby.py."""
    import pytest as _pytest

    job = MigrationJob(source_path=str(tmp_path / "s"),
                       destination_path="sometable",
                       destination_format="jdbc", limit=10)
    with _pytest.raises(ValueError, match="FULL source snapshot"):
        job.run_incremental(spark, ["k"])


def test_verify_after_migration(spark, orders_path, tmp_path):
    """verify(): counts + order-independent checksum match after run();
    a corrupted destination cell flips verified to False."""
    dest = str(tmp_path / "orders_verify")
    job = MigrationJob(
        source_path=orders_path, destination_path=dest, mode="overwrite",
        mapping={"rename": {"o_totalprice": "total_price"}},
    )
    job.run(spark)
    rep = job.verify(spark)
    assert rep["verified"] is True and rep["checksum_match"] is True
    assert rep["source_rows"] == rep["destination_rows"]
    # stable-rendering columns only: the double + timestamp are skipped
    assert "o_orderkey" in rep["columns_checked"]
    assert set(rep["skipped_columns"]) == {"total_price", "o_orderdate"}

    # corrupt one cell in the destination, same row count
    broken = spark.read.parquet(dest).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") == 1, F.lit("CORRUPTED"))
        .otherwise(F.col("o_orderpriority")))
    broken.localCheckpoint(eager=True).write.mode("overwrite").parquet(dest)
    rep2 = job.verify(spark)
    assert rep2["verified"] is False
    assert rep2["checksum_match"] is False
    assert rep2["source_rows"] == rep2["destination_rows"]


def test_verify_counts_only_and_empty_sides(spark, tmp_path):
    """With no stable-rendering column verify() compares the row counts
    alone; an empty source and destination verify with 0 rows each and
    both checksums None."""
    src, dest = str(tmp_path / "floats"), str(tmp_path / "floats_dest")
    spark.createDataFrame([(0.5,), (1.5,)], "x double").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path=dest,
                       mode="overwrite")
    job.run(spark)
    assert job.verify(spark) == {
        "verified": True, "source_rows": 2, "destination_rows": 2,
        "checksum_match": None, "columns_checked": [],
        "skipped_columns": ["x"]}
    spark.createDataFrame([(2.5,)], "x double").write.mode("append") \
        .parquet(dest)
    rep = job.verify(spark)
    assert (rep["verified"], rep["destination_rows"]) == (False, 3)

    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "id long, s string").write.parquet(empty)
    job = MigrationJob(source_path=empty, destination_path=dest,
                       mode="overwrite")
    assert job.run(spark)["destination_rows"] == 0
    assert job.verify(spark) == {
        "verified": True, "source_rows": 0, "destination_rows": 0,
        "checksum_match": True, "columns_checked": ["id", "s"],
        "skipped_columns": []}


def test_run_incremental_reconciles_drift(spark, tmp_path):
    """A source that gained a column and widened a type still syncs when
    reconcile_drift=True; without it the union in apply_delta fails."""
    dest = str(tmp_path / "drift_dest")
    src1 = str(tmp_path / "drift_src1")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k bigint, v int, s string"
    ).write.parquet(src1)
    job = MigrationJob(source_path=src1, destination_path=dest,
                       mode="overwrite")
    job.run(spark)

    # drifted source: v widened int->bigint, new column 'extra', row 2
    # updated, row 3 inserted
    src2 = str(tmp_path / "drift_src2")
    spark.createDataFrame(
        [(1, 10, "a", 0.5), (2, 99, "b", 0.6), (3, 30, "c", 0.7)],
        "k bigint, v bigint, s string, extra double"
    ).write.parquet(src2)
    job2 = MigrationJob(source_path=src2, destination_path=dest,
                        mode="overwrite")
    # NOTE: dest.v is int; source v bigint -> narrowing (error) unless the
    # values fit; the documented posture is to raise. Widen the dest
    # instead: re-create it as bigint to exercise the widening direction.
    spark.read.parquet(dest).withColumn(
        "v", F.col("v").cast("bigint")).localCheckpoint(
        eager=True).write.mode("overwrite").parquet(dest)
    out = job2.run_incremental(spark, ["k"], reconcile_drift=True)
    assert out["delta_counts"] == {"unchanged": 1, "update": 1, "insert": 1}
    back = {r.k: (r.v, r.s) for r in spark.read.parquet(dest).collect()}
    assert back == {1: (10, "a"), 2: (99, "b"), 3: (30, "c")}
    assert "extra" not in spark.read.parquet(dest).columns


def test_parquet_footer_stats_matches_scan(spark, sf_dir, tmp_path):
    from data_warehouse_migrate_spark.sources.readers import (
        parquet_footer_stats,
    )

    path = f"{sf_dir}/orders.parquet"
    stats = parquet_footer_stats(path, columns=["o_orderkey", "o_custkey"])
    df = spark.read.parquet(path)
    agg = df.agg(F.count("*").alias("n"),
                 F.min("o_orderkey").alias("mn"),
                 F.max("o_orderkey").alias("mx")).first()
    assert stats["n_rows"] == agg.n
    assert stats["columns"]["o_orderkey"]["min"] == agg.mn
    assert stats["columns"]["o_orderkey"]["max"] == agg.mx
    assert stats["total_bytes"] > 0 and stats["n_files"] >= 1

    # clustered output: per-file probe shows the disjoint layout
    out = str(tmp_path / "clustered_stats")
    from data_warehouse_migrate_spark.sources.sinks import write_clustered
    write_clustered(df, out, ["o_orderkey"], n_files=4)
    whole = parquet_footer_stats(out, columns=["o_orderkey"])
    assert whole["n_files"] == 4
    assert whole["n_rows"] == agg.n
    assert whole["columns"]["o_orderkey"]["min"] == agg.mn

    import pytest

    with pytest.raises(FileNotFoundError):
        parquet_footer_stats(str(tmp_path / "nope"))


def test_verify_append_mode_is_not_verifiable(spark, orders_path, tmp_path):
    """APPEND destinations accumulate rows across runs — whole-snapshot
    equality is structurally meaningless, so verify() declines with
    verified=None instead of raising a false alarm."""
    dest = str(tmp_path / "append_verify")
    job = MigrationJob(source_path=orders_path, destination_path=dest,
                      mode="append")
    job.run(spark)
    job.run(spark)   # second append doubles the destination
    rep = job.verify(spark)
    assert rep["verified"] is None
    assert "append" in rep["reason"]


def test_run_stream_relative_single_file(spark, tmp_path, monkeypatch):
    """A bare file name streams from the caller's working directory: the
    single-file glob falls back to the file's own directory instead of an
    empty load path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": list(range(20)),
                             "s": [f"v{i}" for i in range(20)]}),
                   tmp_path / "one.parquet")
    pq.write_table(pa.table({"k": [99], "s": ["other"]}),
                   tmp_path / "two.parquet")
    monkeypatch.chdir(tmp_path)
    dest = str(tmp_path / "rel_dest")
    job = MigrationJob(source_path="one.parquet", destination_path=dest,
                       mode="overwrite")
    out = job.run_stream(spark, str(tmp_path / "rel_ckpt"))
    assert out["rows_written"] == 20  # one.parquet only, not two.parquet
    assert sorted(r.k for r in spark.read.parquet(dest).collect()) == \
        list(range(20))


def test_verify_checks_what_run_wrote(spark, tmp_path):
    """verify() checksums the plan run() wrote: a newer partition that
    lands in between neither changes the compared source rows nor needs
    a staleness caveat."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "pt_src"
    for pt, ids in (("p1", range(0, 5)), ("p2", range(5, 12))):
        (src / f"pt={pt}").mkdir(parents=True)
        pq.write_table(pa.table({"id": list(ids)}),
                       src / f"pt={pt}" / "part-00000.parquet")
    job = MigrationJob(source_path=str(src),
                       destination_path=str(tmp_path / "pt_dest"),
                       mode="overwrite", partition_columns=["pt"])
    assert job.run(spark)["rows_written"] == 7
    (src / "pt=p3").mkdir()
    pq.write_table(pa.table({"id": list(range(100, 130))}),
                   src / "pt=p3" / "part-00000.parquet")
    rep = job.verify(spark)
    assert rep["verified"] is True
    assert rep["source_rows"] == rep["destination_rows"] == 7
    assert "caveat" not in rep


def _spark_jobs(spark, fn):
    """(fn(), Spark jobs it submitted, tasks those jobs ran), counted by
    job group."""
    import uuid

    sc = spark.sparkContext
    group = f"dwms-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed asynchronously: let it see every job end
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(tracker.getStageInfo(s).numCompletedTasks
                for j in jobs for s in tracker.getJobInfo(j).stageIds
                if tracker.getStageInfo(s) is not None)
    return out, len(jobs), tasks


def _py4j_round_trips(spark, fn):
    """(fn(), py4j round trips it made), counted by wrapping the gateway
    client's ``send_command``: every call into the JVM, building a plan
    as much as running one, is one command. Releases of JVM objects
    (the 'm' commands Python's collectors send) are left out: how many
    land in a call depends on what earlier code left to free."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        n += not command.startswith("m\n")
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command  # the class's method again
    return out, n


def _daily_job(tmp_path):
    """The nightly latest-partition shape: 40 ``dt=`` partitions (over
    Spark's default 32-path parallel-listing threshold), declared source
    types, a mapping, destination defaults, the 'fail' null policy and
    the sized sink."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_migrate_spark.schema import ColumnSpec

    src = tmp_path / "daily_src"
    for d in range(40):
        part = src / f"dt={dt.date(2024, 3, 1) + dt.timedelta(days=d)}"
        part.mkdir(parents=True)
        ids = list(range(d * 20, (d + 1) * 20))
        pq.write_table(pa.table({"id": ids,
                                 "cat": [f"c{j % 3}" for j in ids],
                                 "qty": [str(j) for j in ids]}),
                       part / "part-00000.parquet")
    return MigrationJob(
        source_path=str(src), destination_path=str(tmp_path / "daily_dest"),
        mode="overwrite",
        source_schema=[ColumnSpec("id", "bigint"), ColumnSpec("cat", "string"),
                       ColumnSpec("qty", "bigint")],
        mapping={"rename": {"qty": "quantity"},
                 "computed": {"sku": "concat(cat, '-', id)"}},
        dest_schema=[
            {"name": "id", "type": "bigint", "is_nullable": False,
             "default": None},
            {"name": "sku", "type": "varchar(32)", "is_nullable": False,
             "default": None},
            {"name": "quantity", "type": "bigint", "is_nullable": False,
             "default": "0"},
            {"name": "note", "type": "varchar(32)", "is_nullable": True,
             "default": "n/a"}],
        non_nullable=["id", "sku", "quantity"], null_policy="fail",
        partition_columns=["dt"], target_file_mb=1)


def test_run_and_verify_spark_job_counts(spark, tmp_path):
    """Pinned Spark job and task counts on :func:`_daily_job`'s nightly
    shape. run() submits 4 jobs: one AQE shuffle + result pair each for
    the pre-write gate (null check and sizing in one aggregate) and the
    sized write. The source's schema, the emptiness of the newest
    ``dt=`` and the destination's row count come from Parquet footers
    read on the driver (they were 4 more jobs: the inference, a LIMIT-1
    probe and a two-job count). Its task total shows that no job fans
    out over the 40 directories. verify() reuses that plan and reads the
    destination's schema from a footer, so it submits only the one
    shuffle + result pair that checksums both sides (5 jobs while each
    side had its own aggregate and the schema was inferred)."""
    job = _daily_job(tmp_path)
    out, run_jobs, run_tasks = _spark_jobs(spark, lambda: job.run(spark))
    assert out["rows_written"] == 20
    rep, verify_jobs, _ = _spark_jobs(spark, lambda: job.verify(spark))
    assert rep["verified"] is True and rep["source_rows"] == 20
    assert (run_jobs, run_tasks, verify_jobs) == (4, 4, 2)


def test_run_and_verify_py4j_round_trips(spark, tmp_path):
    """Each plan stage (casts, mapping, projection, backfill, the gate's
    aggregate, the checksum) is built as SQL text in one py4j call, so
    the round trips of a run() and a verify() on :func:`_daily_job`'s
    shape stay near the fixed cost of reading, probing and writing
    (165 and 43; 248 and 48 while the partition listing read the file
    list one element per round trip and a footer schema went through
    PySpark's session lookup; 276 and 55 before footers replaced the
    inference, the probe, the read-back count and one checksum
    aggregate). Built as Column trees, one round trip per node, the
    stages cost 888 and 831 here."""
    job = _daily_job(tmp_path)
    job.run(spark)  # warm: first-use lookups are not the stages' cost
    job.verify(spark)
    out, run_trips = _py4j_round_trips(spark, lambda: job.run(spark))
    assert out["rows_written"] == 20
    rep, verify_trips = _py4j_round_trips(spark, lambda: job.verify(spark))
    assert rep["verified"] is True
    assert run_trips <= 180 and verify_trips <= 50, (run_trips,
                                                     verify_trips)


def test_run_incremental_first_run_builds_plan_once(spark, tmp_path,
                                                   monkeypatch):
    """A first run_incremental writes the plan it built for the diff
    instead of handing over to run(), which would read the source again."""
    src = str(tmp_path / "inc_src")
    spark.createDataFrame([(i, f"v{i}") for i in range(30)],
                          "k long, s string").write.parquet(src)
    builds = []
    build_plan = MigrationJob.build_plan

    def counting_build_plan(self, *args, **kwargs):
        builds.append(args)
        return build_plan(self, *args, **kwargs)

    monkeypatch.setattr(MigrationJob, "build_plan", counting_build_plan)
    job = MigrationJob(source_path=src,
                       destination_path=str(tmp_path / "inc_dest"),
                       mode="overwrite")
    out = job.run_incremental(spark, ["k"])
    assert out["incremental"] is False and out["rows_written"] == 30
    assert len(builds) == 1
    rep = job.verify(spark)  # reuses the same plan
    assert rep["verified"] is True and len(builds) == 1


def _tree_bytes(root):
    """{relative path: bytes} of every file under ``root`` ({} if absent)."""
    import os

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


_RUNNERS = {
    "run": lambda job, spark, ckpt: job.run(spark),
    "run_incremental": lambda job, spark, ckpt: job.run_incremental(
        spark, ["v"]),
    "run_scd2": lambda job, spark, ckpt: job.run_scd2(
        spark, ["v"], batch_date="2024-01-01"),
    "run_stream": lambda job, spark, ckpt: job.run_stream(spark, ckpt),
}


@pytest.mark.parametrize("runner", sorted(_RUNNERS))
def test_fail_policy_raises_before_any_write(spark, tmp_path, runner):
    """null_policy='fail' with a sized sink: a NULL in a non-nullable
    column raises NullPolicyViolation before the runner writes anything,
    so the destination an earlier run left stays byte-identical."""
    from data_warehouse_migrate_spark.operators.constraints import (
        NullPolicyViolation,
    )

    good, bad = str(tmp_path / "good_src"), str(tmp_path / "bad_src")
    dest = str(tmp_path / "dest")
    spark.createDataFrame([(1, "a"), (2, "b")],
                          "id long, v string").write.parquet(good)
    spark.createDataFrame([(3, "c"), (None, "d")],
                          "id long, v string").write.parquet(bad)

    def job(src):
        return MigrationJob(source_path=src, destination_path=dest,
                            mode="overwrite", non_nullable=["id"],
                            null_policy="fail", target_file_mb=1)

    call = _RUNNERS[runner]
    call(job(good), spark, str(tmp_path / "ckpt_good"))
    before = _tree_bytes(dest)
    assert before
    with pytest.raises(Exception) as e:
        call(job(bad), spark, str(tmp_path / "ckpt_bad"))
    assert "non-nullable constraint violated: id=1 nulls" in str(e.value)
    if runner != "run_stream":  # a stream re-raises it as a query failure
        assert isinstance(e.value, NullPolicyViolation)
        assert e.value.null_counts == {"id": 1}
    assert _tree_bytes(dest) == before


def _snapshot(spark, path):
    """(sorted rows, [(name, type)]) of a file destination."""
    df = spark.read.parquet(path)
    return (sorted(map(tuple, df.collect()), key=repr),
            [(f.name, f.dataType.simpleString()) for f in df.schema.fields])


def test_run_incremental_matches_apply_delta(spark, tmp_path):
    """A file destination after run_incremental holds exactly what the
    delta formula apply_delta(dest, snapshot_delta(src, dest, keys), keys)
    builds: the same row multiset and the same column names, order and
    types. The fixture has inserts, updates, deletes, a NULL-key row, a
    source column narrower than the destination's (int vs bigint), a
    source column order unlike the destination's and write_partition_by."""
    from data_warehouse_migrate_spark.operators.delta import (
        apply_delta,
        delta_counts,
        snapshot_delta,
    )

    src1, src2 = str(tmp_path / "eq_src1"), str(tmp_path / "eq_src2")
    dst = str(tmp_path / "eq_dst")
    spark.createDataFrame(
        [(1, 10, "a", "x"), (2, 20, "b", "x"), (3, 30, "c", "y"),
         (4, 40, "d", "y"), (None, 50, "n", "x")],
        "k bigint, v bigint, s string, p string").write.parquet(src1)
    # key 1 unchanged, 2 and the NULL key updated, 3 deleted, 4 moves
    # partition, 5 and 6 inserted
    spark.createDataFrame(
        [("a", "x", 1, 10), ("B", "x", 2, 20), ("d", "x", 4, 40),
         ("e", "y", 5, 50), ("f", "x", 6, None), ("n", "x", None, 51)],
        "s string, p string, k bigint, v int").write.parquet(src2)

    def job(src):
        return MigrationJob(source_path=src, destination_path=dst,
                            mode="overwrite", write_partition_by=["p"])

    assert job(src1).run_incremental(spark, ["k"])["incremental"] is False
    j2 = job(src2)
    src, dest = j2.build_plan(spark), spark.read.parquet(dst)
    delta = snapshot_delta(src, dest, ["k"])
    want_counts = {r.change_type: r.n_rows
                   for r in delta_counts(delta).collect()}
    nxt = apply_delta(dest, delta, ["k"])
    want_rows = sorted(map(tuple, nxt.collect()), key=repr)
    want_schema = [(f.name, f.dataType.simpleString())
                   for f in nxt.schema.fields]
    assert want_counts == {"unchanged": 1, "update": 3, "insert": 2,
                           "delete": 1}
    assert want_schema == [("k", "bigint"), ("v", "bigint"), ("s", "string"),
                           ("p", "string")]

    out = j2.run_incremental(spark, ["k"])
    assert out["delta_counts"] == want_counts
    assert out["rows_applied"] == 6
    assert _snapshot(spark, dst) == (want_rows, want_schema)
    assert sorted(p.name for p in (tmp_path / "eq_dst").iterdir()
                  if p.is_dir()) == ["p=x", "p=y"]


def test_run_incremental_null_safe_equal_and_converged(spark, tmp_path):
    """The one documented difference from applying the delta: a value
    equal to the destination's under ``<=>`` but not identical (-0.0 vs
    0.0) counts as unchanged, and when other keys force a rewrite the
    destination takes the source's value. A converged sync writes
    nothing: the destination stays byte-identical."""
    import math

    srcs = [str(tmp_path / f"nz_src{i}") for i in range(3)]
    dst = str(tmp_path / "nz_dst")
    for path, rows in zip(srcs, ([(1, -0.0), (2, 2.0)],
                                 [(1, 0.0), (2, 2.0)],
                                 [(1, 0.0), (2, 2.0), (3, 3.0)])):
        spark.createDataFrame(rows, "k long, v double").write.parquet(path)

    def sync(src):
        return MigrationJob(source_path=src, destination_path=dst,
                            mode="overwrite").run_incremental(spark, ["k"])

    def values():
        return {r.k: r.v for r in spark.read.parquet(dst).collect()}

    sync(srcs[0])
    before = _tree_bytes(dst)
    out = sync(srcs[1])
    assert out["delta_counts"] == {"unchanged": 2}
    assert out["rows_applied"] == 0
    assert _tree_bytes(dst) == before
    assert math.copysign(1.0, values()[1]) == -1.0

    out = sync(srcs[2])
    assert out["delta_counts"] == {"unchanged": 2, "insert": 1}
    assert values() == {1: 0.0, 2: 2.0, 3: 3.0}
    assert math.copysign(1.0, values()[1]) == 1.0


def _incremental_pair(spark, tmp_path):
    """(a job factory over a 200-row source it has synced once, its
    destination), with a changed source left in place: 190 rows
    unchanged, 5 updated, 5 deleted and 5 inserted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_migrate_spark.schema import ColumnSpec

    src, dst = tmp_path / "jc_src", tmp_path / "jc_dst"
    src.mkdir()
    ids = list(range(200))
    pq.write_table(pa.table({"id": [str(i) for i in ids],
                             "name": [f"n{i}" for i in ids],
                             "amount": [str(i / 4) for i in ids]}),
                   src / "part-00000.parquet")

    def job():
        return MigrationJob(
            source_path=str(src), destination_path=str(dst),
            mode="overwrite",
            source_schema=[ColumnSpec("id", "bigint"),
                           ColumnSpec("name", "string"),
                           ColumnSpec("amount", "double")])

    job().run_incremental(spark, ["id"])
    ids = list(range(5, 200)) + list(range(1000, 1005))
    pq.write_table(pa.table({"id": [str(i) for i in ids],
                             "name": [f"n{i}" if i % 39 else "changed"
                                      for i in ids],
                             "amount": [str(i / 4) for i in ids]}),
                   src / "part-00000.parquet")
    return job, dst


def test_run_incremental_spark_job_counts(spark, tmp_path):
    """Pinned Spark jobs and tasks of a second-run run_incremental into a
    file destination: four for the delta join's counting aggregate (a
    shuffle job per join side, one for the grouping and a result job)
    and the rewrite, whose plan reads the source alone. Both schemas
    come from Parquet footers (7 jobs / 7 tasks while each side ran an
    inference job). Nothing is cached or checkpointed, and the
    destination is neither re-scanned nor anti-joined."""
    job, dst = _incremental_pair(spark, tmp_path)
    out, jobs, tasks = _spark_jobs(
        spark, lambda: job().run_incremental(spark, ["id"]))
    assert out["delta_counts"] == {"unchanged": 190, "update": 5,
                                   "delete": 5, "insert": 5}
    assert spark.read.parquet(str(dst)).count() == 200
    assert (jobs, tasks) == (5, 5)


def test_run_incremental_py4j_round_trips(spark, tmp_path):
    """A second-run run_incremental builds its casts, its delta join and
    its rewrite projection as SQL text, one py4j call each: 151 round
    trips (139 while both schemas were inferred; 161 while each footer
    schema went through PySpark's session lookup and read its four
    settings one by one, about 11 round trips per read, now 6). Built
    as Column trees they cost 884 here."""
    job, _ = _incremental_pair(spark, tmp_path)
    out, trips = _py4j_round_trips(
        spark, lambda: job().run_incremental(spark, ["id"]))
    assert out["delta_counts"] == {"unchanged": 190, "update": 5,
                                   "delete": 5, "insert": 5}
    assert trips <= 160, trips


def test_run_scd2_first_run_counts_on_the_write(spark, tmp_path):
    """A first run_scd2 counts the history it initializes on the write
    pass (an Observation), not with a count job before it: the write is
    its only Spark job, since the source's schema comes from a footer
    (2 jobs / 2 tasks while it was inferred)."""
    src = str(tmp_path / "scd_src")
    spark.createDataFrame([(i, f"v{i}") for i in range(50)],
                          "k long, v string").coalesce(1).write.parquet(src)
    job = MigrationJob(source_path=src,
                       destination_path=str(tmp_path / "scd_hist"),
                       mode="overwrite")
    out, jobs, tasks = _spark_jobs(
        spark, lambda: job.run_scd2(spark, ["k"], batch_date="2024-01-01"))
    assert out["first_run"] is True
    assert out["history_rows"] == out["versions_opened"] == 50
    assert (jobs, tasks) == (1, 1)


def _write_sync_source(path, changed):
    """1,000 rows in eight parquet files; ``changed`` rewrites the
    payload of every 20th id (50 rows)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    for f in range(8):
        ids = list(range(f * 125, (f + 1) * 125))
        pq.write_table(pa.table({
            "id": ids,
            "v": [f"y{i}" if changed and i % 20 == 0 else f"x{i}"
                  for i in ids]}), path / f"part-{f}.parquet")


def _sync_cost(spark, root, runner, before, sized=False, fail=True,
               jdbc=None):
    """(result, Spark jobs, tasks) of one ``runner`` sync ('incremental'
    or 'scd2') on :func:`_write_sync_source`'s source under ``root``,
    into files or, given ``jdbc`` connection options, into a table.
    ``before``: None measures a first run; 'same' or 'changed' measures
    the run after a first one, on the same or the changed source."""
    kw = dict(non_nullable=["id"], null_policy="fail") if fail else {}
    if jdbc:
        kw.update(destination_path="t_sync", destination_format="jdbc",
                  destination_jdbc=jdbc)
    else:
        kw.update(destination_path=str(root / "dst"))

    def sync(batch_date):
        job = MigrationJob(source_path=str(root / "src"), mode="overwrite",
                           target_file_mb=int(sized), **kw)
        if runner == "incremental":
            return job.run_incremental(spark, ["id"])
        return job.run_scd2(spark, ["id"], batch_date=batch_date)

    _write_sync_source(root / "src", changed=False)
    if before is not None:
        sync("2024-01-01")
        _write_sync_source(root / "src", changed=before == "changed")
    return _spark_jobs(spark, lambda: sync("2024-02-01"))


def test_run_scd2_spark_job_counts(spark, tmp_path):
    """Pinned Spark jobs and tasks of a second-run run_scd2 into a file
    destination under the 'fail' null check: the fold is one join of the
    current versions and the source that marks the versions it closes
    and opens, and the checkpoint the rewrite needs (it overwrites the
    history the fold reads) runs the fold once and counts those marks
    with an Observation. No second diff of the next history against the
    current one, no count job and no second fold; the checkpoint is
    released after the write. The versions closed before the batch skip
    the join's shuffle: their scan is the checkpoint stage's second
    input, 8 of its tasks here. The source's and the history's schemas
    come from Parquet footers. It was 9 jobs / 26 tasks while the fold
    joined the source to the current versions and that result to the
    whole history, and 8 / 25 while both schemas were inferred."""
    out, jobs, tasks = _sync_cost(spark, tmp_path, "scd2", "changed")
    assert (out["versions_opened"], out["versions_closed"],
            out["history_rows"]) == (50, 50, 1050)
    assert spark.read.parquet(str(tmp_path / "dst")).count() == 1050
    assert (jobs, tasks) == (6, 23)


@pytest.mark.parametrize("runner, before, fail, extra", [
    ("incremental", "changed", True, 1),
    ("scd2", None, True, 1),
    ("incremental", "same", False, 0),
])
def test_sized_sync_takes_the_gate_figures(spark, tmp_path, runner, before,
                                           fail, extra):
    """Where the pre-write gate measures the rows a sync writes (it runs
    the 'fail' null check, so sizing shares its aggregate), a sized
    write costs one job over the unsized one, the repartition: the
    second-run run_incremental rewrite and the first-run run_scd2
    write. Without 'fail' the gate measures nothing, so a converged
    sized run_incremental, which writes nothing, costs what an unsized
    one does."""
    unsized, sized = (
        _sync_cost(spark, tmp_path / str(s), runner, before, s, fail)[1]
        for s in (False, True))
    assert sized == unsized + extra


def test_run_scd2_counts_come_from_the_fold(spark, tmp_path):
    """Re-running run_scd2 with the same batch_date after one key's
    payload changed rewrites the version that key opened on that date in
    place: no version opened or closed, one row applied, and the history
    holds no empty version [d, d)."""
    import datetime as dt

    src, dst = str(tmp_path / "same_src"), str(tmp_path / "same_hist")

    def sync(rows):
        spark.createDataFrame(rows, "k long, v string").write.mode(
            "overwrite").parquet(src)
        return MigrationJob(source_path=src, destination_path=dst,
                            mode="overwrite").run_scd2(
            spark, ["k"], batch_date="2024-01-01")

    sync([(1, "a"), (2, "b"), (3, "c")])
    out = sync([(1, "a"), (2, "B"), (3, "c")])
    assert (out["versions_opened"], out["versions_closed"],
            out["rows_applied"], out["history_rows"]) == (0, 0, 1, 3)
    day = dt.date(2024, 1, 1)
    got = sorted(map(tuple, spark.read.parquet(dst).select(
        "k", "v", "valid_from", "valid_to", "is_current").collect()),
        key=repr)
    assert got == sorted([(1, "a", day, None, True),
                          (2, "B", day, None, True),
                          (3, "c", day, None, True)], key=repr)


def test_target_file_mb_sizes_every_runner_write(spark, tmp_path):
    """target_file_mb sizes every file write of a MigrationJob, not only
    run()'s: the run_incremental rewrite, the first-run and the rewrite
    writes of run_scd2 and a run_stream batch each leave as many files as
    run() writes for the same source. The source is eight small files, so
    an unsized write leaves one file per read task; every sized write
    here compacts to what run() writes."""
    import glob

    def source(name, changed):
        path = str(tmp_path / name)
        spark.range(0, 8000, 1, 8).select(
            F.col("id").alias("k"),
            F.when(F.col("id") == changed, F.lit("changed"))
            .otherwise(F.sha2(F.col("id").cast("string"), 256))
            .alias("v")).write.parquet(path)
        return path

    src1, src2 = source("tf_src1", -1), source("tf_src2", 5)

    def job(src, dest):
        return MigrationJob(source_path=src,
                            destination_path=str(tmp_path / dest),
                            mode="overwrite", target_file_mb=1)

    def files(dest):
        return len(glob.glob(str(tmp_path / dest / "part-*")))

    assert job(src1, "tf_run").run(spark)["rows_written"] == 8000
    want = files("tf_run")
    assert want == 1

    job(src1, "tf_inc").run_incremental(spark, ["k"])
    out = job(src2, "tf_inc").run_incremental(spark, ["k"])
    assert out["rows_applied"] == 1
    assert files("tf_inc") == want

    out = job(src1, "tf_scd").run_scd2(spark, ["k"], batch_date="2024-01-01")
    assert out["first_run"] is True
    assert files("tf_scd") == want
    out = job(src2, "tf_scd").run_scd2(spark, ["k"], batch_date="2024-02-01")
    assert (out["versions_opened"], out["versions_closed"]) == (1, 1)
    assert files("tf_scd") == want

    out = job(src1, "tf_stream").run_stream(spark, str(tmp_path / "tf_ckpt"))
    assert (out["rows_written"], out["batches"]) == (8000, 1)
    assert files("tf_stream") == want


@pytest.mark.parametrize("case", ["scd2_first_run", "reconcile_drift",
                                  "extra_source_column"])
def test_sized_write_under_fail_sizes_the_rows_written(spark, tmp_path,
                                                       case):
    """Under 'fail' the pre-write gate measures the gated rows, and a
    sized write takes those figures only if it writes them as they are:
    it leaves as many files as the same write without 'fail', which
    measures what it writes. The first run_scd2 write adds three
    bookkeeping columns to the gated rows; a run_incremental rewrite
    leaves out a wide source column the destination lacks, reconciled
    away or not."""
    import glob

    def source(name, changed, pad):
        path = str(tmp_path / name)
        cols = [F.col("id").alias("k")]
        if case != "scd2_first_run":
            cols.append(F.when(F.col("id") == changed, F.lit("y"))
                        .otherwise(F.lit("x")).alias("v"))
        if pad:
            cols.append(F.repeat(F.lit("p"), 1000).alias("pad"))
        n = 150_000 if case == "scd2_first_run" else 8000
        spark.range(0, n, 1, 4).select(*cols).write.parquet(path)
        return path

    def files(fail):
        dest = str(tmp_path / f"dst_{fail}")
        kw = dict(non_nullable=["k"], null_policy="fail") if fail else {}

        def job(src):
            return MigrationJob(source_path=src, destination_path=dest,
                                mode="overwrite", target_file_mb=1, **kw)

        if case == "scd2_first_run":
            job(src1).run_scd2(spark, ["k"], batch_date="2024-01-01")
        else:
            job(src1).run_incremental(spark, ["k"])
            out = job(src2).run_incremental(
                spark, ["k"], reconcile_drift=case == "reconcile_drift")
            assert out["rows_applied"] == 1
        return len(glob.glob(dest + "/part-*"))

    src1 = source("src1", -1, pad=False)
    src2 = None if case == "scd2_first_run" else source("src2", 5, pad=True)
    want = files(fail=False)
    assert want == (2 if case == "scd2_first_run" else 1)
    assert files(fail=True) == want



def test_hostile_column_names_migrate(spark, tmp_path):
    """Every plan stage quotes the names it renders, so a column named
    with a dot, a backtick, a space, quotes or non-ASCII characters is
    one column everywhere: run() with declared types, a mapping, a
    destination schema and the sized sink, verify(), run_incremental()
    keyed by a dotted column and a file run_scd2(). A dotted name used
    to resolve as a struct field (UNRESOLVED_COLUMN) and a backtick as
    bad syntax."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_migrate_spark.schema import ColumnSpec

    key, odd, space, quotes, uni = ("id.k", "we`ird", "sp ace",
                                    "quo'te\"d", "ünï 😀")
    src = tmp_path / "src"
    src.mkdir()

    def source(ids, changed=()):
        pq.write_table(pa.table({
            key: [str(i) for i in ids],
            odd: ["chg" if i in changed else f"t{i}" for i in ids],
            space: [f"s {i}" for i in ids],
            quotes: [None if i == 3 else f"q'{i}\"" for i in ids],
            uni: [str(i * 10) for i in ids]}), src / "part-0.parquet")

    schema = [ColumnSpec(key, "bigint"), ColumnSpec(odd, "string"),
              ColumnSpec(space, "string"), ColumnSpec(quotes, "string"),
              ColumnSpec(uni, "bigint")]

    def job(dest, **kw):
        return MigrationJob(source_path=str(src),
                            destination_path=str(tmp_path / dest),
                            mode="overwrite", source_schema=schema, **kw)

    source(range(20))
    full = job(
        "full", mapping={"rename": {space: "re.named"},
                         "computed": {"c`c": f"concat({odd}, '-', re.named)"},
                         "defaults": {quotes: "x'y"}},
        dest_schema=[{"name": key, "type": "bigint", "is_nullable": False,
                      "default": None},
                     {"name": "c`c", "type": "varchar(16)",
                      "is_nullable": True, "default": None},
                     {"name": quotes, "type": "varchar(16)",
                      "is_nullable": False, "default": "d"},
                     {"name": uni, "type": "bigint", "is_nullable": True,
                      "default": None}],
        non_nullable=[key], null_policy="fail", target_file_mb=1)
    assert full.run(spark)["rows_written"] == 20
    assert full.verify(spark)["verified"] is True
    got = {tuple(r) for r in spark.read.parquet(
        str(tmp_path / "full")).collect()}
    assert got == {(i, f"t{i}-s {i}", "x'y" if i == 3 else f"q'{i}\"",
                    i * 10) for i in range(20)}

    inc, scd = job("inc"), job("scd")
    inc.run_incremental(spark, [key])
    scd.run_scd2(spark, [key], batch_date="2024-01-01")
    source(range(2, 25), changed={6, 9})
    out = job("inc").run_incremental(spark, [key])
    assert out["delta_counts"] == {"unchanged": 16, "update": 2,
                                   "delete": 2, "insert": 5}
    assert sorted(r[0] for r in spark.read.parquet(
        str(tmp_path / "inc")).select(F.col(f"`{key}`")).collect()) == \
        list(range(2, 25))
    out = job("scd").run_scd2(spark, [key], batch_date="2024-02-01")
    assert (out["versions_opened"], out["versions_closed"],
            out["history_rows"]) == (7, 2, 27)
