"""Migration validation: group checksums and column profiling."""

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.operators.validate import (
    column_profile,
    group_checksum,
    paired_checksums,
)


@pytest.fixture()
def tbl(spark):
    return spark.createDataFrame(
        [(1, "A", "x"), (2, "A", "y"), (3, "B", "z"), (4, "B", None)],
        "id long, grp string, payload string")


def test_checksum_is_order_and_partition_independent(spark, tbl):
    a = group_checksum(tbl, ["grp"], ["id", "payload"]).collect()
    b = group_checksum(tbl.orderBy(F.desc("id")).repartition(7),
                       ["grp"], ["id", "payload"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_checksum_detects_single_cell_change(spark, tbl):
    base = {r.grp: r.checksum for r in
            group_checksum(tbl, ["grp"], ["id", "payload"]).collect()}
    mutated = tbl.withColumn(
        "payload", F.when(F.col("id") == 3, "Z").otherwise(F.col("payload")))
    mut = {r.grp: r.checksum for r in
           group_checksum(mutated, ["grp"], ["id", "payload"]).collect()}
    assert base["A"] == mut["A"]       # untouched group unchanged
    assert base["B"] != mut["B"]       # changed group flips


def test_checksum_null_differs_from_empty(spark):
    a = spark.createDataFrame([(1, None)], "id long, v string")
    b = spark.createDataFrame([(1, "")], "id long, v string")
    ca = group_checksum(a, [], ["id", "v"]).first().checksum
    cb = group_checksum(b, [], ["id", "v"]).first().checksum
    assert ca != cb


def test_checksum_whole_table_and_validation(spark, tbl):
    row = group_checksum(tbl, [], ["id"]).first()
    assert row.n_rows == 4
    with pytest.raises(ValueError, match="value_cols"):
        group_checksum(tbl, ["grp"], [])


def test_paired_checksums_equal_group_checksum(spark, tbl):
    """One aggregate over both sides gives what group_checksum gives for
    each: equal and unequal sides, an empty side (0 rows, checksum
    None), columns of types that a union would widen, and no columns
    (counts only)."""
    def whole(df, cols):
        return group_checksum(df, [], cols).first().asDict()

    cols = ["id", "payload"]
    mutated = tbl.withColumn("payload", F.upper("payload"))
    empty = tbl.filter("false")
    for a, b in ((tbl, tbl.orderBy(F.desc("id"))), (tbl, mutated),
                 (tbl, empty), (empty, empty)):
        assert paired_checksums(a, b, cols) == (whole(a, cols),
                                                whole(b, cols))
    assert paired_checksums(tbl, empty, cols)[1] == {"n_rows": 0,
                                                     "checksum": None}
    narrow = tbl.selectExpr("CAST(id AS INT) AS id", "payload")
    assert paired_checksums(narrow, tbl, cols) == (whole(narrow, cols),
                                                   whole(tbl, cols))
    assert paired_checksums(tbl, empty, []) == (
        {"n_rows": 4, "checksum": None}, {"n_rows": 0, "checksum": None})


def test_column_profile(spark, tbl):
    prof = {r.column_name: r for r in column_profile(tbl).collect()}
    assert set(prof) == {"id", "grp", "payload"}
    assert prof["payload"].n_nulls == 1
    assert prof["payload"].n_distinct == 3     # NULL excluded
    assert prof["grp"].n_distinct == 2
    assert prof["id"].min_value == "1" and prof["id"].max_value == "4"
    assert all(r.n_rows == 4 for r in prof.values())
    with pytest.raises(ValueError, match="not in DataFrame"):
        column_profile(tbl, ["nope"])


def test_checksum_does_not_cancel_duplicate_pairs(spark):
    """An XOR fingerprint zeroes every PAIR of identical rows — two
    different all-duplicate tables would both hash to 0. The sum-based
    checksum must distinguish them."""
    a = spark.createDataFrame([("A",), ("A",)], "v string")
    b = spark.createDataFrame([("B",), ("B",)], "v string")
    ca = group_checksum(a, [], ["v"]).first().checksum
    cb = group_checksum(b, [], ["v"]).first().checksum
    assert ca != cb
    # and duplicates accumulate: {A} vs {A,A} differ too
    c1 = group_checksum(a.limit(1), [], ["v"]).first().checksum
    assert c1 != ca


def test_checksum_rendering_is_injective_under_delimiter_shift(spark):
    # r15 review regression: under the old concat_ws('|') rendering a
    # delimiter character shifting across an adjacent column boundary —
    # ('x|', 'y') vs ('x', '|y') — rendered identically, so a migration
    # that corrupted rows in exactly that shape checksum-verified. The
    # length-prefixed encoding must distinguish them.
    a = spark.createDataFrame([("x|", "y")], "c1 string, c2 string")
    b = spark.createDataFrame([("x", "|y")], "c1 string, c2 string")
    ca = group_checksum(a, [], ["c1", "c2"]).first().checksum
    cb = group_checksum(b, [], ["c1", "c2"]).first().checksum
    assert ca != cb


def test_checksum_nul_value_differs_from_null(spark):
    # r15 review regression: a literal NUL character collided with the
    # old chr(0) NULL sentinel; the 'N' vs 'V<len>:' field forms cannot.
    a = spark.createDataFrame([(1, "\x00")], "id long, v string")
    b = spark.createDataFrame([(1, None)], "id long, v string")
    ca = group_checksum(a, [], ["id", "v"]).first().checksum
    cb = group_checksum(b, [], ["id", "v"]).first().checksum
    assert ca != cb


def test_checksum_length_semantics_agree_cross_engine(spark):
    # ADVICE r15 item 2: the length prefix pins a cross-engine contract —
    # both engines' length() must count CODE POINTS over the rendered
    # string. Verify live on multibyte text (2-byte é, 3-byte ✓, 4-byte
    # surrogate-pair emoji): Spark length == DuckDB length == Python
    # code points, and the full checksum matches the DuckDB oracle
    # rendering on the same rows.
    import duckdb

    vals = ["héllo", "日本語テキスト", "émoji \U0001f44d", "ascii"]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, v string")
    got = {r.v: r.ln for r in
           df.select("v", F.length("v").alias("ln")).collect()}
    con = duckdb.connect()
    for v in vals:
        duck_len = con.execute("SELECT length(?)", [v]).fetchone()[0]
        assert got[v] == duck_len == len(v), v

    spark_sum = group_checksum(df, [], ["id", "v"]).first().checksum
    duck_rows = ", ".join(
        f"({i}, '{v}')" for i, v in enumerate(vals))
    duck_sum = con.execute(f"""
        WITH t(id, v) AS (VALUES {duck_rows}),
        r AS (SELECT concat_ws('|',
                CASE WHEN id IS NULL THEN 'N'
                     ELSE concat('V', length(CAST(id AS VARCHAR)), ':',
                                 CAST(id AS VARCHAR)) END,
                CASE WHEN v IS NULL THEN 'N'
                     ELSE concat('V', length(v), ':', v) END) AS s
             FROM t)
        SELECT CAST(SUM(CAST(CAST(concat('0x', substr(md5(s), 1, 15))
                   AS BIGINT) AS HUGEINT)) % 1152921504606846976 AS BIGINT)
        FROM r""").fetchone()[0]
    assert spark_sum == duck_sum


def test_checksum_value_mimicking_encoding_differs(spark):
    # the encoding is self-delimiting: a VALUE that spells out another
    # row's full rendering ('V1:x|V1:y') must not collide with the
    # two-column row it mimics — lengths pin field extents exactly.
    a = spark.createDataFrame([("x", "y")], "c1 string, c2 string")
    b = spark.createDataFrame([("x|V1:y",)], "c1 string").withColumn(
        "c2", F.lit(None).cast("string"))
    ca = group_checksum(a, [], ["c1", "c2"]).first().checksum
    cb = group_checksum(b, [], ["c1", "c2"]).first().checksum
    assert ca != cb
