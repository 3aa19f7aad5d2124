"""Type-cast semantics — mirrors the reference's root test scripts
(FIXTURES.md F1-F4, F7): string preservation, boolean tokens, inf cleanup,
'1.0'→1 int parsing."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.casts import (
    apply_source_schema,
    boolean_token_expr,
    cast_expr_for_source_type,
    inf_nan_to_null,
    string_preserve_expr,
)
from data_warehouse_migrate_spark.schema import ColumnSpec


def col1(df, name):
    return [r[name] for r in df.orderBy("id").collect()]


def test_numeric_looking_strings_stay_strings(spark):
    # FIXTURES F2: status codes '0','1','2' must stay strings
    df = spark.createDataFrame(
        [(1, "0"), (2, "1"), (3, "2"), (4, None)], "id int, status string")
    out = df.select("id", cast_expr_for_source_type("status", "string").alias("status"))
    assert dict(out.dtypes)["status"] == "string"
    assert col1(out, "status") == ["0", "1", "2", None]


def test_string_null_tokens_preserved_by_default(spark):
    df = spark.createDataFrame(
        [(1, "nan"), (2, "None"), (3, "null"), (4, "<NA>"), (5, "x")], "id int, s string")
    keep = df.select("id", string_preserve_expr("s").alias("s"))
    assert col1(keep, "s") == ["nan", "None", "null", "<NA>", "x"]
    drop = df.select("id", string_preserve_expr("s", preserve_null_tokens=False).alias("s"))
    assert col1(drop, "s") == [None, None, None, None, "x"]


def test_empty_string_to_null_flag(spark):
    df = spark.createDataFrame([(1, ""), (2, " "), (3, "a")], "id int, s string")
    out = df.select("id", string_preserve_expr("s", treat_empty_as_null=True).alias("s"))
    assert col1(out, "s") == [None, None, "a"]


def test_boolean_tokens(spark):
    # FIXTURES F7 corpus
    rows = [(i, t) for i, t in enumerate(
        ["true", "1", "yes", "y", "false", "0", "no", "n", "", "TRUE ", " N", "maybe", None])]
    df = spark.createDataFrame(rows, "id int, tok string")
    out = df.select("id", boolean_token_expr("tok").alias("b"))
    vals = col1(out, "b")
    assert vals == [True, True, True, True, False, False, False, False, False,
                    True, False, None, None]
    legacy = df.select("id", boolean_token_expr("tok", unknown_to_null=False).alias("b"))
    vals2 = col1(legacy, "b")
    assert vals2[11] is False and vals2[12] is None  # unknown→False, NULL stays NULL


def test_int_cast_float_string(spark):
    # reference maxcompute_client.py:406-411: '1.0' → 1
    df = spark.createDataFrame(
        [(1, "1"), (2, "2.0"), (3, "notanint"), (4, None), (5, "1.7")], "id int, v string")
    out = df.select("id", cast_expr_for_source_type("v", "bigint").alias("v"))
    assert dict(out.dtypes)["v"] == "bigint"
    assert col1(out, "v") == [1, 2, None, None, 1]


def test_inf_nan_cleanup(spark):
    df = spark.createDataFrame(
        [(1, 1.5), (2, float("inf")), (3, float("-inf")), (4, float("nan")), (5, None)],
        "id int, v double")
    out = df.select("id", inf_nan_to_null("v").alias("v"))
    assert col1(out, "v") == [1.5, None, None, None, None]


def test_apply_source_schema_end_to_end(spark):
    # FIXTURES F1: everything arrives as strings, declared schema drives casts
    df = spark.createDataFrame(
        [("1", "0", "10.5", "true", "20241226"),
         ("2", "1", None, "false", "20241226"),
         ("3", None, "60.5", None, "20241226")],
        "id string, offline_pay_confirm_status string, amount string, is_active string, pt string")
    schema = [
        ColumnSpec("id", "bigint"),
        ColumnSpec("offline_pay_confirm_status", "string"),
        ColumnSpec("amount", "double"),
        ColumnSpec("is_active", "boolean"),
        ColumnSpec("pt", "string", is_partition=True),
    ]
    out = apply_source_schema(df, schema)
    types = dict(out.dtypes)
    assert types == {"id": "bigint", "offline_pay_confirm_status": "string",
                     "amount": "double", "is_active": "boolean", "pt": "string"}
    rows = out.orderBy("id").collect()
    assert [r.offline_pay_confirm_status for r in rows] == ["0", "1", None]
    assert [r.amount for r in rows] == [10.5, None, 60.5]
    assert [r.is_active for r in rows] == [True, False, None]


def test_decimal_and_datetime_casts(spark):
    df = spark.createDataFrame([("1.23", "2024-12-26 10:00:00", "2024-12-26")],
                               "d string, ts string, dt string")
    out = df.select(
        cast_expr_for_source_type("d", "decimal(10,2)").alias("d"),
        cast_expr_for_source_type("ts", "datetime").alias("ts"),
        cast_expr_for_source_type("dt", "date").alias("dt"),
    )
    types = dict(out.dtypes)
    assert types["d"] == "decimal(10,2)"
    assert types["ts"] == "timestamp_ntz"
    assert types["dt"] == "date"
    r = out.first()
    assert str(r.d) == "1.23" and r.dt.isoformat() == "2024-12-26"


def test_cast_failure_never_raises(spark):
    df = spark.createDataFrame([("abc",), ("1",)], "v string")
    out = df.select(
        cast_expr_for_source_type("v", "bigint").alias("i"),
        cast_expr_for_source_type("v", "double").alias("f"),
        cast_expr_for_source_type("v", "date").alias("d"),
    )
    assert out.count() == 2  # no exception


class TestReconcileToSchema:
    def test_widen_add_drop_reorder(self, spark):
        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame(
            [(1, 2.5, "x", 9)], "a int, b float, Extra string, c int")
        tgt = spark.createDataFrame(
            [], "c bigint, a int, b double, d string").schema
        out = reconcile_to_schema(src, tgt)
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
            ("c", "bigint"), ("a", "int"), ("b", "double"), ("d", "string")]
        row = out.first()
        assert (row.c, row.a, row.b, row.d) == (9, 1, 2.5, None)

    def test_case_insensitive_match(self, spark):
        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([(1,)], "ID int")
        tgt = spark.createDataFrame([], "id bigint").schema
        assert reconcile_to_schema(src, tgt).first().id == 1

    def test_narrowing_errors_by_default(self, spark):
        import pytest

        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([(2**40,), (7,)], "a bigint")
        tgt = spark.createDataFrame([], "a int").schema
        with pytest.raises(ValueError, match="narrowing"):
            reconcile_to_schema(src, tgt)
        vals = sorted(r.a for r in
                      reconcile_to_schema(src, tgt, on_narrowing="try_cast")
                      .collect() if r.a is not None)
        assert vals == [7]  # the overflow row nulled, not truncated

    def test_string_to_int_is_narrowing(self, spark):
        import pytest

        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([("12",)], "a string")
        tgt = spark.createDataFrame([], "a int").schema
        with pytest.raises(ValueError):
            reconcile_to_schema(src, tgt)


class TestWideningIsActuallyLossless:
    def test_bigint_to_double_is_narrowing(self, spark):
        import pytest

        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([(2**53 + 1,)], "a bigint")
        tgt = spark.createDataFrame([], "a double").schema
        with pytest.raises(ValueError, match="narrowing"):
            reconcile_to_schema(src, tgt)

    def test_int_to_double_still_allowed(self, spark):
        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([(2**31 - 1,)], "a int")
        tgt = spark.createDataFrame([], "a double").schema
        assert reconcile_to_schema(src, tgt).first().a == float(2**31 - 1)

    def test_int_to_small_decimal_is_narrowing(self, spark):
        import pytest

        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([(10**9,)], "a bigint")
        tgt = spark.createDataFrame([], "a decimal(10,2)").schema
        with pytest.raises(ValueError, match="narrowing"):
            reconcile_to_schema(src, tgt)

    def test_bigint_to_wide_decimal_allowed(self, spark):
        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([(2**62,)], "a bigint")
        tgt = spark.createDataFrame([], "a decimal(38,0)").schema
        assert int(reconcile_to_schema(src, tgt).first().a) == 2**62

    def test_decimal_widening_rules(self, spark):
        import pytest
        from decimal import Decimal

        from data_warehouse_migrate_spark.functions.casts import (
            reconcile_to_schema,
        )

        src = spark.createDataFrame([(Decimal("12345678.99"),)],
                                    "a decimal(10,2)")
        ok = spark.createDataFrame([], "a decimal(12,4)").schema
        assert reconcile_to_schema(src, ok).first().a == Decimal("12345678.9900")
        bad = spark.createDataFrame([], "a decimal(10,4)").schema  # digits shrink
        with pytest.raises(ValueError, match="narrowing"):
            reconcile_to_schema(src, bad)
