"""Expression factories: the engine's scalar-function layer.

Everything here returns Spark Column expressions over built-in Spark
functions, so the hot path stays JVM-side inside whole-stage codegen;
Python/pandas UDFs appear only as clearly-marked fallbacks. The cast,
computed-column and sizing rules are rendered once as Spark SQL text,
which the migration path issues one stage per call and the public
helpers here wrap in ``F.expr``.
"""

from data_warehouse_migrate_spark.functions.casts import (
    boolean_token_expr,
    cast_expr_for_source_type,
    inf_nan_to_null,
    string_preserve_expr,
)
from data_warehouse_migrate_spark.functions.computed import (
    COMPUTED_WHITELIST,
    computed_expr,
    translate_format_template,
)

__all__ = [
    "boolean_token_expr",
    "cast_expr_for_source_type",
    "inf_nan_to_null",
    "string_preserve_expr",
    "COMPUTED_WHITELIST",
    "computed_expr",
    "translate_format_template",
]
