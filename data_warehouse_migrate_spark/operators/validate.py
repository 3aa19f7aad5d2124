"""Migration validation: column profiling and content checksums.

The reference verifies a migration by row count and per-column null
probes (``migrator.py`` count checks; ``operators/constraints.py`` here
re-expresses those). A real warehouse cutover needs two stronger checks,
both beyond-reference:

  * ``column_profile`` — one pass over the table producing per-column
    null counts, distinct counts, and min/max: the pre/post-migration
    diff sheet. Run it on source and destination and compare rows.
  * ``group_checksum`` — an ORDER-INDEPENDENT content fingerprint per
    group: SUM of per-row 60-bit hashes in exact decimal arithmetic,
    reduced mod 2⁶⁰. Two tables with different content (for the rendered
    columns) collide with probability ~2⁻⁶⁰ — no sort, no row-by-row
    transfer, one aggregate whose partials combine map-side. Sum makes
    the aggregate commutative/associative (partition layout cannot
    change it) AND multiset-correct: duplicate rows accumulate instead
    of cancelling (an XOR fingerprint zeroes out every PAIR of identical
    rows, so two tables of different all-duplicate content could both
    hash to 0 — the reason this is a sum).

100 TB shape: both are single hash aggregates (profile additionally
pays Spark's expand for multi-column DISTINCT — #cols × rows map-side,
still one shuffle at distinct-value volume). Checksums shuffle only
(group, partial-sum) rows. No UDFs, no driver data paths.

Rendering contract: each value renders as ``N`` when NULL, else
``V<len>:<cast AS string>`` (length-prefixed), and the fields join with
``|``. The encoding is INJECTIVE — parsing is unambiguous left-to-right
('N' or 'V', digits to the first ':', then exactly that many chars),
so distinct row tuples always render distinctly. A bare
``concat_ws('|')`` is not (r15 review): a delimiter character shifting
across an adjacent column boundary — ``('x|', 'y')`` vs
``('x', '|y')`` — renders identically, and a literal NUL value
collided with the old ``chr(0)`` NULL token, so a corrupted migration
in exactly those shapes would have checksum-verified. Cast renderings
must still agree across engines, which pins the column set to
integer/string/date/boolean/decimal. Floats and timestamps render
engine-specifically; round/format them to strings explicitly before
checksumming (documented, not hidden: a checksum over unpinned float
rendering would "verify" nothing). The length prefix adds one more
cross-engine pin: both engines' ``length()`` must count the same units
over the cast string. Spark's ``length`` and DuckDB's ``length`` both
count Unicode code points (not bytes, not UTF-16 units), so ASCII and
multibyte text agree; an engine whose ``length`` is byte-based (e.g.
``octet_length`` semantics) would need the rendering swapped to its
code-point function before the checksums are comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit md5 prefix — the engine's shared cross-engine hash primitive
# (same construction as functions.text.md5_prefix_int; DuckDB twin:
# CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) — over the
# INJECTIVE row rendering documented in the module docstring:
# per field 'N' (NULL) | 'V' + length + ':' + value, joined with '|'.
def _field_render(c: str) -> Column:
    v = F.col(c).cast("string")
    return F.when(
        F.col(c).isNull(), F.lit("N")
    ).otherwise(F.concat(F.lit("V"), F.length(v).cast("string"),
                         F.lit(":"), v))


def _row_hash(cols: list[str]) -> Column:
    rendered = F.concat_ws("|", *[_field_render(c) for c in cols])
    return F.conv(F.substring(F.md5(rendered), 1, 15), 16, 10).cast("bigint")


_CHECKSUM_MOD = 1 << 60


def group_checksum(df: DataFrame, key_cols: list[str],
                   value_cols: list[str]) -> DataFrame:
    """(key..., n_rows, checksum) per group: checksum = Σ of the 60-bit
    md5 hashes of each row's rendered ``value_cols``, summed as exact
    DECIMAL and reduced mod 2⁶⁰ (identical integer arithmetic in any
    engine). Rows render through the module's injective length-prefixed
    encoding (see the module docstring), so NULL, empty string, and any
    delimiter-bearing value are all distinguishable by construction.
    Pass ``key_cols=[]`` for one whole-table fingerprint row.

    Compare source vs destination frames with a full-outer join on the
    keys: any (count, checksum) mismatch localizes the divergence to a
    group without moving row data between systems.
    """
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    total = F.sum(_row_hash(value_cols).cast("decimal(38,0)"))
    agg = [F.count(F.lit(1)).alias("n_rows"),
           F.pmod(total, F.lit(_CHECKSUM_MOD).cast("decimal(38,0)"))
           .cast("bigint").alias("checksum")]
    if key_cols:
        return df.groupBy(*key_cols).agg(*agg)
    return df.agg(*agg)


def column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row per column: (column_name, n_rows, n_nulls, n_distinct,
    min_value, max_value) — min/max rendered AS STRING so heterogeneous
    columns stack into one frame (numeric columns therefore compare
    numerically BEFORE the cast; the string is just the display form).

    Single aggregate job; the multi-column DISTINCT uses Spark's expand
    (#cols copies of each row map-side — price of exactness; for a quick
    look at petabyte scale, approx_count_distinct is the cheaper variant
    a caller can assemble from these same pieces).
    """
    cols = cols or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col("__n").alias("n_rows"),
                 (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                 F.col(f"__nd_{c}").alias("n_distinct"),
                 F.col(f"__mn_{c}").alias("min_value"),
                 F.col(f"__mx_{c}").alias("max_value"))
        for c in cols])
    return (one.select(F.explode(per_col).alias("p"))
            .select("p.column_name", "p.n_rows", "p.n_nulls",
                    "p.n_distinct", "p.min_value", "p.max_value"))


def corpus_stats(docs: DataFrame, text_col: str,
                 group_cols: list[str]) -> DataFrame:
    """Per-group corpus composition sheet (the dataset-card table): doc
    count, token totals (engine tokenizer — ``functions.text``'s BPE-ish
    regex), mean/min/max tokens per doc, and character volume. Groups
    with NULL keys are their own rows (standard GROUP BY semantics) —
    an unlabeled slice is a finding, not noise.

    ONE hash aggregate keyed on ``group_cols`` (token counting is a
    per-row JVM expression, no explode — shuffle rows = #groups, not
    token instances); mean rounded 6dp as the cross-engine contract.
    Feeds mixture/temperature sampling decisions (``operators.quota``)
    — the counts here are exactly the weights those operators consume.
    """
    from data_warehouse_migrate_spark.functions.text import token_count

    nt = token_count(F.col(text_col))
    return (docs.groupBy(*group_cols)
            .agg(F.count("*").alias("n_docs"),
                 F.sum(nt.cast("long")).alias("total_tokens"),
                 F.round(F.sum(nt.cast("long"))
                         / F.count("*"), 6).alias("avg_tokens"),
                 F.min(nt).alias("min_tokens"),
                 F.max(nt).alias("max_tokens"),
                 F.sum(F.length(F.col(text_col)).cast("long"))
                 .alias("total_chars")))
