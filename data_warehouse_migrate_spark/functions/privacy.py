"""Privacy transforms beyond redaction (beyond-reference surface;
complements ``functions.text.redact_pii`` which masks free text).

Structured identifiers need a different treatment than free-text PII:
analytics still has to JOIN and GROUP on them, so deletion/masking is
too blunt. Two standard moves:

  * ``pseudonymize`` — replace identifier values with a keyed one-way
    surrogate (md5 over salt+value). The same (salt, value) always maps
    to the same surrogate, so referential integrity survives across
    tables and runs — joins, group-bys, and dedup all still work on the
    pseudonymized keys — while the raw identifier never leaves the
    engine. Rotating the salt unlinks every past release at once.
  * ``generalize_numeric`` — coarsen a numeric column to fixed-width
    bands ("35-39" instead of 37), the k-anonymity generalization step
    for quasi-identifiers that would otherwise re-identify when combined.

Both are pure JVM column expressions (md5/concat/floor — no UDFs), so
they run inside whole-stage codegen and cost one narrow projection at
any scale; neither shuffles. Salts are caller-provided secrets; nothing
here persists or logs them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pseudonym(col: Column | str, salt: str) -> Column:
    """Keyed surrogate for one value: lowercase-hex md5 of
    ``salt || ':' || value`` (NULL in → NULL out — absence is not an
    identity). Values are rendered via CAST TO STRING, so integer keys
    pseudonymize identically from any integer-typed column and from the
    equivalent ANSI SQL (the oracle contract)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.md5(F.concat(F.lit(salt), F.lit(":"), c.cast("string"))))


def pseudonymize(df: DataFrame, cols: list[str], salt: str) -> DataFrame:
    """Replace each column in ``cols`` with its keyed surrogate, keeping
    every other column and the column order intact. ``salt`` must be
    non-empty — an empty salt degrades to an unkeyed hash that a
    dictionary attack inverts for low-cardinality identifiers."""
    if not salt:
        raise ValueError("salt must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    target = set(cols)
    return df.select(*[
        pseudonym(c, salt).alias(c) if c in target else F.col(c)
        for c in df.columns
    ])


def generalize_numeric(col: Column | str, width: int) -> Column:
    """Fixed-width band label for a numeric value: ``"lo-hi"`` where
    lo = floor(value/width)*width and hi = lo+width-1 (integer bands;
    NULL stays NULL). Width must be positive."""
    if width <= 0:
        raise ValueError(f"width must be positive (got {width})")
    c = F.col(col) if isinstance(col, str) else col
    lo = (F.floor(c / width) * width).cast("bigint")
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(lo.cast("string"), F.lit("-"),
                 (lo + width - 1).cast("string")))
