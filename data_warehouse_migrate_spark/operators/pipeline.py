"""Composed corpus-cleaning pipeline (beyond-reference; the C4 /
RefinedWeb / Gopher preprocessing recipe as ONE call).

The individual stages — language ID (``functions.text.lang_id``), the
Gopher rule gate (``functions.text.gopher_quality_flags``), exact dedup
(``operators.dedup.drop_exact_dups``) — are each oracle-verified on
their own; this module chains them in the published order (filter cheap
and narrow first, dedup's shuffle last, over the already-shrunk corpus)
so a user ships a cleaned corpus with one call instead of re-deriving
the composition.

100 TB shape: language + quality gating are pure per-row JVM expressions
fused into the scan (zero shuffle, and every downstream stage sees only
survivors); the single shuffle is exact-dedup's hash-groupBy at the END
of the chain, keyed on a fixed-width md5 — the cheapest possible point,
since the gates have already dropped the junk that would otherwise ride
it.

The quality gate goes through ``text.gopher_keep``: filter predicates
get no subexpression elimination, so the per-column flags form would
inline the token-split subtree once per rule — the bound-array form
splits the text once per row inside the fused Filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.text import (
    gopher_keep,
    lang_keep,
)
from data_warehouse_migrate_spark.operators.dedup import drop_exact_dups
from data_warehouse_migrate_spark.sqltext import ident


def clean_corpus(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 lang_allow: tuple[str, ...] | None = ("en",),
                 gopher_kwargs: dict | None = None,
                 dedup: bool = True) -> DataFrame:
    """Chain language filter → Gopher quality gate → exact dedup and
    return the surviving rows (original columns).

    * NULL-text rows are dropped up front — a cleaned corpus ships only
      scoreable documents (contrast ``drop_exact_dups`` standalone,
      which deliberately keeps one NULL representative).
    * ``lang_allow``: languages to keep per ``lang_id`` ('und' is never
      in the allow set unless listed); None skips the stage.
    * ``gopher_kwargs``: threshold overrides forwarded to
      ``gopher_quality_flags`` (the paper defaults are tuned for web
      documents; short-document corpora need lower floors).
    * ``dedup``: keep the min-id representative per normalized text.
    """
    # lang_keep and gopher_keep, not lang_id().isin() or flags["keep"]:
    # the bound forms split the text once inside the fused filter
    # instead of once per stopword count or rule
    out = df.filter(F.col(ident(text_col)).isNotNull())
    if lang_allow is not None:
        out = out.filter(lang_keep(text_col, tuple(lang_allow)))
    out = out.filter(gopher_keep(text_col, **(gopher_kwargs or {})))
    if dedup:
        out = drop_exact_dups(out, text_col, id_col)
    return out
