"""Sequence packing for LLM training data (beyond-reference;
SURVEY.md §7.3).

GPT-style concat-and-chunk packing: documents are concatenated in a
deterministic order and split at fixed token-budget boundaries, so every
training sequence is exactly ``budget`` tokens with no padding (the
standard pre-training data layout; documents may span a chunk boundary).
The assignment for each document is pure arithmetic over a running token
total — which makes it ONE window shuffle in Spark, deterministic under
any partitioning, and expressible in ANSI SQL for the DuckDB oracle.

100 TB shape: a single ``sum() OVER (PARTITION BY group ORDER BY id)``
— the shuffle is keyed by ``group`` (``pmod(hash(id), n_groups)``), so
parallelism and per-reducer state are set by ``n_groups``, not corpus
size; there are no all-pairs stages and no driver-side data. Groups
mirror how a real pipeline shards packing across workers: packing is
sequential WITHIN a shard by construction, embarrassing-parallel across
shards. Size ``n_groups`` ≈ cores-at-target-scale (or files); each group
needs only its own running total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.text import token_count

# seq_id packs (pack_group, chunk-within-group) into one long as
# group * _MAX_CHUNKS_PER_GROUP + chunk. A group may therefore hold at
# most 1e9 chunks = budget×1e9 tokens (≈2×10¹² at budget 2048); the
# chunk index is range-checked at runtime and raises on overflow rather
# than silently colliding with the next group's ids. Sizing rule for a
# 100 TB corpus: choose n_groups ≥ corpus_tokens / (budget × 1e9) —
# with even hash sharding, any n_groups ≥ 32 covers ~10¹⁴ tokens.
_MAX_CHUNKS_PER_GROUP = 1_000_000_000


def pack_sequences(df: DataFrame, text_col: str, id_col: str,
                   budget: int = 2048, n_groups: int = 32,
                   group_expr=None) -> DataFrame:
    """Assign every document a training-sequence slot.

    Returns (id, n_tokens, pack_group, seq_id, start_offset) where
    ``seq_id`` is the global chunk index the document STARTS in and
    ``start_offset`` its token offset inside that chunk; a document with
    ``start_offset + n_tokens > budget`` spans into the next chunk(s) —
    concat-and-chunk semantics, no padding, bounded by arithmetic only.

    Deterministic: documents are ordered by id within
    ``pmod(hash(id), n_groups)`` groups (Murmur3 — balanced for arbitrary
    id spaces), independent of input partitioning. Pass ``group_expr``
    (any long Column) to override sharding — e.g. ``pmod(id, n)`` when a
    cross-engine-reproducible assignment matters more than hash balance
    (the oracle-checked registry query does). Empty/whitespace AND NULL
    documents count 0 tokens and occupy a slot of zero width (kept —
    dropping is a quality-filter decision, not a packing one). The NULL
    coalesce is load-bearing: an ungated NULL token count turns the
    cumulative-offset window NULL for the rest of the group, which then
    trips the chunk-overflow guard with a misleading "exceeds 1e9
    chunks" error (r8 audit).
    """
    if budget < 1 or n_groups < 1:
        raise ValueError(
            f"budget and n_groups must be >= 1 (got {budget}, {n_groups})")
    if group_expr is None:
        group_expr = F.pmod(F.hash(F.col(id_col)), F.lit(n_groups))
    w = (Window.partitionBy("pack_group").orderBy("id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(token_count(text_col), F.lit(0))
        .cast("long").alias("n_tokens"),
        group_expr.cast("long").alias("pack_group"))
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    chunk = F.floor(F.col("__before") / budget)
    chunk_checked = F.when(
        chunk < _MAX_CHUNKS_PER_GROUP, chunk
    ).otherwise(F.raise_error(F.concat(
        F.lit("pack_sequences: group "), F.col("pack_group"),
        F.lit(f" exceeds {_MAX_CHUNKS_PER_GROUP} chunks (budget×1e9 "
              "tokens); raise n_groups or budget"))))
    return (base
            .withColumn("__before", cum_before)
            .select(
                "id", "n_tokens", "pack_group",
                (F.col("pack_group") * F.lit(_MAX_CHUNKS_PER_GROUP)
                 + chunk_checked).alias("seq_id"),
                F.pmod(F.col("__before"), F.lit(budget)).alias("start_offset")))


def packing_stats(packed: DataFrame, budget: int = 2048) -> DataFrame:
    """Per-group packing summary: documents, tokens, sequences produced
    (ceil of the group total), and fill ratio of the last (only partially
    filled) sequence — the whole-corpus waste metric for concat-and-chunk
    is just ``1 - total_tokens / (n_seqs * budget)``."""
    return (packed.groupBy("pack_group")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"))
            .withColumn("n_seqs",
                        F.ceil(F.col("total_tokens") / budget).cast("long"))
            .withColumn("fill_ratio",
                        F.round(F.col("total_tokens")
                                / (F.col("n_seqs") * budget), 6)))


def chunk_documents(df: DataFrame, text_col: str, id_col: str,
                    chunk_tokens: int = 256,
                    overlap: int = 64) -> DataFrame:
    """Sliding-window document chunking — the RAG/long-context
    counterpart of :func:`pack_sequences` (packing CONCATENATES short
    docs up to a budget; chunking SPLITS long docs down to one):

      (id, chunk_id, start_token, n_tokens, chunk_text)

    Chunks start every ``chunk_tokens - overlap`` tokens (the stride) and
    carry up to ``chunk_tokens`` tokens; the final chunk may be shorter,
    and consecutive chunks share ``overlap`` tokens so no span is ever
    split across a boundary without context. A window is emitted only if
    it covers at least one token no earlier window covered (start = 0 or
    start + overlap < n) — a document at most one chunk long yields
    exactly ONE chunk, and a document with zero tokens yields one EMPTY
    chunk: corpus rows never vanish silently, and no chunk is a strict
    suffix of its predecessor. A NULL document yields one NULL chunk
    (``n_tokens`` and ``chunk_text`` both NULL, the module's
    NULL-propagation convention) — still one output row, still never
    silently vanishing, but distinguishable from a genuinely empty doc.

    Tokenization is the engine's shared regex (``functions.text.
    TOKEN_REGEX``) and ``chunk_text`` is the SINGLE-SPACE join of its
    tokens — a token-stream contract (deterministic, oracle-twinnable),
    not a byte-offset substring; original whitespace is not preserved.

    Plan: one narrow projection — tokens once per row (the token array
    is LET-BOUND via a single-element-array transform, same r9 fix as
    ``functions.text.word_shingles``: the r8 shape referenced the
    ``regexp_extract_all`` tree inside the starts-filter and chunk
    lambdas, re-running the full-text regex per start candidate and
    per chunk — O(chunks²) regex work per document), then a posexplode
    over the per-doc start sequence. No shuffle, no UDF; output volume
    ≈ input tokens × (1 + overlap/stride).
    """
    from data_warehouse_migrate_spark.functions.text import TOKEN_REGEX

    if chunk_tokens <= 0 or not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need chunk_tokens > 0 and 0 <= overlap < chunk_tokens "
            f"(got {chunk_tokens}, {overlap})")
    stride = chunk_tokens - overlap

    def per_doc(t: F.Column) -> F.Column:
        n = F.size(t)
        starts = F.filter(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
            lambda s: (s == 0) | (s + overlap < n))
        return F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("bigint").alias("chunk_id"),
                s.cast("bigint").alias("start_token"),
                F.slice(t, s + 1, chunk_tokens).alias("toks")))

    chunks = F.transform(
        F.array(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0)),
        per_doc)[0]
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(chunks).alias("c"))
            .select("id", "c.chunk_id", "c.start_token",
                    F.size("c.toks").cast("bigint").alias("n_tokens"),
                    F.array_join("c.toks", " ").alias("chunk_text")))
