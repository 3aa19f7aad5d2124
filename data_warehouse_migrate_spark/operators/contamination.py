"""Train/eval contamination detection (beyond-reference; SURVEY.md §7.3).

Benchmark/test-set contamination is the standard pre-training hygiene
check: an eval document is "contaminated" to the degree its word n-grams
also appear anywhere in the training corpus (the n-gram-overlap criterion
used by public LLM reports, e.g. GPT-3 appendix C / PaLM appendix).

Plan shape (the 100 TB-safe one): the scored side's per-doc shingle
TOTAL is a narrow array-size projection (no aggregation — the count is
known before the explode), so the only corpus-sized work is one INNER
equi-join of exploded shingle hashes against the reference side's
distinct set, which produces HIT rows only. Spark's runtime Bloom-filter
join injection (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on
by default, application side ≥ 10 GB) builds a Bloom filter over the
small reference side and drops non-matching shingles BEFORE the shuffle
— at pre-training scale, where contamination is rare, the big exchange
carries a sliver of the corpus; a Bloom false positive merely reaches
the exact join and fails there, so results stay exact. Hit counts then
re-join the narrow totals on doc id (hit side is contaminated-docs-
sized — AQE broadcasts it). No all-pairs document comparison ever
happens. Joining 60-bit md5-prefix hashes instead of shingle strings
keeps shuffle rows fixed-width; a hash collision can only inflate
overlap (flag-safe, never misses true contamination) at ~2^-60 per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.text import hashed_shingles
from data_warehouse_migrate_spark.operators.skew import spread_input
from data_warehouse_migrate_spark.sqltext import ident


def _doc_shingle_hashes(df: DataFrame, text_col: str, id_col: str,
                        n: int, out_id: str) -> DataFrame:
    sh = hashed_shingles(text_col, n)
    return spread_input(df).select(
        F.col(ident(id_col)).alias(out_id), F.explode(sh).alias("sh"))


def _doc_shingles_with_size(df: DataFrame, text_col: str, id_col: str,
                            n: int, out_id: str):
    """(exploded (out_id, sh) frame, narrow (out_id, n_shingles) frame) —
    the per-doc total comes from the pre-explode array size, a pure
    projection: counting it with an aggregate would pay a corpus-wide
    shuffle for a number every row already knows."""
    sh = hashed_shingles(text_col, n)
    base = spread_input(df).select(F.col(ident(id_col)).alias(out_id),
                                   sh.alias("__shs"))
    exploded = base.select(out_id, F.explode("__shs").alias("sh"))
    # NULL/empty shingle arrays produce no exploded rows — the totals
    # frame must agree (a NULL-text doc has no contamination surface)
    sizes = (base.select(out_id, F.size("__shs").alias("n_shingles"))
             .filter(F.col("n_shingles") > 0))
    return exploded, sizes


def ngram_contamination(eval_df: DataFrame, train_df: DataFrame,
                        text_col: str, id_col: str, n: int = 3,
                        flag_threshold: float = 0.8) -> DataFrame:
    """Per eval document: how many of its distinct word ``n``-grams occur
    in ANY training document. Returns (eval_id, n_shingles,
    n_contaminated, contamination_rate, is_contaminated) — rate rounded to
    6dp, flag = rate ≥ ``flag_threshold``.

    Texts shorter than ``n`` words contribute their whole text as one
    shingle (same convention as the dedup operators), so every eval row
    appears in the output.
    """
    ev, sizes = _doc_shingles_with_size(eval_df, text_col, id_col, n,
                                        "eval_id")
    tr = (_doc_shingle_hashes(train_df, text_col, id_col, n, "__tid")
          .select("sh").distinct())
    # INNER hit join (runtime-Bloom-prunable) + narrow totals; zero-hit
    # eval docs re-enter via the LEFT join on the (eval-set-sized) totals
    hits = (ev.join(tr, "sh")
            .groupBy("eval_id")
            .agg(F.count(F.lit(1)).alias("__hits")))
    rate = F.round(F.col("n_contaminated") / F.col("n_shingles"), 6)
    return (sizes.join(hits, "eval_id", "left")
            .select("eval_id", "n_shingles",
                    F.coalesce(F.col("__hits"), F.lit(0)).cast("bigint")
                    .alias("n_contaminated"))
            .withColumn("contamination_rate", rate)
            .withColumn("is_contaminated",
                        F.col("contamination_rate") >= flag_threshold))


def decontaminate(train_df: DataFrame, benchmark_df: DataFrame,
                  text_col: str, id_col: str, n: int = 3,
                  drop_threshold: float = 0.8) -> DataFrame:
    """The removal counterpart of :func:`ngram_contamination`: DROP from
    the training corpus every document whose distinct word ``n``-gram
    overlap with the benchmark set reaches ``drop_threshold``. Returns
    the cleaned training DataFrame (original columns, original rows minus
    the dropped ones) — the artifact a pre-training pipeline actually
    ships after the contamination report is reviewed.

    Same plan spine as the check, with the sides swapped (the TRAIN docs
    are now the scored side, the benchmark reduces to a distinct shingle
    set) plus one final join: scored ids above threshold become a drop
    list, applied with a LEFT ANTI join on ``id_col`` — at 100 TB the
    drop list is a tiny fraction of the corpus, so AQE turns the anti
    join into a broadcast and the cleaned corpus never reshuffles.
    Because ``drop_threshold`` > 0, only docs with ≥1 hit can be dropped
    — so the per-doc total rides the exploded rows themselves
    (``n_shingles`` is a pre-explode array size, projected onto each
    shingle row) and the rate needs no join at all: the hit aggregate
    carries ``first(n_shingles)`` beside the count. One pass over the
    train corpus, where the r8 shape evaluated the tokenize+md5 shingle
    chain twice (separate exploded and totals scans) and joined them
    back (measured at sf0.1, interleaved best-of-3: 1.15s vs 1.31s for
    the two-scan shape — most of the r9 4.67s → 1.45s gain on this
    query came from the ``word_shingles`` let-binding fix, this fold
    removes the remaining duplicate pass). The
    Generate sits between the array-defining Project and both consumers
    (its generator input and the size() above it bind to the SAME
    attribute), so the chain is evaluated once per row — the round-7
    CollapseProject lesson applied in reverse. Documents shorter than
    ``n`` words score on their whole text as a single shingle, matching
    the check's convention.
    """
    if drop_threshold <= 0:
        raise ValueError("drop_threshold must be > 0 — at 0 every "
                         "document (hit or not) would be dropped")
    sh = hashed_shingles(text_col, n)
    base = spread_input(train_df).select(
        F.col(ident(id_col)).alias("train_id"), sh.alias("__shs"))
    tr = base.select("train_id", F.size("__shs").alias("n_shingles"),
                     F.explode("__shs").alias("sh"))
    bench = (_doc_shingle_hashes(benchmark_df, text_col, id_col, n, "__bid")
             .select("sh").distinct())
    drops = (tr.join(bench, "sh")
             .groupBy("train_id")
             .agg(F.count(F.lit(1)).alias("__hits"),
                  F.first("n_shingles").alias("n_shingles"))
             .filter(F.round(F.col("__hits").cast("double")
                             / F.col("n_shingles"), 6) >= drop_threshold)
             .select(F.col("train_id").alias(id_col)))
    return train_df.join(drops, id_col, "left_anti")
