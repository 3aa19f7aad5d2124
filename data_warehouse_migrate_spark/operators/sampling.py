"""Deterministic sampling for training-data pipelines (beyond-reference;
SURVEY.md §7.3 — dataset curation ops a 100 TB corpus build needs).

Every operator here is DETERMINISTIC and hash-driven — no RNG, no
``rand()``: re-runs, task retries, and different partition layouts all
select the SAME rows, which is what makes a sampled training set
reproducible and makes exact SQL oracles possible. The shared primitive is
``md5_prefix_int`` (first 60 bits of md5 as int64): a row's uniform draw is
``u = h / 2**60``, and every comparison below is arranged as INTEGER or
decimal arithmetic so both Spark and any ANSI engine agree bit-for-bit —
no float thresholds anywhere near a selection boundary.

Scale notes: all samplers are narrow single-pass filters or projections —
no shuffle — except ``stratified_sample`` (one shuffle on the strata key,
inherent to exact per-stratum counts) and ``reservoir_n`` (global top-n via
TakeOrdered: per-partition heads then a driver merge of n·partitions rows,
never a full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.text import _md5_prefix_int
from data_warehouse_migrate_spark.sqltext import ident, sql_string

HASH_SPACE = 1 << 60  # md5_prefix_int range


def _draw(id_col: str, salt: str = "") -> F.Column:
    """60-bit uniform draw from a row id (id stringified — bigint ids
    render identically in Spark and ANSI SQL).

    ``salt`` decorrelates draws between sampling STAGES: every sampler
    here shares this primitive, so two unsalted samplers composed on the
    same id keep min(p1, p2) of the data (the second stage's kept set is
    a SUBSET of the first's), not p1·p2. Pass a distinct salt per stage
    to restore independence while staying deterministic; the default ""
    preserves the single-stage contract (and its SQL oracles)."""
    c = f"CAST({ident(id_col)} AS STRING)"
    if salt:
        c = f"concat({sql_string(salt)}, ':', {c})"
    return F.expr(_md5_prefix_int(c))


def hash_sample(df: DataFrame, id_col: str, fraction: float,
                salt: str = "") -> DataFrame:
    """Deterministic Bernoulli sample: keep iff hash(id) < fraction·2^60.
    The threshold is computed as a Python int ONCE (exact), so the filter
    is a pure integer comparison — portable and pushdown-friendly (a
    narrow filter, no shuffle; at 100 TB this is a scan predicate).
    ``salt`` per stage when chaining samplers (see ``_draw``)."""
    if not 0.0 <= fraction <= 1.0:
        # out-of-range fractions silently kept nothing (<0) or everything
        # (>1) — a keep probability, not a clamp; fail at call time
        raise ValueError(f"fraction must be in [0, 1] (got {fraction})")
    threshold = int(fraction * HASH_SPACE)
    return df.filter(_draw(id_col, salt) < F.lit(threshold))


def train_eval_split(df: DataFrame, id_col: str, n_buckets: int = 100,
                     eval_buckets: int = 1, test_buckets: int = 1) -> DataFrame:
    """Deterministic train/eval/test split by hash bucket (the standard
    reproducible corpus split): bucket = hash(id) mod n_buckets; the last
    ``test_buckets`` buckets are "test", the ``eval_buckets`` before them
    "eval", the rest "train". Adding data never moves an existing row
    across splits — membership depends only on the row's own id. Pure
    projection: no shuffle, no state."""
    if n_buckets < 1:
        # pmod(h, 0) fails rows-deep: REMAINDER_BY_ZERO under Spark 4's
        # default ANSI mode (verified live), NULL-falls-through-every-
        # WHEN → silent all-"train" with ANSI off — an executor error or
        # a silently wrong split depending on a session conf; fail here
        raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")
    if eval_buckets < 0 or test_buckets < 0:
        raise ValueError(f"eval_buckets/test_buckets must be >= 0 (got "
                         f"{eval_buckets}, {test_buckets})")
    if eval_buckets + test_buckets > n_buckets:
        # a negative train range silently relabels train rows as eval
        raise ValueError(
            f"eval_buckets + test_buckets must be <= n_buckets (got "
            f"{eval_buckets} + {test_buckets} > {n_buckets})")
    bucket = F.pmod(_draw(id_col), F.lit(n_buckets))
    eval_lo = n_buckets - test_buckets - eval_buckets
    test_lo = n_buckets - test_buckets
    return df.withColumn("split",
                         F.when(bucket >= F.lit(test_lo), F.lit("test"))
                         .when(bucket >= F.lit(eval_lo), F.lit("eval"))
                         .otherwise(F.lit("train")))


def stratified_sample(df: DataFrame, strata_cols: list[str], n: int,
                      id_col: str) -> DataFrame:
    """Exactly ``n`` rows per stratum, chosen by hash order (uniform within
    the stratum, deterministic). One shuffle on the strata key — inherent
    to exact counts; skewed strata are safe because the per-row state is
    just the rank. For fraction-per-stratum (no exactness), prefer
    ``hash_sample`` filtered per stratum — shuffle-free."""
    w = Window.partitionBy(*strata_cols).orderBy(
        _draw(id_col).asc(), F.col(ident(id_col)).asc())
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n).drop("__rk"))


def weighted_bernoulli_sample(df: DataFrame, id_col: str, weight_col: str,
                              max_weight: float) -> DataFrame:
    """Weighted Bernoulli: keep with probability weight/max_weight,
    deterministically. The comparison u < w/W is cross-multiplied into
    exact integer arithmetic — h·(W·100) < w_cents·2^60 — with 128-bit-safe
    decimal operands, so engines with different float rounding still select
    identical rows. Weights are taken at cent precision (2 decimal
    places). Narrow filter, no shuffle."""
    if not max_weight > 0:
        # max_weight <= 0 makes every keep "probability" >= 1 for any
        # positively-weighted row — the filter silently kept everything
        raise ValueError(f"max_weight must be > 0 (got {max_weight})")
    w_cents = F.round(F.col(weight_col) * 100, 0).cast("decimal(38,0)")
    # round, not truncate: int(0.29 * 100) is 28 — a truncated W would
    # inflate every keep probability (and push weight==max_weight past 1)
    max_cents = int(round(max_weight * 100))
    lhs = _draw(id_col).cast("decimal(38,0)") * F.lit(max_cents)
    rhs = w_cents * F.lit(HASH_SPACE).cast("decimal(38,0)")
    return df.filter(lhs < rhs)


def reservoir_n(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """Fixed-size uniform sample without replacement (the deterministic
    analogue of reservoir sampling): global top-n by (hash, id). Spark
    plans orderBy+limit as TakeOrdered — each partition keeps its local
    top-n and the driver merges; the full data is never sorted or
    shuffled."""
    return (df.orderBy(_draw(id_col).asc(), F.col(ident(id_col)).asc())
            .limit(n))


def shuffle_corpus(df: DataFrame, id_col: str, salt: str = "v1",
                   n_shards: int | None = None) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets a
    ``shuffle_key`` (the salted 60-bit draw) and the corpus is
    range-repartitioned + sorted by it — a reproducible uniform-random
    permutation that destroys source/time ordering correlations (the
    standard pre-training step; sequential corpus order teaches the
    model crawl-adjacency). Re-running with the same salt reproduces the
    exact order; a new salt is a fresh permutation.

    Scale shape: ``repartitionByRange`` samples the key to build balanced
    bounds (no global sort materializes — each of ``n_shards`` output
    partitions sorts locally), so the cost is one exchange + per-shard
    sorts, and the written shards ARE the training order. Collision odds
    at 2⁻⁶⁰ per pair leave ties broken by id — still deterministic.
    """
    if n_shards is not None and n_shards < 1:
        # 0 is falsy and silently fell back to defaultParallelism — an
        # explicit shard count of zero is a mistake, not a default request
        raise ValueError(
            f"n_shards must be >= 1 when given (got {n_shards})")
    key = _draw(id_col, salt)
    n = n_shards or df.sparkSession.sparkContext.defaultParallelism
    return (df.withColumn("shuffle_key", key)
            .repartitionByRange(n, F.col("shuffle_key"),
                                F.col(ident(id_col)))
            .sortWithinPartitions("shuffle_key", F.col(ident(id_col))))
