"""Deduplication operators for LLM-data pipelines (beyond-reference;
SURVEY.md §7.3). All shuffle-aware, no driver-side collects:

  * exact_dedup / drop_exact_dups — hash-groupBy on normalized text.
  * ngram_jaccard_pairs    — EXACT Jaccard ≥ t pairs via PPJoin-style
                             prefix filtering (frequency-ascending global
                             shingle order + length/positional filters)
                             with array-intersect verification. The
                             scalable exact path; ``max_shingle_freq``
                             optionally trades recall for a hard skew cap.
  * minhash_lsh_pairs      — MinHash + LSH banding: in-bucket candidate
                             expansion, then exact-Jaccard verification.
                             The 100 TB probabilistic path (no all-pairs).
  * simhash_fingerprints / simhash_near_pairs — 60-bit SimHash, 15-bit
                             pigeonhole bands, hamming-filtered in-bucket
                             pairs (complete for hamming < bands).
  * embedding_near_dups    — cosine ≥ t pairs: banded hyperplane-LSH
                             (r-bit band keys, multi-probe), exact-cosine
                             verify; embedding_exact_pairs is its brute-
                             force recall-pinning companion.
  * connected_components   — pairs → dedup clusters (min-label
                             propagation, the pipeline's final step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_migrate_spark.functions.sizing import (
    count_and_row_bytes,
)
from data_warehouse_migrate_spark.functions.text import (
    SIMHASH_BITS,
    hashed_shingles_sql,
    md5_prefix_int,
    minhash_signature_sql,
    normalized_text,
    simhash_sql,
)
from data_warehouse_migrate_spark.operators.skew import spread_input


def _materialize(df: DataFrame) -> DataFrame:
    """Eagerly persist a subtree that a self-join (or multi-branch plan)
    will scan more than once. Without this, each branch re-executes the
    full lineage (text → shingles → freq → sort …) — measured 5-10×
    slowdowns on the near-dup operators. Eager (count now) because a lazy
    persist does NOT dedupe concurrent computation: within one action the
    scheduler runs independent branches in parallel and each populates the
    cache separately. MEMORY_AND_DISK spills under pressure and recomputes
    on executor loss, so it is safe at cluster scale.

    Lifecycle (r15 review): the cached plan lives until the SESSION drops
    it — Spark's CacheManager holds DataFrame caches strongly, so unlike
    raw RDDs they are NOT freed when the Python handle is GC'd (the
    ContextCleaner only reaps weakly-reachable RDDs/broadcasts/shuffles).
    Unpersisting here is impossible by construction: the persisted subtree
    IS part of the returned (still-lazy) plan. The design center — one
    batch job per corpus pass, session exits at the end — never notices;
    a long-lived session invoking these operators repeatedly should call
    ``spark.catalog.clearCache()`` between corpus passes (worst case
    before that is disk-spilled blocks, not OOM). The iterative operator
    where the entry is both large and short-lived exposes an explicit
    ``diag['unpersist']`` callable instead (``operators/entity.py``)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


# Broadcast the (cached, already-counted) set side of a verification join
# below this estimated SIZE — planner size estimates for cached subtrees
# are unreliable at plan time, so we decide from the actual materialized
# count times a measured average row width. A row-count cutoff is wrong
# for variable-width payloads: 2M rows of shingle arrays (hundreds of
# longs per doc) or embedding vectors is multi-GB — past the 8 GB
# broadcast hard cap and enough to OOM the driver, at exactly the corpus
# sizes where the guard matters. 512 MB keeps the broadcast comfortably
# inside executor memory at 1000-executor scale.
_BROADCAST_MAX_BYTES = 512 * 1024 * 1024
_BROADCAST_SAMPLE_ROWS = 2048

# Hot-bucket keys are resolved eagerly on the driver (see _bucket_pairs):
# the list is bounded by band_rows/max_bucket_size and was headed into a
# broadcast regardless, but a degenerate corpus could still overflow the
# driver — past this many keys the lazy broadcast-join shape takes over.
# 100k (band int, band_key long) rows is ~10 MB as a pandas frame.
_HOT_KEYS_DRIVER_MAX = 100_000

# Buckets larger than this expand B²/2 pairs in-array; larger buckets
# spill to the streamed self-join (_bucket_pairs' hot-bucket guard). ONE
# module constant (ADVICE r17): minhash_lsh_pairs' fused hot-key probe
# and _bucket_pairs' routing must read the SAME threshold — hard-coding
# 512 at one call site while the other relied on the default meant a
# future change to either would silently split the hot set from the
# in-array/spill routing.
_MAX_BUCKET_SIZE = 512


def _avg_row_bytes(df: DataFrame, n_rows: int) -> float:
    """Estimated in-memory bytes per row of ``df``.

    Fixed-width columns are priced from the schema alone (no job);
    variable-width columns (string/binary/array) are priced by averaging
    octet/element counts over the first ``_BROADCAST_SAMPLE_ROWS`` rows —
    one tiny aggregate on an already-cached subtree. A head sample is an
    estimate, not a census; the 512 MB cutoff leaves a wide margin below
    the 8 GB broadcast cap to absorb sampling bias.
    """
    from data_warehouse_migrate_spark.functions.sizing import row_bytes_expr

    fixed, total = row_bytes_expr(df.schema)
    if total is None:
        return fixed
    row = (df.limit(min(n_rows, _BROADCAST_SAMPLE_ROWS) or 1)
           .agg(F.avg(total)).first())
    return fixed + float(row[0] or 0.0)


def _maybe_broadcast(df: DataFrame, n_rows: int,
                     avg_row_bytes: float | None = None) -> DataFrame:
    """Broadcast iff ``n_rows × avg_row_bytes`` fits ``_BROADCAST_MAX_BYTES``.

    Callers joining the same base frame twice (id_a/id_b verification
    joins) should compute ``avg_row_bytes`` once — via the shared
    ``sizing.count_and_row_bytes`` folded into their existing count job,
    or :func:`_avg_row_bytes` — and pass it to both calls. Returns ``df``
    unchanged (same object) when the broadcast is declined, so the join
    falls back to a shuffle hash/sort-merge join.
    """
    if avg_row_bytes is None:
        avg_row_bytes = _avg_row_bytes(df, n_rows)
    return (F.broadcast(df) if n_rows * avg_row_bytes <= _BROADCAST_MAX_BYTES
            else df)


def _hot_keys_branch(band_rows: DataFrame, max_bucket_size: int):
    """Tagged (tag=1, c1=band, c2=band_key) hot-bucket keys as STRINGS —
    one branch of a fused single-action collect (see ``_collect_tagged``).
    String casts are exact for integral band/band_key types (a double
    harmonization would silently lose band keys above 2^53 — simhash with
    bands=1 carries 60-bit keys).

    NULL band keys are dropped up front (ADVICE r17): _bucket_pairs
    filters them before its own inline probe, so a fused probe counting
    them would disagree with the routing's counts — and a NULL key in a
    hot row would TypeError the callers' int(row["c2"]) parse. In-tree
    callers never produce one (minhash filters isNotNull; semantic cells
    are non-NULL ints), but the helper must match the semantics its
    sibling enforces rather than silently assume them."""
    counts = (band_rows.filter(F.col("band_key").isNotNull())
              .groupBy("band", "band_key")
              .agg(F.count("*").alias("__bn")))
    return (counts.filter(F.col("__bn") > max_bucket_size)
            .select(F.lit(1).alias("tag"),
                    F.col("band").cast("string").alias("c1"),
                    F.col("band_key").cast("string").alias("c2"))
            .limit(_HOT_KEYS_DRIVER_MAX + 1))


def _pair_sum_branch(band_rows: DataFrame):
    """Tagged (tag=2, c1=Σ_buckets B·(B−1)/2, c2=NULL) single-row frame:
    the exact within-bucket candidate-pair count, from the same
    per-bucket counts the hot-key probe reads — fused into the caller's
    single collect so sizing the candidate-pair exchange costs no job of
    its own (r17 verdict item 6). Integer arithmetic throughout (a
    double sum would lose exactness past 2^53 pairs)."""
    counts = (band_rows.filter(F.col("band_key").isNotNull())
              .groupBy("band", "band_key")
              .agg(F.count("*").alias("__bn")))
    return counts.agg(
        F.lit(2).alias("tag"),
        F.coalesce(
            F.sum(F.col("__bn") * (F.col("__bn") - F.lit(1)) / F.lit(2)
                  ).cast("bigint"),
            F.lit(0).cast("bigint")).cast("string").alias("c1"),
        F.lit(None).cast("string").alias("c2"))


def _sizing_branch(df: DataFrame) -> tuple[DataFrame, float]:
    """(tagged (tag=0, c1=count, c2=avg_var_bytes) single-row frame,
    fixed bytes/row) — the ``count_and_row_bytes`` aggregate shaped for a
    fused collect. ``c2`` is NULL when the schema has no variable-width
    columns (caller adds ``fixed`` either way)."""
    from data_warehouse_migrate_spark.functions.sizing import row_bytes_expr

    fixed, var = row_bytes_expr(df.schema)
    w = (F.avg(var) if var is not None
         else F.lit(None).cast("double"))
    return (df.agg(F.lit(0).alias("tag"),
                   F.count("*").cast("string").alias("c1"),
                   w.cast("string").alias("c2")), fixed)


def _first_band_filter(band_col, collide, bands: int) -> "F.Column":
    """Predicate: NO band strictly before ``band_col`` already collided —
    the standard LSH dedup-free emission rule. Each colliding pair is
    generated in exactly ONE band (its first), so callers drop their
    ``.distinct()`` — one whole candidate-pair shuffle removed from the
    plan (guide §2.4). ``collide(t)`` (t a LITERAL python int) must be
    the SAME per-band collision predicate candidate generation used (key
    equality for exact banding, in-band hamming ≤ probe_bits for
    multi-probe); completeness is untouched because a pair suppressed at
    band t was already emitted at its first colliding band t' < t.

    UNROLLED over the literal band count, deliberately: the obvious
    ``exists(sequence(0, band-1), collide)`` is a higher-order function —
    CodegenFallback — and one such predicate in the candidate join's
    filter drops the WHOLE join stage out of whole-stage codegen;
    measured 13s → 22s on the multi-probe embedding query, i.e. worse
    than the distinct() shuffle it replaces. The unrolled OR chain
    (bands-1 plain comparisons) stays inside codegen."""
    from functools import reduce
    from operator import or_

    earlier = [(band_col > t) & collide(t) for t in range(bands - 1)]
    if not earlier:
        return F.lit(True)
    return ~reduce(or_, earlier)


def _bucket_pairs(band_rows: DataFrame, payload_cols: list[str],
                  max_bucket_size: int = _MAX_BUCKET_SIZE,
                  diag: dict | None = None,
                  input_cached: bool = False,
                  hot_pdf=None,
                  pair_filter=None) -> DataFrame:
    """Within-bucket candidate pairs, hot-bucket safe.

    ``band_rows`` must have (band, band_key, *payload_cols). Normal
    buckets are grouped, members collected, and unordered pairs expanded
    inside an array expression — candidate generation is ONE shuffle keyed
    by bucket, and the self-join plan-duplication (which recomputes the
    full fingerprint subtree on both sides) disappears.

    Hot-bucket guard: a bucket of B members yields B²/2 pairs, and the
    in-array expansion materializes ALL of them in one task — fine while
    banding keeps buckets small (its job), catastrophic when a degenerate
    corpus (e.g. millions of byte-identical documents) lands one giant
    bucket. Buckets larger than ``max_bucket_size`` therefore spill to a
    streamed equi-self-join on (band, band_key): the same pairs, produced
    incrementally by the join operator instead of one array expression.
    (Prefer collapsing exact duplicates BEFORE banding — the pair list
    over m identical docs is inherently O(m²).)

    Bucket sizing costs one COUNT aggregate, not a window pass: per-bucket
    counts reduce map-side to one narrow row per distinct bucket (the
    round-2 window variant shuffled + sorted the full band_rows set just
    to annotate sizes — measured +25-30% on the banding queries). The
    oversized keys — structurally rare: banding's whole job is small
    buckets — are resolved EAGERLY on the driver (r17): the hot-key list
    is bounded by rows/max_bucket_size and was headed into a broadcast
    anyway, so collecting it costs what the broadcast build cost. With
    the list in hand the common no-hot-bucket case skips the anti join,
    the hot branch and the union entirely — the lazy r16 shape kept
    three references to the hot-keys subtree (anti + two self-join
    semis), and AQE cannot exchange-reuse subtrees containing a cached
    relation (the IMR's embedded AdaptiveSparkPlan defeats plan
    canonicalization), so the counts aggregate executed THREE times per
    action (measured: 3 extra full passes over the band_rows cache on
    ``dedup_minhash``). Corpora with more than ``_HOT_KEYS_DRIVER_MAX``
    oversized buckets fall back to the lazy broadcast-join shape with
    the hot-keys frame persisted (cache substitution still dedupes
    where exchange reuse cannot).

    ``band_rows`` is materialized first: three plan branches consume it
    (sizing, small, hot), and without the persist each branch re-derives
    the full fingerprint subtree — measured +40% on ``dedup_simhash``,
    whose SimHash expression is the dominant cost (the round-2 window
    variant also recomputed it, once per output branch). Narrow columns
    (id + fingerprint + band key), so the persist is cheap at any scale.

    CONTRACT: ``payload_cols[0]`` must be a UNIQUE id. The spill path
    generates pairs with a strict ``<`` self-join on it, so rows sharing
    that value inside a hot bucket would silently produce no pair (the
    in-array path would emit them). Both in-tree callers pass a unique
    doc/vector id first.

    Returns columns ``a``/``b`` structs of the payload; pairs are
    unordered and ordered by the first payload column on the join path.

    ``diag`` (optional dict) receives bucket-occupancy stats — band_rows /
    n_buckets / max_bucket / hot_buckets — eagerly. Bench-only: it lets a
    future run distinguish a data/plan regression (occupancy moved) from
    host noise (occupancy identical, time moved) without re-deriving the
    operator internals.
    """
    order_col = payload_cols[0]
    # NULL band keys (a NULL fingerprint from NULL text) can never
    # legitimately match — and they BYPASS the hot-bucket guard below
    # (anti/semi equi-joins never match NULL keys), so a corpus-sized
    # NULL bucket would route into the in-array B²/2 expansion and OOM
    # one task while producing pairs the downstream hamming/threshold
    # filter discards anyway. Drop them before anything else.
    band_rows = band_rows.filter(F.col("band_key").isNotNull())
    # ``input_cached=True``: the caller's band_rows derive from an
    # ALREADY-PERSISTED frame (e.g. minhash signatures), so the three
    # consuming branches re-derive only a cache scan plus the cheap band
    # hash — a separate materialize here would pay a whole extra
    # scheduling round to save nothing (the expensive fingerprint subtree
    # is behind the cache). Callers whose band_rows embed the full
    # text-derived expression (simhash) persist HERE, lazily: the eager
    # hot-key probe below is the materializing action, so the persist
    # costs no job of its own (r17 — the r16 shape paid a separate
    # _materialize count, one full scheduling round per query, for a
    # number nothing consumed).
    if not input_cached and hot_pdf is None:
        from pyspark import StorageLevel

        band_rows = band_rows.persist(StorageLevel.MEMORY_AND_DISK)
    counts = (band_rows.groupBy("band", "band_key")
              .agg(F.count("*").alias("__bn")))
    if diag is not None:
        # band_rows total = Σ per-bucket counts — folded into the stats
        # aggregate so the diag path costs ONE job on both the
        # materialized and the input_cached branches
        stats = counts.agg(
            F.count("*").alias("nb"), F.max("__bn").alias("mx"),
            F.sum("__bn").alias("nr"),
            F.sum((F.col("__bn") > max_bucket_size).cast("int")).alias("hot"),
        ).first()
        diag.update(band_rows=int(stats["nr"] or 0),
                    n_buckets=int(stats["nb"]), max_bucket=int(stats["mx"]),
                    hot_buckets=int(stats["hot"] or 0))

    # eager hot-key resolution: bounded at rows/max_bucket_size rows of
    # (band, band_key) — the same data the lazy shape broadcast — with a
    # limit probe deciding whether the driver may hold it. Callers that
    # fused this probe into an earlier action (``_hot_keys_branch``) pass
    # the resolved ``hot_pdf`` in and skip the extra job entirely.
    if hot_pdf is None:
        hot_pdf = (counts.filter(F.col("__bn") > max_bucket_size)
                   .select("band", "band_key")
                   .limit(_HOT_KEYS_DRIVER_MAX + 1).toPandas())
    if len(hot_pdf) == 0:
        small_src = band_rows
        big = None
    elif len(hot_pdf) <= _HOT_KEYS_DRIVER_MAX:
        spark = band_rows.sparkSession
        hot_schema = T.StructType([band_rows.schema["band"],
                                   band_rows.schema["band_key"]])
        hot_keys = F.broadcast(spark.createDataFrame(hot_pdf, hot_schema))
        small_src = band_rows.join(hot_keys, ["band", "band_key"],
                                   "left_anti")
        big = band_rows.join(hot_keys, ["band", "band_key"], "left_semi")
    else:
        # degenerate corpus (hot keys outgrow the driver bound): lazy
        # broadcast-join shape, hot-keys frame persisted so its three
        # consumers share one computation despite broken exchange reuse
        hot_keys = F.broadcast(_materialize(
            counts.filter(F.col("__bn") > max_bucket_size)
            .select("band", "band_key")))
        small_src = band_rows.join(hot_keys, ["band", "band_key"],
                                   "left_anti")
        big = band_rows.join(hot_keys, ["band", "band_key"], "left_semi")

    member = F.struct(*payload_cols)
    small = (small_src
             .groupBy("band", "band_key")
             .agg(F.collect_list(member).alias("xs"))
             .filter(F.size("xs") > 1))
    # SQL-text twin of the nested-lambda pair expansion (r18): the
    # Column form cost ~150 ms of py4j round-trips per call (three
    # nested higher-order builders); one JVM parse builds the same tree
    pairs = F.expr(
        "flatten(transform(xs, (x, i) -> "
        "transform(slice(xs, i + 2, size(xs)), "
        "y -> struct(x AS a, y AS b))))")
    # ``pair_filter(a_struct, b_struct, band)`` (optional) runs while the
    # generating band is still in scope — the first-colliding-band rule
    # (``_first_band_filter``) needs it; both the in-array and the spill
    # paths apply the same predicate so pair SETS stay path-independent
    small_pairs = small.select(F.col("band"), F.explode(pairs).alias("p"))
    if pair_filter is not None:
        small_pairs = small_pairs.filter(
            pair_filter(F.col("p.a"), F.col("p.b"), F.col("band")))
    small_pairs = small_pairs.select("p.a", "p.b")
    if big is None:
        return small_pairs

    ba, bb = big.alias("ba"), big.alias("bb")
    big_pairs = (
        ba.join(bb, (F.col("ba.band") == F.col("bb.band"))
                & (F.col("ba.band_key") == F.col("bb.band_key"))
                & (F.col(f"ba.{order_col}") < F.col(f"bb.{order_col}")))
        .select(F.col("ba.band").alias("band"),
                F.struct(*[F.col(f"ba.{c}").alias(c) for c in payload_cols]).alias("a"),
                F.struct(*[F.col(f"bb.{c}").alias(c) for c in payload_cols]).alias("b"))
    )
    if pair_filter is not None:
        big_pairs = big_pairs.filter(
            pair_filter(F.col("a"), F.col("b"), F.col("band")))
    big_pairs = big_pairs.select("a", "b")
    return small_pairs.unionByName(big_pairs)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical normalized texts: returns one row per distinct text
    with the keeper (min id) and the duplicate count. One hash-partitioned
    aggregate; at scale group keys are the 128-bit md5, not the text."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def drop_exact_dups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep only the min-id row per normalized text (the dedup
    materializer). NULL texts hash to a reserved sentinel so they form
    ONE group with a surviving representative — a raw md5(NULL)=NULL key
    would never match itself in the aggregate and every NULL-text row
    (common in crawl data: failed extractions) would silently vanish.

    ONE pass, ONE shuffle: ``min_by(struct(cols), id)`` per hash group.
    The r16 shape (groupBy min-id keep list + leftsemi join back) scanned
    the input lineage twice — behind ``clean_corpus`` that meant the full
    lang-ID + Gopher gate expression ran once per side — and paid a
    second shuffle for the join. min_by partial-aggregates map-side, so
    each map partition ships at most one candidate row per distinct text
    (skew-safe on duplicate-heavy corpora, and strictly fewer shuffle
    bytes than the join shape's full surviving-row exchange). With a
    unique ``id_col`` the kept rows are identical to the join shape;
    duplicated (id, text) rows keep ONE representative here (the
    aggregate's semantics — 'the min-id row', singular)."""
    h = F.coalesce(F.md5(normalized_text(F.col(text_col))),
                   F.lit("__null_text__"))
    return (df.groupBy(h.alias("__h"))
            .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__r"))
            .select("__r.*"))


def line_dedup(df: DataFrame, text_col: str, id_col: str,
               min_occurrences: int = 2,
               delimiter: str = "\n") -> DataFrame:
    """C4-style LINE-level corpus dedup (sub-document granularity): drop
    every line whose exact text occurs in ``min_occurrences`` or more
    line slots across the WHOLE corpus (boilerplate headers, cookie
    banners, license blocks), then reassemble each document from its
    surviving lines in original order.

    Returns (``id_col``, text_clean, n_lines, n_kept):
      * text_clean — surviving lines re-joined with ``delimiter``; ''
        when every line was dropped; NULL for NULL input text;
      * n_lines / n_kept — per-doc totals (n_lines is 0 for NULL text).

    Plan: split → posexplode; corpus-wide occurrence counts via a window
    over the 60-bit line hash (fixed-width shuffle keys — the same
    md5-prefix trick as the shingle operators; a collision merges two
    lines' counts at ~2^-60, over-dropping, never corrupting text);
    surviving (pos, line) pairs re-group per doc and sort inside an array
    expression (no global sort); one narrow sizes projection LEFT-joined
    back so fully-dropped and NULL-text docs stay in the output. Three
    shuffles total — line-hash window, doc regroup, doc-stat join — each
    keyed and AQE-coalesced; nothing is corpus²."""
    from pyspark.sql import Window as W

    if min_occurrences < 2:
        raise ValueError("min_occurrences must be >= 2 (1 drops every line)")
    split_arr = F.split(F.col(text_col), delimiter)
    sizes = df.select(
        F.col(id_col),
        F.coalesce(F.when(F.size(split_arr) >= 0, F.size(split_arr)),
                   F.lit(0)).alias("n_lines"),
        F.col(text_col).isNull().alias("__null_text"))
    lines = (df.select(F.col(id_col),
                       F.posexplode(split_arr).alias("pos", "line"))
             .withColumn("__h", md5_prefix_int(F.col("line"))))
    kept = (lines
            .withColumn("__c", F.count("*").over(W.partitionBy("__h")))
            .filter(F.col("__c") < min_occurrences)
            .groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "line"))),
                         lambda x: x["line"]),
                     delimiter).alias("__clean"),
                 F.count("*").alias("__kept")))
    return (sizes.join(kept, id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col("__null_text"), F.lit(None))
                     .otherwise(F.coalesce(F.col("__clean"), F.lit("")))
                     .alias("text_clean"),
                    F.col("n_lines"),
                    F.coalesce(F.col("__kept"), F.lit(0)).cast("bigint")
                     .alias("n_kept")))


# ---------------------------------------------------------------------------
# shingle machinery shared by Jaccard / MinHash
# ---------------------------------------------------------------------------

def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingles: array<long>) — distinct hashed word n-grams per doc
    (md5-prefix 60-bit hashes: ONE native hash call per shingle,
    oracle-twinnable in DuckDB; a char-fold polyhash cost 16× more in
    minhash signatures because Catalyst inlines the shingle subtree into
    every permutation expression).

    Input is spread to the session's parallelism first (no-op at scale):
    the shingle+md5 expression tree is the dominant cost of every operator
    built on this, and a small single-file scan would otherwise compute it
    all on one core. Built via the SQL-text twin (r18): one JVM-side
    parse instead of ~125 ms of py4j Column-builder round trips per call
    — bit-identical, pinned in tests/test_text.py."""
    df = spread_input(df)
    return df.select(
        F.col(id_col).alias("id"),
        hashed_shingles_sql(text_col, n).alias("shingles"),
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.8,
                        max_shingle_freq: int | None = None) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via inverted-index join.

    Returns (id_a, id_b, jaccard) for all pairs with J ≥ threshold,
    id_a < id_b. Complete: a pair with J>0 shares ≥1 shingle and is found
    by the shingle join. ``max_shingle_freq`` drops shingles occurring in
    more than F docs (skew cap; see module docstring).

    Duplicate-density sensitivity (measured, r7 10× stress): candidate
    volume scales with the number of TRUE near-duplicate pairs, which is
    itself superlinear when duplicate CLUSTERS grow with the corpus —
    10× docs on the synthetic bench corpus produced 103× candidates
    (68.7k → 7.09M) because output pairs grew to 250.6k; the
    candidates-per-OUTPUT ratio stayed ~28×. Prefix filtering bounds
    candidates relative to true results, not corpus size — on a real
    mixed corpus (duplicate rate flat in corpus size) candidates grow
    ~linearly, but monitor candidates per output pair in production: a
    blow-up there means the threshold/shingle choice, not the data
    volume, is the problem.
    """
    if n < 1:
        raise ValueError(f"shingle size n must be >= 1 (got {n})")
    if max_shingle_freq is not None and max_shingle_freq < 1:
        # 0 is falsy and silently DISABLED the cap; negatives dropped
        # every shingle and silently returned zero pairs on any corpus.
        # Neither is a meaningful frequency bound — pass None to disable.
        raise ValueError(
            f"max_shingle_freq must be >= 1 when given (got "
            f"{max_shingle_freq})")
    from pyspark.sql import Window as W

    # LAZY persist: the fused sizing+prefix collect below is the single
    # materializing action for BOTH caches (r17 — the r16 shape paid two
    # scheduling rounds: a sizing count on sets, then a separate
    # _materialize count on the prefix frame)
    from pyspark import StorageLevel

    sets = _shingle_sets(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK)
    inv = sets.select("id", F.explode("shingles").alias("shingle"))
    if max_shingle_freq:
        freq_cap = inv.groupBy("shingle").agg(F.count("*").alias("f"))
        inv = inv.join(freq_cap.filter(F.col("f") <= max_shingle_freq),
                       "shingle", "leftsemi")

    # PPJoin-style prefix filtering: under a global total order on shingles
    # (ascending document frequency, so prefixes hold the RAREST shingles),
    # any pair with J ≥ t shares a shingle within each side's first
    # p = |S| - ceil(t·|S|) + 1 shingles. Joining prefix-with-prefix is
    # therefore complete, and the hot shingles that blow up a plain
    # inverted-index join (f² pairs each) mostly sit outside prefixes.
    # Document frequency comes from a WINDOW count over the inverted list
    # — the same shingle-keyed shuffle a groupBy would pay, but with no
    # second frame to materialize, size, and broadcast back.
    ordered = (inv.withColumn("f", F.count("*").over(
                   W.partitionBy("shingle")))
               .groupBy("id")
               .agg(F.array_sort(F.collect_list(F.struct("f", "shingle"))).alias("fs")))
    sz = F.size("fs")
    # epsilon guards FP error in ceil(t·|S|): err toward a LONGER prefix
    # (extra candidates are verified away; a short prefix loses true pairs)
    prefix_len = (sz - F.ceil(F.lit(threshold) * sz - F.lit(1e-9)) + 1).cast("int")
    # posexplode over the primitive sliced array: pos is the 0-based global
    # position in the frequency-ordered set (slice starts at 1), and struct
    # arrays (4× slower to build/explode) are avoided entirely
    pref = ordered.select(
        F.col("id"), sz.alias("sz"),
        F.posexplode(F.slice(F.transform(F.col("fs"), lambda x: x["shingle"]),
                             F.lit(1), prefix_len)).alias("pos", "shingle")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ONE action: the prefix count (materializing pref and, transitively,
    # sets — pref's lineage scans it) fused with the sets sizing aggregate
    # (broadcast guard) as tagged union branches; the sizing branch reads
    # the cache the other branch populates (verified single compute)
    sizing, fixed = _sizing_branch(sets)
    pref_count_branch = pref.agg(
        F.lit(1).alias("tag"), F.count("*").cast("string").alias("c1"),
        F.lit(None).cast("string").alias("c2"))
    n_sets, sets_bytes = 0, fixed
    for row in sizing.unionByName(pref_count_branch).collect():
        if row["tag"] == 0:
            n_sets = int(row["c1"])
            sets_bytes = fixed + float(row["c2"] or 0.0)
    t = F.lit(threshold)
    eps = F.lit(1e-9)
    # length filter: J ≥ t ⟹ t·|a| ≤ |b| ≤ |a|/t.  positional filter
    # (PPJoin): a match at 0-based positions (i, j) of the ordered sets can
    # reach the required overlap α = ceil(t/(1+t)·(|a|+|b|)) only if the
    # remaining suffixes are long enough: 1 + min(|a|-i-1, |b|-j-1) ≥ α.
    a = pref.alias("a")
    b = pref.alias("b")
    alpha = F.ceil(t / (F.lit(1.0) + t) * (F.col("a.sz") + F.col("b.sz")) - eps)
    # ASYMMETRIC prefixes (PPJoin indexing prefix, r18 — r17 verdict
    # item 4): orient every pair by (sz, id) so side a is the SMALLER
    # set, and restrict a's entries to its INDEXING prefix
    # |a| − ceil(2t/(1+t)·|a|) + 1 (vs the probe prefix
    # |s| − ceil(t·|s|) + 1 both sides used before). The CANDIDATE SET
    # is provably unchanged: the per-row positional filter below
    # already implies the indexing bound on the smaller side
    # (1 + min(...) ≥ α ⟹ i ≤ |a| − α ≤ |a| − ceil(2t/(1+t)·|a|), since
    # α grows with |b| ≥ |a|) — measured identical join rows (72,596)
    # and candidates (68,672) either way at sf0.1/t=0.6. What the
    # explicit one-sided predicate buys is PUSH-DOWN (guide §2.3): the
    # positional filter references both sides, so it can only run ON
    # the join's output — idx_ok references only a-columns and Catalyst
    # pushes it below the join (plan-verified: Filter
    # (pos + CEIL(2t/(1+t)·sz)) <= sz sits directly above the a-side
    # cache scan), so at t=0.6 ~37% of the a-side's prefix rows never
    # enter the join's build/shuffle at all. Size ties break by id, so
    # each unordered pair keeps exactly ONE orientation (ids are
    # re-canonicalized to id_a < id_b on output).
    idx_ok = (F.col("a.pos")
              + F.ceil(F.lit(2.0 * threshold / (1.0 + threshold))
                       * F.col("a.sz") - eps) <= F.col("a.sz"))
    size_order = ((F.col("a.sz") < F.col("b.sz"))
                  | ((F.col("a.sz") == F.col("b.sz"))
                     & (F.col("a.id") < F.col("b.id"))))
    # Aggregated positional filter (tighter than per-row PPJoin): both
    # sets are sorted by the SAME global (freq, shingle) order, so prefix
    # matches are monotone — the match with the largest a-position is the
    # match with the largest b-position, and every shared shingle NOT
    # matched prefix-to-prefix sits strictly after it in both sets (the
    # argument is region-shape independent, so the asymmetric rectangle
    # [0, idx_prefix)×[0, probe_prefix) inherits it). Hence
    # total_overlap ≤ n_pref + min(remaining suffix after the last match)
    # — counting ALL prefix matches (n_pref) instead of the per-row
    # "1 +" bound prunes pairs whose single shared rare shingle can never
    # reach α. The groupBy replaces the old .distinct() (same shuffle).
    alpha_g = F.ceil(t / (F.lit(1.0) + t) * (F.col("sz_a") + F.col("sz_b"))
                     - eps)
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & size_order & idx_ok
               & (F.col("b.sz") >= t * F.col("a.sz") - eps)
               & (F.col("a.sz") >= t * F.col("b.sz") - eps)
               & (F.lit(1) + F.least(F.col("a.sz") - F.col("a.pos") - 1,
                                     F.col("b.sz") - F.col("b.pos") - 1) >= alpha))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
        .agg(F.count("*").alias("n_pref"),
             F.max("a.pos").alias("pa_last"),
             F.max("b.pos").alias("pb_last"))
        .filter(F.col("n_pref")
                + F.least(F.col("sz_a") - F.col("pa_last") - 1,
                          F.col("sz_b") - F.col("pb_last") - 1) >= alpha_g)
        .select("id_a", "id_b")
    )
    sa = _maybe_broadcast(
        sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
        n_sets, sets_bytes)
    sb = _maybe_broadcast(
        sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
        n_sets, sets_bytes)
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(
            F.col("n_inter") /
            (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        # candidates are (smaller, larger)-by-size since the asymmetric
        # prefix orientation; re-canonicalize to the id_a < id_b contract
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"), "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding (the at-scale near-dup path)
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n: int = 3, k: int = 16) -> DataFrame:
    """(id, shingles, sig: array<long>[k]) MinHash signatures.

    Invalid sizes fail HERE, eagerly (the attach_media_columns
    convention): k=0 builds an empty signature whose band hash later
    fails analysis with an opaque arity error, and n=0 shingles are
    meaningless — neither should surface rows-deep on an executor.
    """
    from data_warehouse_migrate_spark.functions.text import MINHASH_A

    if n < 1:
        raise ValueError(f"shingle size n must be >= 1 (got {n})")
    if not 1 <= k <= len(MINHASH_A):
        raise ValueError(f"k must be in [1, {len(MINHASH_A)}] — one affine "
                         f"permutation per signature element (got {k})")
    sets = _shingle_sets(df, text_col, id_col, n)
    # SQL-text twin (r18): the k=16 Column build alone cost ~180 ms of
    # driver py4j latency per call; bit-identical, pinned in test_text
    return sets.withColumn("sig", minhash_signature_sql("shingles", k))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      n: int = 3, k: int = 16, bands: int = 4,
                      threshold: float = 0.5,
                      diag: dict | None = None) -> DataFrame:
    """Near-dup pairs via LSH banding over MinHash signatures, verified
    with exact Jaccard on the shingle sets.

    k/bands rows-per-band r=k/b gives the usual S-curve: P(candidate) =
    1-(1-J^r)^b. Candidates are generated per band bucket (groupBy-join,
    shuffle on band hash — never all-pairs), then exact-verified.
    """
    if not 1 <= bands <= k:
        raise ValueError(f"bands must be in [1, k={k}] (got {bands})")
    if k % bands:
        raise ValueError(f"k must divide evenly into bands — r = k/bands "
                         f"rows per band (got k={k}, bands={bands})")
    r = k // bands
    # ONE eager action for everything the plan build needs (r17): the
    # sizing aggregate (broadcast guard) and the hot-bucket key probe run
    # as two tagged branches of a single fused collect over the LAZILY
    # persisted signatures — the first branch computed populates the
    # cache, the other reads it (verified: the scan executes once), so
    # the whole operator pays one scheduling round where the r16 shape
    # paid two (sizing count + probe toPandas).
    import pandas as pd
    from pyspark import StorageLevel

    sigs = minhash_signatures(df, text_col, id_col, n, k).persist(
        StorageLevel.MEMORY_AND_DISK)
    # band rows: (band_idx, band_key, id) + the full per-band key array —
    # ``bkeys`` feeds the first-colliding-band rule below, which replaces
    # the candidates ``.distinct()`` (one full pair shuffle removed); the
    # extra ``bands`` ints per row are far cheaper than re-shuffling the
    # whole candidate set (guide §2.3/2.4)
    # SQL-text twin (r18): bands × r getItem Column calls cost ~70 ms of
    # py4j per call at k=16; hash(sig[i], ...) parses to the same tree
    bkeys = F.expr("array(" + ", ".join(
        "hash(" + ", ".join(f"sig[{i}]" for i in range(b * r, (b + 1) * r))
        + ")" for b in range(bands)) + ")")
    band_rows = (sigs
                 .select("id", bkeys.alias("bkeys"))
                 .select("id", "bkeys",
                         F.posexplode(F.col("bkeys")).alias("band",
                                                            "band_key"))
                 .filter(F.col("band_key").isNotNull()))
    sizing, fixed = _sizing_branch(sigs.select("id", "shingles"))
    stat_rows = sizing.unionByName(
        _hot_keys_branch(band_rows, _MAX_BUCKET_SIZE)).collect()
    n_sets, sets_bytes, hot = 0, fixed, []
    for row in stat_rows:
        if row["tag"] == 0:
            n_sets = int(row["c1"])
            sets_bytes = fixed + float(row["c2"] or 0.0)
        else:
            hot.append((int(row["c1"]), int(row["c2"])))
    hot_pdf = pd.DataFrame(hot, columns=["band", "band_key"])
    first_band = lambda a, b, band: _first_band_filter(
        band, lambda t: a["bkeys"][t] == b["bkeys"][t], bands)
    candidates = (
        _bucket_pairs(band_rows, ["id", "bkeys"], diag=diag,
                      input_cached=True, hot_pdf=hot_pdf,
                      pair_filter=first_band)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"))
    )
    if diag is not None:
        candidates = _materialize(candidates)
        diag["candidate_pairs"] = candidates.count()
    sets = sigs.select("id", "shingles")
    out = (
        candidates
        .join(_maybe_broadcast(
            sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
            n_sets, sets_bytes), "id_a")
        .join(_maybe_broadcast(
            sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            n_sets, sets_bytes), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(
            F.col("n_inter") /
            (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str,
                         bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) fingerprints (60-bit default) — oracle-twinnable in SQL."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60] — the md5-prefix token "
                         f"hash has 60 usable bits (got {bits})")
    # SQL-text twin (r18): the bits=60 Column build alone cost ~280 ms
    # of driver py4j latency per call; bit-identical, pinned in test_text
    return df.select(F.col(id_col).alias("id"),
                     simhash_sql(text_col, bits).alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3, bands: int = 4,
                       bits: int = SIMHASH_BITS) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via banded exact-match
    (pigeonhole: ≤ bands-1 differing bits leaves ≥1 identical band).
    Complete (no missed pairs) iff bands > max_hamming; a larger radius
    degrades to best-effort recall. Buckets on (bands)-way fingerprint
    slices — 15-bit slices at the 60-bit default, so bucket cardinality
    32768 keeps buckets tiny — then expands pairs in-bucket and filters
    hamming BEFORE the dedup shuffle (candidates that fail the radius
    never hit a distinct)."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0 (got {max_hamming})")
    if not 1 <= bands <= bits:
        # bands > bits makes every band slice 0 bits wide — ALL
        # fingerprints share the single empty-key bucket and the banded
        # join silently degenerates to all-pairs (correct output through
        # the hamming filter, corpus² cost: the exact failure mode
        # banding exists to prevent). bands=0 divided by zero.
        raise ValueError(f"bands must be in [1, bits={bits}] (got {bands})")
    fp = simhash_fingerprints(spread_input(df), text_col, id_col, bits)
    width = bits // bands
    mask = (1 << width) - 1
    band_rows = fp.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ])).alias("band", "band_key"),
    )
    # the trailing ``.distinct()`` is KEPT here, deliberately (r17): the
    # hamming filter runs BEFORE it, so the dedup shuffle carries only
    # true pairs (≤ bands× duplicated) — replacing it with the
    # first-colliding-band rule (as minhash/embedding do for their
    # candidate-sized dedups) would trade that tiny shuffle for a
    # per-band key array carried through every collect_list struct,
    # measured net-negative at sf0.1 and neutral at scale
    cand = _bucket_pairs(band_rows, ["id", "simhash"])
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (cand.select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
                hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# pair → cluster (the dedup pipeline's final step)
# ---------------------------------------------------------------------------

_CC_LOCAL_MAX_EDGES = 5_000_000  # ~80 MB of (long, long) rows on the driver

# semantic_dedup's candidate-pair exchange targets this many (id, id)
# rows per partition: pairs are ~16-32 bytes each (two ids), so 1M rows
# is a 16-32 MB partition whose cost is the per-pair dot AFTER the
# vector join — seconds of CPU per task, comfortably re-splittable by
# count. The floor (defaultParallelism) governs below ~32M pairs.
_SEMANTIC_PAIRS_PER_PARTITION = 1_000_000


def _edges_pdf_or_none(und: DataFrame, local_max_edges: int):
    """ONE action deciding local-vs-distributed CC AND delivering the
    local path's edges: ``limit(max+1).toPandas()`` — len ≤ max means
    the frame IS the complete edge set (ready for ``_cc_local_moved``),
    len == max+1 means fall back to distributed CC. Replaces the r17
    count-then-toPandas pair (two eager jobs, both full passes over the
    pair generator's lineage) with a single pass; the common local path
    needs no persist at all because nothing reads the edges twice
    (r18, guide §1.2 remove passes). Returns (pdf | None) — None =
    over the bound."""
    pdf = und.limit(local_max_edges + 1).toPandas()
    return pdf if len(pdf) <= local_max_edges else None


def _cc_local_moved(pdf):
    """Driver-side connected components over a pandas (s, d) edge frame
    that fits ``_CC_LOCAL_MAX_EDGES``: returns a pandas DataFrame (node,
    __cc_label) for exactly the nodes whose component min is NOT
    themselves (the 'moved' nodes — for dedup, the drop list), or None
    for an empty edge set. Nodes absent from the result keep their own id.

    Arrow transfer into numpy (16 bytes/edge) + VECTORIZED
    Shiloach-Vishkin-style hooking over COMPACT node indices — at
    the 5M-edge default this is ~80 MB of edge arrays + ≤80 MB of
    parent array, not the multi-GB a collect() of Row objects plus
    a Python dict would cost; and every pass is whole-array numpy
    (measured ~3x the per-edge Python union-find loop at the cap).
    np.unique sorts ascending, so a smaller compact index IS a
    smaller node id — hook-by-min-index ≡ min-label. Each round:
    full pointer-jump compression (tree depth collapses to 1), then
    every still-crossing edge hooks the larger root onto the
    smaller; rounds shrink the live edge set geometrically. The min
    node of a component never gains a smaller parent, and two roots
    in one component always leave a crossing edge, so the unique
    fixed point per component is its min id."""
    import numpy as np

    if not len(pdf):
        return None
    sv = pdf["s"].to_numpy()
    dv = pdf["d"].to_numpy()
    uniq, inv = np.unique(np.concatenate([sv, dv]), return_inverse=True)
    si, di = inv[:len(sv)].astype(np.int64), inv[len(sv):].astype(np.int64)
    parent = np.arange(len(uniq), dtype=np.int64)
    while True:
        while True:                     # pointer jumping
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        ra, rb = parent[si], parent[di]
        live = ra != rb
        if not live.any():
            break
        si, di = si[live], di[live]
        lo = np.minimum(ra[live], rb[live])
        hi = np.maximum(ra[live], rb[live])
        np.minimum.at(parent, hi, lo)   # hook larger root onto min
    moved = parent != np.arange(len(uniq))
    import pandas as pd

    return pd.DataFrame({"node": uniq[moved],
                         "__cc_label": uniq[parent[moved]]})


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "id",
                         src_col: str = "id_a", dst_col: str = "id_b",
                         max_iterations: int = 25,
                         local_max_edges: int = _CC_LOCAL_MAX_EDGES
                         ) -> DataFrame:
    """Assign every node the MIN node id of its connected component —
    turning near-dup PAIRS into dedup CLUSTERS (keep cluster_id, drop the
    rest). Deterministic; returns (id_col, cluster_id).

    CONTRACT: every edge endpoint must appear in ``nodes`` (all in-tree
    callers construct it so). Violations behave differently per regime —
    the local path clusters from edges alone (and can bridge components
    through a node absent from ``nodes``), the distributed path drops
    edges touching unknown nodes at the label join — so an
    endpoint-outside-nodes graph has no defined result.

    Scale-adaptive, the same measured-size principle as the byte-aware
    broadcast guard above: the edge set is DUPLICATE-sized, not
    corpus-sized, and its count is already materialized — when it fits
    ``local_max_edges`` (~80 MB at the default), vectorized hooking
    (Shiloach-Vishkin shape) runs on the driver in O(E log n) whole-array
    numpy passes and the labels broadcast-join back (pairs at
    sub-million scale cost ~10 iterative Spark jobs to converge a chain,
    pure scheduling latency). Above the threshold: iterative min-label
    propagation with pointer jumping — one shuffle per round, converges
    in O(log diameter) rounds; labels are checkpointed per round to
    truncate lineage (an unbounded iterative plan otherwise grows until
    the driver chokes).
    """
    from pyspark import StorageLevel

    # ONE fused action decides the regime AND delivers the local path's
    # edges (r18): limit(max+1).toPandas() replaces the r17
    # count-then-toPandas pair; the local path never persists (nothing
    # reads the edge frame twice). The distributed fallback re-derives
    # the distinct once more under its own persist — the degenerate-
    # scale path pays one extra pass so the common path saves one.
    und = edges.select(F.least(F.col(src_col), F.col(dst_col)).alias("s"),
                       F.greatest(F.col(src_col), F.col(dst_col)).alias("d")
                       ).distinct()
    pdf = _edges_pdf_or_none(und, local_max_edges)
    if pdf is not None:
        lab_pdf = _cc_local_moved(pdf)
        spark = nodes.sparkSession
        if lab_pdf is not None and len(lab_pdf):
            id_t = nodes.schema[id_col].dataType.simpleString()
            lab = spark.createDataFrame(
                lab_pdf, schema=f"node {id_t}, __cc_label {id_t}")
            out = (nodes.join(F.broadcast(lab),
                              nodes[id_col] == lab.node, "left")
                   .select(nodes[id_col],
                           F.coalesce(F.col("__cc_label"), nodes[id_col])
                           .alias("cluster_id")))
        else:
            out = nodes.select(F.col(id_col),
                               F.col(id_col).alias("cluster_id"))
        return out

    # fallback regime: sym references und TWICE (forward + reversed), so
    # the distinct must persist here or run once per branch
    und = und.persist(StorageLevel.MEMORY_AND_DISK)
    sym = (und.select("s", "d")
           .unionByName(und.select(F.col("d").alias("s"),
                                   F.col("s").alias("d"))))
    sym = _materialize(sym)
    labels = _materialize(
        nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label")))
    for _ in range(max_iterations):
        neighbor_min = (sym.join(labels, sym.s == labels.node)
                        .groupBy(F.col("d").alias("node"))
                        .agg(F.min("label").alias("nmin")))
        # carry the pre-round label through the step so convergence is a
        # FILTER on the already-checkpointed output (early-exit isEmpty),
        # not an extra node-keyed join job per round
        stepped = (labels.join(neighbor_min, "node", "left")
                   .select("node", F.col("label").alias("old_label"),
                           F.least(F.col("label"),
                                   F.coalesce(F.col("nmin"), F.col("label")))
                           .alias("label")))
        # pointer jumping: also adopt the label OF the current label, so
        # label chains halve each round — O(log diameter) rounds instead
        # of O(diameter) (chain-shaped near-dup clusters hit 20+ rounds).
        # checkpoint first: the self-join would otherwise run the
        # neighbor-min aggregation once per branch
        stepped = stepped.localCheckpoint(eager=True)
        l1 = stepped.alias("l1")
        l2 = stepped.alias("l2")
        new_labels = (l1.join(l2, F.col("l1.label") == F.col("l2.node"))
                      .select(F.col("l1.node").alias("node"),
                              F.col("l1.old_label").alias("old_label"),
                              F.least(F.col("l1.label"), F.col("l2.label"))
                              .alias("label")))
        # localCheckpoint, NOT persist: persist keeps the full lineage, so
        # the plan tree nests one level per iteration and overflows the
        # JVM stack after ~15 rounds; checkpointing truncates it
        new_labels = new_labels.localCheckpoint(eager=True)
        converged = (new_labels
                     .filter(F.col("label") != F.col("old_label"))
                     .isEmpty())
        labels = new_labels.select("node", "label")
        if converged:
            break
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("cluster_id"))


def cross_corpus_dedup(new_df: DataFrame, ref_df: DataFrame,
                       text_col: str, id_col: str,
                       n: int = 3, threshold: float = 0.8,
                       max_shingle_freq: int | None = None) -> DataFrame:
    """Dedup a NEW corpus against an EXISTING one: drop every new
    document whose n-gram Jaccard similarity to ANY reference document
    reaches ``threshold``, and return the surviving new rows. The
    standard crawl-refresh step — don't re-train on what the last crawl
    already contributed — and the near-dup complement of
    ``contamination.decontaminate`` (which needs literal n-gram overlap,
    not whole-document similarity).

    EXACT (no LSH recall loss), by reusing the audited PPJoin self-join
    plan: both corpora union into one frame under side-tagged ids
    (ref → 2·id, new → 2·id+1 — the id never enters the similarity
    computation), pairs come from :func:`ngram_jaccard_pairs`, and only
    pairs whose ids differ in side parity count as cross-corpus hits.
    The drop list (hit new-side ids) applies LEFT ANTI — duplicate-sized,
    AQE-broadcast at scale, the kept corpus never reshuffles. Same-side
    near-dups are IGNORED by design: dedup within the new crawl is
    :func:`near_dup_removal`'s job, and the reference corpus is
    immutable here.

    Ids must be non-negative integers below 2^62 (the 2·id tagging is
    disclosed in the plan; a general-key variant would tag with a struct
    instead). ENFORCED expression-side: a negative id would break the
    parity decode silently (Spark's ``%`` returns −1 for negative odds,
    so the drop list would decode a REFERENCE id and remove the wrong
    new-side row) — the guard turns that into a loud error at no extra
    job cost.
    """
    def _tag(df, offset):
        base = F.col(id_col).cast("bigint")
        guarded = F.when(
            (base < 0) | (base >= F.lit(1 << 62)),
            F.raise_error(F.concat(
                F.lit("cross_corpus_dedup requires ids in [0, 2^62) "
                      "(got "), base.cast("string"), F.lit(")")))
            .cast("bigint")
        ).otherwise(base * 2 + offset)
        return df.select(guarded.alias(id_col), F.col(text_col))

    ref = _tag(ref_df, 0)
    new = _tag(new_df, 1)
    pairs = ngram_jaccard_pairs(ref.unionByName(new), text_col, id_col,
                                n=n, threshold=threshold,
                                max_shingle_freq=max_shingle_freq)
    cross = pairs.filter(F.col("id_a") % 2 != F.col("id_b") % 2)
    drops = (cross.select(
        F.when(F.col("id_a") % 2 == 1, F.col("id_a"))
        .otherwise(F.col("id_b")).alias("__tagged"))
        # (2·id+1) >> 1 = id — integer decode (a double division would
        # lose bits above 2^52)
        .select(F.shiftright(F.col("__tagged"), 1).alias(id_col))
        .distinct())
    return new_df.join(drops, id_col, "left_anti")


def near_dup_removal(df: DataFrame, pairs: DataFrame, id_col: str,
                     src_col: str = "id_a",
                     dst_col: str = "id_b") -> DataFrame:
    """PAIRS → the CLEANED corpus: keep exactly one representative per
    near-dup cluster (the MIN id — deterministic, engine-independent) and
    every document that appears in no pair at all. This is the step a
    pipeline actually ships after any of the pair generators
    (``simhash_near_pairs`` / ``minhash_lsh_pairs`` /
    ``ngram_jaccard_pairs`` / ``embedding_near_dups``) runs — the report
    is the pairs, the product is the corpus minus the duplicates.

    Plan: connected components over the pairs (cluster sizes ≪ corpus —
    only paired docs enter the iteration), then drop list = members whose
    cluster label isn't their own id, applied LEFT ANTI on ``id_col``.
    At 100 TB the drop list is duplicate-sized, not corpus-sized, so AQE
    broadcasts the anti join and the kept corpus never reshuffles.

    Job shape (r18): ONE fused eager action — limit(bound+1).toPandas()
    over the normalized-distinct edges — both decides the regime and
    delivers the local path's edge set, and below the bound the drop
    list comes STRAIGHT from the driver-side union-find's moved nodes.
    The r17 shape paid count-then-toPandas (two eager jobs); the r16
    shape additionally materialized the raw pairs, derived a members
    frame, ran full connected_components and filtered label != id —
    the moved nodes ARE that filter's result. The local path needs no
    persist (nothing reads the edges twice); the distributed fallback
    re-derives the distinct under its own persist (one extra pass on
    the degenerate-scale path buys one fewer on the common one).
    """
    und = pairs.select(F.least(F.col(src_col), F.col(dst_col)).alias("s"),
                       F.greatest(F.col(src_col), F.col(dst_col)).alias("d")
                       ).distinct()
    pdf = _edges_pdf_or_none(und, _CC_LOCAL_MAX_EDGES)
    if pdf is not None:
        moved = _cc_local_moved(pdf)
        if moved is None or not len(moved):
            return df
        spark = df.sparkSession
        id_t = df.schema[id_col].dataType.simpleString()
        drops = spark.createDataFrame(
            moved[["node"]], schema=f"node {id_t}")
        return df.join(F.broadcast(drops), df[id_col] == drops.node,
                       "left_anti")
    # fallback regime: members + the CC iteration both re-read the edge
    # set — persist it here (degenerate-scale path only)
    und = _materialize(und)
    members = (und.select(F.col("s").alias(id_col))
               .unionByName(und.select(F.col("d").alias(id_col)))
               .distinct())
    comp = connected_components(members, und, id_col=id_col,
                                src_col="s", dst_col="d")
    drops = (comp.filter(F.col(id_col) != F.col("cluster_id"))
             .select(id_col))
    return df.join(drops, id_col, "left_anti")


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def _probe_keys(key, r: int, probe_bits: int):
    """Array of band keys within hamming distance ≤ probe_bits of ``key``
    (flips stay inside the band's r bits)."""
    keys = [key]
    if probe_bits >= 1:
        keys += [key.bitwiseXOR(F.lit(1 << i)) for i in range(r)]
    if probe_bits >= 2:
        keys += [key.bitwiseXOR(F.lit((1 << i) | (1 << j)))
                 for i in range(r) for j in range(i + 1, r)]
    return F.array(*keys)


def embedding_near_dups(df: DataFrame, vec_col: str, id_col: str,
                        threshold: float = 0.95,
                        n_planes: int | None = None, bands: int = 4,
                        probe_bits: int | None = None,
                        diag: dict | None = None) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold — banded
    hyperplane LSH, mirroring ``minhash_lsh_pairs``.

    The n_planes sign bits split into ``bands`` keys of r = n_planes/bands
    bits each; a pair becomes a candidate when ANY band key matches
    (exactly, or within ``probe_bits`` flipped bits — multi-probe).
    Candidates are exact-cosine verified, so precision is 1.0 and only
    recall is probabilistic. ``embedding_exact_pairs`` is the brute-force
    companion that pins recall (asserted in tests/test_dedup.py).

    ``n_planes=None`` (default) AUTO-SIZES the key space from the corpus:
    r = max(6, ceil(log2(n / 8))) bits per band targets ~8 rows per
    bucket at any scale (2k vectors → r=8; 1e9 → r=27), at the cost of one
    count() over the input. This matters: the key space does NOT scale by
    itself, and a fixed r=6 (64 buckets/band) that is fine at 2k vectors
    degenerates toward all-pairs as the corpus grows — measured 75M
    candidate pairs (37% of all possible) on a 20k-vector corpus, vs
    bounded occupancy with auto-sizing (embedding 10× stress).

    S-curve: a plane bit agrees with probability p = 1 − θ/π (cos θ = t).
    A band matches with P ≈ Σ_{m≤probe_bits} C(r,m)·p^(r−m)(1−p)^m and a
    pair candidates with 1 − (1 − P_band)^bands. The default threshold
    (0.95) is the production near-duplicate operating point: at t=0.95
    (p≈0.90), r=8/probe-1 gives recall ≈ 0.97 per the formula; larger
    auto-sized r wants ``probe_bits=2`` to hold recall (r=16, probe 2:
    ≈ 0.98 at t=0.95). Looser thresholds need proportionally wider nets —
    the validation suite runs t=0.4 (the synthetic corpus' cosines top out
    near 0.51) and passes n_planes/probe_bits EXPLICITLY at every call
    site, pinned against ``embedding_exact_pairs`` in tests/test_dedup.py.
    Candidate generation is a (band, key)-equi join — never all-pairs;
    identical vectors share all band keys, so run ``drop_exact_dups``-
    style collapse first on duplicate-heavy corpora.
    """
    import math

    from data_warehouse_migrate_spark.functions.vectors import (
        band_keys_sql,
        dot,
        normalize,
    )

    if bands < 1:
        raise ValueError(f"bands must be >= 1 (got {bands})")
    if probe_bits is not None and not 0 <= probe_bits <= 2:
        # _probe_keys enumerates 0-, 1- and 2-flip probes; larger values
        # would silently probe only 2 flips (same guard as lsh_topk)
        raise ValueError(f"probe_bits must be 0, 1 or 2 (got {probe_bits})")
    if n_planes is None:
        n = df.count()
        r = max(6, math.ceil(math.log2(max(n, 2) / 8.0)))
        n_planes = bands * r
    if n_planes < bands:
        # 0-bit band keys: one bucket, silent all-pairs (same guard as
        # similarity._resolve_planes)
        raise ValueError(f"n_planes must be >= bands (got "
                         f"n_planes={n_planes}, bands={bands})")
    r = n_planes // bands
    if bands * r != n_planes:
        raise ValueError(f"n_planes must divide evenly into bands (got "
                         f"n_planes={n_planes}, bands={bands})")
    if probe_bits is None:
        # recall must scale WITH the key space: per the S-curve above, a
        # band of r bits matches with P = Σ_{m≤probe} C(r,m)p^(r−m)(1−p)^m
        # — at fixed probe_bits=1 the default corpus-auto-sized r silently
        # erodes recall as the corpus grows (t=0.95 ⇒ p≈0.90: probe-1
        # pair recall over 4 bands is ≈0.99 at r=12 but 0.86 at r=20 and
        # 0.65 at r=27). Widen the probe only once probe-1 actually sags
        # (r>16) — earlier widening measured 5× candidate volume at r=12
        # for no recall benefit (10× stress corpus).
        probe_bits = 1 if r <= 16 else 2
    # materialize once: unit-normalized vectors (per-pair cosine becomes
    # a single dot) + the banded keys (candidate join scans base three
    # times); spread first — the n_planes dot products per row serialize
    # on a single-partition scan otherwise. Keys come from the SQL-text
    # twin band_keys_sql (r18, guide §1.2 driver-bound work): ONE
    # JVM-side parse instead of ~130 ms of py4j Column-builder round
    # trips per call (bit-identical, pinned in tests/test_similarity),
    # and the persisted payload carries bands longs instead of the
    # n_planes-double projection column the Column form cached.
    df = spread_input(df)
    from pyspark import StorageLevel

    base = df.select(
        F.col(id_col).alias("id"),
        normalize(F.col(vec_col)).alias("vec"),
        band_keys_sql(vec_col, n_planes, bands, r).alias("bkeys")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # persist + size in ONE job (the sizing agg is the materializer)
    n_rows, base_bytes = count_and_row_bytes(base.select("id", "vec"))
    membership = base.select("id", "bkeys",
                             F.posexplode(F.col("bkeys")).alias("band",
                                                                "band_key"))
    probes = membership.select(
        "id", "bkeys", "band",
        F.explode(_probe_keys(F.col("band_key"), r, probe_bits)).alias("band_key"))
    # first-colliding-band rule instead of ``.distinct()`` (r17): within
    # a band, a's probe set (≤ probe_bits flips inside the band's r bits)
    # contains b's key at most ONCE, so duplicates arise only ACROSS
    # bands — suppressing every pair whose keys already collided
    # (in-band hamming ≤ probe_bits, the same criterion the probe join
    # uses) in an earlier band leaves exactly one emission per pair, and
    # the candidate-sized dedup shuffle disappears. The carried bkeys
    # array (bands longs/row) is far smaller than re-shuffling the
    # candidate set (guide §2.3/2.4).
    collide = lambda t: (F.bit_count(
        F.col("a.bkeys")[t].bitwiseXOR(F.col("b.bkeys")[t])) <= probe_bits)
    cand = (
        probes.alias("a")
        .join(membership.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.band_key") == F.col("b.band_key"))
              & (F.col("a.id") < F.col("b.id")))
        .filter(_first_band_filter(F.col("a.band"), collide, bands))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if diag is not None:
        cand = _materialize(cand)
        stats = (membership.groupBy("band", "band_key").count()
                 .agg(F.count("*").alias("nb"), F.max("count").alias("mx"))
                 .first())
        diag.update(vectors=base.count(), candidate_pairs=cand.count(),
                    n_buckets=int(stats["nb"]), max_bucket=int(stats["mx"]),
                    n_planes=n_planes, r_bits=r)
    va = _maybe_broadcast(
        base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")),
        n_rows, base_bytes)
    vb = _maybe_broadcast(
        base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")),
        n_rows, base_bytes)
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", F.round(dot(F.col("vec_a"), F.col("vec_b")), 6))
        # ~isnan is load-bearing: Spark evaluates NaN >= t as TRUE (NaN
        # compares greater than everything), so a single NaN embedding
        # would otherwise emit fake "duplicate" pairs against every row
        # it meets — and near_dup_removal would then DELETE those rows
        .filter(~F.isnan("cosine") & (F.col("cosine") >= threshold))
        .select("id_a", "id_b", "cosine")
    )


def embedding_exact_pairs(df: DataFrame, vec_col: str, id_col: str,
                          threshold: float = 0.4) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold — the oracle-checked companion
    that pins ``embedding_near_dups``'s precision/recall. O(N²/2) compares
    via a broadcast nested-loop join: the audit/validation path for sampled
    corpora, NOT the 100 TB path (that's the LSH operator above). Vectors
    are unit-normalized at the (per-row) broadcast boundary so each pair
    costs one dot, not dot + two norms."""
    from data_warehouse_migrate_spark.functions.vectors import dot, normalize

    # spread the STREAM side: a single-partition scan would run the whole
    # N²/2 nested loop on one core (the broadcast side's layout is moot)
    a = spread_input(df).select(
        F.col(id_col).alias("id_a"), normalize(F.col(vec_col)).alias("vec_a"))
    b = df.select(F.col(id_col).alias("id_b"), normalize(F.col(vec_col)).alias("vec_b"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot(F.col("vec_a"), F.col("vec_b")), 6))
        # NaN >= t is TRUE in Spark — same fake-pair guard as the LSH path
        .filter(~F.isnan("cosine") & (F.col("cosine") >= threshold))
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(df: DataFrame, vec_col: str, id_col: str,
                   n_cells: int = 8, threshold: float = 0.95,
                   centroids="lowid",
                   max_bucket_size: int = 512) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 §3): SEMANTIC
    deduplication of an embedded corpus. Vectors are coarse-quantized to
    ``n_cells`` centroid cells; within each cell, pairs with cosine ≥
    ``threshold`` are semantic duplicates; one representative per
    duplicate cluster survives (the MIN id — the paper keeps a random /
    low-centroid-similarity member; min-id is the deterministic,
    engine-independent choice this repo uses everywhere). Returns the
    KEPT corpus: ``df``'s columns plus the assigned ``cell``.

    Beyond-reference; the published method is approximate BY DESIGN
    (cross-cell duplicates are never compared — that bound is what makes
    it tractable), but every step is deterministic, so a SQL oracle can
    mirror it cell-exactly: ``centroids="lowid"`` (default) takes the
    ``n_cells`` lowest-id vectors, unit-normalized driver-side with the
    same left-fold sum / libm sqrt the oracle's list_reduce/sqrt use;
    "kmeans" trains ``similarity.kmeans_centroids`` (deterministic but
    not SQL-expressible — use the exact-twin checks then); or pass a
    trained k×dim list to reuse a quantizer (the 100 TB path: train
    once, assign everywhere).

    Plan shape: cell assignment is a NARROW projection (centroids inline
    as literals — no crossJoin, no per-row window, reference
    ``similarity._argmax_cell``); within-cell pair generation reuses
    ``_bucket_pairs`` (one shuffle keyed by cell, hot cells spill to the
    streamed self-join instead of the in-array expansion — cells are
    corpus/n_cells-sized, so the guard matters here more than in
    banding); duplicate clusters via ``connected_components``; the final
    keep is ONE LEFT ANTI join (drop list is duplicate-sized, broadcast
    at scale). Size ``n_cells`` ≈ sqrt(corpus) like any IVF quantizer so
    cells stay bounded slices.
    """
    import math

    if n_cells < 1:
        # n_cells=0 used to seed ZERO centroids on a NON-empty corpus,
        # which routed into the empty-corpus early-return — the operator
        # silently returned an EMPTY kept corpus (total data loss) for a
        # parameter typo. Fail at call time instead.
        raise ValueError(f"n_cells must be >= 1 (got {n_cells})")
    if max_bucket_size < 1:
        raise ValueError(
            f"max_bucket_size must be >= 1 (got {max_bucket_size})")

    from data_warehouse_migrate_spark.functions.vectors import dot, normalize
    from data_warehouse_migrate_spark.operators.similarity import (
        _argmax_cell,
        kmeans_centroids,
    )

    if centroids == "kmeans":
        cents = kmeans_centroids(df, vec_col, id_col, k=n_cells)
    elif centroids == "lowid":
        rows = (df.select(F.col(id_col).alias("i"),
                          F.col(vec_col).alias("v"))
                .orderBy("i").limit(n_cells).collect())
        cents = []
        for r in rows:
            v = [float(x) for x in r["v"]]
            # left-fold sum from 0.0 + libm sqrt: bit-identical to the
            # oracle's list_reduce(list_concat([0.0], squares)) + sqrt —
            # NOT **0.5 (pow), which may differ from sqrt in the last ulp
            # and flip a near-tied argmax between engines
            nrm = math.sqrt(sum(x * x for x in v))
            cents.append([x / nrm for x in v] if nrm > 0 else v)
    else:
        cents = centroids

    if not cents:
        # lowid centroid seeding found zero rows — the corpus is empty.
        # Empty in, empty out WITH the assigned schema (cell included):
        # the bare argmax over an empty centroid array is a VOID-typed
        # expression that fails analysis with an opaque extract error
        # (r8 empty-corpus sweep). kmeans seeding raises its own typed
        # error for this case; the default path should compose instead.
        return df.withColumn("cell", F.lit(None).cast("int")) \
                 .filter(F.lit(False))

    # spread BEFORE the expensive per-row work (r17): the cell argmax
    # (n_cells dot products) and the normalize each cost O(n_cells·dim)
    # per row, and a single-file scan plans as 1-2 partitions — measured
    # 2.56s on 2 tasks for the probe stage at sf0.1, i.e. all 30 other
    # cores idle. Same spread_input gate every other banding operator
    # already applies (no-op at scale).
    assigned = spread_input(df).withColumn("cell",
                                           _argmax_cell(vec_col, cents))
    # CANDIDATES CARRY IDS ONLY; vectors join back once (r17, guide §8 —
    # decide with small rows, attach the payload once). The r16 shape
    # collected the 64-dim normalized vectors into every cell bucket and
    # dotted inside the pair expansion: the bucket shuffle carried the
    # whole corpus' vectors (payload shuffle at 100 TB), every pair
    # struct copied two vectors, and — the measured killer — the
    # interpreted per-pair dot ran at CELL parallelism (n_cells tasks;
    # 8 cells = 8 busy cores of 32, 2.45s stage at sf0.1) because AQE's
    # size-based coalescing sees KB where the cost is CPU. Narrow id
    # pairs repartition for ~16 bytes/row instead (explicit numPartitions
    # — AQE does not re-coalesce user-numbered repartitions), the dot
    # runs at session parallelism, and the vector sides broadcast under
    # the same byte-measured guard as the minhash/ngram verify joins.
    import pandas as pd
    from pyspark import StorageLevel

    # ONE narrow persisted frame (id, cell, normalized vec) feeds both
    # the bucketing side and the verify-join side (r18): the r17 shape
    # persisted band_rows and base separately, so materialization paid
    # TWO passes over the input scan + argmax/normalize lineage and
    # held two caches — one pass and one cache carry the same
    # information at every scale
    quant = assigned.select(
        F.col(id_col).alias("id"), F.col("cell"),
        normalize(F.col(vec_col)).alias("__nv")).persist(
        StorageLevel.MEMORY_AND_DISK)
    band_rows = quant.select("id", F.lit(0).alias("band"),
                             F.col("cell").alias("band_key"))
    base = quant.select("id", "__nv")
    # ONE fused eager action (same shape as minhash_lsh_pairs): the
    # vector-side sizing aggregate, the hot-cell key probe AND the
    # within-cell pair count (Σ B·(B−1)/2 over the same bucket counts)
    # run as tagged union branches, materializing the lazy persist
    sizing, fixed = _sizing_branch(base)
    stat_rows = (sizing
                 .unionByName(_hot_keys_branch(band_rows, max_bucket_size))
                 .unionByName(_pair_sum_branch(band_rows))).collect()
    n_rows, base_bytes, hot, est_pairs = 0, fixed, [], 0
    for row in stat_rows:
        if row["tag"] == 0:
            n_rows = int(row["c1"])
            base_bytes = fixed + float(row["c2"] or 0.0)
        elif row["tag"] == 2:
            est_pairs = int(row["c1"] or 0)
        else:
            hot.append((int(row["c1"]), int(row["c2"])))
    hot_pdf = pd.DataFrame(hot, columns=["band", "band_key"])
    cand = _bucket_pairs(band_rows, ["id"],
                         max_bucket_size=max_bucket_size, hot_pdf=hot_pdf)
    # pair-exchange width from the MEASURED pair volume, not cluster
    # width (r17 verdict item 6): repartition(defaultParallelism) sized
    # the exchange by machine, so at 100 TB with heavy cells the
    # pairs-per-partition was unbounded (AQE deliberately cannot
    # re-split a user-numbered repartition — that opt-out is why the
    # explicit repartition exists; see the id-pairs note above). The
    # exact candidate count is already in the fused collect (tag=2), so
    # width = ceil(pairs / _SEMANTIC_PAIRS_PER_PARTITION), floored at
    # defaultParallelism so small candidate sets still use every core.
    par = df.sparkSession.sparkContext.defaultParallelism
    n_parts = max(par, -(-est_pairs // _SEMANTIC_PAIRS_PER_PARTITION))
    cand_ids = (cand.select(F.col("a.id").alias("id_a"),
                            F.col("b.id").alias("id_b"))
                .repartition(n_parts))
    pairs = (cand_ids
             .join(_maybe_broadcast(
                 base.select(F.col("id").alias("id_a"),
                             F.col("__nv").alias("__nva")),
                 n_rows, base_bytes), "id_a")
             .join(_maybe_broadcast(
                 base.select(F.col("id").alias("id_b"),
                             F.col("__nv").alias("__nvb")),
                 n_rows, base_bytes), "id_b")
             .withColumn("cosine",
                         F.round(dot(F.col("__nva"), F.col("__nvb")), 6))
             # NaN >= t is TRUE in Spark: unguarded, one NaN embedding
             # pairs with its whole cell, the CC step fuses the cell
             # into one cluster, and near_dup_removal mass-deletes it
             .filter(~F.isnan("cosine") & (F.col("cosine") >= threshold))
             .select(F.least("id_a", "id_b").alias("id_a"),
                     F.greatest("id_a", "id_b").alias("id_b")))
    return near_dup_removal(assigned, pairs, id_col)
