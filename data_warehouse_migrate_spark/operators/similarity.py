"""Similarity search over embedding columns (beyond-reference;
SURVEY.md §7.3).

  * brute_force_topk — exact cosine top-k: broadcast the (small) query set,
    one narrow pass over the corpus, per-query top-k. The correctness
    baseline and the oracle-checked path.
  * lsh_topk         — random-hyperplane-bucketed ANN: queries only probe
    matching buckets (multi-probe over hamming-adjacent buckets for
    recall). The 100 TB path: corpus is bucket-partitioned once (write it
    bucketed to reuse across queries) and each query touches a tiny slice.

Scale notes: top-k uses a window over (query_id) AFTER the score filter —
the shuffle carries only per-query candidates, not the full cross product;
with broadcast queries the cross join itself never shuffles the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.vectors import (
    cosine_from_norms,
    norm,
)
from data_warehouse_migrate_spark.operators.skew import spread_input
from data_warehouse_migrate_spark.sqltext import ident


def _resolve_planes(corpus: DataFrame, n_planes: int | None,
                    bands: int) -> tuple[int, int]:
    """(n_planes, rows_per_band) with the SHARED auto-sizing rule
    r = max(6, ceil(log2(n/8))) — one definition, because the write path
    (build_lsh_index) and the query paths (lsh_topk, indexed probes)
    MUST size identically or probes land in the wrong buckets."""
    import math

    if bands < 1:
        raise ValueError(f"bands must be >= 1 (got {bands})")
    if n_planes is None:
        n = corpus.count()
        r = max(6, math.ceil(math.log2(max(n, 2) / 8.0)))
        n_planes = bands * r
    if n_planes < bands:
        # r = n_planes/bands < 1 means 0-bit band keys: every vector in
        # one bucket per table — the probe join silently degenerates to
        # all-pairs (the exact blow-up banding exists to prevent)
        raise ValueError(
            f"n_planes must be >= bands (got n_planes={n_planes}, "
            f"bands={bands})")
    r = n_planes // bands
    if bands * r != n_planes:
        raise ValueError(f"n_planes must divide evenly into bands (got "
                         f"n_planes={n_planes}, bands={bands})")
    return n_planes, r


def _unit(v: list[float]) -> list[float]:
    nrm = sum(x * x for x in v) ** 0.5
    return [float(x) / nrm for x in v] if nrm > 0 else [float(x) for x in v]


def brute_force_topk(queries: DataFrame, corpus: DataFrame,
                     k: int = 10,
                     query_id: str = "query_id", query_vec: str = "query_vec",
                     corpus_id: str = "corpus_id", corpus_vec: str = "corpus_vec",
                     exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k neighbors per query. Deterministic tie-break:
    (cosine DESC, corpus_id ASC). Queries are broadcast — the corpus scan
    stays narrow and shuffle-free until the per-query top-k window."""
    # norms are precomputed per ROW (N + Q evaluations) instead of per
    # PAIR inside cosine() (2·P interpreted array folds — see
    # vectors.cosine_from_norms); results are bit-identical
    q = F.broadcast(queries.select(F.col(query_id).alias("query_id"),
                                   F.col(query_vec).alias("__qv"),
                                   norm(F.col(query_vec)).alias("__qn")))
    # spread the stream side: a single-partition corpus scan would score
    # every (query, corpus) pair on one core (no-op at scale)
    c = spread_input(corpus).select(
        F.col(corpus_id).alias("corpus_id"), F.col(corpus_vec).alias("__cv"),
        norm(F.col(corpus_vec)).alias("__cn"))
    scored = q.crossJoin(c)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    scored = scored.withColumn("cosine", F.round(
        cosine_from_norms(F.col("__qv"), F.col("__cv"),
                          F.col("__qn"), F.col("__cn")), 6))
    # undefined similarity is not a neighbor: NULL (zero-norm side,
    # vectors.cosine's try_divide contract) would be ranked by the
    # window, and NaN (NaN input element) sorts ABOVE every real double
    # in a DESC ordering — one bad embedding would fill rank 1 of every
    # query (same guard as _topk_by_query / hard_negatives)
    scored = scored.filter(F.col("cosine").isNotNull()
                           & ~F.isnan("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("corpus_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "cosine", "rank"))


def hard_negatives(queries: DataFrame, corpus: DataFrame,
                   k: int = 5,
                   query_id: str = "query_id", query_vec: str = "query_vec",
                   query_label: str = "query_label",
                   corpus_id: str = "corpus_id",
                   corpus_vec: str = "corpus_vec",
                   corpus_label: str = "corpus_label") -> DataFrame:
    """Contrastive hard-negative mining: per query, the ``k`` most
    cosine-similar corpus vectors with a DIFFERENT label — the standard
    embedding-training recipe (high-similarity, wrong-class examples
    are the gradient-rich negatives; random negatives are too easy).

    Returns (query_id, corpus_id, corpus_label, cosine, rank) with the
    deterministic (cosine DESC, corpus_id ASC) tie-break. Same plan
    shape as ``brute_force_topk``: broadcast query batch, one narrow
    corpus pass, label-mismatch filter applied BEFORE the per-query
    top-k window (the shuffle carries only cross-label candidates).
    Exact by construction — the oracle-checked baseline. At corpus
    scale, swap the cross join for an LSH candidate set the same way
    ``lsh_topk`` buckets ``brute_force_topk``: mine per bucket, then
    re-rank; the label filter composes unchanged.
    """
    # per-row norm precompute, same rationale as brute_force_topk
    q = F.broadcast(queries.select(F.col(query_id).alias("query_id"),
                                   F.col(query_vec).alias("__qv"),
                                   norm(F.col(query_vec)).alias("__qn"),
                                   F.col(query_label).alias("__ql")))
    c = spread_input(corpus).select(
        F.col(corpus_id).alias("corpus_id"),
        F.col(corpus_vec).alias("__cv"),
        norm(F.col(corpus_vec)).alias("__cn"),
        F.col(corpus_label).alias("corpus_label"))
    scored = (q.crossJoin(c)
              # null-safe mismatch: an unlabeled corpus row is not a
              # provable negative — excluded rather than assumed
              .filter(F.col("__ql").isNotNull()
                      & F.col("corpus_label").isNotNull()
                      & (F.col("__ql") != F.col("corpus_label")))
              .withColumn("cosine",
                          F.round(cosine_from_norms(
                              F.col("__qv"), F.col("__cv"),
                              F.col("__qn"), F.col("__cn")), 6))
              # undefined similarity is not a negative: NULL (zero-norm
              # side) would be ranked, NaN (NaN element) sorts ABOVE
              # every real cosine in the DESC window — same guard as
              # _topk_by_query
              .filter(F.col("cosine").isNotNull() & ~F.isnan("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "corpus_label",
                    "cosine", "rank"))



def kmeans_centroids(corpus: DataFrame, vec_col: str, id_col: str,
                     k: int = 16, n_iter: int = 5) -> list[list[float]]:
    """Deterministic spherical k-means coarse quantizer (Lloyd iterations,
    fixed count — no RNG, no convergence test, so retries and re-runs give
    identical centroids).

    Seeds are the ``k`` lowest-id vectors (unit-normalized). Each round is
    ONE narrow pass + ONE tiny shuffle: centroids are inlined as LITERAL
    arrays into the assignment expression (no crossJoin, no per-row
    window), each row picks argmax-dot cell expression-side, and
    ``groupBy(cell)`` reduces k·dim per-element sums with map-side partial
    aggregation — executor state is k·dim decimals regardless of corpus
    size, and only k rows ever reach the driver. Element sums use DECIMAL
    accumulators: float sums differ in the last ulp across partition
    layouts, which would make centroids — and every downstream cell
    assignment — nondeterministic (the round-1 z-score/centroid lesson).
    Empty cells keep their previous centroid. The corpus is persisted for
    the duration (``n_iter + 1`` passes) and unpersisted before return.

    Returns plain ``list[list[float]]`` (k × dim, unit-normalized) — KBs,
    intended to be re-inlined as literals by callers like ``ivf_topk``.
    """
    from data_warehouse_migrate_spark.functions.vectors import normalize

    if k < 1:
        # k=0 used to collect zero seeds and raise the EMPTY-CORPUS error
        # on a perfectly good corpus — misleading at 3am; say what's wrong
        raise ValueError(f"k must be >= 1 (got {k})")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0 (got {n_iter})")
    # NULL / empty vectors — and vectors CONTAINING a NULL element —
    # would poison everything downstream (a NULL seed breaks list(); a
    # NULL element makes the decimal element-sum silently skip rows, so
    # per-index counts diverge and the driver merge under-counts) — drop
    # them up front, disclosed here. Ragged vectors (size != dim) are
    # dropped after the seed probe below, once dim is known.
    corpus = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull()))
    # spread before the persist: all n_iter+1 passes (k dot products per
    # row each) otherwise run on a single-partition scan's one core
    unit = (spread_input(corpus)
            .select(F.col(id_col).alias("__id"),
                    normalize(F.col(vec_col)).alias("__nv"))
            .persist())
    try:
        # seeds double as the dimensionality probe — one action, not two
        seeds = (unit.orderBy("__id").limit(k).select("__nv").collect())
        if not seeds:
            raise ValueError("kmeans_centroids: empty corpus "
                             "(after dropping NULL/empty vectors)")
        dim = len(seeds[0]["__nv"])
        # seeds and corpus must agree on dimensionality: a ragged vector
        # (fewer than dim elements) would leave holes in the per-(cell,
        # element) aggregation and KeyError the driver merge (r6 advisor)
        cents = [list(r["__nv"]) for r in seeds
                 if len(r["__nv"]) == dim]  # seeds[0] always qualifies
        unit_d = unit.filter(F.size("__nv") == dim)
        for _ in range(n_iter):
            # LONG aggregation shape (groupBy(cell, element) over a
            # posexplode), not dim separate decimal agg columns: the wide
            # form built a ~130-expression plan whose per-round
            # analysis+codegen cost ~1.5s at dim=64 — five Lloyd rounds
            # made ivf_topk("kmeans") an 11s call at sf0.1; this shape is
            # ~5x faster end-to-end with identical decimal-exact sums.
            # k×dim rows (KBs) reach the driver instead of k wide rows —
            # same information, same bound.
            cell = _argmax_cell("__nv", cents)
            # two selects: a generator sharing a projection with the
            # struct-field-referencing argmax expression mangles the
            # struct's field names at analysis (FIELD_NOT_FOUND)
            rows = (unit_d.select(cell.alias("__cell"), "__nv")
                    .select("__cell",
                            F.posexplode("__nv").alias("__i", "__x"))
                    .groupBy("__cell", "__i")
                    .agg(F.count(F.lit(1)).alias("__n"),
                         F.sum(F.col("__x").cast("decimal(38,12)"))
                         .alias("__s"))
                    .collect())
            per_cell: dict[int, dict[int, tuple]] = {}
            for row in rows:
                per_cell.setdefault(row["__cell"], {})[row["__i"]] = (
                    row["__n"], float(row["__s"]))
            new_cents = [list(c) for c in cents]
            for cid, elems in per_cell.items():
                if len(elems) != dim:  # unreachable under the filters above
                    raise ValueError(
                        f"kmeans_centroids: cell {cid} covers "
                        f"{len(elems)}/{dim} elements — ragged or "
                        f"NULL-element vectors slipped past the input "
                        f"filters")
                n = elems[0][0]
                mean = [elems[i][1] / n for i in range(dim)]
                nrm = sum(x * x for x in mean) ** 0.5
                if nrm > 0:
                    new_cents[cid] = [x / nrm for x in mean]
            if new_cents == cents:
                # EXACT fixed point: the update map is deterministic in
                # the centroids, so every remaining round would return
                # these same floats — skip the leftover eager passes
                # (r18, guide §1.2 remove passes). Bitwise equality
                # only: a tolerance here would change results.
                break
            cents = new_cents
    finally:
        unit.unpersist()
    return cents


def _topk_by_query(scored: DataFrame, k: int,
                   bounded: bool = True) -> DataFrame:
    """Per-query top-k over (query_id, corpus_id, cosine) candidate rows.
    Shared by every ANN path — lsh_topk, lsh_topk_indexed, ivf_topk — so
    the ordering/dedup contract (candidate dedup + canonical
    (cosine DESC, corpus_id ASC) tie-break) lives in exactly one place.

    ``bounded=True`` (the fast path): a SALTED two-level aggregation —
    candidates are hash-repartitioned ONCE on query_id, then level 1
    groups by (query_id, hash(corpus_id) mod _TOPK_SALT) and keeps each
    salt group's top-k via collect_set + sorted slice, and level 2
    merges the ≤ _TOPK_SALT×k survivors per query. Because partitioning
    on query_id already co-locates every (query_id, salt) AND every
    query_id group, BOTH levels run inside the one post-shuffle stage —
    no second exchange (plan-asserted in tests). This replaces the r6
    single-level collect_set, whose reduce-side aggregation buffer
    materialized ALL of a query's candidates (the r6 advisor's OOM
    hazard: one hot LSH bucket makes the per-query set corpus-sized) —
    salting divides the worst buffer by _TOPK_SALT STRUCTURALLY, with
    no occupancy probe job. Exactness is preserved: corpus_id
    determines the salt group, so dedup of multi-probe repeats stays
    within one group, and every global top-k member is necessarily in
    its group's top-k. The sorted slice gives the canonical tie-break
    via (-cosine, corpus_id) struct ordering; rank is the array
    position. Traded away: the repartition shuffles candidates RAW
    (multi-probe repeats no longer combine map-side — at most a
    bands×probes ≤ ~8x volume factor) in exchange for bounded buffers
    everywhere; map-side partial-agg buffers were already split-bounded,
    so only the shuffle volume changes.

    ``bounded=False`` (the fully spill-safe path, for callers that KNOW
    occupancy is degenerate — e.g. from a build_lsh_index table's
    recorded max_bucket): dedup repeats with a streaming hash
    aggregate, then rank through a row_number window — two wide ops,
    but both spill to disk instead of holding candidates in aggregation
    buffers at all. Same rows, same order."""
    # undefined similarity is NOT a neighbor: cosine is NULL for a
    # zero-norm side (vectors.cosine's try_divide contract) and NaN when
    # an input element is NaN — unguarded, a NULL-field struct sorts
    # FIRST in the bounded array_sort and NaN sorts first in the
    # unbounded DESC window (Spark orders NaN above every double), so a
    # single bad embedding would fill rank 1 of every query it reaches
    scored = scored.filter(F.col("cosine").isNotNull()
                           & ~F.isnan("cosine"))
    if bounded:
        member = F.struct((-F.col("cosine")).alias("nc"),
                          F.col("corpus_id").alias("corpus_id"))
        lvl1 = (scored.repartition("query_id")
                .groupBy(
                    "query_id",
                    F.pmod(F.xxhash64("corpus_id"), F.lit(_TOPK_SALT))
                    .alias("__salt"))
                .agg(F.slice(F.array_sort(F.collect_set(member)),
                             1, k).alias("__top")))
        top = (lvl1.select("query_id", F.explode("__top").alias("s"))
               .groupBy("query_id")
               .agg(F.slice(F.array_sort(F.collect_list("s")),
                            1, k).alias("__top")))
        return (top.select("query_id",
                           F.posexplode("__top").alias("pos", "s"))
                .select("query_id",
                        F.col("s.corpus_id").alias("corpus_id"),
                        (-F.col("s.nc")).alias("cosine"),
                        (F.col("pos") + 1).alias("rank")))
    dedup = (scored.select("query_id", "corpus_id", "cosine").distinct())
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc())
    return (dedup.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "cosine", "rank"))


# Probe batches with more distinct (band, band_key) pairs than this skip
# the indexed scan's literal bucket pre-filter (a predicate that large
# costs more to plan/evaluate than the pruning saves — and such a batch
# probes most buckets anyway, so there is little left to prune).
_MAX_PROBE_LITERALS = 4096

# Indexes smaller than this skip the bucket pre-filter entirely: below a
# few million rows the whole-index scan is cheaper than the extra probe
# job that computes+collects the query batch's bucket keys.
_PRUNE_MIN_ROWS = 4_000_000

# Salt width of the bounded top-k's two-level aggregation: the worst
# aggregation buffer holds ~ (largest per-query candidate set)/64
# entries. At 64 a pathological 10M-candidate query costs ~5 MB per
# buffer instead of ~300 MB unsalted.
_TOPK_SALT = 64

# Recorded index bucket occupancy above which lsh_topk_indexed routes
# through the fully spill-safe top-k instead of in-buffer aggregation.
# Banding's whole job is ~8-row buckets, so occupancy this hot means a
# degenerate corpus (mass-duplicated vectors).
_LSH_MAX_BUCKET = 4096


def _max_bucket_occupancy(index_rows: DataFrame) -> int:
    """Largest (band, band_key) bucket in a banded index — ONE narrow
    aggregate (per-bucket counts reduce map-side; only bucket keys
    shuffle), same sizing rationale as dedup._bucket_pairs. Runs eagerly:
    the result picks the physical top-k strategy at plan-build time."""
    row = (index_rows.groupBy("band", "band_key")
           .agg(F.count(F.lit(1)).alias("__bn"))
           .agg(F.max("__bn")).first())
    return int(row[0] or 0)


def _cent_sims_sql(vec_name: str, cents: list[list[float]]) -> str:
    """SQL text for array<struct<sim,negcell>> of dot(vec, centroid_j)
    with the centroids inlined as literals. negcell (-j) makes
    struct-ordering ties resolve to the LOWEST cell id under
    max/descending sort — deterministic argmax.

    SQL-string construction, not Column builders: k×dim ``F.lit`` calls
    (1024 at k=16, dim=64) cost ~1.5s of py4j round-trips PER expression
    — and kmeans builds one per Lloyd round. Literals render via
    ``repr`` (shortest round-trip form) inside CAST('…' AS DOUBLE), so
    the parsed doubles are bit-identical to the ``F.lit(float)`` form;
    the casts are constant-folded at optimization."""
    vec = ident(vec_name)
    structs = []
    for j, c in enumerate(cents):
        arr = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in c)
        structs.append(
            f"struct(aggregate(zip_with({vec}, array({arr}), "
            f"(x, w) -> (CAST(x AS DOUBLE) * w)), 0.0D, "
            f"(a, v) -> a + v) AS sim, {-j} AS negcell)")
    return "array(" + ", ".join(structs) + ")"


def _argmax_cell(vec_name: str, cents: list[list[float]]) -> Column:
    return F.expr(f"-array_max({_cent_sims_sql(vec_name, cents)}).negcell")


def _top_cells(vec_name: str, cents: list[list[float]],
               nprobe: int) -> Column:
    return F.expr(
        f"transform(slice(sort_array({_cent_sims_sql(vec_name, cents)}, "
        f"false), 1, {nprobe}), s -> -s.negcell)")


def ivf_topk(queries: DataFrame, corpus: DataFrame,
             k: int = 10, n_cells: int = 16, nprobe: int = 4,
             query_id: str = "query_id", query_vec: str = "query_vec",
             corpus_id: str = "corpus_id", corpus_vec: str = "corpus_vec",
             exclude_self: bool = True,
             centroids: list[list[float]] | str = "kmeans",
             kmeans_iter: int = 5) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    every corpus vector to its nearest centroid cell; each query probes its
    ``nprobe`` nearest cells and ranks exact cosine only within them.

    ``centroids``: "kmeans" (default) trains a deterministic spherical
    k-means quantizer (``kmeans_centroids`` — note this runs n_iter+2 tiny
    actions eagerly at plan-build time); "lowid" uses the ``n_cells``
    lowest-id corpus vectors (the zero-action fallback); or pass a
    precomputed k×dim list to reuse a trained quantizer across query
    batches — at 100 TB you train once, write the corpus partitioned by
    cell, and every later batch prunes to nprobe/n_cells of the data.
    Assignment inlines the centroids as literals — a narrow projection, no
    crossJoin and no per-row window; scale ``n_cells`` with the corpus
    (cells ≈ sqrt(rows) is the usual IVF sizing) so each cell stays a
    bounded slice.
    """
    if n_cells < 1:
        # zero "lowid" centroids built a malformed empty-array argmax that
        # failed analysis with an opaque extract error; zero "kmeans"
        # centroids raised the misleading empty-corpus message
        raise ValueError(f"n_cells must be >= 1 (got {n_cells})")
    if nprobe < 1:
        # slice(..., 1, 0) probes NO cells: every query silently returns
        # zero neighbors — empty output from a parameter typo, not data
        raise ValueError(f"nprobe must be >= 1 (got {nprobe})")
    if centroids == "kmeans":
        cents = kmeans_centroids(corpus, corpus_vec, corpus_id,
                                 k=n_cells, n_iter=kmeans_iter)
    elif centroids == "lowid":
        rows = (corpus.select(F.col(corpus_id).alias("i"),
                              F.col(corpus_vec).alias("v"))
                .orderBy("i").limit(n_cells).collect())
        cents = [_unit(list(r["v"])) for r in rows]
    else:
        cents = centroids

    c = spread_input(corpus).select(
        F.col(corpus_id).alias("corpus_id"),
        F.col(corpus_vec).alias("__cv"),
        norm(F.col(corpus_vec)).alias("__cn"),
        _argmax_cell(corpus_vec, cents).alias("cell"))
    # same probe shape as lsh_topk: the (small-by-contract) query batch is
    # broadcast so the cell-assigned corpus never exchanges, and the
    # per-query top-k is ONE groupBy instead of distinct+window. IVF
    # probes are distinct cells per query, so collect_SET semantics are
    # merely defensive here (no multi-probe repeats to dedup).
    q = F.broadcast(
        queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("__qv"),
                       norm(F.col(query_vec)).alias("__qn"),
                       F.explode(_top_cells(query_vec, cents, nprobe))
                       .alias("cell")))
    scored = q.join(c, "cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    scored = scored.withColumn(
        "cosine", F.round(cosine_from_norms(F.col("__qv"), F.col("__cv"),
                                            F.col("__qn"), F.col("__cn")),
                          6))
    return _topk_by_query(scored, k)


def lsh_topk(queries: DataFrame, corpus: DataFrame,
             k: int = 10, n_planes: int | None = None, bands: int = 4,
             probe_bits: int = 1,
             query_id: str = "query_id", query_vec: str = "query_vec",
             corpus_id: str = "corpus_id", corpus_vec: str = "corpus_vec",
             exclude_self: bool = True,
             max_bucket_size: int | None = None) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: the corpus is
    indexed in ``bands`` independent tables keyed by r = n_planes/bands
    sign bits each; queries probe their key (plus keys within
    ``probe_bits`` flips — multi-probe) in every table, and candidates
    from any table are union-ranked by exact cosine.

    Single-table sign-LSH cannot hold recall on unclustered data (one
    r-bit key match has P ≈ p^r, p = 1−θ/π); the union over tables gives
    1−(1−P_table)^bands — the standard recall/storage tradeoff, at
    ``bands``× index entries per vector. Key space per table is 2^r and
    does NOT grow by itself: ``n_planes=None`` (default) auto-sizes
    r = max(6, ceil(log2(corpus/8))) from one corpus count() — ~8 rows
    per bucket at any scale (same sizing rule, same rationale, and same
    measured 20k-corpus degeneration as ``dedup.embedding_near_dups``;
    raise ``probe_bits`` with larger r per that docstring's S-curve).
    The join is (table, key)-equi, shuffle-partitioned on the key — never
    all-pairs; at 100 TB the indexed corpus is written bucketed by
    (table, key) once and reused across query batches.

    Hot-bucket safety (r6 advisor): the per-query top-k aggregation is
    SALTED two-level (see ``_topk_by_query``), so even a degenerate
    corpus (mass-duplicated vectors → one giant bucket) divides its
    candidate set across ``_TOPK_SALT`` aggregation buffers instead of
    materializing it whole — structural, no extra job. For corpora
    suspected of truly pathological occupancy (beyond ~100M candidates
    per query), pass ``max_bucket_size``: one narrow count aggregate
    then probes the largest bucket up front (an EAGER job, same style
    as the n_planes auto-size count) and oversized routes the top-k
    through the fully spill-safe distinct+window pair. A
    ``build_lsh_index`` table records its occupancy at build time, so
    the indexed path makes this choice with no extra job at all."""

    from data_warehouse_migrate_spark.functions.vectors import band_keys
    from data_warehouse_migrate_spark.operators.dedup import _probe_keys

    if not 0 <= probe_bits <= 2:
        # _probe_keys enumerates 0-, 1- and 2-flip probes; a larger value
        # would silently probe only 2 flips — refuse rather than under-probe
        raise ValueError(f"probe_bits must be 0, 1 or 2 (got {probe_bits})")
    if max_bucket_size is not None and max_bucket_size < 1:
        raise ValueError(
            f"max_bucket_size must be >= 1 when given (got {max_bucket_size})")
    n_planes, r = _resolve_planes(corpus, n_planes, bands)

    def _indexed(df, id_name, vec_name, out_id, out_vec, out_norm):
        # The norm rides along per input row (evaluated before the
        # generator) — per-pair cosine then costs one fold, not three
        keys = band_keys(vec_name, n_planes, bands, r)
        return df.select(
            F.col(id_name).alias(out_id), F.col(vec_name).alias(out_vec),
            norm(F.col(vec_name)).alias(out_norm),
            F.posexplode(keys).alias("band", "band_key"))

    c = _indexed(spread_input(corpus), corpus_id, corpus_vec,
                 "corpus_id", "__cv", "__cn")
    bounded = True
    if max_bucket_size is not None:
        bounded = _max_bucket_occupancy(c) <= max_bucket_size
    # BROADCAST the probe side: query batches are small by contract
    # (docstring above), so the corpus index never shuffles — the join is
    # a map-side hash probe over the bucket-partitioned corpus, exactly
    # the shape the persisted-index path (build_lsh_index) promises.
    # Measured at sf0.1: removes a sort+exchange of the corpus index,
    # ~0.4s off the query.
    q = F.broadcast(
        _indexed(queries, query_id, query_vec, "query_id", "__qv", "__qn")
        .select("query_id", "__qv", "__qn", "band",
                F.explode(_probe_keys(F.col("band_key"), r, probe_bits))
                .alias("band_key")))
    scored = q.join(c, ["band", "band_key"]).drop("band", "band_key")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    scored = scored.withColumn(
        "cosine", F.round(cosine_from_norms(F.col("__qv"), F.col("__cv"),
                                            F.col("__qn"), F.col("__cn")),
                          6))
    return _topk_by_query(scored, k, bounded=bounded)


def build_lsh_index(corpus: DataFrame, table: str,
                    n_planes: int | None = None, bands: int = 4,
                    corpus_id: str = "corpus_id",
                    corpus_vec: str = "corpus_vec",
                    n_buckets: int = 64) -> dict:
    """Index ONCE, query many: persist the banded hyperplane index as a
    BUCKETED managed table so later query batches join it without
    re-projecting or re-shuffling the corpus (the 100 TB contract the
    ``lsh_topk`` docstring promises). Bucketed+sorted by (band, band_key)
    — exactly the probe join key — so the planner reuses the table's
    layout and only the (tiny) probe side exchanges.

    The hyperplanes are deterministic in (dimension, plane) — see
    ``vectors.band_keys`` — so probes computed in ANY later
    session land in the right buckets as long as they use the same
    n_planes/bands; those are recorded on the table as TBLPROPERTIES
    (``dwms.lsh.n_planes`` / ``dwms.lsh.bands``), making the index
    self-describing. Returns {table, n_planes, bands, r}.
    """

    from data_warehouse_migrate_spark.functions.vectors import band_keys
    from data_warehouse_migrate_spark.sources.sinks import write_bucketed

    n_planes, r = _resolve_planes(corpus, n_planes, bands)
    keys = band_keys(corpus_vec, n_planes, bands, r)
    rows = spread_input(corpus).select(
        F.col(corpus_id).alias("corpus_id"),
        F.col(corpus_vec).alias("corpus_vec"),
        F.posexplode(keys).alias("band", "band_key"))
    write_bucketed(rows, table, ["band", "band_key"], n_buckets=n_buckets,
                   sort_cols=["band", "band_key"])
    spark = corpus.sparkSession
    # bucket occupancy + row count are measured ONCE here, at write time
    # (reading the just-written table — key columns only, ONE job), and
    # recorded on the table, so every later probe batch picks its top-k
    # strategy AND its scan-prune decision from the TBLPROPERTIES it
    # already reads — zero extra jobs at query time
    occ = (spark.table(table).groupBy("band", "band_key")
           .agg(F.count(F.lit(1)).alias("__bn"))
           .agg(F.max("__bn"), F.sum("__bn")).first())
    max_bucket, n_rows = int(occ[0] or 0), int(occ[1] or 0)
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES("
              f"'dwms.lsh.n_planes'='{n_planes}', "
              f"'dwms.lsh.bands'='{bands}', "
              f"'dwms.lsh.max_bucket'='{max_bucket}', "
              f"'dwms.lsh.n_rows'='{n_rows}')")
    return {"table": table, "n_planes": n_planes, "bands": bands, "r": r,
            "max_bucket": max_bucket, "n_rows": n_rows}


def lsh_topk_indexed(queries: DataFrame, index_table: str,
                     k: int = 10, probe_bits: int = 1,
                     query_id: str = "query_id", query_vec: str = "query_vec",
                     exclude_self: bool = True,
                     max_bucket_size: int | None = _LSH_MAX_BUCKET
                     ) -> DataFrame:
    """ANN top-k against a ``build_lsh_index`` table. Reads
    n_planes/bands — and the bucket occupancy + row count recorded at
    build time, which pick the top-k strategy and the scan-prune
    decision with no extra job — from the table's TBLPROPERTIES (one
    driver-side catalog lookup, the only always-eager step), projects
    ONLY the query batch, and BROADCASTS it over the stored index: the
    corpus side streams through a broadcast hash join in its stored
    bucket layout — no exchange, no sort, and none of the banding
    re-projection ``lsh_topk`` pays per call (the r6 un-hinted join
    planned as sort-merge, which exchanged the probe and sorted the
    corpus-sized index scan). Output schema matches ``lsh_topk``.

    WRITE-AMORTIZED INDEX — loses below the crossover (measured, r7):
    the stored index carries each vector ``bands``× and pays a catalog
    lookup + stored-table scan per batch, while hyperplane banding is
    cheap to recompute — so at a ~2k-vector corpus with a saturated
    24-plane key space the probe measured 0.62-0.74x the speed of plain
    ``lsh_topk``. At 20k vectors with auto-sized planes (r=12, key
    space >> probes) the same 100-query probe measured 1.4x FASTER, and
    the ratio grows with corpus size: r scales with log(n), so probes
    touch a vanishing fraction of the key space while ``lsh_topk``
    re-projects everything. Use the index when the corpus is ≥ ~10k
    vectors AND the same corpus serves many query batches; below that,
    call ``lsh_topk`` directly."""
    from data_warehouse_migrate_spark.functions.vectors import band_keys
    from data_warehouse_migrate_spark.operators.dedup import _probe_keys

    if not 0 <= probe_bits <= 2:
        raise ValueError(f"probe_bits must be 0, 1 or 2 (got {probe_bits})")
    if max_bucket_size is not None and max_bucket_size < 1:
        raise ValueError(
            f"max_bucket_size must be >= 1 when given (got {max_bucket_size})")
    spark = queries.sparkSession
    props = {r["key"]: r["value"] for r in
             spark.sql(f"SHOW TBLPROPERTIES {index_table}").collect()}
    n_planes = int(props["dwms.lsh.n_planes"])
    bands = int(props["dwms.lsh.bands"])
    r = n_planes // bands
    bounded = (max_bucket_size is None
               or int(props.get("dwms.lsh.max_bucket", 0)) <= max_bucket_size)

    keys = band_keys(query_vec, n_planes, bands, r)
    probes = (queries.select(F.col(query_id).alias("query_id"),
                             F.col(query_vec).alias("__qv"),
                             norm(F.col(query_vec)).alias("__qn"),
                             F.posexplode(keys).alias("band", "band_key"))
              .select("query_id", "__qv", "__qn", "band",
                      F.explode(_probe_keys(F.col("band_key"), r,
                                            probe_bits))
                       .alias("band_key")))
    q = F.broadcast(probes)
    c = spark.table(index_table)
    # PRUNE THE INDEX SCAN to the probed buckets — on indexes big enough
    # for pruning to pay (recorded n_rows ≥ _PRUNE_MIN_ROWS; below that
    # the whole-index scan is cheaper than the extra key-collection
    # job). The probe keys are a queries×bands×(1+probe_bits flips) set
    # — small by the same query-batch contract as the broadcast —
    # collected once (disclosed, probe-batch-bounded) and pushed into
    # the scan as literal predicates. The index stores vectors
    # ``bands``× (once per table), so an unpruned probe reads MORE
    # vector bytes than ``lsh_topk`` reads from the raw corpus —
    # pruning is what makes the persisted index pay at scale: files are
    # bucketed+sorted by (band, band_key), so the IN-filter skips whole
    # buckets/row-groups and the scan touches only the probed slice.
    # Batches too large to inline (> _MAX_PROBE_LITERALS pairs) skip
    # the pre-filter and scan the whole index, as before.
    pairs = ([] if int(props.get("dwms.lsh.n_rows", 0)) < _PRUNE_MIN_ROWS
             else probes.select("band", "band_key").distinct().collect())
    if pairs and len(pairs) <= _MAX_PROBE_LITERALS:
        by_band: dict[int, list[int]] = {}
        for row in pairs:
            by_band.setdefault(row["band"], []).append(row["band_key"])
        cond = None
        for band, bkeys in sorted(by_band.items()):
            this = (F.col("band") == band) & F.col("band_key").isin(bkeys)
            cond = this if cond is None else cond | this
        if cond is not None:
            c = c.where(cond)
    # corpus norm per INDEX ROW (not per candidate pair): the stored
    # index schema is unchanged — the norm is a cheap projection on the
    # scanned slice, amortized over every probe that hits the row
    c = c.withColumn("__cn", norm(F.col("corpus_vec")))
    scored = q.join(c, ["band", "band_key"]).drop("band", "band_key")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    scored = scored.withColumn(
        "cosine", F.round(cosine_from_norms(F.col("__qv"),
                                            F.col("corpus_vec"),
                                            F.col("__qn"), F.col("__cn")),
                          6))
    return _topk_by_query(scored, k, bounded=bounded)


def label_principal_direction(df: DataFrame, vec_col: str = "embedding",
                              label_col: str = "label",
                              id_col: str = "vec_id") -> DataFrame:
    """Per-label top principal direction of the embedding cloud.

    Two-phase: (1) DISTRIBUTED second-moment reduction — ``mapInPandas``
    folds each partition's Arrow batches into ONE (n, Σx, XᵀX) partial per
    label via BLAS matrix products (``M.T @ M`` — no per-row expansion of
    any kind; the round-2 variant exploded dim²/2 struct rows PER INPUT
    ROW, compute-prohibitive at LLM dims 768-4096). Executor state is
    labels·dim² floats per task regardless of row count, and no label's
    row set is ever materialized whole (a skewed label cannot OOM a
    worker). (2) DRIVER-side merge + exact eigendecomp: the collected
    partials (partitions_with_label · labels rows of dim² floats — NOT
    labels·dim²/2 Row objects) are element-wise ``math.fsum``-merged
    (exactly rounded, order-independent), then ``eigh`` solves the tiny
    dim×dim covariance. Power iteration is not used: on near-degenerate
    spectra (random-ish data, λ2/λ1 → 1) it converges too slowly, and
    driver-side the exact solve is free.

    Determinism: the cross-partition merge is fsum-exact, so results do
    not depend on which partial arrives first; within a partition the
    float64 BLAS fold is fixed by the partition's row order, and the 6dp
    output rounding absorbs sub-ulp layout drift (the round-2 decimal
    moments were bit-exact under relayout but cost the dim² explode).
    The eigenvector sign is canonicalized (largest-|component| made
    positive — eigh's sign is implementation-defined).

    Scale bound: collected-partials bytes ≈ partitions·labels·dim²·8.
    At dim 4096 each partial is ~134 MB, so ``coalesce`` the input to
    O(10) partitions per label first (the fold is compute-light; the
    moment matrix, not the row count, is the payload) — the operator's
    cost is bounded by dim², never by corpus size.

    Returns (label, n, explained, pc: array<double>) where ``explained``
    is the share of variance along the principal direction. ``label``
    keeps the INPUT column's type and values: arbitrary atomic labels
    (ints, strings, dates, NULL) are dense-ranked to a compact int index
    for the distributed fold and mapped back on output — a NULL label is
    its own group, matching SQL GROUP BY, never silently dropped (the
    round-3 int-cast grouping made non-integer labels vanish).
    """
    import math

    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    # Dense-rank raw label values to ints driver-side. #labels is small by
    # the operator's own contract (driver merge holds labels·dim² floats),
    # so this collect is bounded by labels, never corpus size.
    from pyspark.sql.types import IntegerType, StructField, StructType

    label_type = df.schema[label_col].dataType
    label_vals = [r[0] for r in
                  df.select(F.col(label_col).alias("__lab")).distinct()
                  .collect()]
    label_vals.sort(key=lambda v: (v is None, str(v)))
    lab_map = spark.createDataFrame(
        [(v, i) for i, v in enumerate(label_vals)],
        schema=StructType([StructField("__lab", label_type, True),
                           StructField("__idx", IntegerType(), False)]))
    # spread first: one Arrow worker would otherwise fold every batch (the
    # 6dp rounding absorbs the sub-ulp layout sensitivity — see above)
    src = (spread_input(df)
           .join(F.broadcast(lab_map),
                 F.col(label_col).eqNullSafe(F.col("__lab")))
           .select(F.col("__idx").alias("label"),
                   F.col(vec_col).cast("array<double>").alias("__v")))

    def moment_partials(batches):
        acc: dict = {}  # label -> [n, sum_vec, moment_matrix]
        for pdf in batches:
            for label, g in pdf.groupby("label"):
                M = np.stack(g["__v"].to_numpy()).astype(np.float64)
                st = acc.get(label)
                if st is None:
                    acc[label] = [len(g), M.sum(axis=0), M.T @ M]
                else:
                    st[0] += len(g)
                    st[1] += M.sum(axis=0)
                    st[2] += M.T @ M
        # yield ONLY when this worker saw rows: an empty pd.DataFrame's
        # columns default to float64 ndarrays, which Arrow cannot convert
        # to the declared array<double> fields (ArrowNotImplementedError)
        # — hit whenever the spread leaves some partitions empty, i.e.
        # corpora smaller than the core count (r8 tiny-corpus sweep)
        if not acc:
            return
        out = {"label": [], "n": [], "s": [], "p": []}
        for label, (n, s, P) in acc.items():
            out["label"].append(int(label))
            out["n"].append(n)
            out["s"].append(s.tolist())
            out["p"].append(P.reshape(-1).tolist())
        yield pd.DataFrame(out)

    parts = src.mapInPandas(
        moment_partials,
        "label int, n long, s array<double>, p array<double>").collect()

    by_label: dict = {}
    for r in parts:
        st = by_label.setdefault(r.label, {"n": 0, "s": [], "p": []})
        st["n"] += int(r.n)
        st["s"].append(r.s)
        st["p"].append(r.p)

    rows = []
    for label in sorted(by_label):
        st = by_label[label]
        n = st["n"]
        dim = len(st["s"][0])
        s = np.array([math.fsum(v[i] for v in st["s"]) for i in range(dim)])
        P = np.array([math.fsum(v[i] for v in st["p"])
                      for i in range(dim * dim)]).reshape(dim, dim)
        mu = s / n
        C = (P - np.outer(mu, s)) / max(n - 1, 1)
        C = (C + C.T) / 2.0  # exact symmetry for eigh
        w, V = np.linalg.eigh(C)
        v = V[:, -1]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        lam = float(w[-1])
        tot = float(np.trace(C)) or 1.0
        rows.append((label_vals[label], n, round(lam / tot, 6),
                     [float(x) for x in np.round(v, 6)]))

    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    return spark.createDataFrame(rows, StructType([
        StructField(label_col, label_type, True),
        StructField("n", LongType(), False),
        StructField("explained", DoubleType(), False),
        StructField("pc", ArrayType(DoubleType()), False)]))
