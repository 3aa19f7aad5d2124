"""Vector expressions over array<float|double> embedding columns.

Built-in ``zip_with``/``aggregate`` array math — JVM-side, no UDFs —
re-implemented by the DuckDB oracles (list_transform/list_reduce).
Results are rounded where they feed hash-compared query outputs (float
summation order is engine-defined past ~1e-12).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.sqltext import ident


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm.

    The bare ``dot/(norm·norm)`` divides by zero on an all-zero vector —
    and Spark 4 runs ANSI mode by DEFAULT, where that is a
    DIVIDE_BY_ZERO *job failure*, not a NaN: one zero embedding (a
    standard bad-encoder artifact) anywhere in a 100 TB corpus would
    kill every similarity query that touches it (caught by the r17
    zero-norm sweep). ``try_divide`` yields NULL instead — evaluated
    once, no duplicated norm subtree — and NULL is the honest value for
    an undefined similarity: filters drop it, and the top-k paths
    exclude it explicitly (``_topk_by_query``)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_from_norms(a: Column, b: Column,
                      norm_a: Column, norm_b: Column) -> Column:
    """``cosine(a, b)`` with both norms precomputed per ROW and carried as
    columns — BIT-IDENTICAL to :func:`cosine` (the norm column holds the
    same ``norm(...)`` expression's value over the same array; the
    product and ``try_divide`` are unchanged), but the per-PAIR work of
    a similarity join drops from THREE interpreted array aggregates to
    ONE: ``aggregate``/``zip_with`` are higher-order functions —
    CodegenFallback, evaluated interpreted — so on a candidate join
    producing P pairs from N rows, ``cosine`` costs 3P interpreted array
    folds where this form costs P folds + 2N (the norms, amortized over
    every pair the row joins into). Same NULL contract: a zero norm on
    either side makes the product 0 and ``try_divide`` yields NULL."""
    return F.try_divide(dot(a, b), norm_a * norm_b)


def normalize(a: Column) -> Column:
    """Unit-normalize: cosine(a, b) == dot(normalize(a), normalize(b)).
    Normalizing each row ONCE turns per-pair cosine (dot + two norms =
    three array passes) into a single dot — the difference between 3·P and
    P array passes on a P-pair similarity join. The norm subtree is
    re-evaluated per element inside the lambda (no cross-lambda subexpr
    elimination), but that is O(dim²) per ROW, not per pair — negligible
    next to the pair loop it saves.

    The all-zero vector stays all-zero (same contract as
    ``truncate_normalize`` and the driver-side ``similarity._unit``):
    under Spark 4's default ANSI mode the unguarded division is a
    DIVIDE_BY_ZERO job failure on the first bad embedding, and a
    zero vector dots to 0 with everything — below any positive
    similarity threshold, so zero-norm rows are simply never near
    anything."""
    n = norm(a)
    return F.when(n == F.lit(0.0),
                  F.transform(a, lambda x: x.cast("double"))).otherwise(
        F.transform(a, lambda x: x.cast("double") / n))


def band_keys(vec_name: str, n_planes: int, bands: int,
              rows_per_band: int) -> Column:
    """``array<long>[bands]`` of hyperplane-LSH band keys for an array
    column: band b's key packs the sign bits of planes
    [b·r, (b+1)·r) — the LSH shuffle key is (band, key), a 2^r key space
    per band. The shared core of every hyperplane-LSH operator, rendered
    as SQL text and parsed JVM-side in one ``F.expr`` call (built as a
    Column tree it cost ~160 ms of py4j round trips per call at 24 planes).

    Plane weights are drawn from {-2,-1,1,2} (never 0 — zero weights make
    sparse vectors knife-edge on a plane) by Murmur3-hashing
    (dimension_index, plane_index) — deterministic (no runtime randomness,
    stable across runs) yet decorrelated across planes. An affine pattern
    like (d·31 + j·17) mod 4 is NOT usable here: mod 4 it collapses to
    (3d + j) mod 4, making plane j identical to plane j+4.

    Single-pass: ONE ``aggregate`` over the vector with an n_planes-element
    running-sum accumulator, then one over the sign bits with a
    (keys[], position) accumulator, so neither the vector nor the
    projections are inlined once per plane or band. 2^(i mod r) via float
    pow is integer-exact for r ≤ 52. Probes must land in the buckets of an
    index persisted in another session (``build_lsh_index``), so
    ``tests/test_similarity.py`` pins the keys' values."""
    r = rows_per_band
    vec = ident(vec_name)
    w = ("CAST(CASE WHEN pmod(hash(p.d, j), 4) < 2 "
         "THEN pmod(hash(p.d, j), 4) - 2 "
         "ELSE pmod(hash(p.d, j), 4) - 1 END AS DOUBLE)")
    proj = (f"aggregate("
            f"zip_with({vec}, sequence(0, size({vec}) - 1), "
            f"(x, d) -> struct(CAST(x AS DOUBLE) AS x, d AS d)), "
            f"array_repeat(0.0D, {n_planes}), "
            f"(acc, p) -> transform(acc, (a, j) -> a + p.x * {w}))")
    bits = (f"transform({proj}, "
            f"p -> CAST(CASE WHEN p > 0 THEN 1 ELSE 0 END AS BIGINT))")
    keys = (f"aggregate({bits}, "
            f"struct(array_repeat(CAST(0 AS BIGINT), {bands}) AS ks, "
            f"0 AS i), "
            f"(acc, bit) -> struct("
            f"transform(acc.ks, (key, b) -> "
            f"CASE WHEN b = CAST(acc.i / {r} AS INT) "
            f"THEN key + bit * CAST(pow(2.0D, acc.i % {r}) AS BIGINT) "
            f"ELSE key END) AS ks, "
            f"acc.i + 1 AS i)).ks")
    return F.expr(keys)


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 scalar quantization: struct(scale, q) with
    scale = max|x|/127 and q_i = round(x_i/scale) ∈ [-127, 127] — the
    standard 4× embedding compression for ANN serving (reconstruction is
    q·scale). The all-zero vector quantizes to scale 0 / all-zero q.

    Pure JVM array expressions. The scale subtree is re-evaluated per
    element inside the lambda (no cross-lambda CSE) — O(dim²) per row,
    the same disclosed trade as ``normalize``; negligible at embedding
    dims, and the compressed corpus (1 byte/dim + one double) is what
    ships to the serving tier.
    """
    v = F.transform(vec, lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    q = F.when(max_abs == F.lit(0.0),
               F.transform(v, lambda x: F.lit(0))
               ).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("int")))
    return F.struct(scale.alias("scale"), q.alias("q"))


def quantization_error(vec: Column, quant: Column) -> Column:
    """Relative L2 reconstruction error ‖x − q·scale‖ / ‖x‖ of a
    ``quantize_int8`` result (0 for the all-zero vector)."""
    recon = F.transform(quant["q"], lambda qi: qi.cast("double") * quant["scale"])
    diff = F.zip_with(vec, recon, lambda x, r: x.cast("double") - r)
    nx = norm(vec)
    return F.when(nx == F.lit(0.0), F.lit(0.0)).otherwise(norm(diff) / nx)


def truncate_normalize(vec: Column, dims: int) -> Column:
    """Matryoshka-style truncation: keep the first ``dims`` components
    and re-unit-normalize — the standard storage/latency knob for
    MRL-trained embeddings (shorter prefixes remain usable retrieval
    vectors after re-norm; cosine on the truncated vector is then a
    plain dot). All-zero prefixes stay all-zero instead of dividing by
    zero. Narrow array expressions, no shuffle."""
    t = F.transform(F.slice(vec, 1, dims), lambda x: x.cast("double"))
    n = norm(t)
    return F.when(n == F.lit(0.0), t).otherwise(
        F.transform(t, lambda x: x / n))
