"""Similarity search: brute-force exact top-k + LSH ANN recall."""

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(emb, n=5):
    return (emb.filter(F.col("vec_id") < n)
            .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")))


def _corpus(emb):
    return emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec"))


def test_brute_force_topk_shape(emb):
    out = brute_force_topk(_queries(emb), _corpus(emb), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        sims = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.corpus_id != q for r in rows)       # self excluded
        assert all(-1.0 <= r.cosine <= 1.0 for r in rows)


def test_topk_deterministic(emb):
    a = {(r.query_id, r.rank): r.corpus_id
         for r in brute_force_topk(_queries(emb), _corpus(emb), k=3).collect()}
    b = {(r.query_id, r.rank): r.corpus_id
         for r in brute_force_topk(_queries(emb), _corpus(emb), k=3).collect()}
    assert a == b


def test_lsh_recall_vs_exact(emb):
    exact = {(r.query_id, r.corpus_id)
             for r in brute_force_topk(_queries(emb), _corpus(emb), k=10).collect()}
    approx = {(r.query_id, r.corpus_id)
              for r in lsh_topk(_queries(emb), _corpus(emb), k=10,
                                n_planes=24, bands=4, probe_bits=1).collect()}
    # approximate results must themselves be valid neighbors and overlap
    # substantially with exact top-k
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"


def test_broadcast_in_plan(emb):
    from data_warehouse_migrate_spark.plans.dryrun import explain_plan
    plan = explain_plan(brute_force_topk(_queries(emb), _corpus(emb), k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_topk_recall(emb):
    from data_warehouse_migrate_spark.operators.similarity import ivf_topk

    exact = {(r.query_id, r.corpus_id)
             for r in brute_force_topk(_queries(emb), _corpus(emb), k=5).collect()}
    ivf = {(r.query_id, r.corpus_id)
           for r in ivf_topk(_queries(emb), _corpus(emb), k=5,
                             n_cells=16, nprobe=8).collect()}
    # probing half the cells must recover a solid share of true neighbors
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_shape_and_determinism(emb):
    from data_warehouse_migrate_spark.operators.similarity import ivf_topk

    a = {(r.query_id, r.rank): r.corpus_id
         for r in ivf_topk(_queries(emb), _corpus(emb), k=3).collect()}
    b = {(r.query_id, r.rank): r.corpus_id
         for r in ivf_topk(_queries(emb), _corpus(emb), k=3).collect()}
    assert a == b
    assert all(rank <= 3 for (_, rank) in a)


def test_label_principal_direction(emb):
    from data_warehouse_migrate_spark.operators.similarity import (
        label_principal_direction,
    )
    import numpy as np

    out = {r.label: r for r in label_principal_direction(emb).collect()}
    out2 = {r.label: r for r in
            label_principal_direction(emb.repartition(7)).collect()}
    assert set(out) == set(out2)
    for lbl, r in out.items():
        assert 0.0 <= r.explained <= 1.0
        assert abs(np.linalg.norm(r.pc) - 1.0) < 1e-3      # unit direction
        # deterministic under a different partition layout (decimal sums)
        assert list(out2[lbl].pc) == list(r.pc)
        assert out2[lbl].explained == r.explained
        assert r.n > 0


def test_label_principal_direction_matches_numpy(emb):
    from data_warehouse_migrate_spark.operators.similarity import (
        label_principal_direction,
    )
    import numpy as np

    rows = emb.select("label", "embedding").collect()
    got = {r.label: r for r in label_principal_direction(emb).collect()}
    labels = {r.label for r in rows}
    for lbl in labels:
        X = np.array([list(r.embedding) for r in rows if r.label == lbl],
                     dtype=np.float64)
        C = np.cov(X, rowvar=False)
        w, V = np.linalg.eigh(C)
        true_pc = V[:, -1]
        r = got[lbl]
        # same direction up to sign, and the true explained-variance share
        assert abs(abs(float(np.dot(r.pc, true_pc))) - 1.0) < 1e-3
        assert abs(r.explained - w[-1] / w.sum()) < 1e-4
        assert r.n == len(X)


def test_label_principal_direction_high_dim(spark):
    # dim ≥ 256: the moment reduction must stay a per-partition BLAS fold
    # (the old upper-triangle explode generated dim²/2 ≈ 45k rows PER INPUT
    # ROW at dim=300 — this test with 400 rows would explode to 18M rows)
    from data_warehouse_migrate_spark.operators.similarity import (
        label_principal_direction,
    )
    import numpy as np

    dim, n = 300, 400
    rng = np.random.RandomState(7)
    base = rng.randn(n, dim)
    base[:, 0] *= 5.0  # plant a dominant direction
    rows = [(i, int(i % 2), [float(x) for x in base[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    got = {r.label: r for r in label_principal_direction(df).collect()}
    assert set(got) == {0, 1}
    for lbl in (0, 1):
        X = np.array([base[i] for i in range(n) if i % 2 == lbl])
        C = np.cov(X, rowvar=False)
        w, V = np.linalg.eigh(C)
        r = got[lbl]
        assert len(r.pc) == dim and r.n == len(X)
        assert abs(abs(float(np.dot(r.pc, V[:, -1]))) - 1.0) < 1e-3
        assert abs(r.explained - w[-1] / w.sum()) < 1e-4


def test_label_principal_direction_committed_eigen_oracle(spark):
    """Cell-exact committed contract (r14 verdict item 6): embedding_pca
    is the registry's only rows-only resident with no SQL twin, so its
    oracle is this FIXED matrix with numpy-computed expected
    eigenvectors/variances committed as literal constants — not
    recomputed at test time. Expected values were derived once with the
    operator's exact convention (C = (XᵀX − μ·sᵀ)/(n−1) symmetrized,
    eigh, sign canonicalized by largest-|component|, explained =
    λmax/trace, both rounded to 6dp):

        X0 = [[2,0,1],[4,1,1],[6,0,3],[8,1,3],[10,0,5]]  (label 0)
        X1 = [[1,5,0],[1,3,4],[3,1,8],[3,7,2]]           (label 1)

    Both spectra have a well-separated dominant eigenvalue (12.563 vs
    0.537; 17.083 vs 2.456) and every literal sits >=2.7e-7 from its
    6dp rounding boundary, so the 6dp outputs are stable against BLAS
    ulp drift and exact equality is the honest assert."""
    from data_warehouse_migrate_spark.operators.similarity import (
        label_principal_direction,
    )

    rows = [
        (0, 0, [2.0, 0.0, 1.0]),
        (1, 0, [4.0, 1.0, 1.0]),
        (2, 0, [6.0, 0.0, 3.0]),
        (3, 0, [8.0, 1.0, 3.0]),
        (4, 0, [10.0, 0.0, 5.0]),
        (5, 1, [1.0, 5.0, 0.0]),
        (6, 1, [1.0, 3.0, 4.0]),
        (7, 1, [3.0, 1.0, 8.0]),
        (8, 1, [3.0, 7.0, 2.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")

    # committed literals (numpy 12dp readings in the derivation:
    # explained 0.958984343762 / 0.868643000019; pc components as below)
    expected = {
        0: {"n": 5, "explained": 0.958984,
            "pc": [0.889864, -0.011158, 0.45609]},
        1: {"n": 4, "explained": 0.868643,
            "pc": [0.103279, -0.572578, 0.813319]},
    }

    for layout in (df, df.repartition(5)):
        got = {r.label: r
               for r in label_principal_direction(layout).collect()}
        assert set(got) == set(expected)
        for lbl, exp in expected.items():
            r = got[lbl]
            assert r.n == exp["n"]
            assert r.explained == exp["explained"]
            assert list(r.pc) == exp["pc"]


def test_kmeans_centroids_deterministic_unit(emb):
    from data_warehouse_migrate_spark.operators.similarity import kmeans_centroids
    a = kmeans_centroids(emb, "embedding", "vec_id", k=8, n_iter=3)
    b = kmeans_centroids(emb, "embedding", "vec_id", k=8, n_iter=3)
    assert a == b                                  # bit-identical across runs
    assert len(a) == 8 and all(len(c) == 64 for c in a)
    for c in a:
        nrm = sum(x * x for x in c) ** 0.5
        assert abs(nrm - 1.0) < 1e-9               # spherical: unit centroids


def test_kmeans_centroids_partition_invariant(emb):
    # decimal accumulators: same centroids under any partition layout
    from data_warehouse_migrate_spark.operators.similarity import kmeans_centroids
    a = kmeans_centroids(emb.repartition(1), "embedding", "vec_id", k=4, n_iter=2)
    b = kmeans_centroids(emb.repartition(17), "embedding", "vec_id", k=4, n_iter=2)
    assert a == b


def test_ivf_kmeans_precomputed_reuse(emb):
    # training once and passing the centroid list gives the same answer as
    # inline training — the 100 TB reuse path
    from data_warehouse_migrate_spark.operators.similarity import (
        ivf_topk, kmeans_centroids)
    cents = kmeans_centroids(_corpus(emb), "corpus_vec", "corpus_id",
                             k=16, n_iter=5)
    inline = {(r.query_id, r.rank, r.corpus_id)
              for r in ivf_topk(_queries(emb), _corpus(emb), k=3).collect()}
    reused = {(r.query_id, r.rank, r.corpus_id)
              for r in ivf_topk(_queries(emb), _corpus(emb), k=3,
                                centroids=cents).collect()}
    assert inline == reused


def test_lsh_index_build_and_query(spark, sf_dir):
    """Index once, query many: results must equal the one-shot lsh_topk
    at the same parameters, and the index side of the probe join must be
    scanned in its stored bucket layout (no Exchange above its scan)."""
    from data_warehouse_migrate_spark.operators.similarity import (
        build_lsh_index,
        lsh_topk,
        lsh_topk_indexed,
    )
    from data_warehouse_migrate_spark.plans.dryrun import explain_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(20).select(F.col("vec_id").alias("query_id"),
                             F.col("embedding").alias("query_vec"))
    c = emb.select(F.col("vec_id").alias("corpus_id"),
                   F.col("embedding").alias("corpus_vec"))
    meta = build_lsh_index(c, "lsh_idx_test", n_planes=24, bands=4,
                           n_buckets=8)
    try:
        assert meta["r"] == 6
        got = lsh_topk_indexed(q, "lsh_idx_test", k=5, probe_bits=1)
        want = lsh_topk(q, c, k=5, n_planes=24, bands=4, probe_bits=1)
        a = {(r.query_id, r.rank): r.corpus_id for r in got.collect()}
        b = {(r.query_id, r.rank): r.corpus_id for r in want.collect()}
        assert a == b and a
        # plan: the probe batch is BROADCAST over the stored index — the
        # index scan keeps its bucket layout and feeds a broadcast hash
        # join with ZERO exchanges/sorts on the join key (the r6 bench
        # caught the un-hinted version planning sort-merge, which
        # exchanged the probe AND sorted the corpus-sized index scan —
        # probe_speedup 0.67; the hint makes the intended shape explicit
        # even with autoBroadcast disabled)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probes = lsh_topk_indexed(q, "lsh_idx_test", k=5, probe_bits=1)
            plan = explain_plan(probes)
            assert "Bucketed: true" in plan, plan
            assert "BroadcastHashJoin" in plan, plan
            assert plan.count("hashpartitioning(band") == 0, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        # build recorded the occupancy for zero-job strategy choice
        assert meta["max_bucket"] >= 1
        props = {r["key"]: r["value"] for r in
                 spark.sql("SHOW TBLPROPERTIES lsh_idx_test").collect()}
        assert int(props["dwms.lsh.max_bucket"]) == meta["max_bucket"]
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_idx_test")


def test_label_principal_direction_raw_labels(spark):
    """String and NULL labels group as-is (r3 int-cast silently dropped
    them); label column keeps the input type, NULL is its own group."""
    import numpy as np

    from data_warehouse_migrate_spark.operators.similarity import (
        label_principal_direction,
    )

    rng = np.random.default_rng(7)
    rows = []
    for lab in ("en", "fr", None):
        for _ in range(20):
            rows.append((lab, [float(x) for x in rng.normal(size=4)]))
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    out = label_principal_direction(df)
    assert dict(out.dtypes)["label"] == "string"
    got = {r.label: r.n for r in out.collect()}
    assert got == {"en": 20, "fr": 20, None: 20}


def test_truncate_normalize_matryoshka(spark):
    from data_warehouse_migrate_spark.functions.vectors import (
        norm,
        truncate_normalize,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 100.0, 100.0]), (2, [0.0, 0.0, 5.0, 5.0])],
        "id long, v array<double>")
    out = {r.id: list(r.t) for r in df.select(
        "id", truncate_normalize(F.col("v"), 2).alias("t")).collect()}
    assert out[1] == [0.6, 0.8]          # (3,4)/5
    assert out[2] == [0.0, 0.0]          # zero prefix stays zero
    # unit norm -> cosine becomes plain dot
    row = df.filter(F.col("id") == 1).select(
        F.round(norm(truncate_normalize(F.col("v"), 2)), 9).alias("n")).first()
    assert row.n == 1.0


def test_registry_lsh_ann_recall_pinned(spark, sf_dir):
    """Pin the REGISTRY query's recall (q_embedding_lsh_ann is rows-only
    checked externally, so speed/recall trades would otherwise be
    invisible): top-5 recall vs the oracle-checked exact twin
    embedding_topk. Everything is deterministic (hash-seeded planes, no
    RNG), so this is a fixed number at a fixed sf — 0.64 at sf0.001 as
    of r06; the assert leaves headroom only for testdata regeneration."""
    from data_warehouse_migrate_spark.queries import QUERIES

    exact = {(r.query_id, r.corpus_id)
             for r in QUERIES["embedding_topk"](spark, sf_dir).collect()
             if r.rank <= 5}
    approx = {(r.query_id, r.corpus_id)
              for r in QUERIES["embedding_lsh_ann"](spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"registry lsh_ann recall dropped: {recall}"


def test_band_keys_match_golden_values(emb):
    """Band keys as the Column-tree builders computed them before the
    keys were rendered as SQL text: a probe must land in the buckets an
    index persisted in an earlier session laid out (build_lsh_index's
    cross-session contract). 24 planes, 4 bands of 6 over the 500
    embeddings; the digest is sha256 of repr(sorted((vec_id, keys)))."""
    import hashlib

    from data_warehouse_migrate_spark.functions.vectors import band_keys

    got = sorted((r.vec_id, list(r.k)) for r in emb.select(
        "vec_id", band_keys("embedding", 24, 4, 6).alias("k")).collect())
    assert got[:3] == [(0, [19, 42, 23, 60]), (1, [9, 6, 59, 55]),
                       (2, [45, 45, 48, 45])]
    assert hashlib.sha256(repr(got).encode()).hexdigest() == (
        "57f84bde037ca1164b0f22e38c77248ddb98ee08a30c56a67d2e04125e958a8d")


def test_lsh_topk_hot_bucket_spill_path(spark):
    """Degenerate corpus (mass-duplicated vectors → one giant bucket):
    with a small max_bucket_size the query must route through the
    spill-safe distinct+window top-k and return EXACTLY what the
    in-buffer path returns on the same data (same rows, same ranks)."""
    from data_warehouse_migrate_spark.operators.similarity import lsh_topk

    rows = [(i, [1.0, 0.0, 0.5, float(i % 7) / 7]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    c = emb.select(F.col("vec_id").alias("corpus_id"),
                   F.col("embedding").alias("corpus_vec"))
    kw = dict(k=5, n_planes=24, bands=4, probe_bits=1)
    spill = lsh_topk(q, c, max_bucket_size=10, **kw)   # forces unbounded
    fast = lsh_topk(q, c, max_bucket_size=None, **kw)  # in-buffer path
    a = {(r.query_id, r.rank): (r.corpus_id, r.cosine)
         for r in spill.collect()}
    b = {(r.query_id, r.rank): (r.corpus_id, r.cosine)
         for r in fast.collect()}
    assert a == b and len(a) == 25
