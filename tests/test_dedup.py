"""Dedup operators: exact, n-gram Jaccard (inverted index), MinHash LSH,
SimHash pairs, embedding near-dups."""

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.operators.dedup import (
    drop_exact_dups,
    exact_dedup,
    embedding_near_dups,
    minhash_lsh_pairs,
    near_dup_removal,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)


@pytest.fixture()
def dup_docs(spark):
    return spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown fox jumps over the lazy dog"),   # exact dup after normalize
        (3, "the quick brown fox jumps over the lazy cat"),    # near dup
        (4, "completely different content about spark engines"),
        (5, "another unrelated document talking about benchmarks"),
    ], "id int, text string")


def test_exact_dedup(dup_docs):
    out = exact_dedup(dup_docs, "text", "id")
    groups = {r.keep_id: r.n_dups for r in out.collect()}
    assert groups[1] == 2          # ids 1,2 collapse
    assert out.count() == 4
    kept = drop_exact_dups(dup_docs, "text", "id")
    assert sorted(r.id for r in kept.collect()) == [1, 3, 4, 5]


def test_ngram_jaccard_pairs(dup_docs):
    pairs = ngram_jaccard_pairs(dup_docs, "text", "id", n=3, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0   # normalized-identical
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert all(a < b for a, b in got)
    assert (4, 5) not in got


def test_jaccard_freq_cap_keeps_rare_pairs(dup_docs):
    pairs = ngram_jaccard_pairs(dup_docs, "text", "id", n=3, threshold=0.9,
                                max_shingle_freq=10)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}


def test_minhash_lsh_finds_near_dups(dup_docs):
    pairs = minhash_lsh_pairs(dup_docs, "text", "id", n=2, k=16, bands=4, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got
    assert (4, 5) not in got


def test_minhash_vs_exact_jaccard_consistency(spark, sf_dir):
    # LSH output must be a subset of the exact all-pairs result at the same
    # threshold (verification step guarantees no false positives)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(docs, "text", "doc_id", n=2, k=16, bands=8,
                             threshold=0.4).collect()}
    assert lsh.issubset(exact)


def test_simhash_near_pairs(dup_docs):
    pairs = simhash_near_pairs(dup_docs, "text", "id", max_hamming=8, bands=4)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 0
    assert all(h <= 8 for h in got.values())


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id int, vec array<double>")
    out = embedding_near_dups(df, "vec", "id", threshold=0.95)
    got = {(r.id_a, r.id_b): r.cosine for r in out.collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.99
    assert all(v >= 0.95 for v in got.values())


@pytest.mark.parametrize("name", ["vec.id", "vec id", "vec`id"])
def test_embedding_operators_take_any_column_name(spark, name):
    """Vector and id columns named with a dot (not a struct field), a
    space or a backtick give the pairs the plain names give."""
    from data_warehouse_migrate_spark.operators.dedup import (
        embedding_exact_pairs,
    )

    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]), (4, [-1.0, 0.0, 0.0, 0.0])]
    plain = spark.createDataFrame(rows, "id int, vec array<double>")
    odd = plain.toDF(name, name + " vec")

    def pairs(out):
        return sorted((r.id_a, r.id_b) for r in out.collect())

    assert pairs(embedding_near_dups(odd, name + " vec", name,
                                     threshold=0.95)) == \
        pairs(embedding_near_dups(plain, "vec", "id", threshold=0.95))
    assert pairs(embedding_exact_pairs(odd, name + " vec", name, 0.95)) == \
        pairs(embedding_exact_pairs(plain, "vec", "id", 0.95)) == [(1, 2)]


def test_embedding_lsh_recall_vs_exact(spark, sf_dir):
    # the brute-force companion pins the LSH path: precision must be 1.0
    # (verification join) and banded multi-probe recall must hold the
    # S-curve bound (probe_bits=2 at r=6/b=4 predicts ~0.97 for t=0.4)
    from data_warehouse_migrate_spark.operators.dedup import embedding_exact_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in
             embedding_exact_pairs(emb, "embedding", "vec_id", 0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           embedding_near_dups(emb, "embedding", "vec_id", threshold=0.4,
                               n_planes=24, bands=4, probe_bits=2).collect()}
    assert lsh, "LSH near-dup output is empty"
    assert lsh.issubset(exact), "false positive survived exact verification"
    assert len(lsh & exact) / len(exact) >= 0.8


def test_embedding_near_dups_autosized_key_space(spark, sf_dir):
    # n_planes=None sizes r from the corpus so bucket occupancy stays
    # bounded as it grows (fixed r=6 measured 37%-of-all-pairs candidates
    # on a 20k corpus); planted exact copies must still be
    # found (identical vectors collide in every band at any r)
    import pyspark.sql.functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = emb.limit(20).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    diag: dict = {}
    out = embedding_near_dups(emb.unionByName(copies), "embedding", "vec_id",
                              threshold=0.95, probe_bits=1, diag=diag)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    for r in emb.limit(20).select("vec_id").collect():
        assert (r.vec_id, r.vec_id + 1_000_000) in pairs
    n = diag["vectors"]
    assert diag["r_bits"] >= 6 and 2 ** diag["r_bits"] >= n / 16
    # candidates stay far from all-pairs on this (duplicate-planted) corpus
    assert diag["candidate_pairs"] < 0.35 * n * (n - 1) / 2


def test_dedup_plans_have_no_cartesian(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from data_warehouse_migrate_spark.plans.dryrun import explain_plan
    for op in (lambda: ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8),
               lambda: minhash_lsh_pairs(docs, "text", "doc_id"),
               lambda: simhash_near_pairs(docs, "text", "doc_id")):
        plan = explain_plan(op())
        assert "CartesianProduct" not in plan


def test_bucket_pairs_spills_big_buckets(spark):
    from data_warehouse_migrate_spark.operators.dedup import _bucket_pairs

    rows = ([(0, 7, i) for i in range(100)]          # big bucket: join path
            + [(1, 3, i) for i in range(1000, 1003)])  # small: array path
    df = spark.createDataFrame(rows, "band int, band_key long, id int")
    out = _bucket_pairs(df, ["id"], max_bucket_size=10)
    got = {frozenset((r.a.id, r.b.id)) for r in out.collect()}
    assert len(got) == 100 * 99 // 2 + 3
    assert out.count() == 100 * 99 // 2 + 3


def test_bucket_pairs_driver_cap_fallback_same_pairs(spark, monkeypatch):
    """Past _HOT_KEYS_DRIVER_MAX the eager driver-side hot-key list must
    hand over to the lazy broadcast-join shape with identical output —
    forced here by dropping the cap to 0 so ANY hot bucket overflows."""
    import data_warehouse_migrate_spark.operators.dedup as dedup_mod
    from data_warehouse_migrate_spark.operators.dedup import _bucket_pairs

    rows = ([(0, 7, i) for i in range(100)]
            + [(1, 3, i) for i in range(1000, 1003)])
    df = spark.createDataFrame(rows, "band int, band_key long, id int")
    eager = {frozenset((r.a.id, r.b.id))
             for r in _bucket_pairs(df, ["id"], max_bucket_size=10).collect()}
    monkeypatch.setattr(dedup_mod, "_HOT_KEYS_DRIVER_MAX", 0)
    lazy = {frozenset((r.a.id, r.b.id))
            for r in _bucket_pairs(df, ["id"], max_bucket_size=10).collect()}
    assert eager == lazy
    assert len(eager) == 100 * 99 // 2 + 3


def test_hot_bucket_guard_degenerate_corpus(spark):
    # 2k byte-identical docs land in ONE bucket in every band; candidate
    # generation must stream through the join path (bounded per-task
    # memory) rather than materializing B²/2 structs in one array, and
    # still emit every pair exactly once
    n = 2000
    docs = spark.range(n).select(
        F.col("id"), F.lit("the same text for every document").alias("text"))
    pairs = simhash_near_pairs(docs, "text", "id", max_hamming=3, bands=4)
    assert pairs.count() == n * (n - 1) // 2


def test_connected_components(spark):
    from data_warehouse_migrate_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # components: {0,1,2,3} (chain), {4,5}, {6}, {7}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    out = {r.id: r.cluster_id for r in
           connected_components(nodes, edges).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 7}


def test_connected_components_distributed_path(spark):
    """local_max_edges=0 forces the iterative min-label branch; both
    regimes of the scale-adaptive dispatch must agree exactly."""
    from data_warehouse_migrate_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    # a 7-chain (pointer-jump territory) + a triangle + isolated 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (7, 8), (8, 6)] , "id_a long, id_b long")
    expect = {r.id: r.cluster_id for r in
              connected_components(nodes, edges).collect()}
    got = {r.id: r.cluster_id for r in
           connected_components(nodes, edges,
                                local_max_edges=0).collect()}
    assert got == expect
    assert got[9] == 9 and got[8] == 0   # 6-8 bridges into the chain


def test_broadcast_guard_is_byte_aware(spark):
    """_maybe_broadcast declines wide payloads whose estimated bytes exceed
    the 512 MB cap even when the row COUNT is tiny — the round-3 guard was
    row-count-based and would have broadcast multi-GB shingle/vector sides."""
    from data_warehouse_migrate_spark.functions.sizing import (
        count_and_row_bytes)
    from data_warehouse_migrate_spark.operators.dedup import _maybe_broadcast

    # narrow side: 1k rows of (long, long) — a few KB, must broadcast
    narrow = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v"))
    _, est_n = count_and_row_bytes(narrow)
    assert est_n < 100
    assert _maybe_broadcast(narrow, 1000, est_n) is not narrow  # hinted

    # wide side: each row carries a ~1 MB array → 1k rows ≈ 1 GB > 512 MB.
    # Estimate from a metadata-identical but physically tiny frame, then
    # hand the estimate to _maybe_broadcast (the documented shared-estimate
    # path) so the test itself moves no gigabytes.
    wide = spark.range(1000).select(
        F.col("id"), F.array_repeat(F.col("id").cast("double"),
                                    131_072).alias("payload"))
    _, est_w = count_and_row_bytes(wide.limit(8))
    assert est_w > 1_000_000  # ~1 MB/row measured from the sample
    assert _maybe_broadcast(wide, 1000, est_w) is wide  # declined: same obj

    # count-based regression guard: 10M hypothetical narrow rows of 24 B
    # (~240 MB) still broadcast — the byte guard is not just stricter
    assert _maybe_broadcast(narrow, 10_000_000, 24.0) is not narrow


def test_cross_corpus_dedup(spark):
    from data_warehouse_migrate_spark.operators.dedup import cross_corpus_dedup

    ref = spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog"),
        (2, "spark engines process distributed data frames"),
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),   # dup of ref 0
        (3, "a completely novel document about nothing"),
        (5, "spark engines process distributed data sets"),   # near ref 2
        # near-dup of new 3 — same-side pairs must NOT drop anything
        (7, "a completely novel document about everything"),
    ], "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  cross_corpus_dedup(new, ref, "text", "doc_id",
                                     n=3, threshold=0.6).collect())
    assert kept == [3, 7]
    # schema preserved; ref corpus untouched by construction
    assert cross_corpus_dedup(new, ref, "text", "doc_id").columns == \
        new.columns


def test_removal_plans_have_no_cartesian(spark, sf_dir):
    """The removal family (decontaminate, near-dup keep, cross-corpus)
    must never degenerate to a cartesian product."""
    from data_warehouse_migrate_spark.plans.dryrun import explain_plan
    from data_warehouse_migrate_spark.queries import QUERIES

    for name in ("decontaminate_corpus", "dedup_near_keep",
                 "cross_corpus_dedup", "salted_event_join"):
        plan = explain_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_drop_exact_dups_null_text_keeps_one(spark):
    """NULL texts form ONE group with a surviving representative — an
    unguarded NULL hash key silently deleted all of them."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text")], "id long, text string")
    kept = sorted(r.id for r in drop_exact_dups(docs, "text", "id").collect())
    assert kept == [1, 3]


def test_bucket_pairs_null_band_key_no_blowup(spark):
    """NULL band keys bypass the hot-bucket guard's equi-joins — they
    must be dropped, not expanded quadratically."""
    from data_warehouse_migrate_spark.operators.dedup import _bucket_pairs

    rows = ([(0, None, i) for i in range(5000)]      # huge NULL bucket
            + [(0, 7, 1), (0, 7, 2)])
    df = spark.createDataFrame(rows, "band int, band_key long, id int")
    out = _bucket_pairs(df, ["id"], max_bucket_size=10)
    got = {frozenset((r.a.id, r.b.id)) for r in out.collect()}
    assert got == {frozenset((1, 2))}   # only the real bucket pairs


def test_cross_corpus_dedup_rejects_negative_ids(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from data_warehouse_migrate_spark.operators.dedup import cross_corpus_dedup

    new = spark.createDataFrame([(-3, "text")], "doc_id long, text string")
    ref = spark.createDataFrame([(4, "text")], "doc_id long, text string")
    import pytest

    with pytest.raises(SparkRuntimeException, match="requires ids"):
        cross_corpus_dedup(new, ref, "text", "doc_id").collect()


class TestLineDedup:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_drops_corpus_repeated_lines(self, spark):
        from data_warehouse_migrate_spark.operators.dedup import line_dedup

        df = self._df(spark, [
            (1, "COOKIE BANNER\nreal content one\nFOOTER"),
            (2, "COOKIE BANNER\nreal content two\nFOOTER"),
            (3, "unique doc\nall original"),
        ])
        out = {r.doc_id: r for r in
               line_dedup(df, "text", "doc_id").collect()}
        assert out[1].text_clean == "real content one"
        assert out[2].text_clean == "real content two"
        assert out[3].text_clean == "unique doc\nall original"
        assert (out[1].n_lines, out[1].n_kept) == (3, 1)
        assert (out[3].n_lines, out[3].n_kept) == (2, 2)

    def test_order_preserved_and_within_doc_repeat(self, spark):
        from data_warehouse_migrate_spark.operators.dedup import line_dedup

        # 'dup' occurs twice IN ONE doc — corpus occurrences = 2 >= 2,
        # so both slots drop (C4 counts slots, not documents)
        df = self._df(spark, [(1, "z\ndup\na\ndup\nm")])
        r = line_dedup(df, "text", "doc_id").first()
        assert r.text_clean == "z\na\nm"
        assert (r.n_lines, r.n_kept) == (5, 3)

    def test_fully_dropped_and_null_text(self, spark):
        from data_warehouse_migrate_spark.operators.dedup import line_dedup

        df = self._df(spark, [(1, "same"), (2, "same"), (3, None)])
        out = {r.doc_id: r for r in
               line_dedup(df, "text", "doc_id").collect()}
        assert out[1].text_clean == "" and out[1].n_kept == 0
        assert out[2].text_clean == "" and out[2].n_lines == 1
        assert out[3].text_clean is None
        assert (out[3].n_lines, out[3].n_kept) == (0, 0)

    def test_threshold(self, spark):
        from data_warehouse_migrate_spark.operators.dedup import line_dedup

        df = self._df(spark, [(1, "x\ny"), (2, "x\nz"), (3, "x\nw")])
        out = {r.doc_id: r.text_clean for r in
               line_dedup(df, "text", "doc_id",
                          min_occurrences=4).collect()}
        assert out == {1: "x\ny", 2: "x\nz", 3: "x\nw"}  # 3 < 4: kept
        import pytest as _pytest
        with _pytest.raises(ValueError):
            line_dedup(df, "text", "doc_id", min_occurrences=1)

    @pytest.mark.parametrize("name", ["doc.text", "doc text", "doc`text"])
    def test_any_column_name(self, spark, name):
        """Text and id columns named with a dot (not a struct field), a
        space or a backtick clean as the plain names do."""
        from data_warehouse_migrate_spark.operators.dedup import line_dedup

        df = self._df(spark, [(1, "BANNER\none"), (2, "BANNER\ntwo"),
                              (3, None)]).toDF(name + " id", name)
        out = line_dedup(df, name, name + " id")
        assert out.columns == [name + " id", "text_clean", "n_lines",
                               "n_kept"]
        assert sorted(map(tuple, out.collect()), key=repr) == [
            (1, "one", 2, 1), (2, "two", 2, 1), (3, None, 0, 0)]


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check over random graphs: BOTH regimes of the
    scale-adaptive dispatch (numpy hooking local path; checkpointed
    min-label distributed path) must equal a reference union-find with
    min-id canonical labels. Random structure exercises chains, merges,
    isolated nodes, self-loops, and duplicate edges in one sweep."""
    import random

    from data_warehouse_migrate_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(20260814)
    for trial in range(4):
        n = rng.randint(5, 40)
        m = rng.randint(0, 60)
        edge_list = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical min-id label per component
        expect = {}
        for i in range(n):
            root = find(i)
            expect.setdefault(root, []).append(i)
        want = {i: min(members) for root, members in expect.items()
                for i in members}

        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = (spark.createDataFrame(edge_list or [(0, 0)],
                                       "id_a long, id_b long")
                 .limit(len(edge_list)))
        for kwargs in ({}, {"local_max_edges": 0}):
            got = {r.id: r.cluster_id for r in
                   connected_components(nodes, edges, **kwargs).collect()}
            assert got == want, (trial, kwargs, sorted(edge_list))


def test_semantic_dedup_semantics(spark):
    """Planted semantic duplicates inside one cell survive as exactly the
    min-id representative; distinct vectors all survive; output carries
    the assigned cell and is deterministic."""
    from data_warehouse_migrate_spark.operators.dedup import semantic_dedup

    base = [
        [1.0, 0.0, 0.0, 0.0],   # id 0 — also centroid 0
        [0.0, 1.0, 0.0, 0.0],   # id 1 — centroid 1
        [0.99, 0.05, 0.0, 0.0],  # id 2 — near-dup of 0 (same cell)
        [0.98, 0.08, 0.0, 0.0],  # id 3 — near-dup of 0/2
        [0.0, 0.97, 0.1, 0.0],   # id 4 — near-dup of 1
        [0.5, 0.5, 0.5, 0.5],    # id 5 — distinct
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>")
    out = semantic_dedup(df, "embedding", "vec_id", n_cells=2,
                         threshold=0.95)
    kept = sorted(r.vec_id for r in out.collect())
    # clusters: {0,2,3} -> keep 0; {1,4} -> keep 1; 5 unpaired
    assert kept == [0, 1, 5]
    cells = {r.vec_id: r.cell for r in out.collect()}
    assert cells[0] == 0 and cells[1] == 1
    # deterministic across runs
    again = sorted(r.vec_id for r in
                   semantic_dedup(df, "embedding", "vec_id", n_cells=2,
                                  threshold=0.95).collect())
    assert again == kept


def test_semantic_dedup_kmeans_and_reuse(spark, sf_dir):
    """kmeans quantizer variant runs, keeps <= corpus, and a precomputed
    centroid list reproduces the lowid run exactly (the train-once path)."""
    from data_warehouse_migrate_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    km = semantic_dedup(emb, "embedding", "vec_id", n_cells=4,
                        threshold=0.4, centroids="kmeans")
    assert 0 < km.count() <= n

    import math
    rows = (emb.select("vec_id", "embedding").orderBy("vec_id")
            .limit(4).collect())
    cents = []
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        nrm = math.sqrt(sum(x * x for x in v))
        cents.append([x / nrm for x in v])
    a = sorted(r.vec_id for r in
               semantic_dedup(emb, "embedding", "vec_id", n_cells=4,
                              threshold=0.4).collect())
    b = sorted(r.vec_id for r in
               semantic_dedup(emb, "embedding", "vec_id", n_cells=4,
                              threshold=0.4, centroids=cents).collect())
    assert a == b


def test_semantic_dedup_hot_cell_guard(spark):
    """A degenerate corpus (every vector identical → one giant cell) must
    route through _bucket_pairs' streamed self-join and still keep exactly
    one representative."""
    from data_warehouse_migrate_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(200)],
        "vec_id long, embedding array<float>")
    out = semantic_dedup(df, "embedding", "vec_id", n_cells=2,
                         threshold=0.99, max_bucket_size=16)
    assert [r.vec_id for r in out.collect()] == [0]


def test_first_band_emission_no_duplicate_candidates(spark):
    """r17: the LSH candidate generators replaced their trailing
    .distinct() with the first-colliding-band rule — so a corpus whose
    vectors/texts collide in EVERY band (identical rows, the worst case
    for cross-band duplication) must still emit each pair exactly once.
    Duplicate emissions would surface as duplicate OUTPUT rows now that
    no dedup shuffle follows."""
    from data_warehouse_migrate_spark.operators.dedup import (
        embedding_near_dups,
        minhash_lsh_pairs,
    )

    # identical embeddings: every pair collides in all 4 bands and in
    # every multi-probe flip — maximal duplication pressure
    emb = spark.createDataFrame(
        [(i, [1.0, -2.0, 0.5, 3.0]) for i in range(12)],
        "vec_id long, embedding array<float>")
    pairs = embedding_near_dups(emb, "embedding", "vec_id",
                                threshold=0.9, n_planes=24, bands=4,
                                probe_bits=2).collect()
    keys = [(r.id_a, r.id_b) for r in pairs]
    assert len(keys) == len(set(keys)), "duplicate pair emitted"
    assert sorted(set(keys)) == [(a, b) for a in range(12)
                                 for b in range(a + 1, 12)]

    docs = spark.createDataFrame(
        [(i, "the same exact document text repeated verbatim here")
         for i in range(10)],
        "doc_id long, text string")
    mp = minhash_lsh_pairs(docs, "text", "doc_id", n=3, k=16, bands=8,
                           threshold=0.5).collect()
    mkeys = [(r.id_a, r.id_b) for r in mp]
    assert len(mkeys) == len(set(mkeys)), "duplicate pair emitted"
    assert sorted(set(mkeys)) == [(a, b) for a in range(10)
                                  for b in range(a + 1, 10)]


def test_cosine_from_norms_matches_cosine(spark):
    """r17: the similarity operators precompute per-row norms; the
    factored form must be bit-identical to cosine() on every edge the
    operators guard (zero-norm -> NULL via try_divide, NaN propagation,
    plain vectors)."""
    from data_warehouse_migrate_spark.functions.vectors import (
        cosine,
        cosine_from_norms,
        norm,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),
         (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),      # zero-norm left
         (3, [1.0, 1.0, 1.0], [0.0, 0.0, 0.0]),      # zero-norm right
         (4, [float("nan"), 1.0, 2.0], [1.0, 1.0, 1.0]),  # NaN element
         (5, [1e-8, 2e-8, -3e-8], [7.25, -0.125, 42.0])],
        "id long, a array<double>, b array<double>")
    rows = df.select(
        cosine(F.col("a"), F.col("b")).alias("direct"),
        cosine_from_norms(F.col("a"), F.col("b"),
                          norm(F.col("a")), norm(F.col("b"))).alias("factored"),
    ).collect()
    for r in rows:
        if r.direct is None:
            assert r.factored is None
        elif r.direct != r.direct:  # NaN
            assert r.factored != r.factored
        else:
            assert r.direct == r.factored  # bit-identical doubles


def test_first_band_multi_probe_adversarial(spark):
    """r18 (r17 verdict item 8): pin the MULTI-PROBE first-band
    invariant. embedding_near_dups' first-colliding-band suppression
    must use the SAME collision predicate as candidate generation —
    in-band hamming <= probe_bits, NOT key equality. Adversarial case:
    perturbed near-duplicate clusters whose band keys agree exactly in
    some bands and differ by 1-2 bits in others, so a pair can collide
    via a probe flip in an early band and exactly in a later band — a
    key-equality regression would fail to suppress the later emission
    and, with no dedup shuffle downstream, emit duplicate OUTPUT rows.
    Also pins precision 1.0: every emitted pair must appear in the
    brute-force exact pair set with the identical rounded cosine."""
    import math
    import random

    from data_warehouse_migrate_spark.operators.dedup import (
        embedding_exact_pairs,
        embedding_near_dups,
    )

    rng = random.Random(181)
    rows = []
    vid = 0
    for c in range(12):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        for _ in range(6):  # 6 perturbed members per cluster
            vec = [x + rng.uniform(-0.08, 0.08) for x in base]
            nrm = math.sqrt(sum(x * x for x in vec))
            rows.append((vid, [x / nrm for x in vec]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for probe_bits in (1, 2):
        pairs = embedding_near_dups(emb, "embedding", "vec_id",
                                    threshold=0.9, n_planes=24, bands=4,
                                    probe_bits=probe_bits).collect()
        keys = [(r.id_a, r.id_b) for r in pairs]
        assert len(keys) == len(set(keys)), \
            f"duplicate pair emitted at probe_bits={probe_bits}"
        assert len(keys) > 0  # the clusters guarantee near-dup pairs
        exact = {(r.id_a, r.id_b): r.cosine
                 for r in embedding_exact_pairs(
                     emb, "embedding", "vec_id", threshold=0.9).collect()}
        for r in pairs:  # precision 1.0 with identical rounded cosine
            assert exact.get((r.id_a, r.id_b)) == r.cosine


def test_pair_sum_branch_exact_counts(spark):
    """r18 (r17 verdict item 6): the fused pair-count branch that sizes
    semantic_dedup's candidate-pair exchange must return EXACTLY
    sum-over-buckets of B*(B-1)/2, drop NULL band keys (matching
    _bucket_pairs' routing), and read 0 on an empty/all-NULL frame."""
    from data_warehouse_migrate_spark.operators.dedup import _pair_sum_branch

    rows = ([(i, 0, 7) for i in range(5)]        # bucket of 5 -> 10 pairs
            + [(i, 0, 8) for i in range(3)]      # bucket of 3 -> 3
            + [(100, 1, 7), (101, 1, None)])     # singleton + NULL key
    df = spark.createDataFrame(rows, "id long, band int, band_key int")
    row = _pair_sum_branch(df).collect()[0]
    assert row["tag"] == 2 and int(row["c1"]) == 13

    empty = df.filter(F.col("band_key").isNull())
    row = _pair_sum_branch(empty).collect()[0]
    assert int(row["c1"]) == 0


def _write_corpus(tmp_path, text_col="text", id_col="doc_id"):
    """A small English corpus for the clean → MinHash LSH → near-dup
    removal chain, as parquet: 30 base documents of 60 words, 6 exact
    copies (case and spacing folded by the normalisation), 6 near-dups
    with one word replaced and 4 junk documents that the gates drop.
    Every copy has a higher id than its base. Returns (path, base ids)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(12)
    glue = ("the", "and", "of", "to", "with", "that", "in", "is", "for")
    vocab = sorted({"".join(rng.choice("bcdfghklmnprstvz") + rng.choice("aeiou")
                            for _ in range(rng.randint(2, 3)))
                    for _ in range(600)})

    def doc(n_words):
        return [rng.choice(glue) if i % 4 == 1 else rng.choice(vocab)
                for i in range(n_words)]

    base = [doc(60) for _ in range(30)]
    texts = [" ".join(w) for w in base]
    texts += ["  " + " ".join(base[j]).upper() for j in range(0, 12, 2)]
    for j in range(1, 13, 2):
        words = list(base[j])
        words[30] = "zzzq"
        texts.append(" ".join(words))
    texts += [" ".join(doc(20)), "# 123 ... " * 30,
              " ".join(["der", "die", "und", "ist"] * 20), None]
    path = tmp_path / "corpus"
    path.mkdir()
    pq.write_table(pa.table({id_col: list(range(1, len(texts) + 1)),
                             text_col: texts}), path / "part-0.parquet")
    return str(path), set(range(1, 31))


def _corpus_chain(spark, path, dest, text_col="text", id_col="doc_id"):
    from data_warehouse_migrate_spark.operators.pipeline import clean_corpus
    from data_warehouse_migrate_spark.sources import readers, sinks

    clean = clean_corpus(readers.read_table(spark, path), text_col, id_col)
    pairs = minhash_lsh_pairs(clean, text_col, id_col, threshold=0.5)
    kept = near_dup_removal(clean, pairs, id_col)
    sinks.write_table(kept, dest, mode="overwrite")


@pytest.mark.parametrize("name", ["doc text", "doc.text", "doc`text"])
def test_corpus_chain_takes_any_column_name(spark, tmp_path, name):
    """Text and id columns named with a space, a dot (not a struct
    field) or a backtick run through clean → pairs → removal and keep
    what the plain names keep: the base documents, every copy dropped."""
    from data_warehouse_migrate_spark.sqltext import ident

    text_col, id_col = name, name + " id"
    path, base = _write_corpus(tmp_path, text_col, id_col)
    dest = str(tmp_path / "kept")
    _corpus_chain(spark, path, dest, text_col, id_col)
    out = spark.read.parquet(dest)
    assert out.columns == [id_col, text_col]
    assert {r[0] for r in out.select(F.col(ident(id_col))).collect()} == base


def test_corpus_chain_work_is_pinned(spark, tmp_path):
    """Pinned work of the corpus chain, counted as the migration pins
    are. Building clean_corpus's plan makes 98 py4j round trips: each
    text rule is one parsed SQL expression (built as Column trees, one
    round trip per node, the same plan cost 1,619).
    read → clean_corpus → minhash_lsh_pairs → near_dup_removal → write
    submits 15 Spark jobs: minhash_lsh_pairs' fused sizing and
    hot-bucket collect, near_dup_removal's edge collect and the write,
    each with the AQE shuffle stages in front of it. The read takes its
    schema from a Parquet footer (16 jobs while it was inferred). The
    chain leaves the session's cache as it found it: near_dup_removal
    releases the signatures minhash_lsh_pairs persisted once it holds
    the edges (they stayed cached, one RDD per pass, until it did)."""
    from test_migrate import _py4j_round_trips, _spark_jobs

    from data_warehouse_migrate_spark.operators.pipeline import clean_corpus

    path, base = _write_corpus(tmp_path)
    dest = str(tmp_path / "kept")
    docs = spark.read.parquet(path)
    clean_corpus(docs)  # warm: first-use lookups are not the rules' cost
    _, trips = _py4j_round_trips(spark, lambda: clean_corpus(docs))
    cached = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    _, jobs, _ = _spark_jobs(
        spark, lambda: _corpus_chain(spark, path, dest))
    kept = {r.doc_id for r in spark.read.parquet(dest).collect()}
    assert kept == base
    assert trips <= 110 and jobs == 15, (trips, jobs)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == cached


@pytest.mark.parametrize("name", ["v.e", "v e", "v`e"])
def test_vector_operators_take_any_column_name(spark, sf_dir, name):
    """Vector and id columns named with a dot (not a struct field), a
    space or a backtick give what the plain names give: semantic_dedup,
    kmeans_centroids, lsh_topk, ivf_topk and build_lsh_index."""
    from data_warehouse_migrate_spark.operators.dedup import semantic_dedup
    from data_warehouse_migrate_spark.operators.similarity import (
        build_lsh_index,
        ivf_topk,
        kmeans_centroids,
        lsh_topk,
        lsh_topk_indexed,
    )
    from data_warehouse_migrate_spark.sqltext import ident

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    vec, vid = name, name + " id"
    odd = emb.toDF(vid, vec)

    def ids(out, col):
        return sorted(r[0] for r in out.select(F.col(ident(col))).collect())

    assert ids(semantic_dedup(odd, vec, vid, n_cells=2, threshold=0.9),
               vid) == ids(semantic_dedup(emb, "embedding", "vec_id",
                                          n_cells=2, threshold=0.9), "vec_id")
    assert (kmeans_centroids(odd, vec, vid, k=2, n_iter=2)
            == kmeans_centroids(emb, "embedding", "vec_id", k=2, n_iter=2))

    def top(out):
        return {(r.query_id, r.rank): r.corpus_id for r in out.collect()}

    q, plain_q = odd.filter(F.col(ident(vid)) < 5), emb.filter("vec_id < 5")
    names = dict(query_id=vid, query_vec=vec, corpus_id=vid, corpus_vec=vec)
    plain = dict(query_id="vec_id", query_vec="embedding",
                 corpus_id="vec_id", corpus_vec="embedding")
    lsh = dict(k=3, n_planes=24, bands=4)
    want = top(lsh_topk(plain_q, emb, **lsh, **plain))
    assert want and top(lsh_topk(q, odd, **lsh, **names)) == want
    ivf = dict(k=3, n_cells=4, centroids="lowid")
    assert (top(ivf_topk(q, odd, **ivf, **names))
            == top(ivf_topk(plain_q, emb, **ivf, **plain)))
    build_lsh_index(odd, "lsh_idx_any_name", n_planes=24, bands=4,
                    corpus_id=vid, corpus_vec=vec, n_buckets=4)
    try:
        assert top(lsh_topk_indexed(q, "lsh_idx_any_name", k=3,
                                    query_id=vid, query_vec=vec)) == want
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_idx_any_name")


@pytest.mark.parametrize("name", ["doc.text", "doc text", "doc`text"])
def test_text_operators_take_any_column_name(spark, name):
    """Text and id columns named with a dot, a space or a backtick give
    what the plain names give: cross_corpus_dedup, pack_sequences and
    near_dup_removal's pair columns."""
    from data_warehouse_migrate_spark.operators.dedup import (
        cross_corpus_dedup,
    )
    from data_warehouse_migrate_spark.operators.packing import pack_sequences

    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely novel document about nothing"),
            (5, "spark engines process distributed data sets")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    odd = docs.toDF(name + " id", name)
    ref, new = (docs.filter("doc_id = 0"), docs.filter("doc_id > 0"))
    odd_ref, odd_new = ref.toDF(*odd.columns), new.toDF(*odd.columns)
    assert ([tuple(r) for r in cross_corpus_dedup(
        odd_new, odd_ref, name, name + " id", threshold=0.6).collect()]
            == [tuple(r) for r in cross_corpus_dedup(
                new, ref, "text", "doc_id", threshold=0.6).collect()])
    assert (sorted(map(tuple, pack_sequences(
        odd, name, name + " id", budget=8, n_groups=2).collect()))
            == sorted(map(tuple, pack_sequences(
                docs, "text", "doc_id", budget=8, n_groups=2).collect())))
    pairs = spark.createDataFrame([(1, 0)], "a long, b long")
    kept = near_dup_removal(odd, pairs.toDF(name + " a", name + " b"),
                            name + " id", name + " a", name + " b")
    assert sorted(r[0] for r in kept.collect()) == [0, 3, 5]
