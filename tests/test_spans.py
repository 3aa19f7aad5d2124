"""Round-7 operators: repeated-span (ExactSubstr) detection/removal,
temperature-smoothed mixture, contrastive hard negatives, SCD2 history."""

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.operators.delta import scd2_apply
from data_warehouse_migrate_spark.operators.quota import temperature_sample
from data_warehouse_migrate_spark.operators.similarity import hard_negatives
from data_warehouse_migrate_spark.operators.spans import (
    repeated_ngram_spans,
    strip_repeated_spans,
)


@pytest.fixture()
def span_docs(spark):
    # "the quick brown fox jumps over the lazy dog" shared verbatim by
    # docs 1/2 (9 tokens — one maximal repeat); doc 3 shares nothing
    # long enough; doc 4 is shorter than k
    boiler = "the quick brown fox jumps over the lazy dog"
    return spark.createDataFrame([
        (1, f"alpha beta {boiler} gamma delta epsilon zeta"),
        (2, f"one two three four {boiler} five six"),
        (3, "totally different text with no shared phrases at all here"),
        (4, "tiny doc"),
    ], "doc_id int, text string")


def test_repeated_spans_hand_checked(span_docs):
    out = {(r.id, r.span_start, r.span_end, r.n_tokens)
           for r in repeated_ngram_spans(
               span_docs, "text", "doc_id", k=8, min_docs=2).collect()}
    # boiler is 9 tokens: doc 1 positions 2-10, doc 2 positions 4-12;
    # its two 8-gram windows chain into one maximal span each
    assert out == {(1, 2, 10, 9), (2, 4, 12, 9)}


def test_repeated_spans_min_docs_and_validation(span_docs):
    assert repeated_ngram_spans(
        span_docs, "text", "doc_id", k=8, min_docs=3).count() == 0
    with pytest.raises(ValueError):
        repeated_ngram_spans(span_docs, "text", "doc_id", k=1)
    with pytest.raises(ValueError):
        repeated_ngram_spans(span_docs, "text", "doc_id", min_docs=1)


def test_strip_repeated_spans_removes_only_span_tokens(span_docs):
    out = {r.id: r.clean_tokens
           for r in strip_repeated_spans(
               span_docs, "text", "doc_id", k=8, min_docs=2).collect()}
    assert out[1] == "alpha beta gamma delta epsilon zeta"
    assert out[2] == "one two three four five six"
    # untouched docs keep their (lowercased, re-tokenized) text
    assert out[3].startswith("totally different")
    assert out[4] == "tiny doc"


def test_strip_repeated_spans_fully_covered_doc(spark):
    same = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, same), (2, same)], "doc_id int, text string")
    out = {r.id: r.clean_tokens
           for r in strip_repeated_spans(
               docs, "text", "doc_id", k=8, min_docs=2).collect()}
    assert out == {1: "", 2: ""}


def test_temperature_sample_alpha_lifts_tail(spark):
    rows = ([(i, "head") for i in range(900)]
            + [(i + 1000, "tail") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    nat = temperature_sample(df, "lang", "doc_id", total_rows=200,
                             alpha=1.0)
    smooth = temperature_sample(df, "lang", "doc_id", total_rows=200,
                                alpha=0.25)
    nat_tail = nat.filter(F.col("lang") == "tail").count()
    sm_tail = smooth.filter(F.col("lang") == "tail").count()
    # alpha=1 keeps natural shares (~20 tail rows of 200); alpha=0.25
    # pushes shares toward uniform (~2x+ the tail allocation)
    assert sm_tail > nat_tail
    # alpha=0 equalizes targets exactly (100 each; tail is undersized at
    # alpha=0 only if total/2 > 100 — here target 100 = all of it)
    eq = temperature_sample(df, "lang", "doc_id", total_rows=200,
                            alpha=0.0)
    assert eq.filter(F.col("lang") == "tail").count() == 100


def test_temperature_sample_validates(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id int, lang string")
    with pytest.raises(ValueError):
        temperature_sample(df, "lang", "doc_id", total_rows=10, alpha=1.5)


def test_hard_negatives_labels_and_rank(spark):
    emb = spark.createDataFrame([
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),   # nearest overall — same label, excluded
        (2, [0.9, 0.2], 1),    # nearest cross-label
        (3, [0.0, 1.0], 1),
        (4, [0.5, 0.5], None),  # unlabeled — never a provable negative
    ], "vec_id int, embedding array<double>, label int")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec"),
                 F.col("label").alias("query_label")))
    c = emb.select(F.col("vec_id").alias("corpus_id"),
                   F.col("embedding").alias("corpus_vec"),
                   F.col("label").alias("corpus_label"))
    out = hard_negatives(q, c, k=2).collect()
    assert [(r.corpus_id, r.rank) for r in out] == [(2, 1), (3, 2)]
    assert all(r.corpus_label != 0 for r in out)


@pytest.fixture()
def scd2_world(spark):
    hist = spark.createDataFrame([
        (1, 10.0, "2020-01-01", None, True),
        (2, 20.0, "2020-01-01", None, True),
        # key 3 already has history: one closed + one current version
        (3, 30.0, "2020-01-01", "2023-01-01", False),
        (3, 33.0, "2023-01-01", None, True),
        (4, 40.0, "2020-01-01", None, True),
    ], "k int, val double, valid_from string, valid_to string, is_current boolean")
    hist = (hist.withColumn("valid_from", F.col("valid_from").cast("date"))
            .withColumn("valid_to", F.col("valid_to").cast("date")))
    upd = spark.createDataFrame([
        (1, 11.0),   # changed → close + reopen
        (2, 20.0),   # unchanged → no-op
        (3, 34.0),   # changed (vs the CURRENT version) → close + reopen
        (9, 90.0),   # new key → insert
        # key 4 absent → untouched (partial-snapshot default)
    ], "k int, val double")
    return hist, upd


def test_scd2_apply_versions(scd2_world):
    hist, upd = scd2_world
    out = scd2_apply(hist, upd, ["k"], ["val"], "2026-01-01")
    rows = {(r.k, r.val, str(r.valid_from), str(r.valid_to), r.is_current)
            for r in out.collect()}
    assert rows == {
        (1, 10.0, "2020-01-01", "2026-01-01", False),
        (1, 11.0, "2026-01-01", "None", True),
        (2, 20.0, "2020-01-01", "None", True),
        (3, 30.0, "2020-01-01", "2023-01-01", False),
        (3, 33.0, "2023-01-01", "2026-01-01", False),
        (3, 34.0, "2026-01-01", "None", True),
        (4, 40.0, "2020-01-01", "None", True),
        (9, 90.0, "2026-01-01", "None", True),
    }


def test_scd2_apply_close_deleted_full_snapshot(scd2_world):
    hist, upd = scd2_world
    out = scd2_apply(hist, upd, ["k"], ["val"], "2026-01-01",
                     close_deleted=True)
    k4 = {(str(r.valid_to), r.is_current)
          for r in out.filter(F.col("k") == 4).collect()}
    # absent key's current version closes with no successor
    assert k4 == {("2026-01-01", False)}
    assert out.count() == 8


def test_scd2_apply_idempotent_on_unchanged(scd2_world):
    hist, upd = scd2_world
    once = scd2_apply(hist, upd, ["k"], ["val"], "2026-01-01")
    again = scd2_apply(once, upd, ["k"], ["val"], "2026-06-01")
    # re-applying the same snapshot produces no new versions
    assert again.count() == once.count()
    assert again.filter(F.col("valid_from") == "2026-06-01").count() == 0


def test_scd2_apply_untracked_columns_carried(spark):
    """History columns outside key ∪ tracked ∪ bookkeeping are carried
    onto new versions from updates (type-1-style ride-along, not
    compared); if updates lacks them the call fails up front with a
    descriptive ConfigurationError, not a union-time AnalysisException
    (r7 advisor finding)."""
    import pytest as _pytest

    from data_warehouse_migrate_spark.exceptions import ConfigurationError

    hist = spark.createDataFrame(
        [(1, 10.0, "east", "2020-01-01", None, True),
         (2, 20.0, "west", "2020-01-01", None, True)],
        "k int, val double, region string, valid_from string, "
        "valid_to string, is_current boolean")
    upd = spark.createDataFrame(
        [(1, 11.0, "north"),   # val changed → close+reopen, region rides
         (2, 20.0, "south")],  # val unchanged → no-op (region NOT compared)
        "k int, val double, region string")
    out = scd2_apply(hist, upd, ["k"], ["val"], "2026-01-01")
    rows = {(r.k, r.val, r.region, r.is_current) for r in out.collect()}
    assert rows == {
        (1, 10.0, "east", False),    # closed version keeps its region
        (1, 11.0, "north", True),    # new version carries updates' region
        (2, 20.0, "west", True),     # unchanged tracked → untouched
    }

    upd_missing = upd.drop("region")
    with _pytest.raises(ConfigurationError, match="region"):
        scd2_apply(hist, upd_missing, ["k"], ["val"], "2026-01-01")


def test_cross_corpus_spans_finds_leak(spark):
    leak = "the exact benchmark question text appears here verbatim today"
    train = spark.createDataFrame([
        (1, f"intro words {leak} outro words"),
        (2, "clean document with entirely original content throughout it"),
    ], "doc_id int, text string")
    bench = spark.createDataFrame(
        [(100, f"prefix {leak} suffix")], "doc_id int, text string")
    from data_warehouse_migrate_spark.operators.spans import (
        cross_corpus_spans,
    )

    out = {(r.id, r.span_start, r.span_end)
           for r in cross_corpus_spans(train, bench, "text", "doc_id",
                                       k=8).collect()}
    # leak is 9 tokens at positions 2-10 of doc 1; doc 2 is clean
    assert out == {(1, 2, 10)}


def test_tfidf_top_terms_hand_checked(spark):
    docs = spark.createDataFrame([
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry cherry cherry date"),
    ], "doc_id int, text string")
    from data_warehouse_migrate_spark.functions.lm import tfidf_top_terms

    out = {(r.id, r.rank): (r.token, r.tf)
           for r in tfidf_top_terms(docs, "text", "doc_id",
                                    top_n=1).collect()}
    # idf: apple/date log10(3/1)≈.477, banana/cherry log10(3/2)≈.176
    # doc1: apple 2·.477 wins; doc2: cherry tf1 ties banana, but both
    # .176 → token asc picks banana; doc3: cherry 3·.176=.528 > date .477
    assert out == {(1, 1): ("apple", 2), (2, 1): ("banana", 1),
                   (3, 1): ("cherry", 3)}


def test_corpus_stats_groups(spark):
    docs = spark.createDataFrame([
        (1, "one two three", "web", "en"),
        (2, "four five", "web", "en"),
        (3, "six", "book", None),
    ], "doc_id int, text string, source string, lang string")
    from data_warehouse_migrate_spark.operators.validate import (
        corpus_stats,
    )

    rows = {(r.source, r.lang):
            (r.n_docs, r.total_tokens, r.avg_tokens, r.min_tokens,
             r.max_tokens)
            for r in corpus_stats(docs, "text",
                                  ["source", "lang"]).collect()}
    assert rows[("web", "en")] == (2, 5, 2.5, 2, 3)
    # NULL group key is its own row, not dropped
    assert rows[("book", None)] == (1, 1, 1.0, 1, 1)


def test_fuzzy_join_deletion_neighborhood(spark):
    left = spark.createDataFrame([
        (1, "acme corp"),    # exact match
        (2, "acme crop"),    # NOT within 1 of "acme corp"? (transposition
                             # = 2 edits in plain levenshtein) — excluded
        (3, "acme cor"),     # deletion → distance 1
        (4, "acme corps"),   # insertion → distance 1
        (5, "acme dorp"),    # substitution → distance 1
        (6, "totally else"),
    ], "lid int, lkey string")
    right = spark.createDataFrame(
        [(100, "acme corp")], "rid int, rkey string")
    from data_warehouse_migrate_spark.operators.entity import fuzzy_join

    out = {(r.lid, r.edit_distance)
           for r in fuzzy_join(left, right, "lkey", "rkey").collect()}
    assert out == {(1, 0), (3, 1), (4, 1), (5, 1)}


def test_fuzzy_join_validates_and_nulls(spark):
    import pytest as _pytest

    from data_warehouse_migrate_spark.operators.entity import fuzzy_join

    left = spark.createDataFrame([(1, None)], "lid int, lkey string")
    right = spark.createDataFrame([(2, "x")], "rid int, rkey string")
    assert fuzzy_join(left, right, "lkey", "rkey").count() == 0
    assert fuzzy_join(left, right, "lkey", "rkey",
                      max_distance=2).count() == 0   # NULL drops at d=2 too
    with _pytest.raises(ValueError):
        fuzzy_join(left, right, "lkey", "rkey", max_distance=3)


def test_exchange_width_non_numeric_conf():
    """ADVICE r10: platforms can hold a non-numeric value in
    spark.sql.shuffle.partitions (Databricks auto-optimized shuffle sets
    "auto") — the width read must fall back to defaultParallelism, not
    raise and kill every fuzzy_join call."""
    from data_warehouse_migrate_spark.operators.entity import _exchange_width

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key, default=None):
            return self._v

    class _Sess:
        def __init__(self, conf_val, cores):
            self.conf = _Conf(conf_val)
            self.sparkContext = type("SC", (),
                                     {"defaultParallelism": cores})()

    assert _exchange_width(_Sess("auto", 8)) == 8      # fallback, no raise
    assert _exchange_width(_Sess(None, 8)) == 8        # TypeError path
    assert _exchange_width(_Sess("200", 8)) == 200     # numeric wins if wider
    assert _exchange_width(_Sess("4", 8)) == 8         # core floor holds


def test_fuzzy_join_d2_complete_vs_bruteforce(spark):
    """d=2 completeness contract: the depth-2 deletion-neighborhood
    join returns EXACTLY the brute-force levenshtein <= 2 pairs, on
    keys adversarial for it (shared prefixes, short strings, empty
    neighborhoods, every edit kind incl. two-edit combos)."""
    from data_warehouse_migrate_spark.operators.entity import fuzzy_join

    keys = ["acme corp", "acme", "acme co", "acme corps inc",
            "acme crop", "acme dorp co", "a", "ab", "", "zz",
            "key-0001", "key-0010", "key-1000", "key0001"]
    left = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "lid int, lkey string")
    right = spark.createDataFrame(
        [(100 + i, k) for i, k in enumerate(keys)], "rid int, rkey string")
    got = {(r.lid, r.rid, r.edit_distance)
           for r in fuzzy_join(left, right, "lkey", "rkey",
                               max_distance=2).collect()}
    from pyspark.sql import functions as F
    brute = {(r.lid, r.rid, r.d)
             for r in left.crossJoin(right)
             .withColumn("d", F.levenshtein("lkey", "rkey"))
             .filter("d <= 2").collect()}
    assert got == brute and len(brute) > len(keys)  # off-diagonal hits exist


def test_normalize_keys(spark):
    from data_warehouse_migrate_spark.operators.entity import (
        fuzzy_join,
        normalize_keys,
    )

    df = spark.createDataFrame(
        [(1, "Cust-0042"), (2, "cust 42"), (3, "CUST#042!"),
         (4, None), (5, "a001b002"), (6, "000"), (7, "cust-43")],
        "id int, k string")
    out = {r.id: r.k_norm for r in normalize_keys(df, "k").collect()}
    assert out[1] == out[2] == out[3] == "cust42"   # 2-edit drift collapsed
    assert out[4] is None
    assert out[5] == "a1b2" and out[6] == "0"
    # the documented recipe: normalize both sides, then d=1 covers typos
    l = normalize_keys(
        spark.createDataFrame([(1, "Cust-0042")], "lid int, lk string"),
        "lk", "lkn")
    r = normalize_keys(
        spark.createDataFrame([(9, "cusst 42")], "rid int, rk string"),
        "rk", "rkn")   # one genuine typo on top of case/punct/pad drift
    m = fuzzy_join(l, r, "lkn", "rkn").collect()
    assert [(x.lid, x.rid, x.edit_distance) for x in m] == [(1, 9, 1)]


def test_normalize_keys_lossy_counter(spark):
    """The ASCII-only contract's escape hatch (r9 verdict item 7):
    diag counts keys carrying non-ASCII letters/digits (stripped
    lossily → false-merge hazard) and warns; ASCII punctuation and
    non-ASCII PUNCTUATION (stripped by design) do not count."""
    import warnings

    from data_warehouse_migrate_spark.operators.entity import normalize_keys

    df = spark.createDataFrame(
        [(1, "Müller"), (2, "Mller"), (3, "Cust-0042"),
         (4, "№42"), (5, "a—b"), (6, None)],
        "id int, k string")
    diag: dict = {}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = {r.id: r.k_norm
               for r in normalize_keys(df, "k", diag=diag).collect()}
    # only id=1 is lossy: ü is a non-ASCII LETTER; № (NUMERO SIGN) is a
    # symbol (\p{So}, not \p{N}), so "№42" strips by design like the
    # em-dash and the ASCII punctuation rows
    assert out[1] == out[2] == "mller"          # the documented hazard
    assert diag["lossy_keys"] == 1
    assert any("false-merge" in str(x.message) for x in w)
    # em-dash (non-ASCII punctuation) strips by design, not lossy
    assert out[5] == "ab"
    # clean ASCII input: zero counter, no warning
    diag2: dict = {}
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        normalize_keys(df.filter("id = 3"), "k", diag=diag2).collect()
    assert diag2["lossy_keys"] == 0
    assert not any("false-merge" in str(x.message) for x in w2)


def test_fuzzy_join_diag_releases_cache(spark):
    """ADVICE r9: the diag path must not leak persisted blocks — the
    candidate spine unpersists inside the call, and the verified-pairs
    cache is released via the diag['unpersist'] handle."""
    from data_warehouse_migrate_spark.operators.entity import fuzzy_join

    left = spark.createDataFrame(
        [(1, "acme corp"), (2, "acme cor")], "lid int, lkey string")
    right = spark.createDataFrame(
        [(9, "acme corp")], "rid int, rkey string")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()   # shared session may hold
    diag: dict = {}                           # other tests' caches
    out = fuzzy_join(left, right, "lkey", "rkey", diag=diag)
    assert out.count() == 2 and diag["output_pairs"] == 2
    release = diag.pop("unpersist")
    release()
    # the call adds NO lasting persistent RDDs once the handle runs
    assert jsc.getPersistentRDDs().size() == before


def test_run_scd2_parquet_end_to_end(spark, tmp_path):
    from data_warehouse_migrate_spark.migrate import MigrationJob

    src = str(tmp_path / "s.parquet")
    dst = str(tmp_path / "hist.parquet")
    spark.createDataFrame([(1, "A"), (2, "B")],
                          "k long, v string").write.parquet(src)
    job = MigrationJob(source_path=src, destination_path=dst,
                       mode="append")
    out1 = job.run_scd2(spark, ["k"], batch_date="2026-01-01")
    assert out1["first_run"] and out1["history_rows"] == 2

    import shutil
    shutil.rmtree(src)
    spark.createDataFrame([(1, "A2"), (2, "B")],
                          "k long, v string").write.parquet(src)
    out2 = job.run_scd2(spark, ["k"], batch_date="2026-02-01")
    assert (out2["versions_opened"], out2["versions_closed"]) == (1, 1)
    rows = {(r.k, r.v, str(r.valid_from), str(r.valid_to), r.is_current)
            for r in spark.read.parquet(dst).collect()}
    assert rows == {
        (1, "A", "2026-01-01", "2026-02-01", False),
        (1, "A2", "2026-02-01", "None", True),
        (2, "B", "2026-01-01", "None", True),
    }


def test_run_scd2_guards(spark, tmp_path):
    import pytest as _pytest

    from data_warehouse_migrate_spark.exceptions import ConfigurationError
    from data_warehouse_migrate_spark.migrate import MigrationJob

    src = str(tmp_path / "g.parquet")
    spark.createDataFrame([(1, "x")], "k long, v string").write.parquet(src)
    job = MigrationJob(source_path=src,
                       destination_path=str(tmp_path / "h.parquet"),
                       limit=1, mode="append")
    with _pytest.raises(ConfigurationError):
        job.run_scd2(spark, ["k"], close_deleted=True,
                     batch_date="2026-01-01")
    # a source column colliding with the bookkeeping columns is refused
    src2 = str(tmp_path / "g2.parquet")
    spark.createDataFrame([(1, "x")],
                          "k long, valid_from string").write.parquet(src2)
    job2 = MigrationJob(source_path=src2,
                        destination_path=str(tmp_path / "h2.parquet"),
                        mode="append")
    with _pytest.raises(ConfigurationError):
        job2.run_scd2(spark, ["k"], batch_date="2026-01-01")


def test_run_scd2_refuses_bookkeeping_names_in_any_case(spark, tmp_path):
    """The engine resolves names case-insensitively, and so does the
    bookkeeping clash check: a source column Valid_From is refused
    before anything is written. Let through, the first run replaced its
    values with the batch date and the second failed with
    AMBIGUOUS_REFERENCE."""
    import pytest as _pytest

    from data_warehouse_migrate_spark.exceptions import ConfigurationError
    from data_warehouse_migrate_spark.migrate import MigrationJob

    src = str(tmp_path / "vf.parquet")
    spark.createDataFrame([(1, "2020-05-05")],
                          "k long, Valid_From string").write.parquet(src)
    dst = tmp_path / "vf_hist.parquet"
    job = MigrationJob(source_path=src, destination_path=str(dst),
                       mode="overwrite")
    with _pytest.raises(ConfigurationError, match="Valid_From"):
        job.run_scd2(spark, ["k"], batch_date="2026-01-01")
    assert not dst.exists()


def test_funnel_strict_order(spark):
    from data_warehouse_migrate_spark.operators.analytics import (
        funnel_counts,
        funnel_times,
    )

    ev = spark.createDataFrame([
        # u1 completes in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 11:00:00", "click"),
        (1, "2024-01-01 12:00:00", "buy"),
        # u2: click BEFORE first view — doesn't count; no click after
        (2, "2024-01-01 09:00:00", "click"),
        (2, "2024-01-01 10:00:00", "view"),
        (2, "2024-01-01 11:00:00", "buy"),
        # u3 never views
        (3, "2024-01-01 10:00:00", "click"),
    ], "user_id int, ts string, event_type string")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    t = {r.user_id: (str(r.t_1), str(r.t_2), str(r.t_3))
         for r in funnel_times(ev, "user_id", "ts", "event_type",
                               ["view", "click", "buy"]).collect()}
    assert set(t) == {1, 2}  # u3 never enters the funnel
    assert t[1] == ("2024-01-01 10:00:00", "2024-01-01 11:00:00",
                    "2024-01-01 12:00:00")
    assert t[2][1] == "None" and t[2][2] == "None"
    counts = {r.step: r.users
              for r in funnel_counts(ev, "user_id", "ts", "event_type",
                                     ["view", "click", "buy"]).collect()}
    assert counts == {"view": 2, "click": 1, "buy": 1}


def test_cohort_retention_offsets(spark):
    from data_warehouse_migrate_spark.operators.analytics import (
        cohort_retention,
    )

    ev = spark.createDataFrame([
        (1, "2024-01-01 10:00:00"),  # Monday, week 0
        (1, "2024-01-09 10:00:00"),  # next week → offset 1
        (2, "2024-01-03 10:00:00"),  # same cohort week
        (2, "2024-01-17 10:00:00"),  # offset 2
        (3, "2024-01-10 10:00:00"),  # cohort = week of Jan 8
    ], "user_id int, ts string")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(str(r.cohort)[:10], r.week_offset): r.active_users
           for r in cohort_retention(ev, "user_id", "ts").collect()}
    assert out == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1,
                   ("2024-01-01", 2): 1, ("2024-01-08", 0): 1}


def test_entity_clusters_transitive(spark):
    from data_warehouse_migrate_spark.operators.entity import (
        entity_clusters,
    )

    recs = spark.createDataFrame([
        (1, "anne"), (2, "ann"),    # lev 1 — cluster
        (3, "anns"),                # lev(ann, anns)=1 → bridges to 1/2
        (4, "robert"),              # singleton
        (5, None),                  # NULL key → singleton
    ], "rec_id int, name string")
    out = {r.rec_id: r.cluster_id
           for r in entity_clusters(recs, "rec_id", "name").collect()}
    # transitivity: anne~ann~anns one cluster even though lev(anne,anns)=2
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_bigram_model_conditional_probs(spark):
    import math

    from data_warehouse_migrate_spark.functions.lm import (
        bigram_model,
        doc_bigram_logprob,
    )

    docs = spark.createDataFrame([
        (1, "a b a b"), (2, "a b a c"),
    ], "doc_id int, text string")
    m = {(r.w1, r.w2): (r.n, r.logp)
         for r in bigram_model(docs, "text").collect()}
    # contexts: a→{b:3 of 3}, b→{a:2 of 2}... wait doc1: a b, b a, a b;
    # doc2: a b, b a, a c → c(a,b)=3, c(a,c)=1 (ctx a=4); c(b,a)=2 (ctx b=2)
    assert m[("a", "b")] == (3, round(math.log10(3 / 4), 6))
    assert m[("a", "c")] == (1, round(math.log10(1 / 4), 6))
    assert m[("b", "a")] == (2, 0.0)  # log10(1)
    scored = {r.id: (r.n_bigrams, r.avg_logprob)
              for r in doc_bigram_logprob(docs, "text",
                                          "doc_id").collect()}
    assert scored[1][0] == 3 and scored[2][0] == 3
    # doc2 contains the rare (a,c) transition → lower mean than doc1
    assert scored[2][1] < scored[1][1]
    # short doc: no bigrams, NULL score
    short = spark.createDataFrame([(9, "word")], "doc_id int, text string")
    s9 = doc_bigram_logprob(short, "text", "doc_id").collect()[0]
    assert s9.n_bigrams == 0 and s9.avg_logprob is None


def test_write_zordered_skips_on_both_columns(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from data_warehouse_migrate_spark.sources.sinks import (
        write_clustered,
        write_zordered,
    )

    df = (spark.range(4096)
          .select((F.col("id") % 64).alias("x"),
                  (F.col("id") / 64).cast("long").alias("y"),
                  F.col("id").alias("payload")))
    xdir, zdir = str(tmp_path / "xonly"), str(tmp_path / "zord")
    write_clustered(df, xdir, ["x"], n_files=16)
    write_zordered(df, zdir, ["x", "y"], n_files=16, bits_per_col=6)

    def ranges(path, col):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mn = mx = None
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        mn = (c.statistics.min if mn is None
                              else min(mn, c.statistics.min))
                        mx = (c.statistics.max if mx is None
                              else max(mx, c.statistics.max))
            if mn is not None:
                out.append((mn, mx))
        return out

    def skipped(rngs, lo, hi):
        return sum(1 for mn, mx in rngs if mx < lo or mn > hi)

    # x-only clustering: perfect skipping on x, NONE on y
    assert skipped(ranges(xdir, "x"), 10, 12) >= 12
    assert skipped(ranges(xdir, "y"), 10, 12) == 0
    # z-order: a narrow predicate on EITHER column skips most files
    # (boundary files straddling a z-curve bit flip stay wide — expected)
    assert skipped(ranges(zdir, "x"), 10, 12) >= 8
    assert skipped(ranges(zdir, "y"), 10, 12) >= 8


def test_write_zordered_validates(spark, tmp_path):
    import pytest as _pytest

    from data_warehouse_migrate_spark.sources.sinks import write_zordered

    df = spark.range(10).select(F.col("id").alias("x"))
    with _pytest.raises(ValueError):
        write_zordered(df, str(tmp_path / "z1"), ["x"], bits_per_col=0)
    with _pytest.raises(ValueError):
        write_zordered(df, str(tmp_path / "z2"), [])
    # sign-bit guard: 16 bits x 4 cols puts a Morton bit at position 63
    df4 = df.select("x", F.col("x").alias("y"), F.col("x").alias("z"),
                    F.col("x").alias("w"))
    with _pytest.raises(ValueError, match="sign"):
        write_zordered(df4, str(tmp_path / "z3"), ["x", "y", "z", "w"],
                       bits_per_col=16)


def test_registry_size_comment_matches():
    """The registry-size number in the QUERIES rotation comment must
    equal len(QUERIES) — the r7 verdict caught it stale at '104' while
    the registry held 124; this pins it mechanically."""
    import re

    import data_warehouse_migrate_spark.queries as qmod

    src = open(qmod.__file__.replace(".pyc", ".py")).read()
    m = re.search(r"registry holds (\d+) queries", src)
    assert m, "rotation comment must state the registry size"
    assert int(m.group(1)) == len(qmod.QUERIES)


def test_winsorize_and_mad(spark):
    from data_warehouse_migrate_spark.operators.outliers import (
        mad_outliers,
        winsorize,
    )

    vals = [float(v) for v in range(1, 20)] + [1000.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "rid int, v double")
    w = winsorize(df, "v", lower=0.05, upper=0.95)
    out = {r.rid: r.v_w for r in w.collect()}
    assert max(out.values()) < 1000.0   # spike clipped to p95
    assert out[0] > 1.0                 # low tail clipped to p05
    assert w.count() == 20

    m = mad_outliers(df, "v")
    flags = {r.rid: (r.is_outlier, r.robust_z) for r in m.collect()}
    assert flags[19][0] is True         # the 1000.0 spike flagged
    assert sum(1 for f, _ in flags.values() if f) == 1
    # zero-MAD group: score NULL, flag false (not everything-unequal)
    same = spark.createDataFrame([(i, 5.0) for i in range(4)] + [(9, 6.0)],
                                 "rid int, v double")
    z = {r.rid: (r.robust_z, r.is_outlier)
         for r in mad_outliers(same, "v").collect()}
    assert z[9] == (None, False)


def test_outliers_null_group_rows_survive(spark):
    """NULL group keys form their own group — never silently dropped
    by the bounds join (r7 advisor finding: name-equi-join was
    null-unsafe)."""
    from data_warehouse_migrate_spark.operators.outliers import (
        mad_outliers,
        winsorize,
    )

    rows = ([(i, "a", float(v)) for i, v in enumerate(range(1, 21))]
            + [(100 + i, None, float(v) * 10)
               for i, v in enumerate(range(1, 21))])
    df = spark.createDataFrame(rows, "rid int, g string, v double")
    w = winsorize(df, "v", group_col="g", lower=0.05, upper=0.95)
    assert w.count() == 40                       # NULL-g rows kept
    null_rows = {r.rid: r.v_w for r in w.filter("g IS NULL").collect()}
    assert len(null_rows) == 20
    # clipped against the NULL group's OWN bounds (values are 10x)
    assert max(null_rows.values()) > 100.0

    m = mad_outliers(df, "v", group_col="g")
    assert m.count() == 40
    assert m.filter("g IS NULL AND robust_z IS NOT NULL").count() == 20


def test_outliers_approx_parity(spark):
    """approx=True routes through percentile_approx; at default
    accuracy on small groups the bounds coincide with the exact path,
    so outputs match cell-for-cell (the documented contract: approx is
    the extreme-scale route, exact is the oracle)."""
    from data_warehouse_migrate_spark.operators.outliers import (
        mad_outliers,
        winsorize,
    )

    # dense uniform values: percentile_approx returns an actual data
    # value (no interpolation), so with unit spacing the approx bound
    # sits within 1.0 of the exact interpolated bound
    vals = [float(v) for v in range(1, 1001)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "rid int, v double")
    exact = {r.rid: r.v_w
             for r in winsorize(df, "v", lower=0.1, upper=0.9).collect()}
    approx = {r.rid: r.v_w
              for r in winsorize(df, "v", lower=0.1, upper=0.9,
                                 approx=True).collect()}
    assert all(abs(exact[k] - approx[k]) <= 1.0 for k in exact)

    spiked = df.union(spark.createDataFrame([(2000, 100000.0)],
                                            "rid int, v double"))
    me = {r.rid: r.is_outlier for r in mad_outliers(spiked, "v").collect()}
    ma = {r.rid: r.is_outlier
          for r in mad_outliers(spiked, "v", approx=True).collect()}
    assert me == ma and me[2000] is True         # same flags, spike caught


def test_read_text_corpus(spark, tmp_path):
    from data_warehouse_migrate_spark.sources.readers import (
        read_table,
        read_text_corpus,
    )

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("doc one line\nsecond doc line\n")
    (d / "b.txt").write_text("whole file body\nwith two lines\n")

    lines = read_text_corpus(spark, str(d))
    assert lines.count() == 4
    assert set(lines.columns) == {"doc_id", "text", "source_file"}
    # ids deterministic across re-reads and partitionings
    ids1 = {r.doc_id for r in lines.collect()}
    ids2 = {r.doc_id
            for r in read_text_corpus(spark, str(d)).repartition(7).collect()}
    assert ids1 == ids2 and len(ids1) == 4

    whole = read_text_corpus(spark, str(d), wholetext=True)
    texts = {r.source_file.rsplit("/", 1)[-1]: r.text
             for r in whole.collect()}
    assert texts["b.txt"] == "whole file body\nwith two lines\n".rstrip("\n") \
        or "with two lines" in texts["b.txt"]

    # plain read_table text format
    assert read_table(spark, str(d), fmt="text").count() == 4
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_text_corpus(spark, str(d), id_from="nope")


def test_read_text_corpus_duplicate_lines_unique_ids(spark, tmp_path):
    """Identical repeated lines within one file get DISTINCT doc_ids
    (r7 advisor finding: hash(file, text) collided with probability 1
    on duplicate lines), and the id multiset stays deterministic
    across re-reads and partitionings."""
    from data_warehouse_migrate_spark.sources.readers import (
        read_text_corpus,
    )

    d = tmp_path / "dupcorpus"
    d.mkdir()
    (d / "a.txt").write_text("boilerplate\n\nbody A\n\nboilerplate\n")
    (d / "b.txt").write_text("boilerplate\nbody B\n")

    lines = read_text_corpus(spark, str(d))
    rows = lines.collect()
    assert len(rows) == 7
    ids1 = sorted(r.doc_id for r in rows)
    assert len(set(ids1)) == 7          # all unique, incl. 2x blank + 3x boilerplate
    ids2 = sorted(
        r.doc_id
        for r in read_text_corpus(spark, str(d)).repartition(5).collect())
    assert ids1 == ids2                 # deterministic multiset


def test_run_scd2_stream_folds_arrivals(spark, tmp_path):
    from data_warehouse_migrate_spark.migrate import MigrationJob

    import shutil

    src = str(tmp_path / "scd_stream_src")
    dst = str(tmp_path / "scd_hist.parquet")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "A"), (2, "B")],
                          "k long, v string").coalesce(1).write.parquet(src)
    shutil.rmtree(f"{src}/_spark_metadata", ignore_errors=True)
    job = MigrationJob(source_path=src, destination_path=dst,
                       mode="append")
    out1 = job.run_scd2_stream(spark, ckpt, ["k"],
                               batch_date="2026-01-01")
    assert out1["status"] == "success" and out1["versions_opened"] == 2

    # second file arrives: k=1 changes, k=3 is new; k=2 not re-sent
    spark.createDataFrame([(1, "A2"), (3, "C")],
                          "k long, v string").coalesce(1).write.mode(
        "append").parquet(src)
    out2 = job.run_scd2_stream(spark, ckpt, ["k"],
                               batch_date="2026-02-01")
    # checkpoint scopes this run to the NEW file only
    assert out2["batches"] == 1
    assert (out2["versions_opened"], out2["versions_closed"]) == (2, 1)
    rows = {(r.k, r.v, str(r.valid_from), str(r.valid_to), r.is_current)
            for r in spark.read.parquet(dst).collect()}
    assert rows == {
        (1, "A", "2026-01-01", "2026-02-01", False),
        (1, "A2", "2026-02-01", "None", True),
        (2, "B", "2026-01-01", "None", True),
        (3, "C", "2026-02-01", "None", True),
    }
