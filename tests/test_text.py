"""Text function layer: stats, lang-id, hashing, shingles — incl. DuckDB
cross-engine determinism for the hash primitives."""

import duckdb
import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions import text as X


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_tokens_and_counts(spark):
    df = spark.createDataFrame([("Hello  world foo",), ("one",), ("",)], "t string")
    out = df.select(F.size(X.tokens("t")).alias("n"),
                    X.token_count("t").alias("bpe")).collect()
    assert [r.n for r in out] == [3, 1, 1]   # empty → [''] (size 1, engines agree)
    assert [r.bpe for r in out] == [3, 1, 0]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    out = df.select(X.word_shingles("t", 3).alias("s")).collect()
    assert out[0].s == ["a b c", "b c d"]
    assert out[1].s == ["a b"]  # shorter than n → whole text


def test_polyhash_matches_duckdb(spark):
    texts = ["abc", "key agg row scan", "", "Ünïcode test"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    spark_vals = {r.t: r.h for r in df.select("t", X.polyhash("t").alias("h")).collect()}
    con = duckdb.connect()
    for t in texts:
        dd = con.execute(
            "SELECT list_reduce(list_concat([CAST(0 AS BIGINT)], "
            "list_transform(string_split(?, ''), x -> CAST(ascii(x) AS BIGINT))), "
            "(a,b) -> (a*31+b) % 1000000007)", [t]).fetchone()[0]
        assert spark_vals[t] == (dd or 0), t


def test_md5_prefix_int_matches_duckdb(spark):
    texts = ["abc", "hello world"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    spark_vals = {r.t: r.h for r in df.select("t", X.md5_prefix_int("t").alias("h")).collect()}
    con = duckdb.connect()
    for t in texts:
        dd = con.execute("SELECT CAST(concat('0x', substr(md5(?),1,15)) AS BIGINT)", [t]).fetchone()[0]
        assert spark_vals[t] == dd


def test_text_stats_ranges(docs):
    stats = X.text_stats_exprs("text")
    out = docs.select(F.col("doc_id"), *[v.alias(k) for k, v in stats.items()])
    row = out.agg(F.min("punct_ratio"), F.max("punct_ratio"),
                  F.min("n_words"), F.max("avg_word_len")).first()
    assert 0.0 <= row[0] <= row[1] <= 1.0
    assert row[2] >= 1
    assert row[3] < 30
    # n_chars matches the table's own n_chars column
    bad = docs.select((F.length("text") != F.col("n_chars")).alias("x")).filter("x").count()
    assert bad == 0


def test_quality_score_bounded(docs):
    out = docs.select(X.quality_score("text").alias("q"))
    row = out.agg(F.min("q"), F.max("q")).first()
    assert 0.0 <= row[0] and row[1] <= 1.0


def test_null_text_propagates_null_stats(spark):
    """Module convention (same as gopher flags): NULL text → NULL for
    every stat, NULL quality, NULL lang. Before the r8 audit, the
    otherwise(0.0) fallbacks fired on NULL comparisons and NULL-skipping
    least() arithmetic gave missing text non-NULL stats and a non-NULL
    quality score — indistinguishable from a real empty document, which
    keeps its honest zeros."""
    df = spark.createDataFrame([(1, None), (2, ""), (3, "the cat")],
                               "id int, text string")
    stats = X.text_stats_exprs("text")
    out = {r.id: r for r in df.select(
        "id", *[v.alias(k) for k, v in stats.items()],
        X.quality_score("text").alias("q"),
        X.lang_id("text").alias("lang")).collect()}
    for field in ("n_chars", "n_words", "n_tokens", "avg_word_len",
                  "punct_ratio", "digit_ratio", "stopword_ratio"):
        assert getattr(out[1], field) is None, field
    assert out[1].q is None and out[1].lang is None
    assert out[2].n_words == 0 and out[2].n_chars == 0    # empty ≠ NULL
    assert out[2].q is not None
    assert out[3].n_words == 2 and out[3].lang == "en"


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [("the cat and the dog in a house",),
         ("der hund und die katze ist ein tier",),
         ("le chat et la maison dans les champs",),
         ("xyzzy plugh",)], "t string")
    out = [r.l for r in df.select(X.lang_id("t").alias("l")).collect()]
    assert out == ["en", "de", "fr", "und"]


def test_simhash_is_stable_and_locality_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely unrelated text")],
        "id int, t string")
    rows = {r.id: r.s for r in df.select("id", X.simhash("t", 32).alias("s")).collect()}
    # deterministic across invocations
    rows2 = {r.id: r.s for r in df.select("id", X.simhash("t", 32).alias("s")).collect()}
    assert rows == rows2
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])
    assert all(0 <= v < 2**32 for v in rows.values())


def test_minhash_signature_shape_and_similarity(spark):
    from data_warehouse_migrate_spark.operators.dedup import minhash_signatures
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "z y x w v u t s")],
        "id int, t string")
    sigs = {r.id: r.sig for r in minhash_signatures(df, "t", "id", n=2, k=16).collect()}
    assert all(len(s) == 16 for s in sigs.values())
    match12 = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    match13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert match12 > match13  # similar docs agree on more minhash slots


def test_redact_pii(spark):
    from data_warehouse_migrate_spark.functions.text import (
        pii_counts_exprs,
        redact_pii,
    )

    rows = [
        (1, "mail a.b-c_d@sub.example.co.uk now"),
        (2, "see https://x.io/p?q=1#f and http://y.org"),
        (3, "host 192.168.0.1 and 10.0.255.7 up"),
        (4, "call +1-555-0100-999 or 5550100123"),
        (5, "clean text with no pii at all"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r for r in df.select(
        "id", *pii_counts_exprs("text"),
        redact_pii("text").alias("clean")).collect()}
    assert out[1].n_email == 1 and out[1].clean == "mail [EMAIL] now"
    assert out[2].n_url == 2 and out[2].clean == "see [URL] and [URL]"
    assert out[3].n_ipv4 == 2 and out[3].clean == "host [IP] and [IP] up"
    assert out[4].n_phone == 2 and out[4].clean == "call [PHONE] or [PHONE]"
    assert out[5].clean == rows[4][1]
    assert sum([out[5].n_url, out[5].n_email, out[5].n_ipv4, out[5].n_phone]) == 0
    assert out[6].clean is None and out[6].n_email is None


def test_lang_id_null_text_is_null(spark):
    from data_warehouse_migrate_spark.functions.text import lang_id

    df = spark.createDataFrame([(1, None), (2, "the and is of")],
                               "id int, text string")
    out = {r.id: r.lang for r in
           df.select("id", lang_id("text").alias("lang")).collect()}
    assert out[1] is None          # not 'fr' via the when-fallthrough
    assert out[2] == "en"


# ---------------------------------------------------------------------------
# Gopher quality flags (Rae et al. 2021 Table A1)
# ---------------------------------------------------------------------------

def test_gopher_flags_match_registry_oracle(spark, sf_dir):
    """The registry oracle (O_GOPHER_QUALITY, an independent DuckDB
    re-implementation of the rule set) is cell-exact against the Spark
    flags over the real documents table. One source of truth: the same
    pair test_oracle_parity replays — kept here as the text-layer smoke
    so a flags change fails in THIS suite too, next to the rule tests."""
    import pandas as pd

    from data_warehouse_migrate_spark.queries import ORACLES, QUERIES

    sdf = QUERIES["gopher_quality"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    ddf = con.execute(ORACLES["gopher_quality"]).fetchdf()

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values("doc_id").reset_index(drop=True)

    a, b = canon(sdf), canon(ddf)
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))


def test_gopher_flags_edges(spark):
    """Boundary + degenerate inputs: blank text fails word count with
    keep=False; a short all-stopword text passes stopwords but fails word
    count; caps are inclusive (a doc exactly AT the bullet cap passes)."""
    ten_lines = "\n".join(["- item here"] * 9 + ["plain closing line"])
    rows = [(1, ""), (2, "the and of to be that have with"), (3, ten_lines)]
    df = spark.createDataFrame(rows, "id int, text string")
    flags = X.gopher_quality_flags("text")
    out = {r.id: r for r in df.select(
        "id", flags["n_words"].alias("n_words"),
        flags["ok_word_count"].alias("okwc"),
        flags["ok_stopwords"].alias("oksw"),
        flags["ok_bullet_lines"].alias("okbl"),
        flags["keep"].alias("keep")).collect()}
    assert out[1].n_words == 0 and out[1].okwc is False and out[1].keep is False
    assert out[2].oksw is True and out[2].okwc is False and out[2].keep is False
    # 9 bullet lines / 10 lines = 0.9 == cap -> inclusive pass
    assert out[3].okbl is True


def test_gopher_keep_is_conjunction(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("text").isNotNull())
    flags = X.gopher_quality_flags("text")
    names = [k for k in flags if k.startswith("ok_")]
    bad = (d.select(flags["keep"].alias("keep"),
                    *[flags[k].alias(k) for k in names])
           .filter(F.col("keep") != F.expr(" AND ".join(names)))
           .count())
    assert bad == 0


def test_clean_corpus_stage_interplay(spark):
    from data_warehouse_migrate_spark.operators.pipeline import clean_corpus

    en = ("the cat and the dog have been to the house of that man "
          "with a big hat and they have seen all of it")
    de = ("der hund und die katze sind nicht mit dem mann "
          "von das haus und auch nicht auf ein berg")
    rows = [
        (1, en),                 # survives everything
        (2, en),                 # exact dup of 1 -> dropped by dedup
        (3, de),                 # german -> dropped by lang filter
        (4, "tiny"),             # fails word-count floor
        (5, None),               # NULL text dropped up front
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(min_words=5, min_stopword_hits=1, min_alpha_word_ratio=0.5)

    kept = {r.doc_id for r in clean_corpus(df, gopher_kwargs=kw).collect()}
    assert kept == {1}

    # dedup off: both english copies survive
    kept2 = {r.doc_id for r in clean_corpus(
        df, gopher_kwargs=kw, dedup=False).collect()}
    assert kept2 == {1, 2}

    # lang filter off: the german doc still fails the (English) Gopher
    # stopword rule — zeroing that floor lets it through, showing the
    # stages compose independently
    kept3 = {r.doc_id for r in clean_corpus(
        df, gopher_kwargs=dict(kw, min_stopword_hits=0),
        lang_allow=None).collect()}
    assert 3 in kept3 and 5 not in kept3


def test_lang_keep_equals_lang_id_isin(spark, sf_dir):
    """lang_keep (the membership test inside the bound lambda) and
    lang_id().isin() must agree row-for-row — including NULL text (NULL
    in, NULL out on both sides) and the 'und' zero-evidence case."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = spark.createDataFrame(
        [(9_000_001, None), (9_000_002, ""), (9_000_003, "zzz qqq xxx"),
         (9_000_004, "der und ist the and of le la"),
         (9_000_005, "le la les et"), (9_000_006, "der die das und")],
        "doc_id long, text string")
    d = d.select("doc_id", "text").unionByName(extra)
    for allow in (("en",), ("en", "de"), ("und",), ("fr",)):
        plain = X.lang_id("text").isin(*allow)
        bound = X.lang_keep("text", allow)
        # eqNullSafe: both are NULL on NULL text — a plain != would
        # silently skip those rows instead of asserting them equal
        assert d.filter(~plain.eqNullSafe(bound)).count() == 0, allow
    assert d.filter(X.lang_keep("text", ("en",))).count() > 0


def test_drop_exact_dups_min_by_matches_join_shape(spark, sf_dir):
    """The one-pass min_by drop_exact_dups must keep exactly the rows the
    r16 groupBy+leftsemi shape kept (same min-id representative per
    normalized text, NULL texts one group) — row-identical on the real
    documents table."""
    from data_warehouse_migrate_spark.functions.text import normalized_text
    from data_warehouse_migrate_spark.operators.dedup import drop_exact_dups

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.coalesce(F.md5(normalized_text("text")),
                   F.lit("__null_text__"))
    w = d.withColumn("__h", h)
    keep = w.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    reference = (w.join(keep, ["doc_id", "__h"], "leftsemi").drop("__h")
                 .collect())
    got = drop_exact_dups(d, "text", "doc_id").collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(got, key=key) == sorted(reference, key=key)


def test_gopher_keep_equals_flags_keep(spark, sf_dir):
    """The bound-array gopher_keep and the per-column flags['keep'] must
    agree row-for-row — same rule math, different sharing structure."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("text").isNotNull())
    flags = X.gopher_quality_flags("text", min_words=5,
                                   min_stopword_hits=1)
    bound = X.gopher_keep("text", min_words=5, min_stopword_hits=1)
    assert d.filter(flags["keep"] != bound).count() == 0
    assert d.filter(bound).count() > 0   # nonempty keep set at these floors


# Fingerprint values as the Column-tree builders computed them before the
# rules were rendered as SQL text. Signatures, simhashes and shingle sets
# are stored and joined across sessions, so their values are a contract.
_EDGE_TEXTS = [(1, "the quick brown fox jumps over the lazy dog"),
               (2, ""), (3, None), (4, "one"),
               (5, "  padded   whitespace\ttabs  "),
               (6, "Ünïcode tøkens ünïcode agaín mixed CASE Text"),
               (7, "a b"), (8, "x " * 500)]
_EDGE_GOLDEN = {
    1: dict(sh=[846626497777792448, 643013968315013980, 176602673785286095,
                615559873102124360, 630160792246107383, 566259559947799308,
                365586147241278684],
            s60=71287727808099948, s7=108,
            mh16=[155385266, 38246269, 196936923, 75167313, 3694398,
                  61467717, 153030689, 108512716, 4755725, 48337686,
                  413676436, 82668364, 71791955, 133576176, 272877796,
                  40244488]),
    2: dict(sh=[955282973525019424], s60=955282973525019424, s7=32,
            mh16=[263038438, 627113951, 971847161, 166531927, 135346004,
                  640581886, 144313386, 747616672, 658477300, 205316891,
                  19599290, 538206969, 789339794, 12256723, 911234916,
                  401610653]),
    3: dict(sh=None, s60=None, s7=None, mh16=None),
    4: dict(sh=[1123584140357255089], s60=1123584140357255089, s7=49,
            mh16=[130369497, 199801188, 186137865, 537588624, 265048424,
                  99465644, 46272720, 272382075, 206252593, 526368196,
                  956141530, 323260175, 580689050, 885137004, 173901214,
                  588022899]),
    5: dict(sh=[618277881176738848], s60=422078924357519337, s7=105,
            mh16=[245268585, 870105574, 98073288, 166337593, 492488617,
                  581137588, 141064523, 790028205, 401947471, 865386817,
                  445698208, 816375311, 70148309, 231175101, 89773251,
                  367688095]),
    6: dict(sh=[991271933478380795, 318043899624813970, 30237237252873376,
                570668366960272602, 61740162881002131],
            s60=923523894634516046, s7=78,
            mh16=[74880089, 57384658, 104282884, 88105191, 43067905,
                  163638922, 38538864, 196789994, 56641691, 34351977,
                  121056650, 243355779, 456205966, 47771439, 105521235,
                  44527062]),
    7: dict(sh=[57593333306279187], s60=3401182656201322, s7=106,
            mh16=[35728096, 599212231, 599753787, 650707960, 351605810,
                  8866323, 422239989, 923207884, 542723401, 206181196,
                  225860992, 470563669, 359012299, 828721841, 104667028,
                  930614571]),
    8: dict(sh=[357420995980477506], s60=710810379057940483, s7=3,
            mh16=[599741461, 124577857, 384124197, 681861621, 10117359,
                  890870998, 820271092, 774497352, 409047734, 620907562,
                  133323654, 474000191, 514088411, 683009370, 808975372,
                  278468595]),
}
# sha256 of repr(sorted((doc_id, shingle hashes))) over the sf0.001 documents
_DOC_SHINGLES_SHA256 = {
    2: "9202b5e161e52d2a375319251d36caa832b8e93506f497d1d01850d32d495d64",
    3: "5855faa56947e642109b7cb69a4fcf8f2db7480ac213010260b9fda2be819a74",
}


def test_fingerprints_match_golden_values(spark, sf_dir):
    """Shingle sets, simhash at 60 and 7 bits and MinHash signatures at
    k 16, 5 and 1 over edge texts: empty, NULL, one word, ragged
    whitespace, unicode, long. A k-prefix signature is the prefix of
    the k=16 one (the permutations are the first k pairs)."""
    import hashlib

    df = spark.createDataFrame(_EDGE_TEXTS, "id long, text string")
    sets = df.select("id", X.hashed_shingles("text", 3).alias("shingles"),
                     X.simhash("text", 60).alias("s60"),
                     X.simhash("text", 7).alias("s7"))
    sigs = sets.select("id", "shingles", "s60", "s7", *[
        X.minhash_signature("shingles", k).alias(f"mh{k}")
        for k in (16, 5, 1)])
    for r in sigs.collect():
        want = _EDGE_GOLDEN[r.id]
        mh = want["mh16"]
        assert (r.shingles, r.s60, r.s7) == (want["sh"], want["s60"],
                                             want["s7"]), r.id
        for k in (16, 5, 1):
            assert r[f"mh{k}"] == (mh and mh[:k]), (r.id, k)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for n, digest in _DOC_SHINGLES_SHA256.items():
        got = sorted((r.doc_id, r.sh) for r in d.select(
            "doc_id", X.hashed_shingles("text", n).alias("sh")).collect())
        assert len(got) == 500
        assert hashlib.sha256(repr(got).encode()).hexdigest() == digest, n
