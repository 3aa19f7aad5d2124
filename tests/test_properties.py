"""Property-based semantics checks (hypothesis): the cast layer's
reference-exact rules hold for arbitrary inputs, not just fixtures.

One shared SparkSession; each property materializes a small DataFrame, so
examples are capped for runtime.
"""

import datetime
import math
import struct

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.casts import (
    boolean_token_expr,
    inf_nan_to_null,
    string_preserve_expr,
)

_SETTINGS = dict(max_examples=15, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

TRUE_TOKENS = {"true", "1", "yes", "y"}
FALSE_TOKENS = {"false", "0", "no", "n", ""}


@settings(**_SETTINGS)
@given(st.lists(st.text(alphabet=st.characters(codec="ascii"), max_size=8),
                min_size=1, max_size=8))
def test_boolean_token_parse_matches_reference_rules(spark, tokens):
    df = spark.createDataFrame([(t,) for t in tokens], "s string")
    got = [r.b for r in df.select(boolean_token_expr("s").alias("b")).collect()]
    for t, b in zip(tokens, got):
        norm = t.strip().lower()
        if norm in TRUE_TOKENS:
            assert b is True, (t, b)
        elif norm in FALSE_TOKENS:
            assert b is False, (t, b)
        else:
            assert b is None, (t, b)


@settings(**_SETTINGS)
@given(st.lists(st.one_of(
    st.none(),
    st.sampled_from(["nan", "None", "null", "<NA>", "NaN", "NAN"]),
    st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
            max_size=10)),
    min_size=1, max_size=8))
@example([" nan", "null\t", "NaN"])
def test_string_preservation_is_identity_and_token_nulling(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(
        string_preserve_expr("s").alias("keep"),
        string_preserve_expr("s", preserve_null_tokens=False).alias("drop"),
    ).collect()
    for v, r in zip(vals, out):
        # default mode: values pass through untouched (reference
        # preserve_string_null_tokens=true)
        assert r.keep == v
        # a token matches case-insensitively and unpadded (SURVEY F10:
        # c.isin(tokens)); " nan" is a value, not a token
        if v is not None and v.lower() in {"nan", "none", "null", "<na>"}:
            assert r.drop is None
        else:
            assert r.drop == v


@settings(**_SETTINGS)
@given(st.lists(st.one_of(
    st.floats(allow_nan=True, allow_infinity=True),
    st.none()),
    min_size=1, max_size=8))
def test_inf_nan_cleanup(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.c for r in df.select(inf_nan_to_null("x").alias("c")).collect()]
    for v, c in zip(vals, got):
        if v is None or math.isnan(v) or math.isinf(v):
            assert c is None
        else:
            assert c == v


@settings(**_SETTINGS)
@given(st.lists(st.one_of(st.none(), st.integers(-10**9, 10**9)),
                min_size=1, max_size=6),
       st.integers(1, 8))
def test_format_int_zero_pad_matches_python(spark, vals, width):
    """format('{v:0Nd}') must equal Python str.format with the
    reference's None→0 coercion (migrator.py:923-936)."""
    from data_warehouse_migrate_spark.functions.computed import format_expr

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    expr = format_expr(f"{{v:0{width}d}}", [], ["v"])
    got = [r.s for r in df.select(expr.alias("s")).collect()]
    for v, s in zip(vals, got):
        expected = ("{:0%dd}" % width).format(0 if v is None else v)
        assert s == expected, (v, width, s, expected)


@settings(**_SETTINGS)
@given(st.lists(st.text(alphabet=st.characters(codec="ascii",
                                               exclude_characters="\x00"),
                        max_size=12),
                min_size=1, max_size=6),
       st.integers(0, 10), st.integers(0, 10))
def test_substr_is_zero_based_like_reference(spark, vals, start, length):
    """computed substr uses the reference's 0-based str.slice semantics
    (migrator.py:900-905), not SQL's 1-based substring."""
    from data_warehouse_migrate_spark.functions.computed import computed_expr

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    expr = computed_expr(f"substr(s, {start}, {length})", ["s"])
    got = [r.o for r in df.select(expr.alias("o")).collect()]
    for v, o in zip(vals, got):
        assert o == v[start:start + length], (v, start, length, o)


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                max_size=24),
       st.integers(min_value=1, max_value=16),
       st.integers(min_value=1, max_value=3))
def test_pack_sequences_roundtrip_reconstruction(spark, token_counts,
                                                 budget, n_groups):
    """Concat-and-chunk invariant: every document's token interval,
    reconstructed from (seq_id, start_offset, n_tokens) alone, tiles each
    group's token stream exactly — contiguous, non-overlapping, in id
    order from offset 0 — including documents spanning chunk boundaries.
    """
    from data_warehouse_migrate_spark.operators.packing import (
        _MAX_CHUNKS_PER_GROUP,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "w " * n) for i, n in enumerate(token_counts)],
        "id long, text string")
    rows = pack_sequences(docs, "text", "id", budget=budget,
                          n_groups=n_groups).collect()
    assert len(rows) == len(token_counts)
    by_group: dict = {}
    for r in rows:
        # reconstruct the document's global token start from its slot
        chunk = r.seq_id - r.pack_group * _MAX_CHUNKS_PER_GROUP
        assert 0 <= r.start_offset < budget or (r.start_offset == 0)
        global_start = chunk * budget + r.start_offset
        by_group.setdefault(r.pack_group, []).append(
            (r.id, global_start, r.n_tokens))
    for grp, members in by_group.items():
        members.sort()  # id order
        cursor = 0
        for _id, start, n in members:
            assert start == cursor, (grp, _id, start, cursor)
            cursor += n


@settings(**_SETTINGS)
@given(st.lists(st.lists(st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "omega", "sigma"]),
    max_size=30), min_size=1, max_size=5),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=0, max_value=7))
def test_chunking_covers_every_token_in_order(spark, docs, chunk, overlap):
    """Every token appears in ≥1 chunk; concatenating each chunk's
    NON-overlapped prefix tokens reconstructs the document exactly; no
    chunk is a strict suffix of its predecessor."""
    from data_warehouse_migrate_spark.operators.packing import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    stride = chunk - overlap
    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id",
                          chunk_tokens=chunk, overlap=overlap).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    for i, words in enumerate(docs):
        rows = sorted(by_doc[i], key=lambda r: r.chunk_id)
        assert rows[0].start_token == 0
        rebuilt = []
        for j, r in enumerate(rows):
            toks = r.chunk_text.split(" ") if r.chunk_text else []
            assert len(toks) == r.n_tokens <= chunk
            assert toks == words[r.start_token:r.start_token + chunk]
            # non-overlapped contribution: tokens past the previous end
            prev_end = rows[j - 1].start_token + rows[j - 1].n_tokens if j else 0
            rebuilt.extend(words[max(r.start_token, prev_end):
                                 r.start_token + r.n_tokens])
            if j:
                assert r.start_token + overlap < len(words)  # adds new tokens
        assert rebuilt == words


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=50),
                          st.one_of(st.none(), st.text(
                              alphabet=st.characters(codec="ascii",
                                                     exclude_characters="\x00"),
                              max_size=6))),
                min_size=1, max_size=12),
       st.randoms())
def test_group_checksum_permutation_invariant(spark, rows, rnd):
    """Any permutation + any partitioning yields the identical checksum;
    changing one row's payload changes it."""
    from data_warehouse_migrate_spark.operators.validate import group_checksum

    df = spark.createDataFrame(rows, "k int, v string")
    base = group_checksum(df, [], ["k", "v"]).first()
    shuffled = list(rows)
    rnd.shuffle(shuffled)
    df2 = spark.createDataFrame(shuffled, "k int, v string").repartition(5)
    again = group_checksum(df2, [], ["k", "v"]).first()
    assert (base.n_rows, base.checksum) == (again.n_rows, again.checksum)


# --- r8 additions: properties for the round's touched operators ----------

_KEY = st.text(alphabet="ab1", max_size=5)  # tiny alphabet → dense neighborhoods


@settings(**dict(_SETTINGS, max_examples=10))
@given(st.lists(_KEY, min_size=1, max_size=6, unique=True),
       st.lists(_KEY, min_size=1, max_size=6, unique=True),
       st.sampled_from([1, 2]))
def test_fuzzy_join_equals_bruteforce_levenshtein(spark, lk, rk, d):
    """fuzzy_join at d ∈ {1, 2} returns EXACTLY the brute-force
    levenshtein ≤ d pairs — completeness (pigeonhole) AND soundness
    (verify filter) on arbitrary short strings over a dense alphabet,
    where deletion neighborhoods collide the hardest."""
    from data_warehouse_migrate_spark.operators.entity import fuzzy_join

    left = spark.createDataFrame([(i, k) for i, k in enumerate(lk)],
                                 "lid int, lkey string")
    right = spark.createDataFrame([(100 + i, k) for i, k in enumerate(rk)],
                                  "rid int, rkey string")
    got = {(r.lid, r.rid, r.edit_distance)
           for r in fuzzy_join(left, right, "lkey", "rkey",
                               max_distance=d).collect()}
    brute = {(r.lid, r.rid, r.d)
             for r in left.crossJoin(right)
             .withColumn("d", F.levenshtein("lkey", "rkey"))
             .filter(F.col("d") <= d).collect()}
    assert got == brute


@settings(**dict(_SETTINGS, max_examples=10))
@given(st.lists(st.text(alphabet="aB 4-0#", max_size=8), min_size=1,
                max_size=6),
       st.randoms())
def test_normalize_keys_idempotent_and_drift_invariant(spark, keys, rnd):
    """normalize_keys is idempotent, and invariant under exactly the
    drift it exists to kill: case flips, injected punctuation, and
    zero-padding of digit runs."""
    from data_warehouse_migrate_spark.operators.entity import normalize_keys

    def perturb(k):
        out = []
        prev_digit = False
        for ch in k:
            if ch.isdigit() and not prev_digit and rnd.random() < 0.5:
                out.append("0" * rnd.randint(1, 3))  # zero-pad a run's START
            if ch.isalpha():
                out.append(ch.upper() if rnd.random() < 0.5 else ch.lower())
            else:
                out.append(ch)
            prev_digit = ch.isdigit()
            if not ch.isdigit() and rnd.random() < 0.3:
                out.append(rnd.choice("-_ .#!"))     # punctuation noise
        return "".join(out)

    rows = [(i, k, perturb(k)) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id int, k string, p string")
    out = normalize_keys(normalize_keys(df, "k", "nk"), "p", "np")
    twice = normalize_keys(out, "nk", "nk2")
    for r in twice.collect():
        assert r.np == r.nk          # drift-invariant
        assert r.nk2 == r.nk         # idempotent


@settings(**dict(_SETTINGS, max_examples=10))
@given(st.lists(st.tuples(st.sampled_from(["a", "b", None]),
                          st.one_of(st.none(),
                                    st.floats(min_value=-1e6, max_value=1e6,
                                              allow_nan=False))),
                min_size=4, max_size=20))
def test_winsorize_structural_invariants(spark, rows):
    """Row count (incl. NULL groups and NULL values) is preserved, NULL
    values stay NULL, and every clipped value lies within its group's
    observed [min, max] while preserving within-group order."""
    from data_warehouse_migrate_spark.operators.outliers import winsorize

    df = spark.createDataFrame([(i, g, v) for i, (g, v) in enumerate(rows)],
                               "rid int, g string, v double")
    out = winsorize(df, "v", group_col="g").collect()
    assert len(out) == len(rows)
    by_group = {}
    for r in out:
        if r.v is None:
            assert r.v_w is None
            continue
        by_group.setdefault(r.g, []).append((r.v, r.v_w))
    for g, pairs in by_group.items():
        vs = [v for v, _ in pairs]
        for v, w in pairs:
            assert min(vs) <= w <= max(vs)
        pairs.sort()
        ws = [w for _, w in pairs]
        assert ws == sorted(ws)      # clipping is monotone


@settings(**dict(_SETTINGS, max_examples=8))
@given(st.dictionaries(st.integers(min_value=0, max_value=6),
                       st.integers(min_value=0, max_value=3),
                       min_size=1, max_size=7),
       st.dictionaries(st.integers(min_value=0, max_value=6),
                       st.integers(min_value=0, max_value=3),
                       min_size=0, max_size=7))
def test_scd2_apply_invariants(spark, initial, update):
    """For any initial snapshot and any update snapshot: exactly one
    current version per live key, closed versions are never lost, and
    re-applying the same snapshot is a no-op."""
    from data_warehouse_migrate_spark.operators.delta import scd2_apply

    hist = spark.createDataFrame(
        [(k, float(v), "2020-01-01", None, True)
         for k, v in initial.items()],
        "k int, v double, valid_from string, valid_to string, "
        "is_current boolean")
    upd = spark.createDataFrame(
        [(k, float(v)) for k, v in update.items()] or [(None, None)],
        "k int, v double").filter("k IS NOT NULL")
    out = scd2_apply(hist, upd, ["k"], ["v"], "2026-01-01")
    rows = out.collect()
    # every key that ever existed appears; exactly one current row per key
    keys = set(initial) | set(update)
    cur = [r for r in rows if r.is_current]
    assert {r.k for r in rows} == keys
    assert sorted(r.k for r in cur) == sorted(keys)
    # version count: one per initial key + one per genuinely-changed/new key
    changed = {k for k, v in update.items()
               if k not in initial or float(initial[k]) != float(v)}
    assert len(rows) == len(initial) + len(changed)
    # idempotence
    again = scd2_apply(out, upd, ["k"], ["v"], "2026-06-01")
    assert again.count() == len(rows)
    assert again.filter("valid_from = '2026-06-01'").count() == 0


_SCD2_STEP = st.tuples(
    st.booleans(),  # the snapshot's date is the day after the last one's
    st.dictionaries(st.integers(min_value=0, max_value=4),
                    st.integers(min_value=0, max_value=2), max_size=5))


@settings(**dict(_SETTINGS, max_examples=8))
@given(st.lists(_SCD2_STEP, min_size=2, max_size=5))
@example([(False, {0: 0, 1: 0}), (False, {0: 1, 2: 0}),
          (False, {0: 2, 1: 1}), (False, {1: 1}), (False, {0: 0, 1: 1}),
          (True, {0: 0})])
def test_scd2_history_as_of_each_date_is_its_last_snapshot(spark, steps):
    """Full snapshots folded on non-decreasing dates, many on one date:
    the history as of each date is the last snapshot folded at or before
    it, (key, valid_from) is unique and no version is empty."""
    from data_warehouse_migrate_spark.operators.delta import scd2_apply

    cols = "k int, v int, valid_from date, valid_to date, is_current boolean"
    day, last = datetime.date(2026, 1, 1), {}
    hist = spark.createDataFrame([], cols)
    for later, snap in steps:
        day += datetime.timedelta(days=int(later))
        upd = spark.createDataFrame(list(snap.items()), "k int, v int")
        rows = scd2_apply(hist, upd, ["k"], ["v"], day.isoformat(),
                          close_deleted=True).collect()
        hist = spark.createDataFrame(rows, cols)
        last[day] = snap
    starts = [(r.k, r.valid_from) for r in rows]
    assert len(starts) == len(set(starts))
    assert all(r.valid_to is None or r.valid_from < r.valid_to
               for r in rows)
    for d, snap in last.items():
        assert {r.k: r.v for r in rows if r.valid_from <= d and
                (r.valid_to is None or d < r.valid_to)} == snap, d


_WORDS = st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
                  min_size=3, max_size=10)


@settings(**dict(_SETTINGS, max_examples=8))
@given(st.lists(_WORDS, min_size=2, max_size=6),
       st.sampled_from([0.3, 0.5, 0.8]))
def test_ngram_jaccard_pairs_equals_bruteforce(spark, docs, threshold):
    """The PPJoin prefix + positional + length filters are COMPLETE:
    ngram_jaccard_pairs returns exactly the pairs whose engine-computed
    shingle sets have (6dp-rounded) Jaccard >= threshold — checked
    against a driver-side brute force over all pairs on adversarial
    tiny-vocabulary docs (max overlap pressure on the filters)."""
    from data_warehouse_migrate_spark.operators.dedup import (
        _shingle_sets,
        ngram_jaccard_pairs,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(df, "text", "doc_id", n=2,
                                        threshold=threshold).collect()}
    sets = {r.id: set(r.shingles)
            for r in _shingle_sets(df, "text", "doc_id", 2).collect()}
    want = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            if not a | b:
                continue
            j = round(len(a & b) / len(a | b), 6)
            if j >= threshold:
                want[(ids[x], ids[y])] = j
    assert got == want


@settings(**dict(_SETTINGS, max_examples=8))
@given(st.lists(_WORDS, min_size=2, max_size=8),
       st.sampled_from([1, 3]))
def test_simhash_near_pairs_equals_bruteforce(spark, docs, max_hamming):
    """Banded simhash blocking is COMPLETE for hamming <= bands-1
    (pigeonhole): pair output equals a driver-side brute force over the
    engine's own fingerprints."""
    from data_warehouse_migrate_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_near_pairs(df, "text", "doc_id",
                                       max_hamming=max_hamming).collect()}
    fp = {r.id: r.simhash
          for r in simhash_fingerprints(df, "text", "doc_id").collect()}
    ids = sorted(fp)
    want = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin(fp[ids[x]] ^ fp[ids[y]]).count("1")
            if h <= max_hamming:
                want.add((ids[x], ids[y], h))
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(st.one_of(
    st.none(),
    st.text(alphabet=st.characters(codec="ascii",
                                   exclude_characters="\x00"),
            max_size=40)),
    min_size=1, max_size=8),
    st.sampled_from([2, 3]))
def test_word_shingles_match_python_reference(spark, texts, n):
    """The r9 LET-BOUND word_shingles (tokens evaluated once per row via
    the single-element-array transform) is extensionally identical to
    the naive Python reference on arbitrary text — including empty
    strings (tokens yields ['']), runs of mixed whitespace, and NULL
    (shingle array NULL). Pins the rewrite that fixed the O(words²)
    per-document regex re-evaluation."""
    import re

    from data_warehouse_migrate_spark.functions.text import word_shingles

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.s for r in
           df.select(word_shingles("t", n).alias("s")).collect()]

    def ref(t):
        # Java semantics, not Python's: Spark trim() strips 0x20 only and
        # Java \s is [ \t\n\x0B\f\r] (no \x1f etc.)
        if t is None:
            return None
        toks = re.split(r"[ \t\n\x0b\f\r]+", t.strip(" ").lower())
        if len(toks) < n:
            return [" ".join(toks)]
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    assert got == [ref(t) for t in texts]


@settings(**_SETTINGS)
@given(st.lists(st.one_of(
    st.none(),
    st.text(alphabet=st.characters(codec="ascii",
                                   exclude_characters="\x00"),
            max_size=40)),
    min_size=1, max_size=8))
def test_bigrams_match_python_reference(spark, texts):
    """lm._bigrams (r9 let-bound, now also the pmi_collocations path)
    equals the naive adjacent-pair Python reference over the engine's
    BPE-ish TOKEN_REGEX tokenization; <2 tokens yields [], NULL yields
    NULL."""
    import re

    from data_warehouse_migrate_spark.functions.lm import _bigrams
    from data_warehouse_migrate_spark.functions.text import TOKEN_REGEX

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [None if r.b is None else [(p.w1, p.w2) for p in r.b]
           for r in df.select(_bigrams(F.col("t")).alias("b")).collect()]

    def ref(t):
        if t is None:
            return None
        # re.ASCII: Python's Unicode \s also matches \x1c-\x1f, Java's
        # (the engine's) does not
        toks = re.findall(TOKEN_REGEX, t.lower(), flags=re.ASCII)
        return [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]

    assert got == [ref(t) for t in texts]


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_builtin_decoder_containers_agree_with_luma_reference(data):
    """builtin_decode_fn (r16): for ARBITRARY small images, a 24-bit BMP
    and a P6 PPM of the SAME pixels both decode to the hand-computed
    integer-luma statistics — and an 8-bit palette BMP / P5 PGM of the
    grayscale plane reproduces them. Pure-Python property (no Spark
    job per example)."""
    import struct

    from data_warehouse_migrate_spark.operators.multimodal import (
        builtin_decode_fn,
    )

    dec = builtin_decode_fn()
    w = data.draw(st.integers(1, 8), label="w")
    h = data.draw(st.integers(1, 8), label="h")
    flat = data.draw(st.lists(
        st.tuples(*[st.integers(0, 255)] * 3),
        min_size=w * h, max_size=w * h), label="pixels")
    px = [flat[r * w:(r + 1) * w] for r in range(h)]
    topdown = data.draw(st.booleans(), label="topdown_bmp")

    lum = [(r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16  # PIL's L
           for row in px for (r, g, b) in row]
    want = ((sum(lum) * 1_000_000 // len(lum)) / 1e6,
            min(lum), max(lum), lum[-1])

    def check(d):
        assert (d["width"], d["height"]) == (w, h)
        assert (d["mean_byte"], *map(int, d["feature"][1:])) == want

    # 24-bit BMP, both row orders (negative height = top-down storage)
    stride = (w * 3 + 3) & ~3
    rows_src = px if topdown else list(reversed(px))
    raster = b"".join(
        b"".join(bytes((b, g, r)) for (r, g, b) in row)
        + b"\0" * (stride - w * 3) for row in rows_src)
    dib = struct.pack("<IiiHHIIiiII", 40, w, -h if topdown else h,
                      1, 24, 0, len(raster), 0, 0, 0, 0)
    bmp = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54) + dib + raster
    check(dec(bmp))

    # P6 PPM of the same pixels (with a header comment)
    p6 = (f"P6\n# c\n{w} {h}\n255\n".encode()
          + b"".join(bytes(p) for row in px for p in row))
    check(dec(p6))

    # P5 PGM of the luma plane: same stats by construction
    p5 = f"P5\n{w} {h} 255\n".encode() + bytes(lum)
    check(dec(p5))

    # 8-bit palette BMP whose palette IS the gray ramp of this image's
    # distinct luma values
    ramp = sorted(set(lum))
    idx_of = {v: i for i, v in enumerate(ramp)}
    stride8 = (w + 3) & ~3
    raster8 = b"".join(
        bytes(idx_of[lum[r * w + c]] for c in range(w))
        + b"\0" * (stride8 - w) for r in reversed(range(h)))
    palb = b"".join(bytes((v, v, v, 0)) for v in ramp)
    off = 54 + len(palb)
    dib8 = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(raster8),
                       0, 0, len(ramp), 0)
    bmp8 = (b"BM" + struct.pack("<IHHI", off + len(raster8), 0, 0, off)
            + dib8 + palb + raster8)
    check(dec(bmp8))


# characters that break SQL text unless it is quoted: quotes, escapes,
# printf/format syntax, control characters and non-BMP code points
_HOSTILE = st.text(alphabet=st.sampled_from(
    ["'", "\\", '"', "%", "{", "}", "\n", "\x00", "\U0001F600",
     "\U0001D11E", "é", "x", "q"]), min_size=1, max_size=8)
_NULL_TOKENS = {"nan", "none", "null", "<na>"}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(_HOSTILE, min_size=4, max_size=4),
       tokens=st.lists(st.one_of(
           st.sampled_from(["nan", "None", "NULL", "<NA>", "NaN"]),
           st.tuples(st.sampled_from(["nan", "None"]),
                     _HOSTILE.filter(lambda s: not s.isspace()))
           .map("".join),
           _HOSTILE), min_size=3, max_size=3),
       flags=st.lists(st.one_of(
           st.sampled_from(["yes", " Y\n", "0", "FALSE", "n", "", "ja"]),
           _HOSTILE), min_size=3, max_size=3),
       num=st.floats(allow_nan=False, allow_infinity=False),
       day=st.dates(min_value=datetime.date(1900, 1, 1),
                    max_value=datetime.date(2100, 12, 31)))
@example(values=["a", "b", "c", "d"], tokens=[" nan", "null\t", "None"],
         flags=["yes", "0", "ja"], num=1.5, day=datetime.date(2024, 1, 1))
def test_hostile_literals_reach_the_destination(spark, tmp_path_factory,
                                                values, tokens, flags,
                                                num, day):
    """Every literal the migration path renders into SQL text — a
    mapping default, typed destination defaults, the 'fill' sentinel,
    a format template and the null and boolean tokens it compares
    against — reaches the destination byte for byte, and each token
    classifies as the Python model above says."""
    from data_warehouse_migrate_spark.migrate import MigrationJob
    from data_warehouse_migrate_spark.operators.constraints import (
        parse_default_value,
    )
    from data_warehouse_migrate_spark.schema import ColumnSpec

    mapping_default, dest_default, sentinel, text = values
    # the computed language quotes its template with '"' and no escape;
    # '{' and '}' are doubled to stand for themselves in str.format
    text = text.replace('"', "")
    template = text.replace("{", "{{").replace("}", "}}") + "{id}" + \
        text.replace("{", "{{").replace("}", "}}")
    root = tmp_path_factory.mktemp("hostile")
    rows = [(i, tokens[i], flags[i], None if i == 0 else "a",
             None if i == 1 else "b", None if i == 2 else "c", None, None)
            for i in range(3)]
    spark.createDataFrame(
        rows, "id long, tok string, flag string, a string, b string, "
              "c string, num double, day date").write.parquet(str(root / "src"))
    dest_schema = [
        {"name": "id", "type": "bigint", "is_nullable": False, "default": None},
        {"name": "tok", "type": "varchar(64)", "is_nullable": True, "default": None},
        {"name": "flag", "type": "tinyint(1)", "is_nullable": True, "default": None},
        {"name": "a", "type": "varchar(64)", "is_nullable": True, "default": None},
        {"name": "b", "type": "varchar(64)", "is_nullable": False,
         "default": dest_default},
        {"name": "c", "type": "varchar(64)", "is_nullable": True, "default": None},
        {"name": "f", "type": "varchar(64)", "is_nullable": True, "default": None},
        {"name": "num", "type": "double", "is_nullable": False,
         "default": repr(num)},
        {"name": "day", "type": "date", "is_nullable": False,
         "default": day.isoformat()}]
    job = MigrationJob(
        source_path=str(root / "src"), destination_path=str(root / "dst"),
        mode="overwrite",
        source_schema=[ColumnSpec("id", "bigint"), ColumnSpec("tok", "string"),
                       ColumnSpec("flag", "boolean"), ColumnSpec("a", "string"),
                       ColumnSpec("b", "string"), ColumnSpec("c", "string")],
        preserve_string_null_tokens=False,
        mapping={"defaults": {"a": mapping_default},
                 "computed": {"f": f'format("{template}")'}},
        dest_schema=dest_schema,
        non_nullable=["c"], null_policy="fill", null_fill_sentinel=sentinel)
    assert job.run(spark)["rows_written"] == 3
    got = {r.id: r for r in spark.read.parquet(str(root / "dst")).collect()}
    b_default = parse_default_value(dest_default, "varchar(64)")
    for i in range(3):
        r = got[i]
        tok = tokens[i]
        assert r.tok == (None if tok.lower() in _NULL_TOKENS
                         else tok), (tok, r.tok)
        norm = flags[i].strip().lower()
        assert r.flag == (True if norm in TRUE_TOKENS else
                          False if norm in FALSE_TOKENS else None)
        assert r.a == (mapping_default if i == 0 else "a")
        assert r.b == (b_default if i == 1 else "b")
        assert r.c == (sentinel if i == 2 else "c")
        assert r.f == template.format(id=i)
        assert struct.pack("<d", r.num) == struct.pack("<d", num)
        assert r.day == day
