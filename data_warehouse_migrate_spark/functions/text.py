"""Text-analysis expressions for LLM-data pipelines: tokenization, shingles,
deterministic hashing, quality scoring, language ID, fingerprinting.

Each rule has one implementation: a private renderer that writes Spark SQL
text over an operand (a column name quoted by ``sqltext.ident``, a lambda
variable, or another renderer's text). The public functions take a column
NAME and return ``F.expr`` of that text: one JVM-side parse, where a
``Column`` tree built with ``pyspark.sql.functions`` costs one py4j round
trip per node (the bits=60 simhash alone cost ~280 ms of driver latency).
Everything is a built-in expression (JVM-side, no Python UDFs) that the
DuckDB oracles in ``queries.py`` re-implement. Determinism rules:
  * ``polyhash``: 31-polynomial over unicode code points mod 1e9+7 —
    identical in Spark (``aggregate``/``ascii``) and DuckDB
    (``list_reduce``/``ascii``).
  * ``md5_prefix_int``: first 15 hex chars of md5 → int64 (60 bits, never
    overflows) — identical via ``conv`` (Spark) / ``CAST('0x…')`` (DuckDB).
The fingerprints (``hashed_shingles``, ``simhash``, ``minhash_signature``)
are stored and compared across sessions; ``tests/test_text.py`` pins their
values.

Filter predicates get no subexpression elimination, so the rules a fused
FILTER evaluates (``lang_keep``, ``gopher_keep``) bind the token split once
per row as a lambda variable: ``transform(array(x), v -> …)[0]``. A lambda
variable shadows a column of the same name, so the lambdas whose body reads
the text column itself have ``__`` names.

Beyond-reference operators (the reference has no text functions at all);
designed per SURVEY.md §7.3.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.sqltext import ident, sql_literal, sql_string

POLY_MOD = 1_000_000_007
POLY_BASE = 31

# fixed per-language stopword lists for the n-gram language heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
}

# a BPE-ish word/number/symbol segmentation used for token counting
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

SIMHASH_BITS = 60  # md5-prefix token hashes carry exactly 60 meaningful bits

# MinHash: k fixed affine permutations (a_i*h + b_i) mod p over shingle hashes.
# Constants are arbitrary-but-fixed odd multipliers (no runtime randomness —
# resumability + cross-engine determinism).
MINHASH_A = (1579, 2719, 3359, 4463, 5519, 6689, 7717, 8837,
             9739, 10847, 11941, 13043, 14159, 15269, 16381, 17477)
MINHASH_B = (401, 7919, 1201, 9601, 2801, 11003, 4001, 12413,
             5209, 13807, 6397, 15013, 7591, 16217, 8783, 17401)

_WS = sql_string(r"\s+")
_NEWLINE = sql_string("\n")
_PUNCT = sql_string(r"[a-zA-Z0-9\s]")


def _strings(words) -> str:
    return ", ".join(sql_string(w) for w in words)


def _longs(values) -> str:
    return "array(" + ", ".join(f"CAST({v} AS BIGINT)" for v in values) + ")"


def _ratio(num: str, den: str, rest: str = "ELSE 0.0D") -> str:
    """``round(num / den, 6)`` where ``den > 0``; ``rest`` closes the CASE."""
    return f"round(CASE WHEN ({den}) > 0 THEN ({num}) / ({den}) {rest} END, 6)"


# ---------------------------------------------------------------------------
# Tokens, shingles, hashes
# ---------------------------------------------------------------------------

def _tokens(c: str) -> str:
    return f"split(lower(trim({c})), {_WS})"


def tokens(name: str) -> Column:
    """Whitespace tokens of lowercased trimmed text. Empty text yields
    [''] (both engines agree)."""
    return F.expr(_tokens(ident(name)))


def _token_count(c: str) -> str:
    return f"size(regexp_extract_all({c}, {sql_string(TOKEN_REGEX)}, 0))"


def token_count(name: str) -> Column:
    """BPE-ish token count: words, numbers, and individual symbols."""
    return F.expr(_token_count(ident(name)))


def _word_shingles(c: str, n: int) -> str:
    return (f"transform(array({_tokens(c)}), "
            f"t -> CASE WHEN size(t) < {n} THEN array(array_join(t, ' ')) "
            f"ELSE transform(sequence(1, size(t) - {n} + 1), "
            f"i -> array_join(slice(t, i, {n}), ' ')) END)[0]")


def word_shingles(name: str, n: int = 3) -> Column:
    """Word n-gram shingle strings; texts shorter than n words yield the
    whole text as a single shingle.

    The token array is LET-BOUND via a single-element-array transform so
    the per-shingle lambda references it as a bound lambda variable.
    Referencing the token split directly inside the lambda (the r8
    shape) made Catalyst inline the full-text regex split into the
    lambda body — re-evaluated PER SHINGLE ELEMENT, O(words²) regex work
    per document. The binding makes it one split per row: measured 6× on
    the sf0.1 shingle-explode path (4.27s → 0.71s). Same construction as
    the round-7 CollapseProject fix in ``operators/spans.py``."""
    return F.expr(_word_shingles(ident(name), n))


def polyhash(name: str) -> Column:
    """31-polynomial rolling hash over code points mod 1e9+7 (document
    fingerprint primitive; deterministic across engines)."""
    return F.expr(
        f"aggregate(transform(split({ident(name)}, ''), "
        f"ch -> CAST(ascii(ch) AS BIGINT)), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {POLY_BASE} + x) % {POLY_MOD})")


def _md5_prefix_int(c: str) -> str:
    return f"CAST(conv(substring(md5({c}), 1, 15), 16, 10) AS BIGINT)"


def md5_prefix_int(name: str) -> Column:
    """First 60 bits of md5 as int64 — a strong deterministic hash."""
    return F.expr(_md5_prefix_int(ident(name)))


def normalized_text(name: str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    return F.expr(f"regexp_replace(lower(trim({ident(name)})), {_WS}, ' ')")


def hashed_shingles(name: str, n: int) -> Column:
    """``array<long>``: the distinct md5-prefix hashes of the word
    n-gram shingles — the shared shingle-set form of the
    Jaccard/MinHash/contamination family."""
    return F.expr(f"array_distinct(transform({_word_shingles(ident(name), n)}, "
                  f"s -> {_md5_prefix_int('s')}))")


def simhash(name: str, bits: int = SIMHASH_BITS) -> Column:
    """``bits``-wide SimHash over whitespace tokens with md5-prefix token
    hashes (60 usable bits — polyhash mod 1e9+7 only fills ~30 bits, which
    makes fingerprints cluster and near-pair search quadratic).

    For each bit j: sum over tokens of ±1 by bit j of the token hash; bit
    set iff the sum is positive. Single-pass: token hashes are the input of
    ONE ``aggregate`` with an array-of-votes accumulator, so each token is
    hashed exactly once per row (a per-bit aggregate would re-hash every
    token ``bits`` times). Bit tests use literal power-of-two masks —
    pure array math, expressible identically in DuckDB for the oracle.
    """
    assert 0 < bits <= 60
    powers = _longs(1 << j for j in range(bits))
    tokh = (f"transform({_tokens(ident(name))}, "
            f"t -> {_md5_prefix_int('t')})")
    votes = (f"aggregate({tokh}, array_repeat(CAST(0 AS BIGINT), {bits}), "
             f"(acc, h) -> zip_with(acc, {powers}, "
             f"(a, p) -> a + (CASE WHEN (h & p) != 0 THEN 1 ELSE -1 END)))")
    return F.expr(
        f"aggregate(zip_with({votes}, {powers}, "
        f"(v, p) -> CASE WHEN v > 0 THEN p ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (a, x) -> a + x)")


def minhash_signature(name: str, k: int = 16) -> Column:
    """Array of k min-hash values over an array<long> column of shingle
    hashes (``hashed_shingles``).

    Single-pass: ONE ``aggregate`` over the shingle array with a k-element
    running-min accumulator, so the shingle array is referenced exactly
    once — k separate array_min expressions made Catalyst inline an
    upstream shingle subtree k times (measured 6× slower).

    Hashes are reduced mod 1e9+7 BEFORE the affine permutation: 60-bit
    inputs times a 5-digit multiplier would overflow int64 — Spark would
    silently wrap while DuckDB raises, so the oracle requires the
    reduction on both sides."""
    assert k <= len(MINHASH_A)
    return F.expr(
        f"aggregate({ident(name)}, "
        f"array_repeat(CAST({POLY_MOD} AS BIGINT), {k}), "
        f"(acc, h) -> zip_with(acc, zip_with({_longs(MINHASH_A[:k])}, "
        f"{_longs(MINHASH_B[:k])}, "
        f"(a, b) -> ((h % {POLY_MOD}) * a + b) % {POLY_MOD}), "
        f"(x, y) -> least(x, y)))")


# ---------------------------------------------------------------------------
# Quality / stats expressions (all arithmetic, oracle-checked)
# ---------------------------------------------------------------------------

def _text_stats(c: str) -> dict[str, str]:
    tk = _tokens(c)
    nw = (f"CASE WHEN {c} IS NULL THEN NULL WHEN trim({c}) = '' THEN 0 "
          f"ELSE size({tk}) END")
    n_alpha = f"length(regexp_replace({c}, '[^a-zA-Z]', ''))"
    n_digit = f"length(regexp_replace({c}, '[^0-9]', ''))"
    n_punct = f"length(regexp_replace({c}, {_PUNCT}, ''))"
    stop_all = _strings(w for ws in LANG_STOPWORDS.values() for w in ws)
    n_stop = f"size(filter({tk}, t -> t IN ({stop_all})))"
    text_zero = f"WHEN {c} IS NOT NULL THEN 0.0D"
    return {
        "n_chars": f"CAST(length({c}) AS BIGINT)",
        "n_words": f"CAST({nw} AS BIGINT)",
        "n_tokens": (f"CAST(CASE WHEN {c} IS NOT NULL "
                     f"THEN {_token_count(c)} END AS BIGINT)"),
        "avg_word_len": _ratio(f"{n_alpha} + {n_digit}", nw, text_zero),
        "punct_ratio": _ratio(n_punct, f"length({c})", text_zero),
        "digit_ratio": _ratio(n_digit, f"length({c})", text_zero),
        "stopword_ratio": _ratio(n_stop, nw, text_zero),
    }


def text_stats_exprs(name: str) -> dict[str, Column]:
    """Standard quality-signal columns for a text column.

    NULL text propagates NULL through every stat (the module's uniform
    convention). The explicit NULL gates are load-bearing: without them
    the 0.0 fallbacks fire on NULL comparisons (NULL > 0 is false, not
    NULL), so a missing document reported the same zero ratios as a real
    empty one (r8 audit)."""
    return {k: F.expr(v) for k, v in _text_stats(ident(name)).items()}


def quality_score(name: str) -> Column:
    """Composite quality score in [0,1]: rewards mid-length docs with low
    punctuation/digit noise and some stopword mass (heuristic,
    deterministic). NULL text scores NULL (module convention) — without
    the gate, NULL-skipping ``least`` arithmetic silently produced a
    non-NULL score for missing text.
    """
    c = ident(name)
    s = _text_stats(c)
    length_term = f"least(({s['n_words']}) / 50.0D, 1.0D)"
    clean_term = (f"1.0D - least(({s['punct_ratio']}) * 4 "
                  f"+ ({s['digit_ratio']}) * 2, 1.0D)")
    stop_term = f"least(({s['stopword_ratio']}) * 5, 1.0D)"
    return F.expr(
        f"CASE WHEN {c} IS NOT NULL THEN round(0.5D * ({length_term}) "
        f"+ 0.3D * ({clean_term}) + 0.2D * ({stop_term}), 6) END")


def _lang_id(c: str, allow: tuple[str, ...] | None = None) -> str:
    counts = ", ".join(f"size(filter(t, w -> w IN ({_strings(ws)}))) AS {lang}"
                       for lang, ws in LANG_STOPWORDS.items())
    vote = ("CASE WHEN n.en = 0 AND n.de = 0 AND n.fr = 0 THEN 'und' "
            "WHEN n.en >= n.de AND n.en >= n.fr THEN 'en' "
            "WHEN n.de >= n.fr THEN 'de' ELSE 'fr' END")
    if allow is not None:
        vote = f"({vote}) IN ({_strings(allow)})" if allow else "FALSE"
    return (f"CASE WHEN {c} IS NOT NULL THEN transform(array({_tokens(c)}), "
            f"t -> transform(array(struct({counts})), n -> {vote})[0])[0] END")


def lang_id(name: str) -> Column:
    """Stopword-vote language heuristic: argmax of per-language stopword
    counts over whitespace tokens; zero evidence for every language →
    'und' (undetermined). Ties resolve by the fixed precedence en ≻ de ≻
    fr (>= comparisons in that order), keeping the argmax deterministic.
    NULL text yields NULL. The token array and then the three counts are
    bound as lambda variables, so a row splits its text once and counts
    each language once."""
    return F.expr(_lang_id(ident(name)))


def lang_keep(name: str, allow: tuple[str, ...]) -> Column:
    """``lang_id(name).isin(*allow)`` as one expression, the membership
    test inside the bound lambda: a fused FILTER on it splits the text
    once and counts each language once per row. NULL text yields NULL."""
    return F.expr(_lang_id(ident(name), tuple(allow)))


def duplicate_token_fraction(name: str) -> Column:
    """Share of tokens that are repeats of an earlier token — the
    token-level analogue of Gopher's duplicate-line fraction (Rae et al.
    2021, public quality-filter heuristics). Rounded to 6dp (the ratio is
    a small-denominator rational — identical across engines). Pure per-row
    array math, no shuffle.

    Empty/blank text: ``tokens`` yields the single token ``''`` (never an
    empty array — the DuckDB oracle's split agrees), so the fraction is
    0.0 (one distinct token, no repeats). NULL text propagates NULL."""
    tk = _tokens(ident(name))
    return F.expr(f"round(1.0D - size(array_distinct({tk})) / size({tk}), 6)")


def top_ngram_fraction(name: str, n: int = 2) -> Column:
    """Fraction of all word n-grams taken by the single most frequent one
    (Gopher's top-n-gram repetition filter). Computed per row in
    O(t log t): sort the shingle array, then ONE ``aggregate`` pass tracks
    the longest equal-run — no per-distinct-gram rescan (the naive
    distinct×filter form is O(t²) per row, which a 100 TB corpus of long
    documents cannot afford).

    Empty/blank text: ``tokens`` yields the single token ``''`` (never an
    empty array — the DuckDB oracle's split agrees), so the single
    ''-shingle IS the top n-gram and the fraction is 1.0 — meaning
    ``q_doc_repetition`` marks empty documents keep=False, the right
    outcome for a quality filter. NULL text propagates NULL."""
    grams = f"sort_array({_word_shingles(ident(name), n)})"
    run = ("CASE WHEN acc.prev IS NULL OR acc.prev != g THEN 1 "
           "ELSE acc.run + 1 END")
    best = (f"aggregate({grams}, "
            f"struct(CAST(NULL AS STRING) AS prev, 0 AS run, 0 AS best), "
            f"(acc, g) -> struct(g AS prev, {run} AS run, "
            f"greatest(acc.best, {run}) AS best), acc -> acc.best)")
    return F.expr(f"CASE WHEN size({grams}) = 0 THEN 0.0D "
                  f"ELSE round({best} / size({grams}), 6) END")


# ---------------------------------------------------------------------------
# PII scrubbing (standard pre-training hygiene: redact contact strings
# before anything downstream sees the text). Pure regexp_replace chains —
# JVM expressions re-implemented by the DuckDB oracle; patterns stay within
# the Java-regex ∩ RE2 subset (character classes, \b, bounded repeats) so
# both engines match identically.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, tuple[str, str]] = {
    # applied in declaration order: URLs first (they may contain @ or
    # digit runs that the later patterns would otherwise bite into)
    "url": (r"https?://[^\s]+", "[URL]"),
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    "phone": (r"\+?[0-9][0-9-]{6,}[0-9]", "[PHONE]"),
}


def pii_counts_exprs(name: str) -> list[Column]:
    """One ``n_{kind}`` count column per PII pattern (counted on the RAW
    text, before any replacement disturbs overlapping matches)."""
    c = ident(name)
    return [F.expr(f"regexp_count({c}, {sql_string(pat)}) AS n_{kind}")
            for kind, (pat, _) in PII_PATTERNS.items()]


def redact_pii(name: str) -> Column:
    """Text with every PII match replaced by its ``[KIND]`` token —
    a fixed chain of 4 ``regexp_replace`` (all-occurrence) expressions,
    order as declared in ``PII_PATTERNS``."""
    out = ident(name)
    for pat, token in PII_PATTERNS.values():
        out = f"regexp_replace({out}, {sql_string(pat)}, {sql_string(token)})"
    return F.expr(out)


# ---------------------------------------------------------------------------
# Gopher rule-based quality filter (Rae et al. 2021 §A1.1.1, public):
# the canonical pre-training document gate. The stopword rule uses the
# paper's own word list.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_ELLIPSIS = sql_string(r"\.\.\.")
_ELLIPSIS_LINE = sql_string(r"(\.\.\.|…)\s*$")
_BULLET_LINE = sql_string(r"^\s*([•‣▪-]\s)")


def _gopher_rules(c: str, tk: str, ln: str,
                  min_words: int = 50, max_words: int = 100_000,
                  min_avg_word_len: float = 3.0,
                  max_avg_word_len: float = 10.0,
                  max_symbol_ratio: float = 0.1,
                  max_ellipsis_line_ratio: float = 0.3,
                  max_bullet_line_ratio: float = 0.9,
                  min_alpha_word_ratio: float = 0.8,
                  min_stopword_hits: int = 2) -> dict[str, str]:
    """The rule texts over text ``c``, its tokens ``tk`` and its lines
    ``ln`` — split expressions or bound lambda fields."""
    lit = sql_literal
    nw = f"CASE WHEN trim({c}) = '' THEN 0 ELSE size({tk}) END"

    def matches(pattern: str) -> str:
        return f"size(regexp_extract_all({c}, {pattern}, 0))"

    def lines(pattern: str) -> str:
        return f"size(filter({ln}, y -> y rlike {pattern}))"

    avg = _ratio(f"aggregate({tk}, CAST(0 AS BIGINT), "
                 f"(acc, w) -> acc + length(w))", nw)
    symbol = _ratio(f"{matches(sql_string('#'))} + ({matches(_ELLIPSIS)} "
                    f"+ {matches(sql_string('…'))})", nw)
    ellipsis = _ratio(lines(_ELLIPSIS_LINE), f"size({ln})")
    bullet = _ratio(lines(_BULLET_LINE), f"size({ln})")
    alpha = _ratio(f"size(filter({tk}, w -> w rlike '[a-z]'))", nw)
    stop_hits = (f"size(filter(array({_strings(GOPHER_STOPWORDS)}), "
                 f"__w -> array_contains({tk}, __w)))")
    flags = {
        "ok_word_count": f"({nw}) >= {lit(min_words)} "
                         f"AND ({nw}) <= {lit(max_words)}",
        "ok_word_len": f"({avg}) >= {lit(min_avg_word_len)} "
                       f"AND ({avg}) <= {lit(max_avg_word_len)}",
        "ok_symbols": f"({symbol}) <= {lit(max_symbol_ratio)}",
        "ok_ellipsis_lines":
            f"({ellipsis}) <= {lit(max_ellipsis_line_ratio)}",
        "ok_bullet_lines": f"({bullet}) <= {lit(max_bullet_line_ratio)}",
        "ok_alpha_words": f"({alpha}) >= {lit(min_alpha_word_ratio)}",
        "ok_stopwords": f"({stop_hits}) >= {lit(min_stopword_hits)}",
    }
    return {"n_words": f"CAST({nw} AS BIGINT)",
            "avg_word_len": avg,
            "symbol_ratio": symbol,
            "alpha_word_ratio": alpha,
            "stopword_hits": f"CAST({stop_hits} AS INT)",
            **flags,
            "keep": " AND ".join(f"({f})" for f in flags.values())}


def gopher_quality_flags(name: str, **thresholds) -> dict[str, Column]:
    """Gopher's published rule set as per-row JVM expressions — one
    boolean column per rule plus the conjunction ``keep``. Pure
    projection: at 100 TB this is a map-side filter fused into the scan.

    Rules (Rae et al. 2021, Table A1): word count in [min,max]; mean word
    length in [min,max]; (# + …) symbol-to-word ratio ≤ cap; ≤30% of
    lines ending in an ellipsis; ≤90% of lines starting with a bullet;
    ≥80% of words containing an alphabetic character; at least 2 of the
    paper's 8 stopwords present. Every cap is INCLUSIVE (uniform ``<=``
    boundary convention; floors are inclusive ``>=``). Ratios round at
    6dp so the DuckDB oracle compares cell-exact; blank text fails the
    word-count rule (keep=False). ``thresholds`` override the defaults of
    ``_gopher_rules`` by name.

    Per-column form: each returned Column computes only ITS metric —
    right for projections that select several flags side by side. For a
    fused FILTER on the conjunction use :func:`gopher_keep`, which binds
    the splits once (``flags["keep"]`` there would split the text once
    per rule).
    """
    c = ident(name)
    rules = _gopher_rules(c, _tokens(c), f"split({c}, {_NEWLINE})",
                          **thresholds)
    return {k: F.expr(v) for k, v in rules.items()}


def gopher_keep(name: str, **thresholds) -> Column:
    """The :func:`gopher_quality_flags` ``keep`` conjunction with the
    token/line splits bound ONCE per row, for use inside a fused FILTER
    (measured ~2x on the composed ``operators.pipeline.clean_corpus``
    gate at sf0.1). Identical values to
    ``gopher_quality_flags(name, **thresholds)["keep"]``."""
    c = ident(name)
    keep = _gopher_rules(c, "__g.t", "__g.l", **thresholds)["keep"]
    return F.expr(f"transform(array(struct({_tokens(c)} AS t, "
                  f"split({c}, {_NEWLINE}) AS l)), __g -> {keep})[0]")
