"""Text-analytics expressions for large-scale document pipelines.

All pure Column expressions (JVM-side) — no Python in the hot path —
so they vectorize over 100 TB document scans. Used by the dedup /
quality / language-ID operators over the `documents` table.

Capabilities: tokenization, token counting, shingling, quality
scores (length / punctuation / stopword ratios), n-gram sets,
rolling-hash fingerprints, language-ID heuristic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_engineering_hs_spark.functions.scalar import (
    ColumnOrName,
    _col,
    bind_once,
    stable_round,
)

# A small English stopword list for quality scoring (public, standard).
STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on "
    "with as at by from not no but if then so"
).split()

# BPE-ish token regex: words, numbers, or single non-space symbols —
# approximates subword tokenizer segmentation without a vocab.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization → array<string> (empty-safe).

    Tokens are the NON-EMPTY segments of a Java-`\\s+` split — edge
    whitespace yields no tokens. The previous trim-then-split form
    was silently wrong on tab/newline-edged text (near-universal in
    real corpora): `trim` strips only 0x20, so '\\ta b\\n' split to
    ['', 'a', 'b', ''] — inflating token_count and diluting
    mean_word_length / stopword_ratio / quality_score corpus-wide,
    and leaking '' tokens into shingles → MinHash signatures
    (r13 unicode/edge-whitespace lens find; regression-pinned).
    Whitespace is Java `\\s` = [ \\t\\n\\x0B\\f\\r] — ASCII only by
    contract: NBSP / U+2009 / U+3000 are NOT token separators here,
    in DuckDB's RE2, or in the SQL oracles (pinned), though Python's
    str.split() DOES split on them.
    """
    return F.filter(
        F.split(_col(c), r"\s+"), lambda t: F.length(t) > 0
    )


def token_count(c: ColumnOrName) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


def regex_token_count(c: ColumnOrName) -> Column:
    """BPE-ish token count: words + numbers + punctuation symbols."""
    # idx=0: whole-match extraction (the pattern has no capture group).
    return F.size(F.regexp_extract_all(_col(c), F.lit(TOKEN_REGEX), 0))


def punct_ratio(c: ColumnOrName) -> Column:
    """Fraction of characters that are not letters/digits/space.
    Unicode classes, not [A-Za-z0-9]: the ASCII class counted every
    accented or CJK letter as punctuation, flooring quality_score for
    exactly the non-English documents lang_id advertises (a clean
    German/Chinese doc scored as punctuation-soup). \\p{L}/\\p{N} are
    the Unicode categories in both Java regex and DuckDB's RE2, so
    the SQL oracles mirror term-for-term."""
    clean = F.regexp_replace(_col(c), r"[\p{L}\p{N}\s]", "")
    return F.length(clean).cast("double") / F.greatest(F.length(_col(c)), F.lit(1)).cast("double")


def stopword_ratio(c: ColumnOrName) -> Column:
    """Fraction of whitespace tokens that are English stopwords.

    tokens(c) is bind_once'd (r16): the old form referenced the
    split twice (the filter input and the denominator size) and the
    filter HOF is CodegenFallback — two full splits per row."""
    sw = F.array([F.lit(w) for w in STOPWORDS])

    def build(toks: Column) -> Column:
        n_sw = F.size(
            F.filter(toks, lambda t: F.array_contains(sw, F.lower(t)))
        )
        return n_sw.cast("double") / F.greatest(
            F.size(toks), F.lit(1)
        ).cast("double")

    return bind_once(tokens(c), build)


def mean_word_length(c: ColumnOrName) -> Column:
    # tokens(c) bind_once'd (r16): the aggregate input and the
    # denominator size were two separate splits per row
    def build(toks: Column) -> Column:
        total = F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        )
        return total.cast("double") / F.greatest(
            F.size(toks), F.lit(1)
        ).cast("double")

    return bind_once(tokens(c), build)


def quality_score(c: ColumnOrName) -> Column:
    """Composite [0,1] document-quality heuristic: long enough,
    not punctuation-soup, some-but-not-all stopwords. The weights are
    the engine's own convention (documented contract, test-pinned).

    The token array is bind_once'd across the length and stopword
    components (r16): the composite previously split the text three
    times per row (token_count once, stopword_ratio's filter input
    and denominator twice); one bound split feeds both components,
    with the same arithmetic on the same values. punct_ratio stays on
    the raw string (regex character classes, not tokens)."""
    sw_list = F.array([F.lit(w) for w in STOPWORDS])

    def build(toks: Column) -> Column:
        n_tok = F.size(toks).cast("double")
        len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
        punct_score = F.lit(1.0) - F.least(
            punct_ratio(c) * 5.0, F.lit(1.0)
        )
        n_sw = F.size(
            F.filter(toks, lambda t: F.array_contains(sw_list, F.lower(t)))
        )
        sw = n_sw.cast("double") / F.greatest(
            F.size(toks), F.lit(1)
        ).cast("double")
        sw_score = F.lit(1.0) - F.abs(sw - F.lit(0.25)) * 2.0
        return (
            len_score + punct_score + F.greatest(sw_score, F.lit(0.0))
        ) / 3.0

    # string-route round (r15 sanctioned): the composite is a computed
    # ratio — tie-stable cross-engine (see scalar.stable_round)
    return stable_round(bind_once(tokens(c), build), 6)


def word_shingle_seq(c: ColumnOrName, k: int = 3) -> Column:
    """POSITIONAL k-word shingles → array<string> (index i = shingle
    starting at word i; duplicates kept — the winnowing input).

    Built by zipping the token array with its k-1 shifted slices:
    shingle[i] = concat(tok[i], tok[i+1], ..., tok[i+k-1]). The
    slices are expression ARGUMENTS (evaluated once per row); an
    earlier sequence+transform form put `slice(tokens(text), i+1, k)`
    INSIDE the lambda, re-splitting the whole text per shingle index
    — O(words²) per document, measured ~4× slower on the MinHash
    signature stage at sf0.1.

    The token array is LAMBDA-BOUND (r16): `tokens(c)` — a full
    `\\s+` regex split + non-empty filter over the multi-KB text —
    appeared k+3 times in the expression tree (the zip_with seed,
    each per-j slice argument, every F.size use), and zip_with is
    CodegenFallback with no subtree CSE, so the split re-executed
    per reference per row. Binding it once as a 1-element
    `transform` lambda variable (the cosine_from/stable_round
    single-evaluation shape) measured **−20.6 %** on d_minhash_lsh
    at sf0.1 (scripts_ab_shingle_bind.py, interleaved median-of-7,
    values bit-identical).
    """
    if k < 1:
        raise ValueError(
            f"shingle width k must be >= 1 (got {k}): k=0 would "
            "silently emit the raw token list as '0-shingles'"
        )

    def build(toks: Column) -> Column:
        n = F.size(toks)
        sh = toks
        for j in range(1, k):
            # zip_with pads the shorter side with NULL and concat_ws
            # skips NULLs, so the trailing (k-1) short shingles are
            # cut by the final slice to exactly n-k+1 entries.
            sh = F.zip_with(
                sh,
                F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
                lambda acc, t: F.concat_ws(" ", acc, t),
            )
        sh = F.slice(sh, 1, F.greatest(n - k + 1, F.lit(0)))
        return F.when(n >= k, sh).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(tokens(c), build)


def word_shingles(c: ColumnOrName, k: int = 3) -> Column:
    """Distinct k-word shingles → array<string> (the MinHash input)."""
    return F.array_distinct(word_shingle_seq(c, k))


def char_ngrams(c: ColumnOrName, n: int = 5) -> Column:
    """Distinct character n-grams → array<string> (SimHash/Jaccard
    input). A short non-empty string is its own single gram; NULL and
    empty strings yield an EMPTY array — the old [NULL]/[''] outputs
    made every pair of blank documents Jaccard-identical and
    clustered unrelated empties as near-duplicates."""
    if n < 1:
        raise ValueError(
            f"char n-gram width must be >= 1 (got {n}): n=0 would "
            "silently emit arrays of empty-string grams"
        )
    s = _col(c)
    ln = F.length(s)
    idx = F.sequence(F.lit(1), F.greatest(ln - n + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.substring(s, i, n))
    return (
        F.when(ln >= n, F.array_distinct(grams))
        .when(ln > 0, F.array(s))
        .otherwise(F.array().cast("array<string>"))
    )


# Version of the content-identity normalization (normalized_text /
# fingerprint64 / tokens): v1 = pre-r13 (trim-before-collapse, phantom
# ''-tokens at whitespace edges), v2 = r13 semantics (collapse-then-
# trim, non-empty tokens only). Fingerprints PERSISTED by the
# incremental dedup / LSH stores are only comparable within one
# version — a store built under v1 re-admits previously-seen docs
# whose text has tab/newline edges, silently. Store commits stamp
# this constant beside the data and reads fail loudly on mismatch
# (operators.dedup.check_normalization_version). BUMP IT whenever
# tokens()/normalized_text() semantics change OR the persisted
# band-hash scheme (lsh_band_buckets' bucket values) changes — both
# make stored hashes incomparable, and this one stamp guards both.
# v3 = r17 band-bucket hash change: lsh_band_buckets hashes the r
# signature longs directly instead of a concat_ws string of their
# decimal renderings — pair outputs are unchanged, but persisted
# band-store BUCKET VALUES are not comparable across the schemes, the
# exact store-poisoning this stamp exists to catch.
NORMALIZATION_VERSION = 3


def normalized_text(c: ColumnOrName) -> Column:
    """Whitespace-normalized lowercase text — THE content-identity
    normalization every exact-dup key derives from. One definition:
    fingerprint64 hashes exactly this, and the md5-based oracles
    (queries/llm.py) restate exactly this, so a future normalization
    change (e.g. unicode NFC) lands everywhere at once instead of
    silently diverging between the hash and the oracle.

    Collapse FIRST, trim LAST: the old trim-then-collapse form
    stripped only 0x20 at the edges, so 'a\\n' normalized to 'a '
    while 'a' stayed 'a' — two docs identical up to a trailing
    newline got DIFFERENT fingerprints and escaped exact dedup
    (r13 edge-whitespace lens find, regression-pinned). Lowercase is
    FULL Unicode case mapping (Java/Python semantics: İ→i+U+0307,
    final-sigma ς); DuckDB's utf8proc does simple mapping, so the
    md5 oracle restatements are exact only on corpora without the
    divergent code points (guard-tested on the driver corpus)."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), r"\s+", " "))


def fingerprint64(c: ColumnOrName) -> Column:
    """64-bit stable content fingerprint: xxhash64 of the
    whitespace-normalized lowercase text. Exact-dup key at scale —
    groupBy on 8 bytes instead of multi-KB strings.

    NULL text does NOT yield a NULL fingerprint: xxhash64 skips null
    inputs and returns its seed constant, so every null-text row
    shares ONE non-null fingerprint — null-text docs dedup as a
    single group (and never escape store anti-joins via null-key
    semantics). Distinct from the empty string's hash."""
    return F.xxhash64(normalized_text(c))


def lang_id(c: ColumnOrName) -> Column:
    """Heuristic language ID via stopword/character evidence.

    Scores a handful of languages by counting language-marker tokens
    and script ranges; returns the argmax label or 'und'. A real
    deployment would swap in a model via mapInPandas; this keeps the
    hot path JVM-only.
    """
    # the lowered token array is bind_once'd (r16): each of the four
    # marker counts referenced transform(tokens(c), lower) — a full
    # regex split + per-token lower — and filter HOFs are
    # CodegenFallback, so the split ran four times per row
    def build(toks: Column) -> Column:
        def marker_count(words: list[str]) -> Column:
            arr = F.array([F.lit(w) for w in words])
            return F.size(
                F.filter(toks, lambda t: F.array_contains(arr, t))
            )

        en = marker_count(["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"])
        es = marker_count(["el", "la", "de", "que", "y", "los", "las", "por", "una", "es"])
        de = marker_count(["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "zu"])
        fr = marker_count(["le", "la", "les", "des", "est", "une", "dans", "pour", "que", "qui"])
        # CJK detection by script range (idx=0: whole-match, no group).
        zh = F.size(F.regexp_extract_all(_col(c), F.lit(r"[一-鿿]"), 0))
        scores = F.array(
            F.struct(en.alias("n"), F.lit("en").alias("lang")),
            F.struct(es.alias("n"), F.lit("es").alias("lang")),
            F.struct(de.alias("n"), F.lit("de").alias("lang")),
            F.struct(fr.alias("n"), F.lit("fr").alias("lang")),
            F.struct(zh.alias("n"), F.lit("zh").alias("lang")),
        )
        best = F.array_max(scores)
        return F.when(best["n"] > 0, best["lang"]).otherwise(F.lit("und"))

    return bind_once(F.transform(tokens(c), F.lower), build)


# Conservative PII patterns, restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB) so the scrub is
# cross-engine reproducible: no backrefs, no lookaround.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def scrub_pii(c: ColumnOrName) -> Column:
    """Redact emails / IPv4s / phone-shaped numbers with typed tokens.

    The standard pre-training corpus hygiene pass. Order matters
    (emails first, so their host part can't half-match as an IP);
    patterns are global-replace and engine-portable (see
    PII_PATTERNS). Pure Column expression — codegen'd, no UDF.
    """
    out = _col(c)
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out
