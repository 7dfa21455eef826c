"""Text-analysis scalar functions for the training-data pipeline
(north-star extensions, BASELINE.json): tokenization, shingling,
language-ID heuristic, quality scoring, fingerprints.

Everything here is a JVM-side Column expression — ``split``, ``regexp``,
``md5``, length arithmetic — so it rides whole-stage codegen and scales
linearly. Each function is written so the *same arithmetic* is
expressible in ANSI SQL for the DuckDB oracle (no engine-specific
semantics in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword heuristic.
# Counting is done with length/replace arithmetic, which is identical
# ANSI semantics in Spark and DuckDB.
LANG_MARKERS = {
    "en": [" the ", " and "],
    "es": [" el ", " que "],
    "fr": [" le ", " et "],
    "de": [" der ", " und "],
    "zh": [" de ", " shi "],
}


def occurrence_count(text: Column, needle: str) -> Column:
    """Number of (possibly overlapping-adjacent) occurrences of a fixed
    substring, via length arithmetic: (len(s) - len(replace(s, n, ''))) / len(n)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / F.lit(len(needle))


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish regex split)."""
    return F.size(F.split(F.trim(text), r"\s+"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of word n-grams (shingles) — the dedup unit for
    MinHash/Jaccard. Sliding windows are built by zipping the token
    array with its own 1..n-1 shifted suffixes (``zip_with`` +
    ``slice``), which benchmarks ~6× faster than per-index
    ``transform``+``slice`` (that form re-slices the array per output
    element, O(words²))."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    sz = F.size(toks)
    s = toks
    for k in range(1, n):
        s = F.zip_with(
            s,
            F.slice(toks, k + 1, F.greatest(sz - k, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    body = F.slice(s, 1, F.greatest(sz - (n - 1), F.lit(1)))
    return F.when(sz < n, F.array(F.concat_ws(" ", toks))).otherwise(body)


def token_hashes(text: Column) -> Column:
    """xxhash64 per whitespace token — materialize this with
    ``withColumn`` BEFORE calling ``shingle_hashes_from_tokens``: Spark
    does not common-subexpression-eliminate across HOF lambda
    boundaries, so an inlined token-hash array would be re-evaluated
    once per zip_with step (measured 3.5× slower at n=13)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    return F.transform(toks, lambda t: F.xxhash64(t))


def shingle_hashes_from_tokens(th: Column, n: int = 13) -> Column:
    """64-bit hash per word n-gram WITHOUT materializing the n-gram
    strings: fold n consecutive token hashes with a shift-xor combine
    (``h = (h << 1) ^ next`` — ANSI-safe, no overflow). For n=13 this
    measures ~4× faster end-to-end than building string shingles and
    hashing them (the zip_with concat chain allocates O(n·len) string
    bytes per doc).

    Collision class: contributions are GF(2)-linear (token at distance
    d adds ``hash << d``), which is weaker mixing than xxhash64 over
    the string but still ≥52 random bits per position at n=13 —
    negligible for candidate generation/counting, same class as the
    64-bit string-hash join. Use ``word_shingles`` + string equality
    when exact shingle identity matters.
    """
    sz = F.size(th)
    s = th
    for k in range(1, n):
        s = F.zip_with(
            s,
            F.slice(th, k + 1, F.greatest(sz - k, F.lit(0))),
            lambda a, b: F.shiftleft(a, 1).bitwiseXOR(b),
        )
    body = F.slice(s, 1, F.greatest(sz - (n - 1), F.lit(1)))
    # < n tokens: one whole-doc shingle (word_shingles parity). NOT an
    # F.aggregate fold — one interpreted HOF in the tree knocks the
    # whole projection out of whole-stage codegen (~3×) — and NOT the
    # zip_with chain either (its tail pads with null past the suffix
    # end, so short docs fold to null). xxhash64 hashes the whole
    # array natively, inside codegen.
    whole = F.array(F.xxhash64(th))
    return F.when(sz < n, whole).otherwise(body)


def lang_score(text: Column, lang: str) -> Column:
    """Marker-occurrence score for one language."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = F.lit(0.0)
    for m in LANG_MARKERS[lang]:
        score = score + occurrence_count(padded, m)
    return score


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of marker scores, 'und' on zero.
    Deterministic tie-break = lexicographic language code order."""
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang in sorted(LANG_MARKERS):
        s = lang_score(text, lang)
        better = s > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, s).otherwise(best_score)
    return best_lang


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{L}\p{N}\s]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    stops = F.lit(0.0)
    for m in [" the ", " a ", " and ", " of ", " to "]:
        stops = stops + occurrence_count(padded, m)
    return stops / F.greatest(token_count(text).cast("double"), F.lit(1.0))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: rewards reasonable length and
    stopword density, penalizes punctuation noise. Weights are fixed so
    the oracle SQL can mirror them exactly."""
    len_score = F.least(F.length(text).cast("double") / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * F.lit(5.0), F.lit(1.0))
    punct_pen = F.least(punct_ratio(text) * F.lit(5.0), F.lit(1.0))
    return F.round(F.lit(0.4) * len_score + F.lit(0.4) * stop_score + F.lit(0.2) * (F.lit(1.0) - punct_pen), 6)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


#: BPE-ish pre-tokenization pattern: runs of letters, runs of digits,
#: runs of other non-space symbols — the split GPT-style tokenizers
#: apply before merges. Alternation of character classes only, so the
#: same pattern means the same thing in Java regex and RE2 (DuckDB).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_tokens(text: Column) -> Column:
    """Array of BPE-ish pre-tokens (see BPE_ISH_PATTERN)."""
    return F.regexp_extract_all(F.trim(text), F.lit(BPE_ISH_PATTERN), F.lit(0))


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """md5 hash per word n-shingle, in document order."""
    return F.transform(word_shingles(text, n), lambda s: F.md5(s))


def winnowing_from_hashes(hs: Column, window: int = 4) -> Column:
    """Winnowing selection over an ALREADY-MATERIALIZED hash-array
    column: min per sliding window, distinct + sort.

    ``hs`` must be a real column (`.withColumn` first), not a nested
    expression: Spark does not common-subexpression-eliminate across
    lambda boundaries, so passing the shingle→md5 pipeline inline makes
    every window index re-evaluate it — measured 16s vs 0.3s for 500
    docs. With the column materialized, per-row cost is the expected
    O(shingles × window)."""
    nwin = F.greatest(F.size(hs) - (window - 1), F.lit(1))
    mins = F.transform(F.sequence(F.lit(1), nwin), lambda i: F.array_min(F.slice(hs, i, window)))
    return F.array_sort(F.array_distinct(mins))


def winnowing_fingerprints(text: Column, n: int = 3, window: int = 4) -> Column:
    """Winnowing fingerprint set (the MOSS scheme): hash the word
    n-shingle sequence, slide a ``window`` over consecutive hashes,
    keep each window's minimum, distinct + sort. Robust dedup
    fingerprints: a local edit changes only the few windows covering
    it, so near-identical docs share most fingerprints — unlike the
    all-or-nothing whole-document md5.

    Selection needs only a total ORDER on hashes, so the md5 hex
    strings are compared directly (lexicographic) — no hex→int
    conversion, and the oracle SQL orders identically.

    NOTE: this one-expression convenience form re-evaluates the shingle
    pipeline per window (no CSE across lambdas — see
    :func:`winnowing_from_hashes`); for corpus-scale use, materialize
    :func:`shingle_hashes` as a column and call ``winnowing_from_hashes``.
    """
    return winnowing_from_hashes(shingle_hashes(text, n), window)
