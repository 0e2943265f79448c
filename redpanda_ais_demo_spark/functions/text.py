"""Text-analysis column functions for the training-data pipeline surface
(BASELINE.json north star): tokenization, shingling, quality metrics,
language-ID heuristics, fingerprinting.

Everything here is built-in higher-order functions (split / transform /
filter / aggregate) — JVM-side, codegen'd, no Python UDFs — so the same
expressions run unchanged over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic default stopword list for quality scoring / language-ID.
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents.text is single-spaced)."""
    return F.split(text, " ")


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_tokens(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column, stopwords=STOPWORDS) -> Column:
    """Exact count of tokens that are stopwords (lambda filter, no UDF)."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def word_shingles(token_array: Column, k: int = 3) -> Column:
    """All k-word shingles of a token array (order-preserving, with dups).

    Built by zip-folding k-1 shifted views of the array —
    ``zip_with(w, slice(w, 2, ...), concat)`` and so on — then slicing to
    the size-k+1 valid positions. Measured 6x faster at sf0.1 than the
    previous ``transform(sequence(1, n-k+1), i -> concat_ws(' ',
    slice(w, i, k)))`` form, whose per-position slice() allocation made
    the dup-bigram signal the most expensive expression in the Gopher
    gate (2.5s -> 0.4s for the bigram case). zip_with pads the shorter
    side with nulls and concat propagates them, so the trailing k-1
    positions are null until the final slice drops them. Identical
    output (cross-checked value-equal); caller must still guard
    size >= k (slice length would go non-positive otherwise).
    """
    acc = token_array
    for j in range(2, k + 1):
        shifted = F.slice(token_array, j, F.greatest(F.size(token_array) - (j - 1), F.lit(1)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.slice(acc, 1, F.size(token_array) - (k - 1))


def top_token_count(token_array: Column) -> Column:
    """Occurrence count of the most frequent non-NULL token — the
    Gopher-style "most common word fraction" numerator, computed entirely
    inside the array (no explode/shuffle): sort the non-NULL tokens, then
    one fold tracking the longest equal-run. O(n log n) per doc vs the
    naive count-each-token lambda's O(n²) — same value for every input
    (the max run length of the sorted array IS the max multiplicity;
    NULL tokens count 0, as ``x = tok`` never holds for them), NULL on an
    empty array like the array_max it replaces. Works for any orderable
    element type. Still beats an explode + groupBy + max re-join, which
    would shuffle the corpus twice.
    """
    s = F.array_sort(F.filter(token_array, lambda x: x.isNotNull()))
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))  # noqa: E731
    run_best = F.aggregate(
        s,
        # get() answers NULL out of bounds: a NULL of the element type
        F.struct(F.get(s, -1).alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(F.size(token_array) > 0, run_best)


def dup_ngram_fraction(token_array: Column, n: int) -> Column:
    """Fraction of n-gram positions occupied by a repeated n-gram
    (1 - distinct/total) — the repetition signal quality filters cut on
    (high value = boilerplate / degenerate text). Caller guards
    ``size(token_array) >= n``.
    """
    grams = word_shingles(token_array, n)
    return F.lit(1) - F.size(F.array_distinct(grams)) / F.size(grams)


def md5_fingerprint(text: Column) -> Column:
    """Exact document fingerprint (content hash)."""
    return F.md5(text)


def rolling_hash_fingerprint(token_array: Column, window: int = 4, mod: int = 1 << 31) -> Column:
    """Winnowing-style fingerprint: min polynomial rolling hash over
    ``window``-token shingles. Deterministic, engine-internal (no SQL
    oracle — DuckDB lacks the same hash), covered by unit tests.
    """
    # short docs (size < window): fall back to one whole-doc shingle so the
    # fingerprint is still defined (the zip-fold would slice negative)
    shingles = F.when(
        F.size(token_array) >= window, word_shingles(token_array, window)
    ).otherwise(F.array(F.concat_ws(" ", token_array)))
    hashes = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(mod)))
    return F.array_min(hashes)


# --- PII redaction ----------------------------------------------------------

# Patterns restricted to the regex subset where Java (Spark) and RE2
# (DuckDB) agree exactly: character classes + bounded quantifiers, no
# alternation (leftmost-first backtracking vs leftmost-longest can differ
# there), \b and \d available in both. Order matters and is part of the
# contract: emails first (their local part may contain digits a later
# pattern would chew on), then IPs, then phones.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[ -]?\d{2,4}[ -]?\d{4,8}", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Text with emails, IPv4 addresses, and international-format phone
    numbers replaced by typed tokens — the standard scrub a pretraining
    corpus gets before packing. Chained JVM-side regexp_replace: one
    narrow pass, no UDF."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> list[Column]:
    """One count column per PII class, measured on the RAW text (before
    redaction) so classes don't mask each other's counts."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0))).alias(f"n_{name}")
        for name, pattern, _ in PII_PATTERNS
    ]


def canonicalize(text: Column) -> Column:
    """Dedup canonicalization: lowercase, strip non-alphanumerics to
    spaces, collapse runs of whitespace, trim — so trivially reformatted
    duplicates ("Hello,  World!" vs "hello world") hash identically.
    Pure JVM expression chain (lower + two regexp_replace + trim); the
    regexes live in the Java∩RE2 subset like the PII patterns."""
    cleaned = F.regexp_replace(F.lower(text), "[^a-z0-9]+", " ")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def syllable_count(token_array: Column) -> Column:
    """Total syllable estimate over a token array: vowel-group runs per
    word (``[aeiouy]+``), floored at 1 per word — the standard cheap
    syllable proxy readability formulas are calibrated against. Integer
    fold, exact on both engines."""
    per_word = F.transform(
        token_array,
        lambda t: F.greatest(
            F.lit(1), F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0))
        ),
    )
    return F.aggregate(per_word, F.lit(0), lambda a, x: a + x)


def sentence_count(text: Column) -> Column:
    """Sentence count = terminal-punctuation occurrences (. ! ?), floored
    at 1 so punctuation-free text counts as one sentence."""
    n = sum(
        F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))
        for ch in ".!?"
    )
    return F.greatest(F.lit(1), n)
