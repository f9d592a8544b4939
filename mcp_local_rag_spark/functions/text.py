"""Text column expressions: tokenization, n-grams, garbage filters, quality.

Mirrors the reference's fixed internal text functions (garbage-chunk filter
reference src/chunker/semantic-chunker.ts:65-84, min-length filter :163-167,
ngram(2,3) FTS tokenizer src/vectordb/index.ts:258-271) plus the
training-data-pipeline analytics (language-ID heuristic, quality scoring,
token counting, fingerprinting) that a 100 TB corpus pipeline needs.

Everything here is a pure Column expression (JVM-side). The duckdb oracle
re-expresses the same logic in SQL; keep formulas in sync with
``mcp_local_rag_spark/queries.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization

# the word-token separator: a run of anything but lowercase ASCII letters
# and digits (applied after lowercasing)
TOKEN_SPLIT = "[^a-z0-9]+"
_TOKEN_SPLIT_RE = re.compile(TOKEN_SPLIT)


def tokens(col: Column) -> Column:
    """Lowercase word tokens: split on non-alphanumeric runs, drop empties.

    ``array_remove`` (codegen'd builtin) rather than a lambda ``F.filter``
    — higher-order functions evaluate interpreted per element, and this
    expression sits on the hottest path of every tokenizing query."""
    return F.array_remove(F.split(F.lower(col), TOKEN_SPLIT), "")


def query_terms(text: str) -> list[str]:
    """``tokens`` on the driver, for a query string: the terms the
    postings are built with. A whitespace split would leave punctuation
    attached ('spark,'), and such a term can never match a posting."""
    return [t for t in _TOKEN_SPLIT_RE.split(text.lower()) if t]


def char_ngrams(col: Column, n: int) -> Column:
    """Distinct-position character n-grams of the lowercased string.

    The reference's FTS tokenizer is ngram(min=2, max=3) over text for CJK
    support. Strings shorter than ``n`` produce an empty array (guarded:
    Spark's ``sequence(1, 0)`` would otherwise produce a descending range).
    """
    def ngrams_of(s: Column) -> Column:
        count = F.length(s) - F.lit(n - 1)
        return F.when(
            count >= 1,
            F.transform(
                F.sequence(F.lit(1), count), lambda i: s.substr(i, F.lit(n))
            ),
        ).otherwise(F.array().cast("array<string>"))

    # let-bind the lowercased string (same discipline as word_shingles):
    # referencing lower(col) inside the lambda would re-lowercase the
    # whole string once per ngram position
    return F.element_at(F.transform(F.array(F.lower(col)), ngrams_of), 1)


def word_shingles(col: Column, k: int) -> Column:
    """k-word shingles (space-joined) over `tokens(col)`; empty if < k tokens.

    The token array is LET-BOUND via a 1-element ``transform`` so the
    regex split runs once per row: referencing ``tokens(col)`` directly
    inside the per-shingle lambda would inline the whole split expression
    at every ``element_at`` site, and higher-order lambdas evaluate
    interpreted with no common-subexpression elimination — so the text
    was re-split k x n_shingles times per doc. Measured on
    text_repetition at sf0.1 (min-of-3): lane 8.1 s -> 1.7 s, with the
    unbound shingle projection alone accounting for 6.7 s."""

    def shingles_of(toks: Column) -> Column:
        count = F.size(toks) - F.lit(k - 1)
        return F.when(
            count >= 1,
            F.transform(
                F.sequence(F.lit(0), count - 1),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, (i + j + 1)) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(col)), shingles_of), 1)


# ---------------------------------------------------------------------------
# training-data analytics

# tiny marker-word lists per language for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "una"),
    "de": ("der", "die", "und", "das", "ein", "nicht", "ist"),
    "fr": ("le", "la", "les", "et", "des", "une", "est"),
}


def lang_marker_score(col: Column, lang: str) -> Column:
    """Count of marker-word hits for one language over the token array."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(markers, t)))


def predict_lang(col: Column, default: str = "und") -> Column:
    """Argmax of marker scores with deterministic tie-break by language code."""
    expr = F.lit(default)
    best = F.lit(-1)
    # reverse-sorted iteration with a strict '>' means the FIRST-processed
    # (alphabetically LAST) language keeps ties — 'fr' beats 'en' on an
    # equal score. The DuckDB oracle's CASE chain (queries/ext.py langid)
    # encodes the same order; changing this tie-break breaks parity.
    for lang in sorted(LANG_MARKERS, reverse=True):
        score = lang_marker_score(col, lang)
        expr = F.when(score > best, F.lit(lang)).otherwise(expr)
        best = F.greatest(score, best)
    return F.when(best <= 0, F.lit(default)).otherwise(expr)


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    alnum_sp = F.length(F.regexp_replace(col, "[^A-Za-z0-9 ]", ""))
    return F.when(n > 0, (n - alnum_sp).cast("double") / n).otherwise(F.lit(0.0))


def distinct_token_ratio(col: Column) -> Column:
    toks = tokens(col)
    return F.when(
        F.size(toks) > 0,
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))


def quality_score(col: Column, target_len: int = 500) -> Column:
    """Composite [0,1] quality: length saturation + lexical diversity
    + (1 - punctuation noise). Weights 0.4 / 0.3 / 0.3."""
    len_part = F.least(F.length(col).cast("double") / F.lit(float(target_len)), F.lit(1.0))
    return (
        F.lit(0.4) * len_part
        + F.lit(0.3) * distinct_token_ratio(col)
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(col))
    )


# BPE-ish token counting: alpha runs, digit runs, and isolated symbols each
# count as one token — a cheap proxy for subword tokenizer counts.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def whitespace_token_count(col: Column) -> Column:
    return F.size(F.filter(F.split(col, "\\s+"), lambda x: x != F.lit("")))


def bpe_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, alnum words, single
    spaces. One replace suffices — space is in the replaced class, so the
    output can never contain a run of spaces."""
    return F.trim(F.regexp_replace(F.lower(col), TOKEN_SPLIT, " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint = md5 of the normalized text (whole-doc hash).

    For rolling/windowed fingerprints see operators/dedup.py (minhash/simhash).
    """
    return F.md5(normalized_text(col))


# ---------------------------------------------------------------------------
# PII scrubbing (training-data curation)
#
# Patterns are restricted to the Java-regex ∩ RE2 common subset (no
# backreferences, no lookaround) so the DuckDB oracle runs the literally
# identical pattern strings. Order matters for REDACTION only: URLs are
# replaced first, so an address embedded in a URL is swallowed by <URL>
# before later patterns run. pii_counts, by contrast, counts each pattern
# independently over the RAW text (its DuckDB oracle does the same), so an
# email inside a URL counts as BOTH url and email — per-kind hit counts,
# not disjoint-span totals.

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
)


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind match counts, keyed by pattern name (cast to long)."""
    return {
        name: F.regexp_count(col, F.lit(pat)).cast("long")
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(col: Column) -> Column:
    """Replace every PII match with its placeholder token, in PII_PATTERNS
    order. Pure JVM regexp_replace chain — no UDF in the hot path."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out
