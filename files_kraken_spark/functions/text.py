"""Text-analysis expressions for large-scale training-data pipelines.

All pure Catalyst column expressions — at 100 TB of documents these run
inside whole-stage codegen with zero Python crossings. Heuristics are
deliberately simple/deterministic so a SQL oracle can replicate them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny English stopword list for the language-ID heuristic. Must stay in
# sync with the oracle SQL (queries registry builds both from here).
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def tokens(col: Column) -> Column:
    """Whitespace tokenization; no empty tokens (split on runs)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: split on whitespace AND on
    letter/digit/punct boundaries — a cheap proxy for BPE token counts
    used for budget accounting in data pipelines."""
    pieces = F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    return F.size(pieces)


def stopword_hits(col: Column) -> Column:
    """Total occurrences of EN stopwords as standalone words."""
    pat = r"\b(?:" + "|".join(EN_STOPWORDS) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), F.lit(0)))


def lang_id(col: Column, threshold: float = 0.05) -> Column:
    """N-gram/stopword language-ID heuristic: 'en' if stopword density
    over tokens exceeds ``threshold``, else 'unknown'."""
    n = token_count(col)
    density = stopword_hits(col) / F.when(n > 0, n)
    return F.when(density >= threshold, F.lit("en")).otherwise(F.lit("unknown"))


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return n_punct / F.when(F.length(col) > 0, F.length(col))


def mean_word_len(col: Column) -> Column:
    t = tokens(col)
    total = F.aggregate(F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x)
    return total / F.when(F.size(t) > 0, F.size(t))


def quality_score(col: Column) -> Column:
    """Composite doc-quality score in [0,1]: rewards moderate length,
    low punctuation density, and word lengths in the natural-language
    band. Deterministic arithmetic only (oracle-able)."""
    n = token_count(col)
    len_score = F.least(n / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(F.coalesce(punct_ratio(col), F.lit(0.0)) * 5.0, F.lit(1.0))
    mwl = F.coalesce(mean_word_len(col), F.lit(0.0))
    word_score = F.when((mwl >= 3.0) & (mwl <= 8.0), F.lit(1.0)).otherwise(F.lit(0.5))
    # raw double — per-row IEEE arithmetic is bit-equal across engines,
    # while round() tie behavior is not
    return (len_score + punct_score + word_score) / 3.0


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse
    whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of normalized text (md5 chosen because
    every engine computes the identical digest — cross-engine
    verifiable, unlike murmur/xxhash)."""
    return F.md5(normalize_text(col))


def shingles_from_tokens(t: Column, k: int = 3, pad_short: bool = False) -> Column:
    """k-word shingles from an already-materialized token array column.

    ``pad_short``: docs with 1 ≤ tokens < k contribute their WHOLE text
    as a single shingle instead of none. This is the containment-path
    contract (a 2-word doc pasted into a book is the canonical
    short-in-long case containment exists to catch — with no shingle it
    would be invisible). Jaccard/MinHash callers keep the default
    (sub-k docs have no signature), matching their SQL oracles.

    Callers should project ``tokens(text)`` into a real column first —
    inlining the tokenizer here makes Spark re-evaluate the split for
    every slide index (no CSE inside lambda bodies): O(n²) per doc.
    """
    n = F.size(t)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    full = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, k)))
    if not pad_short:
        return full
    whole = F.array(F.concat_ws(" ", t))
    return F.when(n >= k, full).when(n >= 1, whole).otherwise(full)
