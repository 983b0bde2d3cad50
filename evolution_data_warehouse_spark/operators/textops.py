"""Text-analysis operators for large-scale training-data pipelines.

All pure `pyspark.sql.functions` compositions (JVM-side, codegen'd,
no Python in the hot path) so they stream through a 100 TB corpus at
scan speed. Beyond the reference's surface (north-star extension).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: language ID here is a cheap streaming
# heuristic, not a model.
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ein"],
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "los", "y", "las", "una"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "不", "了", "在"],
}

TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_ws(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(text, " ")


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Count of whitespace tokens that are in ``words``."""
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(
        F.filter(tokens_ws(F.lower(text)), lambda x: F.array_contains(lst, x))
    )


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, words) for lang, words in STOPWORDS.items()}


def predict_lang(scores: dict[str, Column]) -> Column:
    """Argmax with deterministic first-wins tie-break in lang-name order."""
    langs = sorted(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit(langs[0])
    # Build CASE WHEN s_lang >= best THEN lang chained in sorted order.
    out = None
    for lang in langs:
        cond = scores[lang] >= best
        out = F.when(cond, F.lit(lang)) if out is None else out.when(cond, F.lit(lang))
    return out.otherwise(expr)


def token_counts(text: Column) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish regex token count)."""
    n_ws = F.size(tokens_ws(text))
    n_re = F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), F.lit(0)))
    return n_ws, n_re


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Two documents with the same bag of words collide — the
    classic near-dup canonicalization key."""
    toks = F.array_sort(F.array_distinct(tokens_ws(F.lower(text))))
    return F.md5(F.concat_ws(" ", toks))


def word_ngrams(tokens: Column, k: int, distinct: bool = False) -> Column:
    """All k-token word n-grams of a tokens array, space-joined, in
    order: ``size(tokens) - k + 1`` strings, or an empty array when the
    document has fewer than k tokens. The single builder for every word
    shingle, bigram and n-gram feature (dedup shingles, decontamination,
    bigram statistics, the streaming dedup index), so no two consumers
    can tokenize differently; :func:`k_gram_windows` below is the
    position-keyed form the span-dedup family needs. ``distinct``
    deduplicates inside the length guard (the n-gram novelty shape);
    the shingle callers wrap the result in ``array_distinct`` instead."""
    n = F.size(tokens)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(
            " ", *(F.element_at(tokens, i + j) for j in range(1, k + 1))
        ),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def k_gram_windows(tokens: Column, k: int) -> Column:
    """All k-token sliding windows of a tokens array, joined with a
    single space — array of length ``size(tokens) - k + 1``. The single
    source for every window-gram construction (span dedup, blocklist
    matching): window i (1-based) covers tokens [i, i+k-1], so
    ``posexplode`` over this array yields 0-based positions that become
    the engine-wide 1-based token-position convention via ``pos + 1``.
    Callers must filter ``size(tokens) >= k`` first (Spark's
    ``sequence`` runs DESCENDING for a negative span instead of
    yielding an empty array)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - k + 1),
        lambda i: F.array_join(F.slice(tokens, i, k), " "),
    )
