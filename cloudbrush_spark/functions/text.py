"""Text-analysis expression kit for the LLM-data-pipeline operators.

Everything here is a pure Catalyst expression (no Python UDF) so the text
operators run JVM-side inside whole-stage codegen.  These generalize the
reference's sequence/k-mer machinery (src/Brush/BuildHighKmerList.java,
src/Brush/CountKmer.java) to natural-language tokens, and add the
language-ID / quality-scoring / fingerprinting surface a training-data
pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword-hit
# language-ID heuristic.  Deliberately small: the heuristic is
# "count distinctive function-word hits per language, argmax".
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "para", "en", "que", "no"],
    "zh": ["de5", "shi4", "le5", "zai4", "wo3", "you3", "he2", "ren2", "zhe4", "ta1"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["as", "with", "on", "at", "by", "an", "be", "this", "are", "or"]


def tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens (punctuation/whitespace delimited).

    One regex pass: split directly on non-alphanumeric runs (equivalent
    token stream to strip-then-split, half the regex work per row)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (fast path: no array materialization)."""
    col = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def char_shingles(name: str, n: int) -> Column:
    """Array of character n-grams of column *name* (SQL-expr, codegen-friendly)."""
    return F.expr(
        f"transform(sequence(1, greatest(length({name}) - {n} + 1, 0)), i -> substring({name}, i, {n}))"
    )


def char_shingles_arr(col: Column, n: int) -> Column:
    """Array of character n-grams of an arbitrary expression ``col``.

    Same zip_with construction as word_shingles (see below): the input
    expression is referenced a constant n+1 times per row instead of once
    per output element, so expensive upstream pipelines (normalization,
    tokenization) are not re-evaluated O(len) times."""
    chars = F.split(col, r"(?!^)")
    # size from the STRING length, not the char array: split's (?!^) also
    # matches at end-of-string, appending a bogus empty trailing element
    m = F.greatest(F.length(col) - n + 1, F.lit(0))
    out = F.slice(chars, 1, m)
    for i in range(1, n):
        out = F.zip_with(out, F.slice(chars, i + 1, m),
                         lambda a, b: F.concat(a, b))
    return out


def word_shingles(tokens_col: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) from a token array column.

    Built as zip_with over n shifted slices, NOT transform+slice-per-index:
    higher-order lambdas defeat common-subexpression elimination, so a
    per-element ``slice(tokens_col, i, n)`` re-evaluates the whole token
    expression once per output element (O(len^2) regex work when
    ``tokens_col`` is a tokenizer pipeline).  The zip form references the
    token array a constant n+1 times per row.
    """
    m = F.greatest(F.size(tokens_col) - n + 1, F.lit(0))
    out = F.slice(tokens_col, 1, m)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(tokens_col, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return out


def punct_ratio(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise((n - stripped) / n)


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are English stopwords."""
    return stopword_ratio_from_tokens(tokens(col))


def stopword_ratio_from_tokens(tok: Column) -> Column:
    """``stopword_ratio`` over an already-tokenized array (the threading
    variant — see ``fingerprint_from_tokens``)."""
    per_tok = F.size(F.filter(tok, lambda t: t.isin(*STOPWORDS_EN)))
    n = F.size(tok)
    return F.when(n == 0, F.lit(0.0)).otherwise(per_tok / n)


def mean_word_len(col: Column | str) -> Column:
    return mean_word_len_from_tokens(tokens(col))


def mean_word_len_from_tokens(tok: Column) -> Column:
    """``mean_word_len`` over an already-tokenized array (threading
    variant)."""
    n = F.size(tok)
    total = F.aggregate(tok, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(total / n)


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized token stream.

    Collapses case / punctuation / whitespace variants to one key — the
    text analogue of the reference's canonical-form dedup key
    (src/Brush/GenNonContainedReads.java:118-126).
    """
    col = F.col(col) if isinstance(col, str) else col
    return fingerprint_from_tokens(tokens(col))


def fingerprint_from_tokens(toks_col: Column) -> Column:
    """``fingerprint`` over an already-tokenized array — the threading
    variant for pipelines that materialize the token array once and reuse
    it across stages (gate -> exact dedup -> shingles) instead of paying
    the tokenizer regex per stage."""
    return F.md5(F.concat_ws(" ", toks_col))
