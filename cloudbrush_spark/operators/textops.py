"""Document-level text analysis operators: language ID, quality scoring,
token counting, fingerprinting.

All pure column expressions over the ``documents`` table — the text
generalization of the reference's per-read classification jobs
(trusted-read min-aggregate src/Brush/IdentifyTrustedReads.java:73-94,
A-statistic classification src/Brush/CutRepeatBoundary.java:306-315).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import text


def lang_best_col(text_col: str):
    """Column expression: (hits, lang) struct of the argmax language —
    marker-token hit count with deterministic tie-break on language code."""
    return lang_best_from_tokens(text.tokens(text_col))


def lang_best_from_tokens(toks):
    """``lang_best_col`` over an already-tokenized array (threading
    variant — lets a caller that materialized the token array once feed
    it to every marker scan instead of re-building the tokenizer
    expression per language)."""
    hit_cols = []
    for lang, markers in sorted(text.LANG_MARKERS.items()):
        hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        hit_cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    return F.array_max(F.array(*hit_cols))


def lang_pred_col(text_col: str):
    """Column expression: predicted language code, or ``'und'`` when no
    language scored a single marker hit.  Without the zero-evidence
    guard the argmax tie-break would deterministically return the
    GREATEST language code — so gibberish, numbers-only text, and any
    script the tokenizer strips (CJK: ``tokens()`` splits on
    ``[^a-z0-9]+``) would all be confidently 'identified' as that
    language, and a gate on it would pass arbitrary documents."""
    best = lang_best_col(text_col)
    return F.when(best["hits"] == 0, F.lit("und")).otherwise(best["lang"])


def quality_col(text_col: str):
    """Column expression: the composite quality score in [0, 1], rounded
    to 4 places (the same value ``quality_score`` emits)."""
    return quality_col_from_tokens(text_col, text.tokens(text_col))


def quality_col_from_tokens(text_col: str, toks):
    """``quality_col`` with the alphanumeric token array supplied by the
    caller (threading variant): the whitespace token count and the
    punctuation ratio still read the raw text (different delimiters —
    that is their contract), but the mean-word-length and stopword
    terms derive from ``toks``."""
    n_tokens = text.token_count(text_col)
    mwl = text.mean_word_len_from_tokens(toks)
    pr = text.punct_ratio(text_col)
    sr = text.stopword_ratio_from_tokens(toks)
    score = (
        F.when(n_tokens >= 20, F.lit(0.25)).otherwise(n_tokens / 20.0 * 0.25)
        + F.when((mwl >= 3) & (mwl <= 10), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(pr <= 0.2, F.lit(0.25)).otherwise(F.greatest(F.lit(0.0), (F.lit(0.4) - pr) / 0.2 * 0.25))
        + F.least(sr / 0.2, F.lit(1.0)) * 0.25
    )
    return F.round(score, 4)


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword-hit language heuristic: count marker-token hits per
    language, argmax with deterministic tie-break on language code.

    Output: doc_id, lang_pred, lang_hits.
    """
    best = lang_best_col(text_col)
    # derive the prediction from the SAME best struct (not a second
    # lang_pred_col call, which would build the whole per-language
    # marker-scan tree twice per projection)
    return docs.select(
        "doc_id",
        F.when(best["hits"] == 0, F.lit("und"))
         .otherwise(best["lang"]).alias("lang_pred"),
        best["hits"].cast("long").alias("lang_hits"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1].

    Features: length, token count, mean word length, punctuation ratio,
    stopword ratio.  The composite mirrors common pretraining-data filters
    (Gopher/C4-style rules): penalize too-short docs, extreme word lengths,
    punctuation soup, and stopword-free token salad.
    """
    return docs.select(
        "doc_id",
        F.length(text_col).cast("long").alias("n_chars"),
        text.token_count(text_col).cast("long").alias("n_tokens"),
        F.round(text.mean_word_len(text_col), 4).alias("mean_word_len"),
        F.round(text.punct_ratio(text_col), 4).alias("punct_ratio"),
        F.round(text.stopword_ratio(text_col), 4).alias("stopword_ratio"),
        quality_col(text_col).alias("quality"),
    )


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        window: int = 4) -> DataFrame:
    """Winnowing (MOSS-style) rolling fingerprints: hash every char
    k-gram of the normalized text, keep the minimum hash of each sliding
    ``window`` of consecutive k-grams, output the distinct selected
    hashes.  Guarantees any shared substring of length >= k + window - 1
    yields a shared fingerprint — partial-overlap detection, where the
    whole-document md5 only catches exact duplicates.

    Plan shape: posexplode the k-gram hash stream (materialized — never a
    per-element slice over a recomputed array), per-doc sliding-window min
    (bounded by doc length), distinct.  Hashes are md5-derived
    (engine-portable -> oracle-checkable).
    """
    norm = F.concat_ws(" ", text.tokens(text_col))
    grams = docs.select(
        F.col(id_col),
        F.posexplode(text.char_shingles_arr(norm, k)).alias("pos", "g"),
    )
    hashed = grams.select(
        id_col, "pos",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long").alias("hv"),
    )
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(0, window - 1))
    # window starts only where a full window exists
    n_w = Window.partitionBy(id_col)
    return (
        hashed
        .withColumn("wmin", F.min("hv").over(w))
        .withColumn("n", F.count(F.lit(1)).over(n_w))
        .filter(F.col("pos") <= F.col("n") - window)
        .select(id_col, F.col("wmin").alias("fp"))
        .distinct()
    )
