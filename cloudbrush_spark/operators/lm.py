"""Corpus-trained n-gram language-model scoring — the CCNet/Gopher-style
quality lever: score every document by its average bigram log-probability
under a model trained on a REFERENCE corpus (a trusted high-quality set),
and gate or stratify on the score.

Published shape (Wenzek et al., CCNet; Rae et al., Gopher): an LM trained
on a clean corpus assigns low perplexity to fluent text and high
perplexity to boilerplate/gibberish; filtering or bucketing by perplexity
is one of the highest-leverage cleanup passes a pretraining pipeline
runs.  The n-gram form is exactly expressible as DataFrame aggregates —
no external model, no Python in the hot path:

- **train** (:func:`bigram_lm`): two hash aggregates over the reference
  corpus (unigram + bigram counts).  At 100 TB the model tables are
  bounded by vocabulary (typically millions of rows — tiny next to the
  corpus) and shuffles carry (word, count) pairs only.
- **score** (:func:`lm_score`): explode each document into adjacent
  token pairs, LEFT join the two count tables (broadcast when the model
  fits, shuffle-hash otherwise — both correct), and aggregate the add-k
  smoothed ``avg log((c(w1,w2)+k) / (c(w1)+k*V))`` per document.  One
  pass, one shuffle on the document id; OOV tokens fall through the
  left join to the smoothed floor.

Determinism: counts are exact integers in any engine; the log/avg is
float (per-engine deterministic, cross-engine ULP-sensitive), so the
driver contract checks counts exactly and score SEPARATION (a planted
fluent doc must outscore planted gibberish by a wide margin) rather than
hashing raw floats — a contract row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudbrush_spark.functions import text


def _bigrams(toks):
    """Adjacent token pairs of a token array column, as struct(w1, w2)."""
    return F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))


def bigram_lm(ref_docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> tuple[DataFrame, DataFrame, int]:
    """Train the model: (unigrams, bigrams, vocab_size).

    ``unigrams`` = (w1, c1) counts over all CONTEXT positions (every
    token that starts a bigram), ``bigrams`` = (w1, w2, c2); both exact
    integer hash aggregates.  ``vocab_size`` is the distinct token count
    (the smoothing denominator's V), computed once driver-side."""
    toks = text.tokens(text_col)
    pairs = ref_docs.select(F.explode(_bigrams(toks)).alias("p")) \
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bigrams = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    unigrams = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = ref_docs.select(F.explode(toks).alias("w")) \
        .agg(F.countDistinct("w")).first()[0]
    return unigrams, bigrams, int(vocab)


def lm_score(docs: DataFrame, unigrams: DataFrame, bigrams: DataFrame,
             vocab_size: int, k: float = 1.0, id_col: str = "doc_id",
             text_col: str = "text",
             broadcast_model: bool = True) -> DataFrame:
    """Per-document average bigram log-probability (add-``k`` smoothed)
    under the trained model; higher = more reference-like.

    Output: (id_col, n_bigrams, avg_logprob) — one row per input doc;
    documents with < 2 tokens score the smoothed unknown-bigram floor
    (they give the model no evidence either way).  ``broadcast_model``
    hints both model tables broadcast (right for vocabulary-bounded
    models; flip off to let stats/AQE pick a shuffle join when the model
    is huge)."""
    if k <= 0:
        raise ValueError("add-k smoothing needs k > 0 (zero-count "
                         "bigrams would hit log(0))")
    toks = text.tokens(text_col)
    pairs = docs.select(F.col(id_col),
                        F.explode_outer(_bigrams(toks)).alias("p")) \
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = F.broadcast(unigrams) if broadcast_model else unigrams
    big = F.broadcast(bigrams) if broadcast_model else bigrams
    V = float(vocab_size)
    floor = F.log((F.lit(0.0) + k) / (F.lit(0.0) + k * V))
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .withColumn(
            "lp",
            F.when(F.col("w1").isNull(), floor)  # <2-token doc sentinel
            .otherwise(F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + k)
                / (F.coalesce(F.col("c1"), F.lit(0)) + k * V))))
    )
    return scored.groupBy(id_col).agg(
        F.sum(F.col("w1").isNotNull().cast("long")).alias("n_bigrams"),
        F.avg("lp").alias("avg_logprob"))

