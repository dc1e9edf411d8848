"""Corpus-level reporting: the "data card" a released training corpus
ships with, computed in one pass — per-source and per-language volumes,
quality/length distributions, exact-duplicate rate, token-count
quantiles, and sketch-vs-exact contracts for the approximate forms
(HyperLogLog distinct counts, quantile sketches) that a 100 TB run
would use instead of the exact aggregates.

The text generalization of the reference's reporting family
(src/Brush/CountReads.java, KmerStatus.java, the A1 stats job): reduce
the corpus to bounded per-group frames first, then do any ordered work
on those frames, never on raw rows.

Output is tall canonical rows (k1, k2, v1, v2, v3) — BIGINT values so
every row is engine-portable and hashable:

- ('source',  <source>, n_docs, n_tokens, 0)
- ('lang',    <lang>,   n_docs, 0, 0)
- ('quality_decile', '0'..'9', n_docs, 0, 0)
- ('len_bits', <len(bin(ws_tokens))>, n_docs, 0, 0)   # integer log2 bucket
- ('corpus',  'all', n_docs, total_tokens, 0)
- ('dup', 'exact_fp', n_distinct_fingerprints, n_redundant_docs, 0)
- ('sketch', 'distinct_fp', exact_distinct, 0, hll_ok)
- ('tokens_q', 'p25'|'p50'|'p75'|'p90', exact_quantile, 0, sketch_ok)

The sketch rows are contract rows: the hashed
values are the EXACT numbers (cross-engine recomputable); the
approximate estimator's agreement is folded into the ok flag, which the
oracle emits as trivially true — a sketch drifting outside tolerance
flips the flag and breaks the row hash.

Scale shape: one projection computes all per-doc features, cut once and
fanned into bounded hash aggregates (map-side partials, group counts
bounded by |sources| + |langs| + 10 + ~60 length bits).  The quantile
cumsum runs on the distinct-token-count histogram (a bounded frame),
never on rows — the a1_size_distribution lesson.  The only driver-scale
objects are the final tall rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import text as textfn
from cloudbrush_spark.operators import textops
from cloudbrush_spark.plans import cut

QUANTILES = ((25, "p25"), (50, "p50"), (75, "p75"), (90, "p90"))


def _tall(k1, k2, v1, v2=None, v3=None):
    return [
        F.lit(k1).alias("k1") if isinstance(k1, str) else k1.alias("k1"),
        k2.cast("string").alias("k2") if not isinstance(k2, str) else F.lit(k2).alias("k2"),
        v1.cast("long").alias("v1"),
        (v2 if v2 is not None else F.lit(0)).cast("long").alias("v2"),
        (v3 if v3 is not None else F.lit(0)).cast("long").alias("v3"),
    ]


def corpus_report(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", source_col: str = "source",
                  hll_rsd: float = 0.05,
                  pct_accuracy: int = 10000) -> DataFrame:
    """One-pass corpus data card — see module docstring for the row
    catalogue.  ``hll_rsd``/``pct_accuracy`` parameterize the sketch
    legs (approx_count_distinct / percentile_approx); their agreement
    tolerance is 10% for the HLL (2x its target rsd) and 5%-or-±1 for
    the quantile sketch."""
    feats = cut(docs.select(
        F.col(source_col).alias("src"),
        textfn.token_count(text_col).cast("long").alias("ws"),
        textops.quality_col(text_col).alias("q"),
        textops.lang_pred_col(text_col).alias("lang"),
        textfn.fingerprint(text_col).alias("fp"),
    ))

    src = feats.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"), F.sum("ws").alias("t")).select(
        *_tall("source", F.col("src"), F.col("n"), F.col("t")))
    lang = feats.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).select(
        *_tall("lang", F.col("lang"), F.col("n")))
    # quality in [0,1] rounded to 4 places -> decile floor(q*10), top-
    # clamped so q=1.0 lands in decile 9; integer-exact in any engine
    qdec = feats.groupBy(
        F.least(F.floor(F.col("q") * 10), F.lit(9)).cast("int").alias("d")
    ).agg(F.count(F.lit(1)).alias("n")).select(
        *_tall("quality_decile", F.col("d"), F.col("n")))
    # integer log2 length bucket: number of binary digits of ws_tokens
    # (len(bin(x)) — floating log2 rounds differently across engines at
    # exact powers of two, a wrong-bucket hazard; string length of the
    # binary form is integer-exact everywhere)
    lbits = feats.groupBy(
        F.length(F.expr("bin(ws)")).alias("bits")
    ).agg(F.count(F.lit(1)).alias("n")).select(
        *_tall("len_bits", F.col("bits"), F.col("n")))

    totals = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ws").alias("t"),
        F.count_distinct("fp").alias("d_exact"),
        F.approx_count_distinct("fp", hll_rsd).alias("d_hll"),
        F.percentile_approx(
            "ws", [p / 100.0 for p, _ in QUANTILES], pct_accuracy
        ).alias("pa"))
    corpus = totals.select(*_tall("corpus", "all", F.col("n"), F.col("t")))
    dup = totals.select(*_tall(
        "dup", "exact_fp", F.col("d_exact"), F.col("n") - F.col("d_exact")))
    # HLL contract: exact value hashed, estimator agreement in the flag
    hll_ok = (F.abs(F.col("d_hll") - F.col("d_exact")) * 10
              <= F.col("d_exact"))
    sketch = totals.select(*_tall(
        "sketch", "distinct_fp", F.col("d_exact"), F.lit(0),
        hll_ok.cast("long")))

    # exact discrete quantiles from the token-count HISTOGRAM: smallest
    # ws with running count >= ceil(pct * n / 100) — the cumsum runs on
    # the bounded distinct-value frame, not on rows
    hist = feats.groupBy("ws").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(
            Window.orderBy("ws").rowsBetween(Window.unboundedPreceding, 0)))
    spark = docs.sparkSession
    qdf = spark.createDataFrame(list(QUANTILES), "pct int, name string")
    # cum*100 >= pct*n  <=>  cum >= ceil(pct*n/100), integer-exact
    exact_q = (
        cum.crossJoin(F.broadcast(qdf.crossJoin(totals.select("n", "pa"))))
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("pct", "name", "n", "pa")
        .agg(F.min("ws").alias("exact"))
    )
    # sketch agreement: within 5% of exact, or within +-1 token
    approx = F.element_at(
        F.col("pa"),
        F.when(F.col("pct") == 25, 1).when(F.col("pct") == 50, 2)
         .when(F.col("pct") == 75, 3).otherwise(4))
    q_ok = ((F.abs(approx - F.col("exact")) * 20 <= F.col("exact"))
            | (F.abs(approx - F.col("exact")) <= 1))
    tokens_q = exact_q.select(*_tall(
        "tokens_q", F.col("name"), F.col("exact"), F.lit(0),
        q_ok.cast("long")))

    out = src
    for leg in (lang, qdec, lbits, corpus, dup, sketch, tokens_q):
        out = out.unionByName(leg)
    return out


def heavy_tokens(docs: DataFrame, text_col: str = "text",
                 threshold_pct: int = 2,
                 fi_support: float = 0.01) -> DataFrame:
    """Vocabulary heavy hitters with a frequent-items sketch contract —
    the data card's "most common tokens" section.

    Exact side: explode tokens -> hash-aggregate counts -> keep tokens
    whose corpus share STRICTLY exceeds ``threshold_pct``% (integer-
    exact: cnt*100 > pct*total, no float division).  Output is bounded
    by construction: at most 100/threshold_pct rows can exceed the
    share.

    Sketch side: ``df.stat.freqItems`` — the single-pass streaming
    frequent-items algorithm (Karp/Misra-Gries family: per-partition
    candidate summaries, merged associatively; the form a 100 TB run
    uses when a full token group-by is too expensive).  Its guarantee
    is one-sided: every item with share > support IS returned (false
    positives possible, false negatives not).  Run at a support BELOW
    the reporting threshold (0.01 < 0.02 default) so the guarantee
    covers every reported row with margin; ``fi_ok``=1 iff the exact
    heavy hitter appears in the sketch's candidate list.  The hashed
    values are the EXACT counts — sketch agreement only flips the flag
    (the HLL contract-row pattern).

    Scale note: the token stream is deliberately NOT checkpointed — it
    is read twice (exact aggregate + sketch), trading a second linear
    scan for never materializing the exploded 100 TB token column.
    """
    if not 0 < fi_support * 100 < threshold_pct:
        raise ValueError(
            f"fi_support ({fi_support}) must sit below the reporting "
            f"threshold ({threshold_pct}%) or its soundness guarantee "
            "does not cover the reported rows")
    toks = docs.select(F.explode(textfn.tokens(text_col)).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_tok"))
    fi = toks.stat.freqItems(["tok"], support=fi_support)
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 100 > F.lit(threshold_pct) * F.col("n_tok"))
        .crossJoin(F.broadcast(fi))
        .select(
            "tok", "cnt",
            F.array_contains(F.col("tok_freqItems"), F.col("tok"))
            .cast("long").alias("fi_ok"))
    )
