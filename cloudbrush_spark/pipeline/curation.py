"""End-to-end training-data curation: the composite a 100 TB LLM-corpus
pipeline actually runs, as one operator.

Stage order mirrors the reference driver's preprocess chain (quality gate
-> exact dedup -> near-dup resolution -> emit; BrushAssembler's
preprocess/GenNonContainedReads/RedundantRemoval sequencing,
src/Brush/BrushAssembler.java:829-893), re-targeted at documents:

1. **Gate** — quality score x language-ID x token-count bounds
   (``operators/textops.py``): pure column expressions, zero shuffle.
   Optional decontamination (n-gram / semantic) and PRIOR-RELEASE
   cross-corpus dedup (``dedup.cross_corpus_near_dups``) drop flagged
   survivors here via broadcastable anti-joins.
2. **Exact dedup** — normalized-fingerprint hash aggregate, min-id
   survivor (P1's survivor contract,
   src/Brush/GenNonContainedReads.java:174-248).
3. **Near-dup cluster dedup** — MinHash/LSH verified pairs -> hash-min
   connected components -> keep each cluster's representative.  Linear in
   corpus size (the cluster product, not the quadratic pair enumeration).
   The scheme is fixed in ``operators/dedup.py`` (word 3-gram shingles,
   16 minhashes in 4 bands of 4 rows, Jaccard >= 0.5).
4. **Split** — deterministic md5-bucket train/val/test assignment
   (90/5/5, fixed in ``sampling.assign_split``), reproducible under any
   repartitioning.

Scale shape: every stage is an already-audited operator; the composite
adds NO new shuffle pattern.  The gate and split are narrow; exact dedup
is one hash aggregate on a bounded digest key; the near-dup stage is the
banded LSH join with bucket caps (docs in ``operators/dedup.py``); the
component loop's rounds are bounded by cluster diameter.  Survivor
filtering between stages is left-semi (never materializes the dropped
side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudbrush_spark.functions import text
from cloudbrush_spark.operators import dedup, sampling, textops
from cloudbrush_spark.plans import cut


def _nd_barrier(c):
    """Identity on any column, marked NON-DETERMINISTIC: ``shuffle`` of a
    one-element array always returns that element, but Catalyst may not
    reorder, duplicate or push predicates through a non-deterministic
    expression — the expression-tree analogue of
    ``udf.asNondeterministic()`` (optimization guide §4.4).

    Why it is load-bearing here (r15, measured): predicate pushdown
    SUBSTITUTES a filter on a projected column with the column's
    defining expression, so the gate filter (quality/lang/ws bounds)
    was re-deriving the whole tokenizer/regex chain below the
    projection — every gated document paid the tokenizer twice (once
    in the pushed filter, once in the surviving projection), and at
    fixture scale the substituted filter additionally sank below the
    scan-widening exchange onto the single pre-widen task (4.5
    executor-CPU-s single-threaded at sf0.1).  Wrapped, the filter
    references the materialized column and the chain runs once."""
    return F.shuffle(F.array(c)).getItem(0)


def gate_features(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The curate gate's per-document feature projection as a standalone
    product: (id, __toks, ws_tokens, quality, lang_pred).  Every column
    is a PURE function of the document's own text — no cross-document
    state.  Two chained narrow projections, zero shuffle: the first
    materializes the tokenizer regex ONCE as ``__toks`` and the second
    derives every token-level feature from that array (the
    ``*_from_tokens`` variants) — the standalone column helpers each
    rebuild the tokenizer expression, and codegen subexpression
    elimination does not reliably dedupe the copies across the
    lambda-function trees (measured ~20% off the projection at sf0.1;
    CollapseProject keeps the split because ``__toks`` is non-cheap and
    multiply referenced)."""
    toks = F.col("__toks")
    best = textops.lang_best_from_tokens(toks)
    # _nd_barrier on the two expensive roots (the tokenizer array and
    # the whitespace count): every downstream gate filter then consumes
    # the MATERIALIZED columns instead of a pushed-down copy of their
    # defining expression chains — see _nd_barrier for the measured
    # duplication this removes
    return docs.select(
        F.col(id_col), F.col(text_col),
        _nd_barrier(text.tokens(text_col)).alias("__toks"),
    ).select(
        F.col(id_col),
        toks.alias("__toks"),
        _nd_barrier(text.token_count(text_col).cast("long"))
        .alias("ws_tokens"),
        textops.quality_col_from_tokens(text_col, toks).alias("quality"),
        F.when(best["hits"] == 0, F.lit("und")).otherwise(best["lang"])
        .alias("lang_pred"))


def curate(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
           *, quality_min: float = 0.5, lang: str = "en",
           min_tokens: int = 10, max_tokens: int = 1000,
           benchmark: DataFrame | None = None,
           decontam_n: int = 13,
           benchmark_vectors: DataFrame | None = None,
           corpus_vectors: DataFrame | None = None,
           semantic_threshold: float = 0.95,
           vec_id_col: str = "vec_id",
           reference_docs: DataFrame | None = None) -> DataFrame:
    """Curated-corpus manifest: one row per surviving document with its
    split assignment and headline features.

    Output: (id_col, split, ws_tokens, quality) — the manifest a sink
    joins back to the raw corpus to publish the final partitioned
    training set.
    """
    # gate: ONE projection — quality, language and token count are pure
    # column expressions over the same row (textops column helpers), so
    # the whole stage is narrow; joining the per-feature DataFrame forms
    # here would shuffle the full corpus twice for no semantic gain.
    # The token ARRAY is materialized here once and THREADED through the
    # stage cut to the fingerprint and shingle stages (which consume
    # tokens, not raw text) — without it each downstream stage re-runs
    # the tokenizer regex over the survivors; the raw text column is
    # dropped after the gate, so the checkpoint carries tokens in its
    # place rather than both
    kept = gate_features(docs, id_col, text_col).filter(
        (F.col("quality") >= quality_min) & (F.col("lang_pred") == lang)
        & F.col("ws_tokens").between(min_tokens, max_tokens))

    # optional benchmark decontamination (operators/guard.py): drop gated
    # docs sharing a decontam_n-gram with the held-out eval set.  Runs on
    # the THREADED token arrays (no re-tokenization); the contaminated id
    # set is small, so the anti-join broadcasts under AQE.
    if benchmark is not None:
        from cloudbrush_spark.operators import guard
        contaminated = (
            guard.decontaminate(kept, benchmark, id_col=id_col,
                                text_col=text_col, n=decontam_n,
                                tokens_col="__toks")
            .filter("contaminated").select(id_col))
        kept = kept.join(contaminated, id_col, "left_anti")

    # optional SEMANTIC decontamination (guard.semantic_decontaminate):
    # drop docs whose embedding sits within semantic_threshold cosine of
    # any benchmark embedding — the paraphrase/translation contamination
    # the n-gram rule misses.  ``corpus_vectors`` maps the same document
    # ids to embeddings (vec_id_col names its id column); the flagged id
    # set is tiny, so the anti-join broadcasts under AQE.
    if benchmark_vectors is not None:
        from cloudbrush_spark.operators import guard
        if corpus_vectors is None:
            raise ValueError(
                "benchmark_vectors given without corpus_vectors — semantic "
                "decontamination needs the corpus side's embeddings")
        sem = (
            guard.semantic_decontaminate(
                corpus_vectors, benchmark_vectors,
                threshold=semantic_threshold, id_col=vec_id_col)
            .filter("contaminated")
            .select(F.col(vec_id_col).alias(id_col)))
        kept = kept.join(sem, id_col, "left_anti")

    # optional PRIOR-RELEASE dedup (dedup.cross_corpus_near_dups): drop
    # gated docs that near-duplicate a document of the previous release —
    # the cross-corpus operation a within-corpus near-dup cannot see.
    # Runs on the THREADED token arrays (new side; the reference side
    # tokenizes itself), overcap='star' like the self near-dup stage so
    # mass template duplication across releases still matches; the
    # flagged id set is small, so the anti-join broadcasts under AQE.
    if reference_docs is not None:
        prior_hits = (
            dedup.cross_corpus_near_dups(
                kept, reference_docs, id_col=id_col, text_col=text_col,
                overcap="star", new_tokens_col="__toks")
            .select(F.col("new_id").alias(id_col)).distinct())
        kept = kept.join(prior_hits, id_col, "left_anti")

    # exact dedup: min-id survivor per normalized fingerprint (the same
    # survivor contract as dedup.fingerprint_dedup, computed from the
    # threaded tokens) — as ONE min_by aggregate carrying the survivor's
    # whole row (the p1_dedup pattern).  The previous agg-then-semi-join
    # form referenced ``kept`` twice, and the regex-heavy gate projection
    # (the dominant per-byte cost of the stage) executed once per branch
    # (measured at sf0.1: the gate filter ran 2x, 4.1 s + 2.4 s inside
    # one 8 s stage — guide §7.2 duplicated-subtree check).  min_by
    # keeps exactly the min-id row per fingerprint with map-side partial
    # aggregation, so mass duplication collapses BEFORE the exchange and
    # the broadcast-unfriendly survivor-id set (billions of ids at
    # corpus scale) never exists.  src then fans out into three
    # independent branches (the MinHash pair stage, the cluster
    # singleton universe, the final feature join) — cut the lineage
    # once, like the operators' own fan-out pattern (plans.cut).
    src = cut(
        kept.withColumn("fp", text.fingerprint_from_tokens(F.col("__toks")))
        .groupBy("fp")
        .agg(F.min_by(F.struct(F.col(id_col), F.col("ws_tokens"),
                               F.col("quality"), F.col("__toks")),
                      F.col(id_col)).alias("s"))
        .select("s.*"))

    # near-dup cluster dedup: keep each cluster's representative.
    # overcap='star' so mass near-dup boilerplate (over-cap LSH buckets,
    # which the pair product deliberately drops) is still deduplicated:
    # each over-cap bucket contributes linear (rep, member) candidates,
    # exact-Jaccard verified like every other pair.  Shingles are the
    # word n-grams of the threaded token arrays (no re-tokenization),
    # the same stream ``dedup.minhash_dedup_pairs`` builds from text.
    shingles = (
        src.select(F.col(id_col),
                   F.explode(text.word_shingles(F.col("__toks"),
                                                dedup.SHINGLE_N))
                   .alias("sh")))
    pairs = dedup.minhash_dedup_pairs_from_shingles(
        shingles, id_col=id_col, overcap="star")
    clusters = dedup.dedup_clusters(pairs, items=src.select(id_col),
                                    id_col=id_col)
    reps = clusters.filter(F.col("member") == F.col("cluster_rep")) \
        .select(F.col("member").alias(id_col))

    out = sampling.assign_split(reps, id_col)
    return out.join(src.select(id_col, "ws_tokens", "quality"), id_col) \
        .select(id_col, "split", "ws_tokens", "quality")
