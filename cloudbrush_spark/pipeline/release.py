"""Full corpus-release composite: curate -> mixture -> shard-pack ->
publish, as ONE resumable pipeline.

This is the document analogue of the reference's single driver chain —
one invocation runs preprocess through convertFasta with stage gating and
restartable partial runs (src/Brush/BrushAssembler.java:829-893,
runStage/checkDone :132-155).  Here the chain is:

0. **scrub** (optional, ``operators/guard.boilerplate_scrub``) —
   cross-document repeated-line removal over the raw corpus, so every
   downstream stage (gating, fingerprints, shard weights, the published
   text) sees the cleaned documents.
0b. **spanscrub** (optional, ``operators/guard.span_scrub``) —
   cross-document repeated-PASSAGE removal (ExactSubstr-style, no
   newline structure needed); also pre-curate, so token counts and
   shard weights are computed on the masked text.  The post-publish
   ``audit_spans`` stage remains the read-back check that the
   published corpus carries no residual repeats.
1. **curate** (``pipeline/curation.curate``) — gate -> exact dedup ->
   near-dup cluster dedup -> split manifest (optionally benchmark-
   decontaminated).
2. **mixture** (``operators/sampling.mixture_resample``) — domain
   re-weighting over the curated survivors: down-sample boilerplate
   domains, up-sample curated ones (``copy`` column keys the duplicates).
2b. **budget** (optional, ``operators/sampling.budget_select`` /
   ``budget_select_per_source``) — quality-ordered token-budget cap
   over the mixture rows: spend the release's token budget (global or
   per-domain) on the best surviving rows before packing.
3. **pack** (``operators/sampling.pack_shards``) — deterministic
   token-budget shard assignment over the mixture rows; identity is
   ``doc_id#copy`` so up-sampled copies pack as independent rows.
4. **publish** (``sources/corpus.publish_corpus``) — split-partitioned
   parquet with bounded balanced files, each row carrying its (copy,
   shard_id, offset).
5. **report** (optional, ``operators/report.corpus_report``) — the
   release's data card computed over the corpus AS PUBLISHED (read-back,
   per-split volumes), written to ``out_path/report.parquet``.

Resumability mirrors ``pipeline/assembler.Assembler._stage``: with
``checkpoint_dir`` set, each stage persists its output parquet plus a
``_DONE`` marker and a finished stage is LOADED, not recomputed, on the
next run — what makes a multi-day 100 TB release restartable after a
mid-pipeline failure.

Scale shape: every stage is an already-audited operator; the composite
adds no new shuffle pattern.  The mixture stage is narrow (filter +
bounded explode); pack is the bucketed two-phase cumsum (no global
one-task sort); the only new join is release-manifest -> corpus inside
the publish sink (broadcastable after heavy curation, AQE-splittable
otherwise).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudbrush_spark.operators import sampling
from cloudbrush_spark.pipeline import curation
from cloudbrush_spark.plans import cut
from cloudbrush_spark.sources import corpus as corpus_sink


class ReleasePipeline:
    """Stage-checkpointed driver for :func:`release` — instantiate once
    per run; ``counters`` records which stages loaded from checkpoint
    (``loaded_<stage>``) vs computed (``ran_<stage>``)."""

    def __init__(self, spark: SparkSession,
                 checkpoint_dir: str | None = None,
                 verbose: bool = False):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.verbose = verbose
        self.counters: dict[str, int] = {}

    def _log(self, msg: str) -> None:
        if self.verbose:
            import time
            print(f"[release {time.strftime('%H:%M:%S')}] {msg}", flush=True)

    def _stage(self, name: str, fn, fuse: bool = False) -> DataFrame:
        """Run ``fn`` or load its persisted result — the reference's
        runStage/checkDone machinery keyed by completion markers.

        ``fuse=True`` marks a SINGLE-CONSUMER, deterministic stage
        (budget, pack — pure projections/cumsums over the cut mixture
        frame) whose output may stay LAZY when there is no durable
        checkpoint: it fuses into its consumer's plan instead of paying
        its own materialization job chain (r14 verdict #1 — at fixture
        scale the release's wall was ~70 sequential driver round-trips,
        not data).  With ``checkpoint_dir`` set the stage is persisted
        exactly as before: fusion never weakens the restart contract.
        """
        if not self.checkpoint_dir:
            # no durable checkpoint: still CUT each multi-consumer
            # stage (in-memory materialization) — a lazy plan would
            # re-execute the whole upstream chain (the regex-heavy
            # curate DAG) per use.  ``cut`` returns a stage's output
            # unchanged when the stage already cut it (the embdedup gate
            # does, so it can unpersist its cached drop frame eagerly).
            self.counters[f"ran_{name}"] = 1
            out = fn()
            return out if fuse else cut(out)
        # markers go through the Hadoop FS API so a checkpoint_dir on
        # HDFS/S3 resumes exactly like a local one (os.path marker
        # checks silently never resume there, and the marker write
        # fails outright)
        from cloudbrush_spark.sources.corpus import fs_exists, fs_write_text
        base = f"{self.checkpoint_dir}/{name}"
        marker = f"{base}/_DONE"
        data = f"{base}/data"
        if fs_exists(self.spark, marker):
            self.counters[f"loaded_{name}"] = 1
            self._log(f"stage {name}: loaded from checkpoint")
            return self.spark.read.parquet(data)
        out = fn()
        out.write.mode("overwrite").parquet(data)
        fs_write_text(self.spark, marker, "done")
        self.counters[f"ran_{name}"] = 1
        self._log(f"stage {name}: computed and checkpointed")
        return self.spark.read.parquet(data)

    def run(self, docs: DataFrame, out_path: str, *,
            id_col: str = "doc_id", text_col: str = "text",
            source_col: str = "source",
            mixture_weights: dict[str, float] | None = None,
            mixture_seed: str = "mixture",
            token_budget: int | None = None,
            source_token_budgets: dict[str, int] | None = None,
            budget: int | None = None, shard_buckets: int = 1024,
            pack_seed: str = "pack",
            files_per_split: int = 16,
            benchmark: DataFrame | None = None,
            boilerplate_max_df: int | None = None,
            scrub_spans_min_df: int | None = None,
            scrub_spans_n: int = 13,
            report: bool = False,
            audit_spans: bool = False,
            cache_features: bool = False,
            bucketed_publish: bool = False,
            publish_bucket_width: int | None = None,
            prev_corpus_path: str | None = None,
            prev_manifest: DataFrame | None = None,
            publish_changed_ids: DataFrame | None = None,
            dsir_target: DataFrame | None = None,
            embeddings: DataFrame | None = None,
            prior_embeddings: DataFrame | None = None,
            embedding_dim: int | None = None,
            embedding_threshold: float = 0.95,
            **curate_kw) -> DataFrame:
        """Run the full release; returns the RELEASE MANIFEST — one row
        per published row: (id, copy, split, shard_id, offset, ws_tokens,
        quality).  Also written to ``out_path/release_manifest.parquet``;
        the corpus itself lands split-partitioned at ``out_path/corpus``.

        ``mixture_weights=None`` keeps every curated survivor once
        (copy=1); ``token_budget``/``source_token_budgets`` (mutually
        exclusive) cap the released tokens by quality, globally or per
        source; ``budget=None`` skips shard packing (shard_id=0,
        offset=0 — one unbounded shard).  ``boilerplate_max_df`` enables
        the cross-document repeated-line scrub
        (``operators/guard.boilerplate_scrub``) as stage 0: the WHOLE
        chain — gating features, token counts, dedup fingerprints, shard
        weights AND the published text — then sees the scrubbed corpus,
        not just the gate (scrubbing after packing would desynchronize
        ws_tokens from the text the shards actually contain).
        ``scrub_spans_min_df`` likewise enables the repeated-passage
        scrub (``operators/guard.span_scrub``, word-``scrub_spans_n``
        grams shared by >= min_df docs) as stage 0b, with the same
        before-everything placement and the same consistency argument.

        ``bucketed_publish`` writes the corpus in the directory-bucketed
        layout (``corpus.publish_corpus(bucketed=True)``, optionally
        id-range buckets via ``publish_bucket_width``) — required of a
        release that will serve as the BASE of incremental publishes.
        ``prev_corpus_path``/``prev_manifest``/``publish_changed_ids``
        (all three together) switch the publish stage to
        ``corpus.publish_corpus_incremental``: only bucket directories
        the delta touches are rewritten, the rest carry over from the
        previous release through the Hadoop FileSystem API (hardlinks
        on local ``file:`` releases) — rows pinned identical either
        way.

        ``embeddings``/``prior_embeddings`` (together; per-doc
        ``(id_col, embedding array<double>)`` for THIS corpus and for
        the previous release) enable the cross-corpus EMBEDDING DEDUP
        gate right after curation: new documents whose embedding
        near-duplicates (cosine >= ``embedding_threshold``) anything in
        the prior release are dropped from the manifest — the
        "train only on content we haven't already shipped" product
        (``similarity.cross_corpus_embedding_near_dups``; prior-release
        ids are namespaced internally, so overlapping doc_id spaces are
        fine — an UNCHANGED doc embedding-matches itself and is
        dropped, which is the point of this gate; do not combine with a
        base snapshot that should keep unchanged docs unless that is
        what you want).  Composes with the incremental publish (the
        gate only shrinks the manifest; dirty detection sees the
        difference) and with the feature cache (gate features are
        text-side and unaffected).

        ``dsir_target`` (a ``(id_col, text_col)`` corpus of the domain
        you want more of) enables the DSIR stage: per-published-doc
        importance weights ``avg log p_target − avg log p_raw`` under
        two corpus-trained bigram LMs (``lm.importance_weights``, Xie
        et al. 2023), written as the ``dsir.parquet`` side table for a
        downstream resample/budget pass.  A side output — it never
        changes the published rows, so it composes with everything."""
        if (embeddings is None) != (prior_embeddings is None):
            raise ValueError(
                "the embedding-dedup gate needs embeddings AND "
                "prior_embeddings together")
        if prev_corpus_path is not None and (
                prev_manifest is None or publish_changed_ids is None):
            raise ValueError(
                "incremental publish needs prev_corpus_path, "
                "prev_manifest AND publish_changed_ids together")
        if boilerplate_max_df is not None:
            def _scrub() -> DataFrame:
                from cloudbrush_spark.operators import guard
                cleaned = guard.boilerplate_scrub(
                    docs, id_col=id_col, text_col=text_col,
                    max_df=boilerplate_max_df)
                other = [c for c in docs.columns if c != text_col]
                return docs.select(*other).join(
                    cleaned.select(
                        F.col(id_col),
                        F.col("clean_text").alias(text_col)),
                    id_col)
            docs = self._stage("scrub", _scrub)
        if scrub_spans_min_df is not None:
            # cross-document repeated-PASSAGE removal (guard.span_scrub)
            # as a second stage-0 scrub — BEFORE curate, so gating
            # features, token counts, dedup fingerprints, shard weights
            # and the published text all see the masked corpus (masking
            # after packing would desynchronize ws_tokens from the text
            # the shards actually contain — the desync the post-publish
            # audit_spans placement exists to avoid).  Runs after the
            # line-level scrub: surviving lines can still form repeated
            # passages, the reverse cannot.
            def _spanscrub() -> DataFrame:
                from cloudbrush_spark.operators import guard
                cleaned = guard.span_scrub(
                    docs, id_col=id_col, text_col=text_col,
                    n=scrub_spans_n, min_df=scrub_spans_min_df)
                other = [c for c in docs.columns if c != text_col]
                return docs.select(*other).join(
                    cleaned.select(
                        F.col(id_col),
                        F.col("clean_text").alias(text_col)),
                    id_col)
            docs = self._stage("spanscrub", _spanscrub)
        if cache_features and (boilerplate_max_df is not None
                               or scrub_spans_min_df is not None):
            # provenance guard, mirror of incremental_release's: a cache
            # written here would hold features of the SCRUBBED text, but
            # the consumer (incremental_release) diffs RAW-text digests
            # and would silently reuse them for 'keep' docs — ws_tokens/
            # quality desync from the snapshot text and the 'identical
            # to from-scratch' guarantee breaks.  Refuse at write time so
            # a scrub-derived cache can never exist to be consumed.
            raise ValueError(
                "cache_features is incompatible with the cross-document "
                "scrub stages (boilerplate_max_df / scrub_spans_min_df): "
                "the cache would hold scrubbed-text features that a later "
                "incremental_release — which compares raw-text digests — "
                "would silently reuse; run scrubbed releases without the "
                "feature cache")
        if cache_features and curate_kw.get("features") is None:
            # seed the per-document feature cache an incremental_release
            # consumes next crawl: compute the gate projection once here
            # (curate reuses it — no double tokenization) and persist it
            # alongside the release outputs
            curate_kw["features"] = self._stage(
                "features",
                lambda: curation.gate_features(docs, id_col=id_col,
                                               text_col=text_col))
        manifest = self._stage(
            "curate",
            lambda: curation.curate(docs, id_col=id_col, text_col=text_col,
                                    benchmark=benchmark, **curate_kw))

        if embeddings is not None:
            # cross-corpus embedding dedup gate (r11): runs BEFORE
            # mixture/budget/pack so a dropped doc never competes for
            # the token budget or a shard slot
            def _embdedup() -> DataFrame:
                from cloudbrush_spark.operators import similarity
                new_v = (embeddings
                         .join(manifest.select(id_col), id_col, "left_semi")
                         .select(F.col(id_col), "embedding"))
                dim = embedding_dim
                if dim is None:
                    row = embeddings.select(
                        F.size("embedding").alias("d")).first()
                    dim = int(row.d) if row else 1
                # namespace prior ids negative: the operator requires
                # disjoint id spaces, and release N's doc_ids legally
                # overlap release N+1's
                ref_v = prior_embeddings.select(
                    (-F.col(id_col) - 1).alias(id_col), "embedding")
                matched = similarity.cross_corpus_embedding_near_dups(
                    new_v, ref_v, dim=dim, threshold=embedding_threshold,
                    seed=42, id_col=id_col, vec_col="embedding", tables=8)
                drop = matched.select(F.col("a").alias(id_col)).distinct() \
                    .persist()
                try:
                    self.counters["embdedup_dropped"] = drop.count()
                    # cut the join HERE so the cached drop frame can be
                    # released before returning — _stage materializes
                    # lazily-returned frames after this function exits,
                    # which would leak the cached blocks per release in
                    # a long-lived session
                    return cut(manifest.join(drop, id_col, "left_anti"))
                finally:
                    drop.unpersist()

            manifest = self._stage("embdedup", _embdedup)

        def _mixture() -> DataFrame:
            if mixture_weights is None:
                return manifest.withColumn("copy", F.lit(1))
            # weights key on the corpus's source/domain column: join it
            # onto the manifest (survivors only — mixture runs on the
            # CURATED corpus, matching how a release re-balances domains
            # after cleaning, not before)
            src = docs.select(id_col, source_col)
            return (
                sampling.mixture_resample(
                    manifest.join(src, id_col),
                    mixture_weights, source_col=source_col,
                    id_col=id_col, seed=mixture_seed)
                .select(id_col, "split", "ws_tokens", "quality", "copy"))

        mixture = self._stage("mixture", _mixture)

        if token_budget is not None and source_token_budgets is not None:
            raise ValueError(
                "token_budget and source_token_budgets are mutually "
                "exclusive — a global cap with per-source caps inside it "
                "is ambiguous; pick one allocation")

        def _budget() -> DataFrame:
            # quality-ordered token-budget cap over the MIXTURE rows
            # (sampling.budget_select): spend the release's token budget
            # on the best surviving rows, globally or per domain.  Runs
            # after mixture so an up-sampled copy competes as its own
            # row (identity doc_id#copy, like packing).
            rel = mixture.withColumn(
                "rel_id",
                F.concat(F.col(id_col).cast("string"), F.lit("#"),
                         F.col("copy").cast("string")))
            if source_token_budgets is not None:
                src = docs.select(id_col, source_col)
                sel = sampling.budget_select_per_source(
                    rel.join(src, id_col), "ws_tokens", "quality",
                    source_token_budgets, source_col=source_col,
                    id_col="rel_id")
            else:
                sel = sampling.budget_select(
                    rel, "ws_tokens", "quality", token_budget,
                    id_col="rel_id")
            return rel.join(sel.select("rel_id"), "rel_id").drop("rel_id")

        if token_budget is not None or source_token_budgets is not None:
            # single consumer (pack / rel_manifest below) and a pure
            # deterministic selection over the cut mixture frame —
            # fuses into the rel_manifest cut when not checkpointing
            mixture = self._stage("budget", _budget, fuse=True)

        def _pack() -> DataFrame:
            if budget is None:
                return mixture.select(
                    id_col, "copy",
                    F.lit(0).cast("long").alias("shard_id"),
                    F.lit(0).cast("long").alias("offset"))
            # identity for packing is doc_id#copy: an up-sampled copy is
            # an independent training row and must pack independently
            rel = mixture.select(
                F.concat(F.col(id_col).cast("string"), F.lit("#"),
                         F.col("copy").cast("string")).alias("rel_id"),
                id_col, "copy", F.col("ws_tokens"))
            packed = sampling.pack_shards(
                rel, "ws_tokens", id_col="rel_id", budget=budget,
                buckets=shard_buckets, seed=pack_seed)
            return (
                packed.join(rel.select("rel_id", id_col, "copy"), "rel_id")
                .select(id_col, "copy", "shard_id", "offset"))

        shards = self._stage("pack", _pack, fuse=True)

        rel_manifest = (
            mixture.join(shards, [id_col, "copy"])
            .select(id_col, "copy", "split", "shard_id", "offset",
                    "ws_tokens", "quality"))
        if not self.checkpoint_dir:
            # the fused budget/pack plans and the manifest join land in
            # ONE materialization here: publish consumes rel_manifest
            # twice (the corpus join and the manifest write), so without
            # a cut the fused chain would re-execute per consumer.  Net
            # vs the per-stage cuts: two checkpoint job chains -> one,
            # identical rows (deterministic md5-keyed samplers).
            rel_manifest = cut(rel_manifest)

        def _publish() -> DataFrame:
            if prev_corpus_path is not None:
                stats = corpus_sink.publish_corpus_incremental(
                    docs, rel_manifest, os.path.join(out_path, "corpus"),
                    prev_corpus_path, prev_manifest, publish_changed_ids,
                    id_col=id_col, files_per_split=files_per_split,
                    carry_cols=("copy", "shard_id", "offset"),
                    bucket_width=publish_bucket_width)
                self.counters["publish_rewritten"] = stats["rewritten"]
                self.counters["publish_carried"] = stats["carried"]
            else:
                corpus_sink.publish_corpus(
                    docs, rel_manifest, os.path.join(out_path, "corpus"),
                    id_col=id_col, files_per_split=files_per_split,
                    carry_cols=("copy", "shard_id", "offset"),
                    bucketed=bucketed_publish,
                    bucket_width=publish_bucket_width)
            rel_manifest.write.mode("overwrite").parquet(
                os.path.join(out_path, "release_manifest.parquet"))
            if cache_features:
                curate_kw["features"].write.mode("overwrite").parquet(
                    os.path.join(out_path, "features.parquet"))
            return self.spark.read.parquet(
                os.path.join(out_path, "release_manifest.parquet"))

        out = self._stage("publish", _publish)

        if report:
            # the release's DATA CARD, computed over the corpus as
            # PUBLISHED (read-back, per-split volumes) — what actually
            # shipped, not what was intended to ship
            def _report() -> DataFrame:
                from cloudbrush_spark.operators.report import corpus_report
                back = corpus_sink.read_corpus(
                    self.spark, os.path.join(out_path, "corpus"))
                card = corpus_report(back, text_col=text_col,
                                     source_col="split")
                card.write.mode("overwrite").parquet(
                    os.path.join(out_path, "report.parquet"))
                return self.spark.read.parquet(
                    os.path.join(out_path, "report.parquet"))

            self._stage("report", _report)

        if audit_spans:
            # repeated-content audit over the corpus as PUBLISHED: the
            # maximal cross-document repeated passages that survived
            # curation (guard.repeated_spans) — the memorization-risk
            # appendix of the data card.  Deliberately an AUDIT, not a
            # scrub: span removal changes token counts after packing.
            def _spans() -> DataFrame:
                from cloudbrush_spark.operators.guard import repeated_spans
                back = corpus_sink.read_corpus(
                    self.spark, os.path.join(out_path, "corpus"))
                sp = repeated_spans(
                    back.select(F.col(id_col), F.col(text_col)).distinct(),
                    id_col=id_col, text_col=text_col)
                sp.write.mode("overwrite").parquet(
                    os.path.join(out_path, "spans.parquet"))
                return self.spark.read.parquet(
                    os.path.join(out_path, "spans.parquet"))

            self._stage("spans", _spans)

        if dsir_target is not None:
            # DSIR importance weights over the PUBLISHED documents (one
            # row per distinct published id), as the dsir.parquet side
            # table — the input to a later "resample toward the target
            # domain" pass (weights feed sampling.mixture_resample /
            # budget_select).  Never mutates the release itself.
            def _dsir() -> DataFrame:
                from cloudbrush_spark.operators import lm
                survivors = (docs
                             .join(out.select(id_col).distinct(), id_col,
                                   "left_semi")
                             .select(F.col(id_col), F.col(text_col)))
                t_model = lm.bigram_lm(dsir_target, id_col=id_col,
                                       text_col=text_col)
                r_model = lm.bigram_lm(survivors, id_col=id_col,
                                       text_col=text_col)
                w = lm.importance_weights(survivors, t_model, r_model,
                                          id_col=id_col, text_col=text_col)
                w.write.mode("overwrite").parquet(
                    os.path.join(out_path, "dsir.parquet"))
                return self.spark.read.parquet(
                    os.path.join(out_path, "dsir.parquet"))

            self._stage("dsir", _dsir)
        return out


def release(spark: SparkSession, docs: DataFrame, out_path: str,
            checkpoint_dir: str | None = None, verbose: bool = False,
            counters: dict | None = None, **kw) -> DataFrame:
    """Functional wrapper over :class:`ReleasePipeline` — see
    :meth:`ReleasePipeline.run` for the stage chain and keyword surface.
    ``counters``, if given, receives the run's stage/observability
    counters (ran_/loaded_ per stage, publish carry stats,
    ``embdedup_dropped`` when an embedding gate ran)."""
    pipe = ReleasePipeline(spark, checkpoint_dir=checkpoint_dir,
                           verbose=verbose)
    out = pipe.run(docs, out_path, **kw)
    if counters is not None:
        counters.update(pipe.counters)
    return out


def incremental_release(spark: SparkSession, base_docs: DataFrame,
                        crawl_docs: DataFrame, out_path: str, *,
                        prev_features: DataFrame | None = None,
                        prev_release_path: str | None = None,
                        delete_missing: bool = True,
                        checkpoint_dir: str | None = None,
                        verbose: bool = False,
                        id_col: str = "doc_id", text_col: str = "text",
                        counters: dict | None = None,
                        **kw) -> DataFrame:
    """Release N+1 from release N's snapshot plus an incoming crawl —
    the "don't re-tokenize the world per crawl" form of :func:`release`.

    1. **delta** — ``joins.merge_upsert`` reconciles the snapshots by
       key over pre-join md5 digests (the shuffle carries hashes, never
       text): insert / update / keep / delete per document.
    2. **snapshot** — the new corpus: crawl rows win for insert/update,
       base rows survive for keep, deletes drop (``delete_missing=False``
       treats the crawl as a partial view — absent keys keep).
    3. **features** — the curate gate's per-document projection
       (``curation.gate_features``: tokens / ws_tokens / quality /
       lang_pred) is recomputed ONLY for inserted/updated documents;
       unchanged documents reuse ``prev_features`` (the cache the
       previous release wrote to ``out_path/features.parquet``).  Sound
       because every gate feature is a pure function of the document's
       own text — at 100 TB this is the dominant per-byte cost (the
       regex/tokenizer pass), and a crawl that touches 1% of the corpus
       re-pays 1% of it.
    4. The standard release chain runs on the snapshot with the cached
       features injected — every CROSS-document stage (exact dedup,
       near-dup clusters, mixture, budget, packing, publish) recomputes
       globally, so the output is IDENTICAL to a from-scratch release of
       the same snapshot (pytest-pinned in tests/test_release.py).

    The corpus-wide scrub stages are incompatible with the feature
    cache — ``boilerplate_scrub``/``span_scrub`` rewrite OLD documents'
    text when the delta shifts a line/passage's document frequency, so
    cached per-document features would be stale; passing either scrub
    option raises.

    ``prev_release_path`` additionally makes the PUBLISH stage
    incremental: the previous release's manifest
    (``<prev>/release_manifest.parquet``) and bucketed corpus
    (``<prev>/corpus``) let ``corpus.publish_corpus_incremental``
    rewrite only the bucket directories the delta touches and carry
    the rest over (Hadoop FS API; hardlinks when both releases are
    local) — the previous release must have been published with
    ``bucketed_publish=True`` (this call forces it for the new output,
    so release N+2 can chain).  Published rows stay identical to a
    from-scratch release (pytest-pinned); pass ``publish_bucket_width``
    matching the base release's.

    Returns the release manifest (see :meth:`ReleasePipeline.run`); also
    writes ``out_path/delta.parquet`` (the action manifest) and
    ``out_path/features.parquet`` (the feature cache for release N+2)."""
    if kw.get("boilerplate_max_df") is not None \
            or kw.get("scrub_spans_min_df") is not None:
        raise ValueError(
            "incremental_release cannot combine the cross-document scrub "
            "stages with feature caching: a delta changes other "
            "documents' scrubbed text, so cached per-document features "
            "would be stale — run a full release() for scrubbed corpora")
    from cloudbrush_spark.operators.joins import merge_upsert
    pipe = ReleasePipeline(spark, checkpoint_dir=checkpoint_dir,
                           verbose=verbose)
    actions = pipe._stage("delta", lambda: merge_upsert(
        base_docs.select(id_col, text_col),
        crawl_docs.select(id_col, text_col),
        id_col=id_col, cmp_cols=(text_col,),
        delete_missing=delete_missing))
    changed = actions.filter(F.col("action").isin("insert", "update")) \
        .select(id_col)
    kept = actions.filter(F.col("action") == "keep").select(id_col)
    snapshot = (
        crawl_docs.join(changed, id_col, "left_semi")
        .unionByName(base_docs.join(kept, id_col, "left_semi")))

    def _features() -> DataFrame:
        from cloudbrush_spark.pipeline import curation as _cur
        fresh = _cur.gate_features(
            crawl_docs.join(changed, id_col, "left_semi"),
            id_col=id_col, text_col=text_col)
        if prev_features is None:
            # no cache (first increment): the kept side computes too
            return fresh.unionByName(_cur.gate_features(
                base_docs.join(kept, id_col, "left_semi"),
                id_col=id_col, text_col=text_col))
        return fresh.unionByName(
            prev_features.join(kept, id_col, "left_semi")
            .select(*fresh.columns))

    feats = pipe._stage("features", _features)
    if prev_release_path is not None:
        kw.setdefault("bucketed_publish", True)
        kw["prev_corpus_path"] = os.path.join(prev_release_path, "corpus")
        kw["prev_manifest"] = spark.read.parquet(
            os.path.join(prev_release_path, "release_manifest.parquet"))
        kw["publish_changed_ids"] = actions.filter(
            F.col("action") != "keep").select(id_col)
    manifest = pipe.run(snapshot, out_path, id_col=id_col,
                        text_col=text_col, features=feats, **kw)
    actions.write.mode("overwrite").parquet(
        os.path.join(out_path, "delta.parquet"))
    feats.write.mode("overwrite").parquet(
        os.path.join(out_path, "features.parquet"))
    if counters is not None:
        counters.update(pipe.counters)
    return manifest
