"""Full release composite (pipeline/release.py): curate -> mixture ->
shard-pack -> publish as one resumable chain — stage semantics,
checkpoint/resume (the reference's runStage/checkDone contract,
src/Brush/BrushAssembler.java:132-155), and published-corpus fidelity."""

import os

from pyspark.sql import functions as F

from cloudbrush_spark.pipeline.release import ReleasePipeline, release
from tests.test_curation import GOOD, GOOD2

# deterministic quality filler: enough distinct words, low repetition
FILLER = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon")


def _docs(spark, n=40):
    rows = []
    for i in range(n):
        base = GOOD if i % 2 == 0 else GOOD2
        rows.append((i, f"{base} {FILLER} unique token number {i} ends here",
                     "webcrawl" if i < 20 else "curated"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_release_end_to_end(spark, tmp_path):
    out = str(tmp_path / "rel")
    rel = release(spark, _docs(spark), out,
                  mixture_weights={"curated": 2.0, "webcrawl": 0.5},
                  budget=100, max_tokens=2000)
    rows = rel.collect()
    assert rows
    by_id = {}
    for r in rows:
        by_id.setdefault(r.doc_id, []).append(r)
    # mixture: curated docs appear exactly twice (w=2.0), webcrawl docs
    # at most once (w=0.5 down-samples deterministically)
    for doc_id, rs in by_id.items():
        copies = sorted(r.copy for r in rs)
        if doc_id >= 20:
            assert copies == [1, 2]
        else:
            assert copies == [1]
    # pack: offsets stay inside the budget; shard ids contiguous from 0
    shard_ids = {r.shard_id for r in rows}
    assert all(0 <= r.offset < 100 for r in rows)
    assert shard_ids == set(range(max(shard_ids) + 1))
    # publish: read-back corpus rows match the manifest 1:1 (copy-level)
    # and text round-trips
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() == len(rows)
    src_md5 = _docs(spark).select("doc_id", F.md5("text").alias("m"))
    bad = (corpus.join(src_md5, "doc_id")
           .filter(F.md5("text") != F.col("m")).count())
    assert bad == 0
    assert {"copy", "shard_id", "offset", "split"} <= set(corpus.columns)


def test_release_defaults_single_copy_single_shard(spark, tmp_path):
    rel = release(spark, _docs(spark, 10), str(tmp_path / "rel"),
                  max_tokens=2000)
    rows = rel.collect()
    assert rows and all(r.copy == 1 for r in rows)
    assert all(r.shard_id == 0 and r.offset == 0 for r in rows)


def test_release_checkpoint_resume(spark, tmp_path):
    docs = _docs(spark)
    out1, ck = str(tmp_path / "o1"), str(tmp_path / "ck")
    kw = dict(mixture_weights={"curated": 2.0, "webcrawl": 0.5},
              budget=100, max_tokens=2000)
    p1 = ReleasePipeline(spark, checkpoint_dir=ck)
    first = {(r.doc_id, r.copy, r.split, r.shard_id, r.offset)
             for r in p1.run(docs, out1, **kw).collect()}
    assert p1.counters == {"ran_curate": 1, "ran_mixture": 1,
                           "ran_pack": 1, "ran_publish": 1}

    # resume: every stage loads, nothing recomputes, output identical
    p2 = ReleasePipeline(spark, checkpoint_dir=ck)
    again = {(r.doc_id, r.copy, r.split, r.shard_id, r.offset)
             for r in p2.run(docs, out1, **kw).collect()}
    assert again == first
    assert p2.counters == {"loaded_curate": 1, "loaded_mixture": 1,
                           "loaded_pack": 1, "loaded_publish": 1}

    # partial resume: invalidate the pack stage -> curate/mixture load,
    # pack and publish recompute, output still identical
    os.remove(os.path.join(ck, "pack", "_DONE"))
    os.remove(os.path.join(ck, "publish", "_DONE"))
    p3 = ReleasePipeline(spark, checkpoint_dir=ck)
    third = {(r.doc_id, r.copy, r.split, r.shard_id, r.offset)
             for r in p3.run(docs, str(tmp_path / "o3"), **kw).collect()}
    assert third == first
    assert p3.counters == {"loaded_curate": 1, "loaded_mixture": 1,
                           "ran_pack": 1, "ran_publish": 1}


def test_release_cli(tmp_path, spark, capsys):
    from cloudbrush_spark.__main__ import main
    src = str(tmp_path / "docs.parquet")
    _docs(spark).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["-curate", src, "-out", out, "-files_per_split", "1",
               "-max_tokens", "2000",
               "-mixture", '{"curated": 2.0, "webcrawl": 0.5}',
               "-budget", "100", "-ckpt", str(tmp_path / "ck")])
    assert rc == 0
    assert "released:" in capsys.readouterr().out
    rel = spark.read.parquet(os.path.join(out, "release_manifest.parquet"))
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert rel.count() == corpus.count() > 0


def _varied_docs(spark, n=30):
    """Docs distinct enough to SURVIVE the near-dup cluster dedup (the
    `_docs` fixture collapses to ~2 reps) with per-doc quality spread:
    a shared English base plus a doc-specific gibberish tail whose
    varying length shifts the stopword-ratio component."""
    rows = []
    for i in range(n):
        tail = " ".join(f"tok{i}x{j}" for j in range(10 + (i * 7) % 20))
        rows.append((i, f"{GOOD} {FILLER} {tail}",
                     "webcrawl" if i % 2 else "curated"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string")


def test_release_token_budget_stage(spark, tmp_path):
    """token_budget caps the released rows at the best mixture rows
    whose cumulative ws_tokens fit — exactly the single-threaded
    (quality DESC, doc_id#copy) cumsum over the uncapped release."""
    docs = _varied_docs(spark)
    kw = dict(mixture_weights={"curated": 2.0, "webcrawl": 0.5},
              max_tokens=2000)
    full = release(spark, docs, str(tmp_path / "full"), **kw).collect()
    assert len(full) >= 10  # the varied fixture must survive dedup
    budget = sum(r.ws_tokens for r in full) * 6 // 10
    capped = release(spark, docs, str(tmp_path / "cap"),
                     token_budget=budget, **kw).collect()

    start, want = 0, set()
    for r in sorted(full, key=lambda r: (-r.quality, f"{r.doc_id}#{r.copy}")):
        if start + r.ws_tokens <= budget:
            want.add((r.doc_id, r.copy))
        start += r.ws_tokens
    got = {(r.doc_id, r.copy) for r in capped}
    assert got == want
    assert 0 < len(got) < len(full)
    assert sum(r.ws_tokens for r in capped) <= budget
    # the published corpus shrinks with the manifest
    corpus = spark.read.parquet(str(tmp_path / "cap" / "corpus"))
    assert corpus.count() == len(capped)


def test_release_per_source_budget_isolated_and_exclusive(spark, tmp_path):
    docs = _varied_docs(spark)
    full = release(spark, docs, str(tmp_path / "full"), max_tokens=2000)
    full_by_src = {r.source: r.n for r in
                   (full.join(docs.select("doc_id", "source"), "doc_id")
                    .groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                    .collect())}
    rel = release(spark, docs, str(tmp_path / "rel"), max_tokens=2000,
                  source_token_budgets={"curated": 10**6, "webcrawl": 160})
    rows = (rel.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source").agg(F.sum("ws_tokens").alias("t"),
                                   F.count(F.lit(1)).alias("n")).collect())
    by_src = {r.source: r for r in rows}
    # webcrawl squeezed under its own small cap; curated kept in full
    assert by_src["webcrawl"].t <= 160
    assert 1 <= by_src["webcrawl"].n < full_by_src["webcrawl"]
    assert by_src["curated"].n == full_by_src["curated"] > 0
    import pytest
    with pytest.raises(ValueError, match="mutually exclusive"):
        release(spark, docs, str(tmp_path / "bad"),
                token_budget=100, source_token_budgets={"curated": 10})


def test_release_budget_stage_checkpoints(spark, tmp_path):
    docs = _docs(spark)
    ck = str(tmp_path / "ck")
    kw = dict(max_tokens=2000, token_budget=500)
    p1 = ReleasePipeline(spark, checkpoint_dir=ck)
    first = {(r.doc_id, r.copy) for r in
             p1.run(docs, str(tmp_path / "o1"), **kw).collect()}
    assert p1.counters.get("ran_budget") == 1
    p2 = ReleasePipeline(spark, checkpoint_dir=ck)
    second = {(r.doc_id, r.copy) for r in
              p2.run(docs, str(tmp_path / "o2"), **kw).collect()}
    assert p2.counters.get("loaded_budget") == 1
    assert first == second and first


def test_release_cli_token_budget(tmp_path, spark, capsys):
    from cloudbrush_spark.__main__ import main
    src = str(tmp_path / "docs.parquet")
    _docs(spark).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["-curate", src, "-out", out, "-files_per_split", "1",
               "-max_tokens", "2000", "-token_budget", "500"])
    assert rc == 0
    assert "released:" in capsys.readouterr().out
    rel = spark.read.parquet(os.path.join(out, "release_manifest.parquet"))
    assert 0 < rel.agg(F.sum("ws_tokens")).collect()[0][0] <= 500


def test_release_report_stage_writes_data_card(spark, tmp_path):
    """report=True ships the release with its data card, computed over
    the corpus AS PUBLISHED (read-back, per-split volumes)."""
    out = str(tmp_path / "rel")
    rel = release(spark, _varied_docs(spark), out, max_tokens=2000,
                  report=True)
    n = rel.count()
    card = spark.read.parquet(os.path.join(out, "report.parquet"))
    rows = {(r.k1, r.k2): r for r in card.collect()}
    assert rows[("corpus", "all")].v1 == n
    split_counts = {r.split: r.n for r in rel.groupBy("split")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
    for split, cnt in split_counts.items():
        assert rows[("source", split)].v1 == cnt
    assert rows[("dup", "exact_fp")].v2 == 0  # post-dedup corpus
    assert all(r.v3 == 1 for (k1, _), r in rows.items() if k1 == "tokens_q")


def test_curate_cli_report_flag(tmp_path, spark, capsys):
    from cloudbrush_spark.__main__ import main
    src = str(tmp_path / "docs.parquet")
    _varied_docs(spark).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["-curate", src, "-out", out, "-files_per_split", "1",
               "-max_tokens", "2000", "-report"])
    assert rc == 0
    card = spark.read.parquet(os.path.join(out, "report.parquet"))
    assert card.filter("k1 = 'corpus'").count() == 1


def test_release_boilerplate_scrub_stage(spark, tmp_path):
    # planted shared line in half the docs: with boilerplate_max_df=1
    # the published text must lose it; the unique tail survives
    docs = _docs(spark).withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat("text", F.lit("\nsubscribe to our newsletter")))
        .otherwise(F.col("text")))
    out = str(tmp_path / "rel")
    rel = release(spark, docs, out, max_tokens=2000, boilerplate_max_df=1)
    assert rel.count() > 0
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.filter(
        F.col("text").contains("subscribe to our newsletter")).count() == 0
    # the scrub removes ONLY the shared line: remaining text equals the
    # original first line
    orig = {r.doc_id: r.text.split("\n")[0] for r in docs.collect()}
    for r in corpus.select("doc_id", "text").collect():
        assert r.text == orig[r.doc_id]


def test_release_scrub_stage_checkpoints(spark, tmp_path):
    docs = _docs(spark, 10).withColumn(
        "text", F.concat("text", F.lit("\nshared footer line")))
    out1, ck = str(tmp_path / "o1"), str(tmp_path / "ck")
    kw = dict(max_tokens=2000, boilerplate_max_df=1)
    p1 = ReleasePipeline(spark, checkpoint_dir=ck)
    first = {(r.doc_id, r.copy) for r in p1.run(docs, out1, **kw).collect()}
    assert p1.counters.get("ran_scrub") == 1
    p2 = ReleasePipeline(spark, checkpoint_dir=ck)
    second = {(r.doc_id, r.copy)
              for r in p2.run(docs, str(tmp_path / "o2"), **kw).collect()}
    assert p2.counters.get("loaded_scrub") == 1
    assert "ran_scrub" not in p2.counters
    assert first == second


def test_release_audit_spans_writes_repeated_content(spark, tmp_path):
    """audit_spans=True ships OUT/spans.parquet over the corpus as
    PUBLISHED.  Curation's near-dup stage collapses the fixture to one
    representative per base passage, so the audit's finding is exactly
    the residual repetition dedup could NOT remove: the shared FILLER
    region between the two surviving near-distinct docs — every
    published doc carries a span, none starts at token 1 (the bases
    differ) and none covers the distinct tails."""
    out = str(tmp_path / "rel_audit")
    release(spark, _docs(spark), out, audit_spans=True, max_tokens=2000)
    spans = spark.read.parquet(os.path.join(out, "spans.parquet"))
    assert {"doc_id", "span_start", "span_end", "n_grams"} <= set(spans.columns)
    pub = {r.doc_id for r in
           spark.read.parquet(os.path.join(out, "corpus")).collect()}
    span_docs = {r.doc_id for r in spans.collect()}
    assert span_docs == pub and len(pub) > 0   # residual repetition is real
    assert spans.filter("span_start = 1").count() == 0  # bases differ


PLANTED = ("this work is licensed under the creative commons attribution "
           "share alike four point zero international license terms")


def test_release_span_scrub_stage(spark, tmp_path):
    """scrub_spans_min_df wires guard.span_scrub as stage 0b (pre-curate):
    a passage planted verbatim across every doc is ABSENT from the
    published corpus, and because the scrub runs before curate, every
    manifest ws_tokens equals the whitespace token count of the text the
    corpus actually shipped — packing weights stay consistent."""
    docs = _docs(spark, 12).withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit(PLANTED)))
    out = str(tmp_path / "rel_spanscrub")
    pipe = ReleasePipeline(spark)
    # min_df=7: the planted passage (df=12) is scrubbed; the GOOD/GOOD2
    # bases (df=6 each) are NOT — the scrub is targeted, not a dedup
    rel = pipe.run(docs, out, max_tokens=2000, scrub_spans_min_df=7)
    assert pipe.counters.get("ran_spanscrub") == 1
    assert rel.count() > 0
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.filter(F.col("text").contains("creative commons")).count() == 0
    # bases survived the scrub
    assert corpus.filter(
        F.col("text").contains("quick brown fox") |
        F.col("text").contains("story about the sea")).count() == corpus.count()
    # token-count consistency: manifest ws_tokens == whitespace count of
    # the PUBLISHED text, row for row
    mismatched = corpus.filter(
        F.size(F.split(F.trim("text"), r"\s+")) != F.col("ws_tokens")
    ).count() if "ws_tokens" in corpus.columns else None
    if mismatched is None:
        man = spark.read.parquet(os.path.join(out, "release_manifest.parquet"))
        mismatched = (corpus.join(man.select("doc_id", "copy", "ws_tokens"),
                                  ["doc_id", "copy"])
                      .filter(F.size(F.split(F.trim("text"), r"\s+"))
                              != F.col("ws_tokens")).count())
    assert mismatched == 0
    # negative control: without the scrub the passage ships
    out2 = str(tmp_path / "rel_nospanscrub")
    release(spark, docs, out2, max_tokens=2000)
    corpus2 = spark.read.parquet(os.path.join(out2, "corpus"))
    assert corpus2.filter(F.col("text").contains("creative commons")).count() > 0


def test_release_span_scrub_checkpoints(spark, tmp_path):
    docs = _docs(spark, 8).withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit(PLANTED)))
    ck = str(tmp_path / "ck_spans")
    kw = dict(max_tokens=2000, scrub_spans_min_df=5)
    p1 = ReleasePipeline(spark, checkpoint_dir=ck)
    first = {(r.doc_id, r.copy)
             for r in p1.run(docs, str(tmp_path / "s1"), **kw).collect()}
    assert p1.counters.get("ran_spanscrub") == 1
    p2 = ReleasePipeline(spark, checkpoint_dir=ck)
    second = {(r.doc_id, r.copy)
              for r in p2.run(docs, str(tmp_path / "s2"), **kw).collect()}
    assert p2.counters.get("loaded_spanscrub") == 1
    assert "ran_spanscrub" not in p2.counters
    assert first == second


def _snapshot_and_crawl(spark):
    """Base corpus (ids 0..39) and a crawl that updates ids 0,2 (text
    change), inserts 100,101, resends 4..38 unchanged, and omits 1,3
    (deleted under delete_missing=True)."""
    base = _docs(spark)
    crawl_rows = []
    for r in base.collect():
        if r.doc_id in (1, 3):
            continue  # dropped from the new crawl
        txt = r.text + " refreshed content" if r.doc_id in (0, 2) else r.text
        crawl_rows.append((r.doc_id, txt, r.source))
    crawl_rows.append((100, f"{GOOD} {FILLER} brand new document one hundred",
                       "webcrawl"))
    crawl_rows.append((101, f"{GOOD2} {FILLER} brand new document one oh one",
                       "curated"))
    crawl = spark.createDataFrame(
        crawl_rows, "doc_id long, text string, source string")
    return base, crawl


def test_incremental_release_equals_full_release_of_snapshot(spark, tmp_path):
    """The incremental path (delta detect + cached features for keeps)
    must produce the IDENTICAL release a from-scratch run over the same
    snapshot produces — every cross-document stage recomputes."""
    from cloudbrush_spark.pipeline.release import incremental_release
    base, crawl = _snapshot_and_crawl(spark)
    kw = dict(mixture_weights={"curated": 2.0, "webcrawl": 0.5},
              budget=100, max_tokens=2000)
    # release N seeds the feature cache
    out0 = str(tmp_path / "rel0")
    release(spark, base, out0, cache_features=True, **kw)
    prev = spark.read.parquet(os.path.join(out0, "features.parquet"))

    out1 = str(tmp_path / "rel1")
    inc = incremental_release(spark, base, crawl, out1,
                              prev_features=prev, **kw)
    key = lambda r: (r.doc_id, r.copy, r.split, r.shard_id, r.offset,  # noqa: E731
                     r.ws_tokens, r.quality)
    got = sorted(key(r) for r in inc.collect())

    # from-scratch release of the same snapshot (crawl wins, 1/3 deleted)
    snapshot = crawl  # crawl resent everything it kept; 1,3 are gone
    out2 = str(tmp_path / "rel2")
    want = sorted(key(r) for r in
                  release(spark, snapshot, out2, **kw).collect())
    assert got == want
    # the delta manifest recorded all four actions
    delta = {r.doc_id: r.action for r in spark.read.parquet(
        os.path.join(out1, "delta.parquet")).collect()}
    assert delta[0] == delta[2] == "update"
    assert delta[100] == delta[101] == "insert"
    assert delta[1] == delta[3] == "delete"
    assert delta[4] == "keep"
    # deleted docs are not in the published release
    assert not {1, 3} & {t[0] for t in got}
    # the next-increment feature cache was written and covers the snapshot
    feats = spark.read.parquet(os.path.join(out1, "features.parquet"))
    assert feats.count() == crawl.count()


def test_incremental_release_actually_reuses_cached_features(spark, tmp_path):
    """Poisoned cache rows for KEPT docs must flow through (proving the
    gate projection was NOT recomputed for them), while changed docs get
    fresh features."""
    from cloudbrush_spark.pipeline import curation
    from cloudbrush_spark.pipeline.release import incremental_release
    base, crawl = _snapshot_and_crawl(spark)
    poisoned = curation.gate_features(base).withColumn(
        "quality", F.lit(0.654321))  # marker value (above the 0.5 gate)
    out = str(tmp_path / "inc")
    inc = incremental_release(spark, base, crawl, out,
                              prev_features=poisoned, max_tokens=2000)
    q = {r.doc_id: r.quality for r in inc.collect()}
    kept_ids = [i for i in q if i not in (0, 2, 100, 101)]
    assert kept_ids and all(q[i] == 0.654321 for i in kept_ids)
    assert all(q[i] != 0.654321 for i in (0, 2, 100, 101) if i in q)


def test_incremental_release_refuses_scrub_with_cache(spark, tmp_path):
    """Cross-document scrubs invalidate cached per-document features —
    the combination must raise, not silently ship stale features."""
    import pytest
    from cloudbrush_spark.pipeline.release import incremental_release
    base, crawl = _snapshot_and_crawl(spark)
    with pytest.raises(ValueError, match="scrub"):
        incremental_release(spark, base, crawl, str(tmp_path / "x"),
                            scrub_spans_min_df=2)


def test_release_refuses_feature_cache_under_scrub(spark, tmp_path):
    """The write-side half of the provenance guard: a full release with a
    cross-document scrub must refuse cache_features — the cache would
    hold SCRUBBED-text features that a later incremental_release (which
    diffs RAW-text digests) would silently reuse for 'keep' docs,
    desynchronizing ws_tokens/quality from the snapshot text."""
    import pytest
    base, _ = _snapshot_and_crawl(spark)
    for scrub_kw in ({"boilerplate_max_df": 2},
                     {"scrub_spans_min_df": 2}):
        with pytest.raises(ValueError, match="cache_features"):
            release(spark, base, str(tmp_path / "x"),
                    cache_features=True, **scrub_kw)


def test_release_cli_incremental(tmp_path, spark, capsys):
    """-base upgrades -curate+-mixture to the incremental release: the
    delta summary prints, deleted docs vanish from the corpus, and the
    feature cache written by -cache_features is consumed via
    -prev_features."""
    from cloudbrush_spark.__main__ import main
    base, crawl = _snapshot_and_crawl(spark)
    base_p = str(tmp_path / "base.parquet")
    crawl_p = str(tmp_path / "crawl.parquet")
    base.write.parquet(base_p)
    crawl.write.parquet(crawl_p)
    out0, out1 = str(tmp_path / "rel0"), str(tmp_path / "rel1")
    rc = main(["-curate", base_p, "-out", out0, "-files_per_split", "1",
               "-max_tokens", "2000",
               "-mixture", '{"curated": 1.0, "webcrawl": 1.0}',
               "-cache_features"])
    assert rc == 0 and os.path.exists(os.path.join(out0, "features.parquet"))
    capsys.readouterr()
    rc = main(["-curate", crawl_p, "-out", out1, "-files_per_split", "1",
               "-max_tokens", "2000",
               "-mixture", '{"curated": 1.0, "webcrawl": 1.0}',
               "-base", base_p,
               "-prev_features", os.path.join(out0, "features.parquet")])
    assert rc == 0
    line = capsys.readouterr().out
    assert '"delta"' in line and '"insert": 2' in line \
        and '"delete": 2' in line and '"update": 2' in line
    corpus = spark.read.parquet(os.path.join(out1, "corpus"))
    ids = {r.doc_id for r in corpus.select("doc_id").distinct().collect()}
    # deleted docs are gone; the near-dup cluster dedup RERAN on the new
    # snapshot (the _docs fixture collapses to one rep per base text, so
    # the odd cluster's min-id rep moves 1 -> 5 once 1 and 3 are deleted)
    assert not {1, 3} & ids and 5 in ids


def _docs_distinct(spark, n=40):
    """n gate-passing documents that are NOT near-duplicates of each
    other: same English vocabulary (so lang/quality gates pass), but a
    per-doc shuffled word ORDER, so 3-shingle Jaccard between any two
    docs is ~0 and curation keeps every one (the `_docs` fixture's
    shared-prefix texts collapse to one representative per base text)."""
    import random as _rnd
    from tests.test_curation import GOOD
    words = (GOOD + " " + FILLER).split()
    rows = []
    for i in range(n):
        rng = _rnd.Random(i)
        w = words[:]
        rng.shuffle(w)
        rows.append((i, " ".join(w) + f" document number {i}",
                     "webcrawl" if i < 20 else "curated"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string")


def _distinct_snapshot_and_crawl(spark):
    """Crawl over `_docs_distinct`: updates 0,2; deletes 1,3; inserts
    100,101; resends the rest unchanged — the delta is CLUSTERED in id
    space (low ids + appended tail), the shape id-range buckets keep
    local."""
    base = _docs_distinct(spark)
    crawl_rows = []
    for r in base.collect():
        if r.doc_id in (1, 3):
            continue
        txt = r.text + " refreshed content" if r.doc_id in (0, 2) else r.text
        crawl_rows.append((r.doc_id, txt, r.source))
    import random as _rnd
    from tests.test_curation import GOOD
    words = (GOOD + " " + FILLER).split()
    for nid in (100, 101):
        rng = _rnd.Random(1000 + nid)
        w = words[:]
        rng.shuffle(w)
        crawl_rows.append((nid, " ".join(w) + f" document number {nid}",
                           "webcrawl"))
    crawl = spark.createDataFrame(
        crawl_rows, "doc_id long, text string, source string")
    return base, crawl


def test_incremental_publish_skips_unchanged_buckets(spark, tmp_path):
    """prev_release_path makes the publish stage incremental: with
    id-range buckets (width 8), the delta (updates/deletes in ids 0-3,
    inserts at 100-101) dirties only the buckets holding those ids;
    every other bucket directory is carried over from release N
    byte-for-byte, and the read-back rows are identical to a
    from-scratch release of the same snapshot."""
    from cloudbrush_spark.pipeline.release import incremental_release
    from cloudbrush_spark.sources import corpus as corpus_sink
    base, crawl = _distinct_snapshot_and_crawl(spark)
    kw = dict(max_tokens=2000, publish_bucket_width=8)
    out0 = str(tmp_path / "rel0")
    release(spark, base, out0, cache_features=True,
            bucketed_publish=True, **kw)
    prev = spark.read.parquet(os.path.join(out0, "features.parquet"))

    out1 = str(tmp_path / "rel1")
    incremental_release(spark, base, crawl, out1, prev_features=prev,
                        prev_release_path=out0, **kw)

    def _dirs(p):
        out = {}
        root = os.path.join(p, "corpus")
        for sd in os.listdir(root):
            if not sd.startswith("split="):
                continue
            for bd in os.listdir(os.path.join(root, sd)):
                if bd.startswith("pbucket="):
                    files = sorted(
                        (f, os.path.getsize(os.path.join(root, sd, bd, f)))
                        for f in os.listdir(os.path.join(root, sd, bd))
                        if f.endswith(".parquet"))
                    out[(sd, bd)] = files
        return out
    d0, d1 = _dirs(out0), _dirs(out1)
    carried = [k for k in d1 if k in d0 and d0[k] == d1[k]]
    rewritten = [k for k in d1 if k not in carried]
    assert carried, "no bucket directory carried over"
    # the delta's buckets (0 for ids 0-3, 12 for 100-101) were rewritten
    # wherever they exist; id 8..39 buckets carried
    assert all(bd != "pbucket=0" for (_, bd) in carried)
    assert any(bd == "pbucket=12" for (_, bd) in rewritten)
    # read-back identical to a from-scratch release of the snapshot
    out2 = str(tmp_path / "rel2")
    release(spark, crawl, out2, max_tokens=2000)
    cols = ["doc_id", "copy", "split", "shard_id", "offset", "text"]
    back1 = corpus_sink.read_corpus(spark, os.path.join(out1, "corpus")) \
        .select(*cols)
    back2 = corpus_sink.read_corpus(spark, os.path.join(out2, "corpus")) \
        .select(*cols)
    assert back1.exceptAll(back2).count() == 0
    assert back2.exceptAll(back1).count() == 0
    assert "pbucket" not in back1.columns
    # deleted ids are gone from the incremental corpus
    assert back1.filter(F.col("doc_id").isin([1, 3])).count() == 0


def test_incremental_publish_noop_delta_carries_everything(spark, tmp_path):
    """A crawl that resends the base unchanged rewrites ZERO bucket
    directories — the whole corpus carries over file-for-file."""
    from cloudbrush_spark.pipeline.release import incremental_release
    from cloudbrush_spark.sources import corpus as corpus_sink
    base = _docs_distinct(spark)
    kw = dict(max_tokens=2000, publish_bucket_width=8)
    out0 = str(tmp_path / "rel0")
    release(spark, base, out0, cache_features=True,
            bucketed_publish=True, **kw)
    prev = spark.read.parquet(os.path.join(out0, "features.parquet"))
    out1 = str(tmp_path / "rel1")
    incremental_release(spark, base, base, out1, prev_features=prev,
                        prev_release_path=out0, **kw)
    c0, c1 = os.path.join(out0, "corpus"), os.path.join(out1, "corpus")
    n_files = 0
    for root, _, files in os.walk(c1):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            n_files += 1
            other = os.path.join(c0, os.path.relpath(root, c1), f)
            assert os.path.exists(other), f"{f} not carried from base"
            assert os.path.getsize(other) == \
                os.path.getsize(os.path.join(root, f))
    assert n_files > 0
    b0 = corpus_sink.read_corpus(spark, c0)
    b1 = corpus_sink.read_corpus(spark, c1)
    assert b0.exceptAll(b1).count() == 0 and b1.exceptAll(b0).count() == 0


def test_release_cli_incremental_publish(tmp_path, spark, capsys):
    """-bucket_width publishes the bucketed layout; -prev_release makes
    the next crawl's publish incremental through the CLI."""
    from cloudbrush_spark.__main__ import main
    from cloudbrush_spark.sources import corpus as corpus_sink
    base, crawl = _distinct_snapshot_and_crawl(spark)
    base_p, crawl_p = str(tmp_path / "b.parquet"), str(tmp_path / "c.parquet")
    base.write.parquet(base_p)
    crawl.write.parquet(crawl_p)
    out0, out1 = str(tmp_path / "rel0"), str(tmp_path / "rel1")
    rc = main(["-curate", base_p, "-out", out0, "-max_tokens", "2000",
               "-bucket_width", "8", "-cache_features"])
    assert rc == 0
    assert any(d.startswith("pbucket=") for d in
               os.listdir(os.path.join(out0, "corpus", "split=train")))
    capsys.readouterr()
    rc = main(["-curate", crawl_p, "-out", out1, "-max_tokens", "2000",
               "-bucket_width", "8", "-base", base_p,
               "-prev_features", os.path.join(out0, "features.parquet"),
               "-prev_release", out0])
    assert rc == 0
    back = corpus_sink.read_corpus(spark, os.path.join(out1, "corpus"))
    assert back.filter(F.col("doc_id").isin([1, 3])).count() == 0
    assert back.filter(F.col("doc_id") == 100).count() == 1


def test_release_cli_prev_release_requires_base(tmp_path, spark):
    """-prev_release without -base is refused loudly (it used to fall
    through to a silent full from-scratch publish)."""
    import pytest

    from cloudbrush_spark.__main__ import main
    p = str(tmp_path / "d.parquet")
    _docs_distinct(spark, 8).write.parquet(p)
    with pytest.raises(SystemExit, match="-prev_release requires -base"):
        main(["-curate", p, "-out", str(tmp_path / "rel"),
              "-max_tokens", "2000", "-bucket_width", "8",
              "-prev_release", str(tmp_path / "nope")])


def _emb_for(docs_df, spark, drift=0.0):
    """Deterministic per-doc 8-d embeddings: doc i gets a unit-ish
    vector seeded by i; ``drift`` perturbs every vector (to make two
    corpora near- but not exact-duplicates)."""
    import random as _rnd
    rows = []
    for r in docs_df.select("doc_id").collect():
        rng = _rnd.Random(int(r.doc_id))
        v = [rng.uniform(-1, 1) for _ in range(8)]
        if drift:
            v = [x + drift * rng.uniform(-1, 1) for x in v]
        rows.append((int(r.doc_id), v))
    return spark.createDataFrame(rows, "doc_id long, embedding array<double>")


def test_release_embedding_dedup_gate(spark, tmp_path):
    """embeddings + prior_embeddings drop curated docs whose embedding
    near-duplicates the prior release — overlapping doc_id spaces are
    handled (prior ids are namespaced internally)."""
    from cloudbrush_spark.sources import corpus as corpus_sink
    docs = _docs_distinct(spark, 20)
    emb = _emb_for(docs, spark)
    # prior release = embeddings of docs 0-9 under the SAME ids
    prior = emb.filter(F.col("doc_id") < 10)
    out = str(tmp_path / "rel")
    release(spark, docs, out, max_tokens=2000,
            embeddings=emb, prior_embeddings=prior,
            embedding_threshold=0.99)
    back = corpus_sink.read_corpus(spark, os.path.join(out, "corpus"))
    kept = {r.doc_id for r in back.select("doc_id").collect()}
    # exact self-duplicates at cosine 1.0: docs 0-9 dropped, 10-19 kept
    assert kept == set(range(10, 20)), kept
    # the gate needs both sides: either one alone is refused
    import pytest
    with pytest.raises(ValueError, match="together"):
        release(spark, docs, str(tmp_path / "x"), max_tokens=2000,
                embeddings=emb)
    with pytest.raises(ValueError, match="together"):
        release(spark, docs, str(tmp_path / "y"), max_tokens=2000,
                prior_embeddings=prior)


def test_embedding_gate_recall_contract_vs_exact(spark, tmp_path):
    """Gate-level recall contract: on drifted twins of a prior release
    (some above the threshold, some below), the drop-set of the LSH
    gate (prior_embeddings) is measured against exact-cosine truth.
    The gate verifies with exact cosine, so it may not drop a
    non-duplicate (precision 1 by construction — asserted); the pinned
    floor is RECALL >= 0.9.  The run's counters expose the drop count
    (embdedup_dropped)."""
    import math

    from cloudbrush_spark.sources import corpus as corpus_sink
    docs = _docs_distinct(spark, 40)
    emb = _emb_for(docs, spark)
    # prior release: drifted twins of docs 0-19 under the same ids
    prior = _emb_for(docs.filter(F.col("doc_id") < 20), spark, drift=0.05)
    thr = 0.995
    # exact-cosine truth, python-side
    new_vecs = {r.doc_id: list(r.embedding) for r in emb.collect()}
    prior_vecs = [list(r.embedding) for r in prior.collect()]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(x * x for x in b)))

    truth = {i for i, v in new_vecs.items()
             if any(cos(v, p) >= thr for p in prior_vecs)}
    assert truth and truth < set(new_vecs)  # non-degenerate fixture

    counters = {}
    out = str(tmp_path / "rel")
    release(spark, docs, out, max_tokens=2000, embeddings=emb,
            prior_embeddings=prior, embedding_threshold=thr,
            counters=counters)
    kept = {r.doc_id for r in corpus_sink.read_corpus(
        spark, os.path.join(out, "corpus")).select("doc_id").collect()}
    dropped = set(new_vecs) - kept
    assert counters.get("embdedup_dropped") == len(dropped)
    # precision 1 by construction: exact-cosine verification
    assert dropped <= truth, (sorted(dropped - truth), sorted(truth))
    recall = len(dropped & truth) / len(truth)
    assert recall >= 0.9, (recall, sorted(truth - dropped))


def test_release_dsir_stage_writes_weights(spark, tmp_path):
    """dsir_target writes dsir.parquet: one weight row per published
    doc, higher for docs resembling the target corpus."""
    docs = _docs_distinct(spark, 16)
    # target domain: the same vocabulary as even docs plus a marker
    target = docs.filter(F.col("doc_id") % 2 == 0) \
        .select("doc_id", "text")
    out = str(tmp_path / "rel")
    release(spark, docs, out, max_tokens=2000, dsir_target=target)
    w = spark.read.parquet(os.path.join(out, "dsir.parquet"))
    assert {"doc_id", "weight", "logp_target", "logp_raw"} <= set(w.columns)
    pub = spark.read.parquet(os.path.join(out, "release_manifest.parquet"))
    assert w.count() == pub.select("doc_id").distinct().count()
    # the weights table is part of the release's SQL surface
    from cloudbrush_spark.sql import register_release_views
    assert "dsir" in register_release_views(spark, out)
    assert spark.sql("SELECT count(*) n FROM dsir").collect()[0].n == \
        w.count()


def test_release_new_stages_compose_with_incremental_publish(spark,
                                                             tmp_path):
    """The r11 stages ride along the incremental-release path: the
    embedding gate shrinks the manifest (dirty detection republished
    the dropped docs' buckets), the DSIR table lands beside the release,
    and read-back rows equal a from-scratch release with the same gates."""
    from cloudbrush_spark.pipeline.release import incremental_release
    from cloudbrush_spark.sources import corpus as corpus_sink
    base, crawl = _distinct_snapshot_and_crawl(spark)
    emb = _emb_for(crawl, spark)
    prior_emb = _emb_for(base.filter(F.col("doc_id") < 6), spark)
    target = base.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    kw = dict(max_tokens=2000, publish_bucket_width=8,
              embeddings=emb, prior_embeddings=prior_emb,
              embedding_threshold=0.99, dsir_target=target)
    out0 = str(tmp_path / "rel0")
    release(spark, base, out0, cache_features=True, bucketed_publish=True,
            max_tokens=2000, publish_bucket_width=8)
    prev = spark.read.parquet(os.path.join(out0, "features.parquet"))
    out1 = str(tmp_path / "rel1")
    incremental_release(spark, base, crawl, out1, prev_features=prev,
                        prev_release_path=out0, **kw)
    out2 = str(tmp_path / "rel2")
    release(spark, crawl, out2, **kw)
    cols = ["doc_id", "copy", "split", "shard_id", "offset", "text"]
    b1 = corpus_sink.read_corpus(spark, os.path.join(out1, "corpus")) \
        .select(*cols)
    b2 = corpus_sink.read_corpus(spark, os.path.join(out2, "corpus")) \
        .select(*cols)
    assert b1.exceptAll(b2).count() == 0 and b2.exceptAll(b1).count() == 0
    # the gate really dropped the prior-dup docs (0,2,4 survive the
    # crawl; 1,3 were deleted upstream; 5 embedding-matches the prior)
    kept = {r.doc_id for r in b1.select("doc_id").distinct().collect()}
    assert kept.isdisjoint({0, 2, 4, 5})
    assert os.path.exists(os.path.join(out1, "dsir.parquet"))
