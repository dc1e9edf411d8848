"""Structured Streaming twins: run each streaming operator over a file
source with availableNow + memory sink and compare against the batch form
(one definition, two runners)."""

import datetime

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.operators import sessions
from cloudbrush_spark.streaming import (
    read_event_stream,
    stream_running_counts,
    stream_sessionize,
    stream_tumbling_window,
)


EVENT_DDL = "ts timestamp, user_id long, event_type string, value double"


def _ts(h, m=0, s=0):
    return datetime.datetime(2024, 1, 1, h, m, s)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    rows = [
        (_ts(9, 0), 1, "click", 1.0), (_ts(9, 20), 1, "click", 2.0),
        (_ts(10, 15), 1, "buy", 5.0),                       # new session (55m gap)
        (_ts(9, 5), 2, "click", 1.5), (_ts(11, 0), 2, "click", 0.5),
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double")
    path = str(tmp_path_factory.mktemp("events") / "parquet")
    df.repartition(2).write.parquet(path)
    return path


def _run_stream(spark, stream_df, name, output_mode):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_tumbling_window_matches_batch(spark, event_dir):
    # complete mode: append would (correctly) withhold windows the final
    # watermark hasn't passed; complete emits full state for comparison
    events = read_event_stream(spark, event_dir)
    out = _run_stream(spark, stream_tumbling_window(events), "t_tumble", "complete")
    got = {(r.window_start, r.event_type): (r.cnt, r.value_sum)
           for r in out.collect()}
    batch = sessions.tumbling_window_agg(spark.read.parquet(event_dir))
    want = {(r.window_start, r.event_type): (r.cnt, r.value_sum)
            for r in batch.collect()}
    assert got == want and len(got) == 3


def test_stream_sessionize_matches_batch_grouping(spark, event_dir):
    events = read_event_stream(spark, event_dir)
    out = _run_stream(spark, stream_sessionize(events), "t_sess", "complete")
    got = sorted((r.user_id, r.n_events) for r in out.collect())
    batch = sessions.sessionize(spark.read.parquet(event_dir))
    want = sorted((r.user_id, r.n_events) for r in batch.collect())
    assert got == want  # same events group into the same sessions
    # session boundaries: user 1 splits at the 55-minute gap
    u1 = sorted(r.n_events for r in out.collect() if r.user_id == 1)
    assert u1 == [1, 2]


def test_stream_running_counts_stateful(spark, event_dir):
    events = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    out = _run_stream(spark, stream_running_counts(events), "t_state", "update")
    # final total per user across micro-batches must equal the batch count
    final = {r.user_id: r.total_events
             for r in out.groupBy("user_id").agg(
                 F.max("total_events").alias("total_events")).collect()}
    assert final == {1: 3, 2: 2}


def test_stream_dedup_matches_batch(spark, event_dir):
    from cloudbrush_spark.streaming import read_event_stream
    from cloudbrush_spark.streaming.windows import stream_dedup

    events = read_event_stream(spark, event_dir)
    out = _run_stream(spark, stream_dedup(events), "dedup_stream", "append")
    batch = spark.read.parquet(event_dir).dropDuplicates(
        ["user_id", "event_type"])
    # within-watermark dedup on a bounded replay keeps at least the
    # batch-distinct key set, never loses a key, and never exceeds the
    # input row count
    got_keys = {(r.user_id, r.event_type) for r in out.collect()}
    want_keys = {(r.user_id, r.event_type) for r in batch.collect()}
    assert got_keys == want_keys
    assert out.count() <= spark.read.parquet(event_dir).count()


def test_exact_gap_tie_merges_in_both_forms(spark, tmp_path):
    """Boundary pin: a gap of EXACTLY the session threshold MERGES in
    BOTH runners — session_window's merge test is inclusive at the
    window end (an event at precisely last_event + gap joins the
    session), and the batch form's strict > matches.  The tie
    convention must never diverge between the two."""
    rows = [
        (_ts(9, 0), 7, "click", 1.0),
        (_ts(9, 30), 7, "click", 1.0),   # exactly 30m: SAME session
        (_ts(10, 0, 1), 7, "click", 1.0),  # 30m 1s: NEW session
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double")
    path = str(tmp_path / "tie_events")
    df.coalesce(1).write.parquet(path)

    batch = sessions.sessionize(spark.read.parquet(path)).collect()
    batch_groups = sorted((r.session_start, r.session_end, r.n_events)
                          for r in batch)
    assert [g[2] for g in batch_groups] == [2, 1]
    assert batch_groups[0][1] == _ts(9, 30)

    out = _run_stream(spark, stream_sessionize(read_event_stream(spark, path)),
                      "t_tie", "complete")
    stream_groups = sorted((r.session_start, r.session_end, r.n_events)
                           for r in out.collect())
    assert stream_groups == batch_groups


def test_stream_curation_gate_equals_batch_gate(spark, tmp_path):
    """The streaming gate must emit the batch gate's exact verdicts —
    run the docs fixture through a file-source stream (availableNow) and
    compare row-for-row with q_curation_filter."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em
    from cloudbrush_spark.streaming.windows import (
        read_document_stream, stream_curation_gate)

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    src = str(tmp_path / "docs_stream")
    em._t(spark, sf, "documents").select("doc_id", "text") \
        .repartition(3).write.parquet(src)

    gated = stream_curation_gate(read_document_stream(spark, src,
                                                      max_files_per_trigger=1))
    out = _run_stream(spark, gated, "stream_gate", output_mode="append")
    batch = em.q_curation_gate_only(spark, sf).select(
        "doc_id", "quality", "lang_pred", "ws_tokens", "keep")
    assert out.count() == batch.count() > 0
    diff = out.exceptAll(batch).count() + batch.exceptAll(out).count()
    assert diff == 0


def test_stream_curate_gate_plus_dedup_equals_batch(spark, tmp_path):
    """stream_curate (gate -> dropDuplicatesWithinWatermark on the
    fingerprint) must keep exactly one survivor per batch-gate-surviving
    fingerprint: same fp set, one row per fp, every survivor a member of
    that fp's batch group.  Which member survives is arrival-order
    dependent (first arrival), so the pin is set-level, not id-level."""
    from cloudbrush_spark.functions import text as textfn
    from cloudbrush_spark.operators import textops
    from cloudbrush_spark.streaming.windows import (
        DOC_TS_SCHEMA, read_document_stream, stream_curate)

    base = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river for a drink of cold clear water in the morning light")
    rows = []
    for i in range(30):
        # three exact-duplicate families (normalized: case/punct differ)
        fam = i % 3
        txt = f"{base} family {fam} marker"
        if i % 2:
            txt = txt.upper() + "!!"
        rows.append((i, txt, _ts(9, i)))
    rows.append((90, "too short", _ts(9, 50)))              # gated out
    df = spark.createDataFrame(rows, DOC_TS_SCHEMA)
    src = str(tmp_path / "docs_ts")
    df.repartition(3).write.parquet(src)

    # watermark covers the whole fixture's time range: duplicates beyond
    # the watermark re-emit BY CONTRACT (at-least-once, bounded state),
    # so exact batch equivalence needs the window to span the data
    out = _run_stream(
        spark,
        stream_curate(read_document_stream(spark, src, schema=DOC_TS_SCHEMA,
                                           max_files_per_trigger=1),
                      watermark="2 hours"),
        "stream_curate", output_mode="append")
    got = out.collect()

    batch = spark.read.parquet(src)
    q = textops.quality_col("text")
    l = textops.lang_pred_col("text")  # noqa: E741
    wc = textfn.token_count("text").cast("long")
    kept = (batch.select("doc_id", textfn.fingerprint("text").alias("fp"),
                         q.alias("quality"), l.alias("lp"), wc.alias("wt"))
            .filter((F.col("quality") >= 0.5) & (F.col("lp") == "en")
                    & F.col("wt").between(10, 1000)))
    fp_members = {}
    for r in kept.collect():
        fp_members.setdefault(r.fp, set()).add(r.doc_id)
    assert len(fp_members) == 3            # the three duplicate families
    assert len(got) == 3                   # one survivor per fingerprint
    for r in got:
        assert r.doc_id in fp_members[r.fp]


def test_stream_guard_equals_batch_guard(spark, tmp_path):
    """stream_guard (PII scrub + broadcast-gram-set decontamination) is
    stateless, so availableNow streaming output must EXACTLY equal the
    batch guard composition — same scrubbed text, same PII counts, same
    distinct-gram hit counts — row for row."""
    from cloudbrush_spark.operators import guard
    from cloudbrush_spark.streaming.windows import (
        DOC_SCHEMA, read_document_stream)
    from cloudbrush_spark.streaming import stream_guard

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clean = "one two three four five six seven eight nine ten eleven"
    rows = [
        (1, f"{base} mail me at a@b.io today"),      # contaminated + email
        (2, f"{clean} totally unrelated document"),  # clean
        (3, base),                                   # exact benchmark overlap
        (4, "tiny"),                                 # fewer tokens than n
        (5, f"server 10.1.2.3 and card 4111 1111 1111 1111 {clean}"),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    src = str(tmp_path / "docs_guard")
    df.repartition(2).write.parquet(src)
    bench = spark.createDataFrame([(100, base)], DOC_SCHEMA)

    out = _run_stream(
        spark,
        stream_guard(read_document_stream(spark, src, schema=DOC_SCHEMA,
                                          max_files_per_trigger=1),
                     benchmark=bench, n=10),
        "stream_guard_t", output_mode="append")
    got = {r.doc_id: r for r in out.collect()}

    batch_docs = spark.read.parquet(src)
    scrub = {r.doc_id: r for r in guard.pii_scrub(batch_docs).collect()}
    dec = {r.doc_id: r for r in
           guard.decontaminate(batch_docs, bench, n=10).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    for i, r in got.items():
        assert r.scrubbed == scrub[i].scrubbed
        assert (r.n_emails, r.n_ips, r.n_card_ids) == \
            (scrub[i].n_emails, scrub[i].n_ips, scrub[i].n_card_ids)
        assert r.n_grams == dec[i].n_grams
        assert r.n_hit_grams == dec[i].n_hit_grams
        assert r.contaminated == dec[i].contaminated
    assert got[3].contaminated and not got[2].contaminated
    assert got[4].n_grams == 0


def test_stream_guard_without_benchmark_is_pure_scrub(spark, tmp_path):
    from cloudbrush_spark.operators import guard
    from cloudbrush_spark.streaming.windows import (
        DOC_SCHEMA, read_document_stream)
    from cloudbrush_spark.streaming import stream_guard

    df = spark.createDataFrame(
        [(1, "ping 8.8.8.8 and mail x@y.zz")], DOC_SCHEMA)
    src = str(tmp_path / "docs_guard2")
    df.write.parquet(src)
    out = _run_stream(
        spark, stream_guard(read_document_stream(spark, src, schema=DOC_SCHEMA)),
        "stream_guard_t2", output_mode="append").collect()
    batch = guard.pii_scrub(spark.read.parquet(src)).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]


def test_stream_boiler_scrub_equals_batch_scrub(spark, tmp_path):
    """stream_boiler_scrub applies a batch-derived removal list
    statelessly: given the list guard.boilerplate_lines computes over
    the same snapshot, availableNow streaming output must EXACTLY equal
    the batch boilerplate_scrub — clean text, line counts, removals —
    row for row."""
    from cloudbrush_spark.operators import guard
    from cloudbrush_spark.streaming import stream_boiler_scrub
    from cloudbrush_spark.streaming.windows import (
        DOC_SCHEMA, read_document_stream)

    rows = [
        (1, "unique alpha\nsubscribe now\nunique beta"),
        (2, "subscribe now\nother text\n\n  "),
        (3, "repeat me\nrepeat me"),     # intra-doc repeat is boiler too
        (4, "lone document"),
        (5, ""),                          # no non-blank lines
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    src = str(tmp_path / "docs_boiler")
    df.repartition(2).write.parquet(src)

    snapshot = spark.read.parquet(src)
    removal = guard.boilerplate_lines(snapshot, max_df=1)
    out = _run_stream(
        spark,
        stream_boiler_scrub(
            read_document_stream(spark, src, schema=DOC_SCHEMA,
                                 max_files_per_trigger=1),
            removal),
        "stream_boiler_t", output_mode="append")
    got = {r.doc_id: tuple(r) for r in out.collect()}
    batch = {r.doc_id: tuple(r)
             for r in guard.boilerplate_scrub(snapshot).collect()}
    assert got == batch
    # and the removal genuinely fired
    assert got[1][1] == "unique alpha\nunique beta"
    assert got[3][1] == "" and got[3][3] == 2


def test_stream_boiler_scrub_rejects_oversized_list(spark, tmp_path):
    from cloudbrush_spark.operators import guard
    from cloudbrush_spark.streaming import stream_boiler_scrub
    from cloudbrush_spark.streaming.windows import (
        DOC_SCHEMA, read_document_stream)
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a\na"), (2, "b\nb")], DOC_SCHEMA)
    src = str(tmp_path / "docs_boiler2")
    df.write.parquet(src)
    removal = guard.boilerplate_lines(spark.read.parquet(src), max_df=1)
    with _pytest.raises(ValueError, match="max_removal_lines"):
        stream_boiler_scrub(
            read_document_stream(spark, src, schema=DOC_SCHEMA),
            removal, max_removal_lines=1)


# --- stream-stream range join (late r8) ------------------------------------

def test_stream_range_join_matches_batch_join(spark, event_dir):
    """availableNow equivalence: the stream-stream interval join over the
    static fixture must equal the plain batch join with the identical
    range condition."""
    from cloudbrush_spark.streaming import read_event_stream, stream_range_join
    ev = spark.read.parquet(event_dir)
    clicks_b = ev.filter(F.col("event_type") == "click")
    buys_b = ev.filter(F.col("event_type") == "buy")
    want = sorted(map(tuple, clicks_b.alias("c").join(
        buys_b.alias("b"),
        (F.col("c.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("c.ts"))
        & (F.col("b.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 hour")),
        "inner").select("c.user_id", "c.ts", "b.ts").collect()))

    stream = read_event_stream(spark, event_dir)
    out = stream_range_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "buy"))
    got = sorted(map(tuple, _run_stream(
        spark, out, "t_rjoin", "append").collect()))
    assert got == want
    # the fixture pins real content: user 1's 9:20 click -> 10:15 buy is
    # in range, the 9:00 click (75 min before the buy) is not
    assert len(got) == 1 and got[0][0] == 1


def test_stream_range_join_matches_across_micro_batches(spark, tmp_path):
    """The join must buffer state across micro-batches: clicks arrive in
    file 1, the matching purchase in file 2, one file per trigger."""
    import datetime as dt
    from cloudbrush_spark.streaming import read_event_stream, stream_range_join
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    d = str(tmp_path / "ev")
    schema = "ts timestamp, user_id long, event_type string, value double"
    spark.createDataFrame(
        [(t0, 5, "click", 1.0)], schema).write.parquet(d + "/f1")
    spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=30), 5, "buy", 9.0)],
        schema).write.parquet(d + "/f2")
    stream = read_event_stream(spark, d + "/*", max_files_per_trigger=1)
    out = stream_range_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "buy"))
    got = _run_stream(spark, out, "t_rjoin_mb", "append").collect()
    assert [(r.user_id, r.left_ts, r.right_ts) for r in got] == \
        [(5, t0, t0 + dt.timedelta(minutes=30))]


# --- stream_publish (late r8): idempotent foreachBatch sink -----------------

def test_stream_publish_is_idempotent_across_replays(spark, tmp_path):
    """Three files at one file per trigger -> three committed batches
    whose union is exactly the input; re-running with a FRESH checkpoint
    re-delivers the same batch ids, and the markers turn the replay into
    a no-op (exactly-once output from at-least-once delivery)."""
    import os
    from cloudbrush_spark.streaming.windows import (
        DOC_SCHEMA, read_document_stream, stream_publish)
    src = str(tmp_path / "docs")
    for i in range(3):
        spark.createDataFrame(
            [(10 * i + j, f"doc {10 * i + j} text") for j in range(4)],
            DOC_SCHEMA).coalesce(1).write.parquet(f"{src}/f{i}")
    out = str(tmp_path / "published")
    os.makedirs(out)

    def run(ckpt):
        q = (stream_publish(
                read_document_stream(spark, src + "/*",
                                     max_files_per_trigger=1), out)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run("ck1")
    batches = sorted(d for d in os.listdir(out) if d.startswith("batch="))
    markers = sorted(d for d in os.listdir(out) if d.startswith("_committed_"))
    assert len(batches) == 3 and len(markers) == 3
    got = sorted(r.doc_id for r in spark.read.parquet(out + "/batch=*").collect())
    assert got == list(range(4)) + list(range(10, 14)) + list(range(20, 24))

    before = {b: os.path.getmtime(os.path.join(out, b)) for b in batches}
    run("ck2")  # fresh checkpoint = full replay of the same batch ids
    after_rows = sorted(
        r.doc_id for r in spark.read.parquet(out + "/batch=*").collect())
    assert after_rows == got  # no duplicates, no rewrites
    assert {b: os.path.getmtime(os.path.join(out, b))
            for b in batches} == before  # marker short-circuited the write


def test_compact_batches_bounds_files_and_skips_uncommitted(spark, tmp_path):
    """Compaction reads only committed batch dirs, emits exactly `files`
    id-sorted parquet files, and preserves every row."""
    import os
    from cloudbrush_spark.sources.corpus import compact_batches
    from cloudbrush_spark.streaming.windows import (
        DOC_SCHEMA, read_document_stream, stream_publish)
    src = str(tmp_path / "docs")
    for i in range(3):
        spark.createDataFrame(
            [(10 * i + j, f"doc {10 * i + j}") for j in range(4)],
            DOC_SCHEMA).coalesce(1).write.parquet(f"{src}/f{i}")
    out = str(tmp_path / "streamed")
    os.makedirs(out)
    q = (stream_publish(
            read_document_stream(spark, src + "/*",
                                 max_files_per_trigger=1), out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # an in-flight batch: data dir present, NO marker -> must be skipped
    spark.createDataFrame([(999, "inflight")], DOC_SCHEMA) \
        .coalesce(1).write.parquet(out + "/batch=99")

    compacted = str(tmp_path / "compacted")
    n = compact_batches(spark, out, compacted, files=2)
    assert n == 3
    parts = [f for f in os.listdir(compacted) if f.startswith("part-")]
    assert len(parts) == 2
    rows = sorted(r.doc_id for r in spark.read.parquet(compacted).collect())
    assert rows == list(range(4)) + list(range(10, 14)) + list(range(20, 24))
    assert 999 not in rows


def _write_ordered_files(spark, base, batches, schema):
    """One parquet part file per batch, mtimes strictly increasing so the
    file source forms micro-batches in this exact order."""
    import os
    import time as _time
    os.makedirs(base, exist_ok=True)
    t0 = _time.time()
    for i, rows in enumerate(batches):
        sub = f"{base}/f{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(sub)
        for name in os.listdir(sub):
            if name.endswith(".parquet"):
                os.utime(f"{sub}/{name}", (t0 + i, t0 + i))
    return base


_EV = "ts timestamp, user_id long, event_type string, value double"


def test_stateful_sessionize_matches_batch_even_out_of_order(spark, tmp_path):
    """applyInPandasWithState sessionizer == batch sessionize on the
    finalized set, INCLUDING an event that arrives a micro-batch late
    (but within the watermark): raw times are buffered in state and
    sessions only finalize once end + gap < watermark, so arrival order
    cannot change the result.  Trailing far-future sentinel batches push
    the watermark past everything so every real session finalizes."""
    from cloudbrush_spark.streaming import stream_sessionize_stateful
    far1, far2, far3 = _ts(20, 0), _ts(21, 0), _ts(22, 0)
    batches = [
        [(_ts(9, 0), 1, "click", 1.0), (_ts(9, 40), 2, "click", 1.0)],
        # user 1's 9:10 event arrives one batch LATE: it must merge into
        # the 9:00 session, not start its own
        [(_ts(9, 10), 1, "click", 1.0), (_ts(10, 15), 1, "buy", 1.0)],
        [(far1, -1, "s", 0.0)],
        [(far2, -1, "s", 0.0)],
        [(far3, -1, "s", 0.0)],
    ]
    path = _write_ordered_files(spark, str(tmp_path / "ooo"), batches, _EV)
    events = read_event_stream(spark, path + "/*", max_files_per_trigger=1)
    out = _run_stream(
        spark,
        stream_sessionize_stateful(events, watermark="2 hours"),
        "t_psess", "append").filter("user_id >= 0")
    got = sorted((r.user_id, r.session_start, r.session_end, r.n_events)
                 for r in out.collect())
    batch = sessions.sessionize(
        spark.read.schema(_EV).option("recursiveFileLookup", "true")
        .parquet(path).filter("user_id >= 0"))
    want = sorted((r.user_id, r.session_start, r.session_end, r.n_events)
                  for r in batch.collect())
    assert got == want and len(got) == 3
    # the late event DID merge: user 1's first session is 9:00-9:10, n=2
    assert (1, _ts(9, 0), _ts(9, 10), 2) in got


def test_stateful_sessionize_timeout_emits_silent_user(spark, tmp_path):
    """A user who goes silent still gets their session emitted — the
    EVENT-TIME TIMEOUT fires when the advancing watermark (driven by
    OTHER users' events) passes session_end + gap."""
    from cloudbrush_spark.streaming import stream_sessionize_stateful
    batches = [
        [(_ts(9, 0), 5, "click", 1.0), (_ts(9, 5), 5, "click", 1.0)],
        [(_ts(14, 0), 6, "click", 1.0)],   # watermark mover only
        [(_ts(15, 0), 6, "click", 1.0)],   # timeout-processing batch
    ]
    path = _write_ordered_files(spark, str(tmp_path / "silent"), batches, _EV)
    events = read_event_stream(spark, path + "/*", max_files_per_trigger=1)
    out = _run_stream(
        spark,
        stream_sessionize_stateful(events, watermark="1 hours"),
        "t_psess_to", "append")
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in out.collect()}
    # user 5 never spoke again, yet the session is out (via timeout)
    assert (5, _ts(9, 0), _ts(9, 5), 2) in got


def test_stateful_sessionize_withholds_unfinalized(spark, tmp_path):
    """Sessions the watermark has not passed are NOT emitted (append
    correctness): a single batch leaves the watermark at 0, so nothing
    finalizes and nothing is emitted."""
    from cloudbrush_spark.streaming import stream_sessionize_stateful
    rows = [(_ts(9, 0), 1, "click", 1.0), (_ts(9, 5), 1, "click", 1.0)]
    path = str(tmp_path / "open")
    spark.createDataFrame(rows, _EV).coalesce(1).write.parquet(path)
    out = _run_stream(
        spark,
        stream_sessionize_stateful(read_event_stream(spark, path)),
        "t_psess_open", "append")
    assert out.count() == 0


# --- stream_rollup_maintain (late r9): continuous aggregate table ------------

def test_stream_rollup_maintain_converges_to_batch_aggregate(spark, tmp_path):
    """Micro-batches touching the SAME window must upsert (not append):
    after three triggers the maintained table equals the batch tumbling
    aggregate over all events, and intermediate versions stay readable
    via the _CURRENT pointer."""
    import os
    from cloudbrush_spark.streaming.windows import (
        read_event_stream, read_rollup, stream_rollup_maintain)
    src = str(tmp_path / "ev")
    # f0 and f2 hit the same (9:00, click) window — the second must
    # UPDATE the first's totals, which an append-style sink would break
    spark.createDataFrame([(_ts(9, 0), 1, "click", 1.0)],
                          EVENT_DDL).coalesce(1).write.parquet(f"{src}/f0")
    spark.createDataFrame([(_ts(10, 5), 2, "buy", 5.0)],
                          EVENT_DDL).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame([(_ts(9, 30), 3, "click", 2.5)],
                          EVENT_DDL).coalesce(1).write.parquet(f"{src}/f2")
    table = str(tmp_path / "rollup")
    q = (stream_rollup_maintain(
            read_event_stream(spark, src + "/*", max_files_per_trigger=1),
            table)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.window_start, r.event_type): (r.cnt, r.value_sum)
           for r in read_rollup(spark, table).collect()}
    batch = sessions.tumbling_window_agg(spark.read.parquet(src + "/*"))
    want = {(r.window_start, r.event_type): (r.cnt, r.value_sum)
            for r in batch.collect()}
    assert got == want
    assert got[(_ts(9, 0), "click")] == (2, 3.5)  # upserted, not doubled
    assert os.path.exists(os.path.join(table, "_CURRENT"))

    # replay with a fresh checkpoint: same batch ids, same versions,
    # same final table — the upsert is idempotent
    q2 = (stream_rollup_maintain(
            read_event_stream(spark, src + "/*", max_files_per_trigger=1),
            table)
          .option("checkpointLocation", str(tmp_path / "ck2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    again = {(r.window_start, r.event_type): (r.cnt, r.value_sum)
             for r in read_rollup(spark, table).collect()}
    assert again == want


def test_rollup_upsert_redelivery_of_committed_batch_is_noop(spark, tmp_path):
    """The crash-recovery window: the process dies AFTER _CURRENT is
    repointed to v{N} but BEFORE the streaming checkpoint commits batch
    N, so restart re-delivers batch N.  The upsert must treat the batch
    as committed (the repoint is the commit point) and return without
    touching the table — recomputing would read v{N} as prev while
    overwriting v{N}, which Spark rejects."""
    from cloudbrush_spark.streaming.windows import read_rollup, rollup_upsert
    table = str(tmp_path / "roll")
    ddl = "window_start timestamp, event_type string, cnt long, value_sum double"
    b0 = spark.createDataFrame([(_ts(9, 0), "click", 1, 1.0)], ddl)
    rollup_upsert(b0, 0, table)
    b1 = spark.createDataFrame([(_ts(9, 0), "click", 2, 3.5)], ddl)
    rollup_upsert(b1, 1, table)
    committed = {(r.window_start, r.event_type): (r.cnt, r.value_sum)
                 for r in read_rollup(spark, table).collect()}
    assert committed == {(_ts(9, 0), "click"): (2, 3.5)}
    # re-delivery of the already-committed batch 1 (fresh recompute of
    # the same totals) must not raise and must leave the table as-is
    rollup_upsert(spark.createDataFrame([(_ts(9, 0), "click", 2, 3.5)], ddl),
                  1, table)
    again = {(r.window_start, r.event_type): (r.cnt, r.value_sum)
             for r in read_rollup(spark, table).collect()}
    assert again == committed


def test_read_rollup_requires_committed_batch(spark, tmp_path):
    import pytest as _pytest
    from cloudbrush_spark.streaming.windows import read_rollup
    with _pytest.raises(ValueError, match="committed"):
        read_rollup(spark, str(tmp_path / "nothing"))
