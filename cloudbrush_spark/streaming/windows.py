"""Structured Streaming event operators: tumbling windows, session
windows, and a custom stateful running aggregate.

Scale/state design:
- every aggregation is keyed (window/user), so state is partitioned by the
  shuffle and bounded per key;
- watermarks bound state retention — late rows beyond the watermark are
  dropped instead of growing state forever;
- the custom stateful operator uses ``applyInPandasWithState`` (Arrow
  batches per key group), the supported escape hatch when the built-in
  windowed aggregates can't express the semantics.

The reference has no streaming surface (SURVEY §2.8); these are the
engine-extension operators the driver's north star asks for, sharing
semantics with the batch forms in operators/sessions.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = "ts timestamp, user_id long, event_type string, value double"


def read_event_stream(spark: SparkSession, path: str,
                      schema: str = EVENT_SCHEMA,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source event stream (new files appear -> new micro-batch)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        if max_files_per_trigger < 1:
            raise ValueError(
                f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}")
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_tumbling_window(events: DataFrame, window: str = "1 hour",
                           watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of sessions.tumbling_window_agg: per (window,
    event_type) count + value sum, state bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2)
            .alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "cnt", "value_sum")
    )


def stream_sessionize(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of sessions.sessionize via ``session_window``.

    Semantics note: a session window's raw ``end`` is last_event + gap
    (the close timestamp); this selects max(ts) like the batch form.
    Session boundaries are identical INCLUDING the exact-gap tie: an
    event at exactly last_event + gap MERGES in both forms
    (session_window's merge test is inclusive at window end; the batch
    form's strict > matches — pinned by
    tests/test_streaming.py::test_exact_gap_tie_merges_in_both_forms).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def stream_sessionize_stateful(events: DataFrame, gap: str = "30 minutes",
                               watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` +
    EVENT-TIME TIMEOUT — the hand-rolled twin of
    :func:`stream_sessionize`, for session semantics ``session_window``
    cannot express (arbitrary per-session Python aggregates, custom
    merge rules).  Semantically identical to the batch ``sessionize``
    here so the equivalence is checkable.

    Watermark-correct by construction, independent of arrival order:
    per user, RAW event times are buffered in state; each invocation
    (new data or timeout) re-walks the sorted buffer into gap-sessions
    and emits only sessions provably FINAL — ``end + gap < watermark``
    (no acceptable future event can extend such a session, and any
    event that could bridge into it is already below the watermark and
    therefore either buffered or dropped).  Non-final sessions keep
    their raw times in state, with an event-time timeout set to the
    earliest moment the oldest one could finalize — so closed sessions
    flow out as the watermark advances even if the user goes silent.

    State is bounded by the watermark delay: buffered times span at
    most (delay + gap) of event time per user, the same bound
    ``session_window`` state carries.  Output (append): (user_id,
    session_start ts, session_end ts, n_events)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = _duration_us(gap)

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd
        pending = list(state.get[0]) if state.exists else []
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                # normalize to int64 MICROS regardless of the pandas
                # datetime resolution Arrow hands over (ns vs us)
                pending.extend(
                    int(v) for v in
                    pdf["ts"].astype("datetime64[us]").astype("int64").tolist())
        wm_us = state.getCurrentWatermarkMs() * 1000
        pending.sort()
        sessions: list[list[int]] = []  # [start_us, end_us, n]
        for t in pending:
            if sessions and t - sessions[-1][1] <= gap_us:
                sessions[-1][1] = t
                sessions[-1][2] += 1
            else:
                sessions.append([t, t, 1])
        final = [s for s in sessions if s[1] + gap_us < wm_us]
        retained = [s for s in sessions if s[1] + gap_us >= wm_us]
        if retained:
            keep_lo = retained[0][0]
            state.update(([t for t in pending if t >= keep_lo],))
            # fire when the oldest retained session could finalize;
            # ceil to ms so the timestamp is strictly past the watermark
            first_close_ms = -(-(retained[0][1] + gap_us) // 1000) + 1
            state.setTimeoutTimestamp(first_close_ms)
        else:
            state.remove()
        if final:
            yield pd.DataFrame({
                "user_id": [key[0]] * len(final),
                "start_us": [s[0] for s in final],
                "end_us": [s[1] for s in final],
                "n_events": [s[2] for s in final],
            })

    out = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, start_us long, end_us long, "
                             "n_events long",
            stateStructType="pending array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return out.select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        "n_events")


def _duration_us(spec: str) -> int:
    """'30 minutes' / '2 hours' / '90 seconds' -> microseconds."""
    n, unit = spec.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}
    return int(n) * mult[unit] * 1_000_000


def stream_running_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user totals across
    micro-batches via ``applyInPandasWithState`` — the pattern for
    semantics the built-in aggregates can't express (per-key mutable
    state, arbitrary Python update logic, Arrow-batched).

    Output mode 'update': one row per user per batch with the new total.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd
        total = state.get[0] if state.exists else 0
        events_n = 0
        value_sum = 0.0
        for pdf in pdf_iter:
            events_n += len(pdf)
            value_sum += float(pdf["value"].sum())
        total += events_n
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "total_events": [total],
                            "batch_value_sum": [value_sum]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, total_events long, batch_value_sum double",
            stateStructType="total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_range_join(left: DataFrame, right: DataFrame,
                      on: str = "user_id", upper: str = "1 hour",
                      left_watermark: str = "10 minutes",
                      right_watermark: str = "1 hour 10 minutes") -> DataFrame:
    """Stream-stream INNER join with an event-time range bound — the
    streaming twin of operators/joins.range_join (attribute each right
    event, e.g. a purchase, to same-key left events, e.g. clicks, it
    follows within ``upper``).

    State-expiry math (why this survives an unbounded stream): the range
    condition ``left.ts <= right.ts <= left.ts + upper`` plus BOTH
    watermarks lets Spark derive how long each side's buffered rows can
    still match — a left row is droppable once the right watermark passes
    its ts + upper, a right row once the left watermark passes its ts —
    so join state is bounded by (watermark + upper) of event-time, never
    the full history.  ``right_watermark`` should be at least
    ``left_watermark + upper`` if late left rows must still find their
    right matches.  Inner only here: stream-stream outer joins emit
    unmatched rows on watermark expiry (result completeness then depends
    on watermark progress, which availableNow equivalence tests can't
    pin batch-exactly).

    Output: (on, left_ts, right_ts) — one row per in-range pair.
    """
    l_s = (left.select(F.col(on), F.col("ts").alias("left_ts"))
           .withWatermark("left_ts", left_watermark))
    r_s = (right.select(F.col(on).alias("__rk"),
                        F.col("ts").alias("right_ts"))
           .withWatermark("right_ts", right_watermark))
    cond = ((F.col(on) == F.col("__rk"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {upper}")))
    return l_s.join(r_s, cond, "inner").drop("__rk")


def stream_dedup(events: DataFrame, keys: list[str] | None = None,
                 watermark: str = "10 minutes",
                 within: bool = True) -> DataFrame:
    """Streaming exact dedup — the P1-shape for a continuously-arriving
    corpus (content keys = digest columns upstream).

    ``within=True`` uses ``dropDuplicatesWithinWatermark``: state for a
    key is held only until the watermark passes it, so state is BOUNDED —
    the only form that survives an unbounded 100 TB/day stream.  A
    duplicate arriving after the watermark expires its original is
    re-emitted (at-least-once dedup); exactly-once dedup over all time
    requires unbounded state (``within=False``, plain dropDuplicates —
    only for bounded backfills).
    """
    keys = keys or ["user_id", "event_type"]
    wm = events.withWatermark("ts", watermark)
    if within:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


DOC_SCHEMA = "doc_id long, text string"


def read_document_stream(spark: SparkSession, path: str,
                         schema: str = DOC_SCHEMA,
                         max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source document stream — continuous corpus ingestion (new
    parquet drops -> new micro-batch)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        if max_files_per_trigger < 1:
            raise ValueError(
                f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}")
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_curation_gate(docs: DataFrame, *, quality_min: float = 0.5,
                         lang: str = "en", min_tokens: int = 10,
                         max_tokens: int = 1000) -> DataFrame:
    """Streaming twin of curation's gate stage: quality x language x
    token-count verdict per document, applied as documents ARRIVE.

    The gate is pure column expressions (stateless), so the streaming
    form is the batch projection verbatim — no watermark, no state, every
    micro-batch independent.  Near-dup stages stay batch (cluster dedup
    needs the corpus-wide pair graph); production shape is gate + exact
    ``stream_curate`` dedup on the fingerprint in-stream, near-dup dedup
    in periodic batch over the gated sink."""
    from cloudbrush_spark.operators import textops
    from cloudbrush_spark.functions import text as textfn
    q = textops.quality_col("text")
    l = textops.lang_pred_col("text")  # noqa: E741
    wc = textfn.token_count("text").cast("long")
    return docs.select(
        "doc_id", q.alias("quality"), l.alias("lang_pred"),
        wc.alias("ws_tokens"),
        ((q >= quality_min) & (l == lang)
         & wc.between(min_tokens, max_tokens)).alias("keep"))


DOC_TS_SCHEMA = "doc_id long, text string, ts timestamp"


def stream_curate(docs: DataFrame, *, quality_min: float = 0.5,
                  lang: str = "en", min_tokens: int = 10,
                  max_tokens: int = 1000, ts_col: str = "ts",
                  watermark: str = "10 minutes") -> DataFrame:
    """Streaming gate + EXACT DEDUP: the streaming form of ``curate``'s
    first two stages (quality/lang/length gate -> normalized-fingerprint
    exact dedup), applied as documents arrive.

    Survivor filter (``keep``) runs first, then
    ``dropDuplicatesWithinWatermark`` on the content fingerprint: state
    for a fingerprint is held only until the watermark passes its arrival
    time, so state is BOUNDED — the only exact-dedup form that survives
    an unbounded corpus stream (a duplicate arriving after its original's
    state expired is re-emitted; at-least-once dedup, same contract as
    ``stream_dedup``).  The near-dup cluster stage stays batch over the
    deduped sink (it needs the corpus-wide pair graph).

    Output: one row per first-arrival of each kept fingerprint —
    (doc_id, ts, fp, quality, ws_tokens).
    """
    from cloudbrush_spark.functions import text as textfn
    from cloudbrush_spark.operators import textops
    q = textops.quality_col("text")
    l = textops.lang_pred_col("text")  # noqa: E741
    wc = textfn.token_count("text").cast("long")
    gated = docs.select(
        "doc_id", F.col(ts_col).alias(ts_col),
        textfn.fingerprint("text").alias("fp"),
        q.alias("quality"), wc.alias("ws_tokens"),
        ((q >= quality_min) & (l == lang)
         & wc.between(min_tokens, max_tokens)).alias("keep"),
    ).filter("keep").drop("keep")
    return (gated.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["fp"]))


def stream_guard(docs: DataFrame, benchmark: DataFrame | None = None,
                 n: int = 13, id_col: str = "doc_id",
                 text_col: str = "text",
                 max_benchmark_grams: int = 50_000_000) -> DataFrame:
    """Streaming release-hygiene gate: PII scrub + optional benchmark
    decontamination, applied as documents ARRIVE.

    Both checks are STATELESS, so every micro-batch is independent — no
    watermark, no state store:

    - the PII scrub (``guard.pii_scrub``) is pure column expressions and
      streams verbatim;
    - decontamination cannot use the batch form's explode -> join ->
      groupBy (a streaming aggregation would hold per-doc state); the
      ``benchmark`` side is STATIC by definition, so its distinct gram
      set is collected once and broadcast (the streaming analogue of
      ``guard.decontaminate``'s 8-byte-hash broadcast — bounded by
      ``max_benchmark_grams``), the doc's distinct gram array is built
      with the same stateless zip-shingle expressions as batch, and an
      Arrow-batched pandas UDF does vectorized set-membership counting.
      Counts are over distinct grams — identical to the batch
      ``n_hit_grams``/``n_grams`` contract.

    Output: one row per arriving doc — the ``pii_scrub`` columns plus
    (n_hit_grams, n_grams, contaminated) when ``benchmark`` is given.
    """
    from pyspark.sql.functions import pandas_udf

    from cloudbrush_spark.functions import text as textfn
    from cloudbrush_spark.operators import guard

    if benchmark is None:
        return guard.pii_scrub(docs, id_col=id_col, text_col=text_col)
    bench_rows = (
        benchmark
        .select(F.explode(F.array_distinct(
            textfn.word_shingles(textfn.tokens(text_col), n))).alias("g"))
        .distinct()
    )
    cnt = bench_rows.count()
    if cnt > max_benchmark_grams:
        raise ValueError(
            f"benchmark has {cnt} distinct {n}-grams "
            f"(> max_benchmark_grams={max_benchmark_grams}); a gram set "
            "that size should go through the batch decontaminate join")
    bench_set = frozenset(r.g for r in bench_rows.collect())
    bc = docs.sparkSession.sparkContext.broadcast(bench_set)

    @pandas_udf("long")
    def n_hits(grams):
        import pandas as pd
        bs = bc.value
        return pd.Series([int(sum(g in bs for g in arr)) for arr in grams])

    # ONE projection: gram counts ride through pii_scrub as keep_cols —
    # a join of two projections of the same streaming frame would be a
    # stream-stream join (state + watermark for nothing)
    grams_col = F.array_distinct(
        textfn.word_shingles(textfn.tokens(text_col), n))
    enriched = docs.select(
        "*",
        F.size(grams_col).cast("long").alias("n_grams"),
        n_hits(grams_col).alias("n_hit_grams"))
    return guard.pii_scrub(
        enriched, id_col=id_col, text_col=text_col,
        keep_cols=("n_grams", "n_hit_grams")).select(
        "*", (F.col("n_hit_grams") > 0).alias("contaminated"))


def stream_boiler_scrub(docs: DataFrame, removal_lines: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_removal_lines: int = 10_000_000) -> DataFrame:
    """Streaming boilerplate scrub: apply a PRE-COMPUTED removal list to
    documents as they arrive.

    Global line counts need the whole corpus, which an unbounded stream
    never has — so the production shape is: a batch pass over a corpus
    snapshot derives the removal list (``guard.boilerplate_lines``), and
    the stream applies it STATELESSLY (no watermark, no state store;
    every micro-batch independent).  The list is static by definition,
    so it collects once and broadcasts — the same static-side treatment
    as ``stream_guard``'s benchmark gram set, bounded by
    ``max_removal_lines`` (boilerplate is a small vocabulary; a list
    past the bound belongs in the batch ``boilerplate_scrub`` join).

    Output matches the batch scrub contract given the same list: one row
    per arriving doc — (id, clean_text, n_lines, n_removed), blank lines
    dropped, surviving lines rejoined in order.
    """
    from pyspark.sql.functions import pandas_udf

    cnt = removal_lines.count()
    if cnt > max_removal_lines:
        raise ValueError(
            f"removal list has {cnt} lines (> max_removal_lines="
            f"{max_removal_lines}); apply it with the batch "
            "guard.boilerplate_scrub join instead")
    rset = frozenset(r.line for r in removal_lines.select("line").collect())
    bc = docs.sparkSession.sparkContext.broadcast(rset)

    @pandas_udf("string")
    def clean(texts):
        rs = bc.value
        return texts.map(lambda t: "\n".join(
            ln for ln in t.split("\n") if ln.strip() and ln not in rs))

    nonblank = F.filter(F.split(F.col(text_col), "\n"),
                        lambda s: F.trim(s) != F.lit(""))
    kept_lines = F.when(F.col("clean_text") == "", F.lit(0)) \
        .otherwise(F.size(F.split("clean_text", "\n")))
    return (
        docs.select(
            F.col(id_col),
            clean(F.col(text_col)).alias("clean_text"),
            F.size(nonblank).cast("long").alias("n_lines"))
        .select(
            id_col, "clean_text", "n_lines",
            (F.col("n_lines") - kept_lines).cast("long").alias("n_removed"))
    )


def stream_publish(docs: DataFrame, out_dir: str):
    """Idempotent micro-batch publish — the SINK end of the streaming
    curation path (``stream_curate`` gates and dedups; this lands the
    survivors as parquet a batch engine can read mid-stream).

    ``foreachBatch`` with the batch-id transaction pattern: each
    micro-batch writes ``batch=<id>/`` then drops a ``_committed_<id>``
    marker; a replayed batch (failure recovery re-delivers the SAME
    batch id with the SAME data) sees its marker and skips — so the
    at-least-once delivery of foreachBatch becomes exactly-once output.
    The marker is checked before, and written after, the data write:
    a crash between the two re-writes the data (mode overwrite, same
    content — idempotent), never drops it.

    Markers and batch dirs go through the Hadoop FS API (r11), so the
    sink runs unchanged on HDFS/S3; a transactional table format
    remains the richer production variant — the batch-id contract is
    identical.

    Returns the ``DataStreamWriter``; callers ``.start()`` it with their
    ``checkpointLocation`` and trigger.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from cloudbrush_spark.sources.corpus import fs_exists, fs_write_text
        spark = batch_df.sparkSession
        marker = f"{out_dir}/_committed_{batch_id}"
        if fs_exists(spark, marker):
            # still consume the re-delivered frame: with a STATEFUL
            # upstream (watermarked agg, streaming dedup), Spark 4's
            # state-store commit validation fails the query when
            # foreachBatch returns without processing the batch's
            # partitions (see rollup_upsert)
            batch_df.count()
            return
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}")
        fs_write_text(spark, marker, "")

    return docs.writeStream.foreachBatch(write_batch)


def stream_rollup_maintain(events: DataFrame, table_dir: str,
                           window: str = "1 hour",
                           watermark: str = "10 minutes"):
    """Continuously-maintained tumbling rollup — the 'hypertable
    continuous aggregate' shape: a long-lived queryable table of per
    (window_start, event_type) totals that a stream keeps current, so
    dashboards read a tiny aggregate table instead of re-scanning raw
    events.

    Mechanics: the windowed aggregate runs in UPDATE output mode, so
    each micro-batch delivers the NEW TOTALS of only the keys that
    changed; ``foreachBatch`` upserts them into a versioned parquet
    table — write ``v<batch_id>/`` = (previous current table anti-joined
    on the changed keys) + the changed rows, then atomically CREATE the
    ``_vcommitted_<batch_id>`` marker (r11: marker creation through the
    Hadoop FS API is the commit point — atomic on HDFS, posix and
    object stores alike, where the previous ``os.replace`` pointer was
    local-FS-only).  Readers (:func:`read_rollup`) resolve the highest
    committed marker, so they always see a complete consistent version
    and compaction of stale versions can run out of band.  Replays are
    idempotent: an existing marker means the batch committed before the
    crash, so the re-delivery returns without touching the table —
    recomputing it would read ``v<batch_id>`` as the previous version
    while overwriting the same directory, which Spark rejects ("cannot
    overwrite a path that is also being read from") exactly in the
    crash-recovery window the idempotence exists for.  A crash BEFORE
    the marker leaves the prior version current, and the re-run
    rebuilds ``v<batch_id>`` from it as normal.

    Scale shape: per trigger the sink rewrites only the AGGREGATE table
    (bounded by distinct (window, type) keys — watermark-evicted state
    upstream, hours x small type space), never the raw events; at a real
    deployment the same foreachBatch body lands on a transactional table
    format and the anti-join+union becomes MERGE INTO.  State in the
    aggregation itself is watermark-bounded.  Markers and version dirs
    go through the Hadoop FS API (any scheme); a transactional table
    format remains the richer production variant (time travel, row-level
    MERGE), but nothing here is local-FS-only anymore.

    Returns the DataStreamWriter; callers ``.start()`` with their
    checkpointLocation and trigger.
    """
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double"), 2).alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "cnt", "value_sum")
    )

    return agg.writeStream.outputMode("update").foreachBatch(
        lambda batch_df, batch_id: rollup_upsert(batch_df, batch_id,
                                                 table_dir))


#: commit markers retained behind the newest batch — wide enough for any
#: realistic re-delivery window, narrow enough that marker listings stay
#: bounded on a long-lived table
ROLLUP_MARKER_KEEP = 64


def _committed_rollup_versions(spark, table_dir: str) -> list[int]:
    from cloudbrush_spark.sources.corpus import _hfs
    _, _, fs, root = _hfs(spark, table_dir)
    if not fs.exists(root):
        return []
    return sorted(
        int(st.getPath().getName()[len("_vcommitted_"):])
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("_vcommitted_"))


def rollup_upsert(batch_df: DataFrame, batch_id: int,
                  table_dir: str) -> None:
    """One micro-batch of :func:`stream_rollup_maintain`'s versioned
    upsert (factored out so the crash-recovery window is directly
    testable).  See that docstring for the commit/replay contract.

    The commit point is the atomic CREATE of ``_vcommitted_<batch_id>``
    (r11 — replaces the local-only ``os.replace`` pointer repoint):
    marker creation is atomic on HDFS, posix AND object stores, so the
    same table works on every scheme the Hadoop FS API dispatches to.
    Readers resolve max(committed id); ``_CURRENT`` is still written as
    a human-readable convenience AFTER the commit and is never the
    source of truth."""
    from cloudbrush_spark.sources.corpus import (_hfs, fs_exists,
                                                 fs_write_text)
    spark = batch_df.sparkSession
    jvm, _, fs, root = _hfs(spark, table_dir)
    fs.mkdirs(root)
    commit = jvm.org.apache.hadoop.fs.Path(root,
                                           f"_vcommitted_{batch_id}")
    if fs.exists(commit):
        # the marker IS the commit: this batch already landed before a
        # crash/restart — re-running would read and overwrite the same
        # directory.  Still CONSUME the re-delivered frame: Spark 4's
        # state-store commit validation requires foreachBatch to
        # process every partition of a stateful stream's batch, and an
        # unconsumed early return fails the whole query
        # (STATE_STORE_COMMIT_VALIDATION_FAILED).  The skip is about
        # the TABLE, not the stream.
        batch_df.count()
        return
    done = _committed_rollup_versions(spark, table_dir)
    prev_version = f"v{done[-1]}" if done else None
    # pre-marker table (pre-r11 layout): fall back to the old pointer
    if prev_version is None and fs_exists(spark,
                                          f"{table_dir}/_CURRENT"):
        from cloudbrush_spark.sources.corpus import fs_read_text
        prev_version = fs_read_text(spark,
                                    f"{table_dir}/_CURRENT").strip()
        if not re.fullmatch(r"v\d+", prev_version):
            raise ValueError(
                f"torn/invalid _CURRENT pointer {prev_version!r} under "
                f"{table_dir} — retry (a concurrent writer was mid-"
                "update) or remove the file if the table is corrupt")
        if prev_version == f"v{batch_id}":
            batch_df.count()  # see the commit-marker branch above
            return
    changed = batch_df.persist()
    try:
        if prev_version is not None:
            prev = spark.read.parquet(f"{table_dir}/{prev_version}")
            keep = prev.join(
                changed.select("window_start", "event_type"),
                ["window_start", "event_type"], "left_anti")
            out = keep.unionByName(
                changed.select(*prev.columns))
        else:
            out = changed
        out.write.mode("overwrite").parquet(f"{table_dir}/v{batch_id}")
    finally:
        changed.unpersist()
    fs.create(commit, True).close()  # atomic commit point
    # bound the marker listing: keep the trailing window (replay after
    # a crash re-delivers only the batches since the last checkpoint
    # commit; an OLDER batch replayed from a fresh checkpoint simply
    # recomputes — the upsert is idempotent, which the replay test
    # exercises), drop the rest so a long-lived table's per-batch
    # listStatus stays O(window), not O(history)
    for old in done:
        if old < batch_id - ROLLUP_MARKER_KEEP:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                root, f"_vcommitted_{old}"), False)
    fs_write_text(spark, f"{table_dir}/_CURRENT", f"v{batch_id}")


def read_rollup(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read the current version of a :func:`stream_rollup_maintain`
    table — resolves the highest COMMITTED version marker (a concurrent
    upsert writes its new version dir before its marker, so a read
    never tears); falls back to the pre-r11 ``_CURRENT`` pointer."""
    from cloudbrush_spark.sources.corpus import fs_exists, fs_read_text
    done = _committed_rollup_versions(spark, table_dir)
    if done:
        return spark.read.parquet(f"{table_dir}/v{done[-1]}")
    if fs_exists(spark, f"{table_dir}/_CURRENT"):
        v = fs_read_text(spark, f"{table_dir}/_CURRENT").strip()
        if not re.fullmatch(r"v\d+", v):
            raise ValueError(
                f"torn/invalid _CURRENT pointer {v!r} under {table_dir} "
                "— retry (a concurrent writer was mid-update)")
        return spark.read.parquet(f"{table_dir}/{v}")
    raise ValueError(f"no committed rollup version under {table_dir} — "
                     "has the rollup stream committed a batch yet?")
