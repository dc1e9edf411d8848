"""Corpus guard operators: benchmark decontamination, PII redaction, and
repetition-based quality signals.

These are the "keep the training set clean" side of a large-scale
pretraining-data pipeline, complementing the dedup family
(operators/dedup.py) and the heuristic gate (operators/textops.py).  They
generalize the reference's filter-by-membership jobs (the broadcast
blacklist anti-join of src/Brush/MatchPrefix.java:366-380 and the
trusted-read tagging of src/Brush/TagTrustedReads.java) to the three
checks every corpus release runs:

- ``decontaminate``: flag corpus documents sharing a word n-gram with a
  held-out benchmark/eval set (the GPT-3/Llama-style 13-gram overlap
  rule).
- ``pii_scrub``: count and redact emails / IPv4 addresses / US and
  international phone numbers / Luhn-validated payment-card numbers
  with engine-portable regexes (+ an expression-level mod-10 checksum).
- ``repetition_stats``: most-frequent unigram/bigram mass and duplicate-
  line fraction (Gopher-style repetition filters).
- ``semantic_decontaminate``: embedding-cosine proximity to the
  benchmark set — the contamination class (paraphrases, translations,
  reformatted eval items) the exact n-gram rule cannot see.
- ``boilerplate_scrub``: cross-document repeated-line removal (the
  C4/RefinedWeb rule) — boilerplate that repeats verbatim across pages
  and survives document-level dedup.

Scale shape: decontaminate is explode -> broadcast-semi-join -> per-doc
count (the benchmark gram set is tiny relative to the corpus — a few
million grams -> an 8-byte-hash broadcast of a few MB; the corpus side is
one linear pass with NO shuffle on the join, then a map-side-combinable
groupBy(doc_id)).  pii_scrub is pure column expressions (codegen, zero
shuffle).  repetition_stats is explode -> groupBy(doc_id, gram) count ->
struct-min argmax per doc — two well-distributed linear shuffles, never a
per-row O(tokens^2) array scan, so a 10k-token document costs the same
per token as a 50-token one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudbrush_spark.functions import text
from cloudbrush_spark.plans import cut

# Engine-portable patterns (identical semantics under Java regex and RE2):
# character classes, bounded repetition and \b word boundaries only — no
# lookaround, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
# +CC then 2-5 separator-delimited digit groups: covers "+44 20 7946
# 0958", "+33 1 42 68 53 00", "+1-800-555-0100".  The leading '+' keeps
# it disjoint from IPV4_RE and PHONE_RE (scrub order handles the rest).
INTL_PHONE_RE = r"\+\d{1,3}([-. ]\d{1,4}){2,5}\b"
# 16-digit payment-card shapes (4x4 separated or bare run); candidates
# are only counted/redacted when the Luhn checksum validates — the
# checksummed ID class that separates real PANs from arbitrary digits.
CARD_RE = r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b|\b\d{16}\b"


def luhn_valid(s: Column) -> Column:
    """True iff the digits of ``s`` pass the Luhn mod-10 checksum.

    Pure expression (aggregate over a digit sequence — codegen'd, no
    UDF); the DuckDB twin is the same fold via list_transform/list_sum,
    so the validation is engine-portable like the regexes.
    """
    d = F.regexp_replace(s, "[^0-9]", "")
    n = F.length(d)

    def digit(i: Column) -> Column:
        return d.substr(i, F.lit(1)).cast("int")

    def term(acc: Column, i: Column) -> Column:
        dg = digit(i)
        doubled = dg * 2
        return acc + F.when(
            (n - i) % 2 == 1,
            F.when(doubled > 9, doubled - 9).otherwise(doubled),
        ).otherwise(dg)

    return (n > 0) & (
        F.aggregate(F.sequence(F.lit(1), n), F.lit(0), term) % 10 == 0)


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 13, tokens_col: str | None = None) -> DataFrame:
    """Flag corpus documents that share any word ``n``-gram with the
    benchmark set (contamination by eval-set overlap).

    Output: one row per ``docs`` row — (id, n_hit_grams, n_grams,
    contaminated) where ``n_hit_grams`` counts the doc's DISTINCT
    n-grams that also occur anywhere in ``benchmark`` and ``n_grams``
    its total distinct n-grams.  Callers drop ``contaminated`` rows (or
    audit them — the counts grade severity).

    The join runs on xxhash64(gram), not the gram string: a benchmark of
    1e6 distinct 13-grams broadcasts as ~8 MB of longs instead of ~100 MB
    of strings.  A 64-bit collision would need ~2^32 distinct grams to
    become likely (birthday bound); at realistic benchmark sizes the
    false-hit probability is < 1e-6, and a false hit only *over*-flags —
    it never lets contamination through.

    ``tokens_col`` names a pre-materialized token-array column on the
    CORPUS side (for pipelines that already tokenized, e.g. curation's
    gate); the benchmark side always tokenizes its own ``text_col``.
    """
    bench_grams = F.array_distinct(
        text.word_shingles(text.tokens(text_col), n))
    grams = (F.array_distinct(text.word_shingles(F.col(tokens_col), n))
             if tokens_col is not None else bench_grams)
    bench_g = (
        benchmark
        .select(F.explode(bench_grams).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    # the corpus side carries the gram THROUGH the hash join so the hit
    # count is over distinct grams, not distinct 64-bit hashes — an
    # intra-doc hash collision would otherwise undercount n_hit_grams
    # relative to a gram-exact audit (the contaminated flag itself can
    # only over-fire either way).  Cost: the gram string survives only on
    # the post-join hit rows, which are tiny
    corpus_g = (
        docs
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, "g", F.xxhash64("g").alias("gh"))
    )
    hits = (
        corpus_g.join(F.broadcast(bench_g), "gh")
        .groupBy(id_col)
        .agg(F.count_distinct("g").alias("n_hit_grams"))
    )
    base = docs.select(
        F.col(id_col), F.size(grams).cast("long").alias("n_grams"))
    return (
        base.join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            "n_grams",
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def pii_scrub(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Count and redact emails, IPv4 addresses, payment-card numbers
    (Luhn-validated) and phone numbers (US and international shapes).

    Output: (id, n_emails, n_ips, n_phones, n_intl_phones,
    n_card_candidates, n_card_ids, scrubbed).  ``n_card_candidates``
    counts card-SHAPED matches; ``n_card_ids`` only those passing the
    Luhn mod-10 checksum, and only those are redacted — a 16-digit
    invoice number with a failing checksum is left alone.  ``scrubbed``
    replaces matches with ``<EMAIL>`` / ``<IP>`` / ``<ID>`` / ``<PHONE>``
    in the order email -> IP -> card -> intl phone -> US phone (each
    stage matching against the previous stage's output, so a redacted
    span is never re-matched; the patterns are mutually exclusive on
    digits-with-separators shapes, so order only matters for
    pathological overlaps).  Counts are measured on the ORIGINAL text.

    Pure column expressions (the card redaction is a fold over the
    Luhn-valid match list — a higher-order function, still no UDF) —
    zero shuffle, linear scan.
    """
    col = F.col(text_col)
    t1 = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    # conditional redaction: regexp_replace cannot test a checksum, so
    # extract card-shaped matches, keep the Luhn-valid ones, and fold
    # replace() over that (tiny, usually empty) list
    valid_cards = F.filter(
        F.regexp_extract_all(t2, F.lit(CARD_RE), F.lit(0)), luhn_valid)
    t3 = F.aggregate(valid_cards, t2,
                     lambda acc, m: F.replace(acc, m, F.lit("<ID>")))
    t4 = F.regexp_replace(t3, INTL_PHONE_RE, "<PHONE>")
    scrubbed = F.regexp_replace(t4, PHONE_RE, "<PHONE>")
    card_matches = F.regexp_extract_all(col, F.lit(CARD_RE), F.lit(0))
    return docs.select(
        F.col(id_col),
        F.regexp_count(col, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(col, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(col, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(col, F.lit(INTL_PHONE_RE)).cast("long")
        .alias("n_intl_phones"),
        F.size(card_matches).cast("long").alias("n_card_candidates"),
        F.size(F.filter(card_matches, luhn_valid)).cast("long")
        .alias("n_card_ids"),
        scrubbed.alias("scrubbed"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Repetition signals for Gopher-style quality filtering.

    Output: (id, top_bigram, top_bigram_cnt, top_unigram_cnt, n_tokens,
    n_bigrams, dup_line_frac).  ``top_bigram`` is the most frequent word
    bigram (ties broken toward the lexicographically smallest — the same
    tie-break an ORDER BY cnt DESC, gram ASC window gives), '' when the
    doc has < 2 tokens.  ``dup_line_frac`` is the fraction of non-empty
    lines that are repeats of another line (1 - distinct/total), 0.0 for
    single-line docs.  Consumers threshold top_bigram_cnt/n_bigrams and
    top_unigram_cnt/n_tokens — high mass in one gram marks boilerplate
    and degenerate repetition.

    The per-gram counts go through explode + groupBy(doc, gram) +
    struct-min argmax (min over (-cnt, gram) = most frequent, smallest
    on ties) — never a per-row array self-scan, so cost stays linear in
    tokens regardless of document length.  dup_line_frac is a pure array
    expression (lines per doc are bounded by doc size and need no
    cross-row state).
    """
    toks = docs.select(F.col(id_col), text.tokens(text_col).alias("t"))
    uni = (
        toks.select(id_col, F.explode("t").alias("g"))
        .groupBy(id_col, "g").count()
        .groupBy(id_col).agg(F.max("count").alias("top_unigram_cnt"))
    )
    big = (
        toks.select(
            id_col,
            F.explode(text.word_shingles(F.col("t"), 2)).alias("g"))
        .groupBy(id_col, "g").count()
        .groupBy(id_col).agg(
            F.min(F.struct((-F.col("count")).alias("negc"),
                           F.col("g").alias("g"))).alias("top"))
        .select(
            id_col,
            F.col("top.g").alias("top_bigram"),
            (-F.col("top.negc")).cast("long").alias("top_bigram_cnt"))
    )
    lines = F.filter(F.split(F.col(text_col), r"\n"),
                     lambda s: F.trim(s) != F.lit(""))
    # n_tokens from the SAME tokenizer the gram counts use, so the
    # top_*_cnt / n_* ratios consumers threshold are true fractions
    n_tok = F.size(text.tokens(text_col))
    base = docs.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        F.greatest(n_tok - 1, F.lit(0)).cast("long").alias("n_bigrams"),
        F.when(F.size(lines) <= 1, F.lit(0.0))
         .otherwise(F.round(
             1.0 - F.size(F.array_distinct(lines)) / F.size(lines), 4))
         .alias("dup_line_frac"),
    )
    return (
        base.join(big, id_col, "left").join(uni, id_col, "left")
        .select(
            id_col,
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.coalesce("top_bigram_cnt", F.lit(0)).cast("long").alias("top_bigram_cnt"),
            F.coalesce("top_unigram_cnt", F.lit(0)).cast("long").alias("top_unigram_cnt"),
            "n_tokens", "n_bigrams", "dup_line_frac",
        )
    )


def boilerplate_scrub(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_df: int = 1) -> DataFrame:
    """Cross-document repeated-LINE removal (the C4/RefinedWeb
    boilerplate rule): drop every line whose corpus-wide occurrence
    count exceeds ``max_df`` — navigation chrome, cookie banners,
    newsletter prompts and licence footers repeat verbatim across pages
    and survive document-level dedup because the documents CONTAINING
    them differ.

    Output: one row per input doc — (id, clean_text, n_lines,
    n_removed).  Lines are newline-split segments with non-blank
    content; blank segments are dropped on both sides of the count.
    ALL occurrences of an over-threshold line are removed (no
    keep-first: keep-first needs a global document order, which is
    partition-dependent — all-occurrence removal is deterministic under
    any partitioning and is what a reproducible release wants).  Docs
    whose every line is boilerplate come back with ``clean_text = ''``.

    Scale shape: posexplode (linear in lines) -> groupBy(line) count
    (one shuffle, uniform unless the corpus is ALL boilerplate) -> join
    the counts back on the same key (the exchange is reusable — same
    partitioning) -> per-doc ordered reassembly (groupBy(id), bounded
    by a doc's own line count).  No driver-side collect and no global
    order anywhere.  At extreme scale the count/join key can be
    xxhash64(line) to slim the shuffle (the decontaminate trick, 8-byte
    keys instead of line strings); kept exact-string here so the DuckDB
    twin verifies the precise removal set."""
    lines = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n"))
             .alias("pos", "line"))
        .filter(F.trim("line") != "")
    )
    cnt = lines.groupBy("line").agg(F.count(F.lit(1)).alias("line_df"))
    kept = (
        lines.join(cnt, "line")
        .select(id_col, "pos", "line",
                (F.col("line_df") > max_df).alias("boiler"))
    )
    per_doc = kept.groupBy(id_col).agg(
        F.concat_ws("\n", F.transform(
            F.array_sort(F.filter(
                F.collect_list(F.struct("pos", "line", "boiler")),
                lambda s: ~s["boiler"])),
            lambda s: s["line"])).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("boiler").cast("long")).cast("long").alias("n_removed"),
    )
    base = docs.select(F.col(id_col))
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def semantic_decontaminate(vectors: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           max_benchmark: int = 1_000_000) -> DataFrame:
    """Flag corpus documents whose EMBEDDING is near a benchmark/eval-set
    embedding — contamination the 13-gram rule misses (paraphrases,
    translations, format-shuffled eval items).

    Output: one row per ``vectors`` row — (id, bench_cosine,
    contaminated) where ``bench_cosine`` is the max cosine against any
    benchmark vector (-1.0 when the benchmark is empty) and
    ``contaminated`` = bench_cosine >= threshold.

    Scale shape: benchmark suites are SMALL by construction (eval sets
    are thousands to low millions of rows, never corpus-sized — enforced
    by ``max_benchmark``), so the benchmark matrix is collected once,
    L2-normalized, and broadcast; the corpus side is ONE narrow
    Arrow-batched ``mapInPandas`` pass computing a per-batch matmul
    (numpy BLAS — the vectorized fast path, never per-row Python) with
    zero shuffle and zero join.  An n-corpus x m-benchmark pair join
    would emit n*m rows (1e9 docs x 1e4 eval items = 1e13) — the matmul
    streams the same arithmetic through C = batch @ B.T without ever
    materializing pairs.  The analogue of ``decontaminate``'s broadcast
    gram set, lifted to the embedding space.
    """
    import numpy as np

    n_bench = benchmark.count()
    if n_bench > max_benchmark:
        raise ValueError(
            f"benchmark has {n_bench} vectors (> max_benchmark="
            f"{max_benchmark}); semantic decontamination broadcasts the "
            "benchmark matrix — a corpus-sized 'benchmark' is a "
            "near-duplicate join, not a decontamination pass")
    rows = benchmark.select(vec_col).collect()
    if rows:
        bm = np.array([r[0] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(bm, axis=1)
        norms[norms == 0.0] = 1.0
        bm = bm / norms[:, None]
    else:
        bm = np.zeros((0, 1), dtype=np.float64)
    bc = vectors.sparkSession.sparkContext.broadcast(bm)
    thr = float(threshold)
    out_schema = f"{id_col} long, bench_cosine double, contaminated boolean"

    def score(batches):
        import pandas as pd
        b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if b.shape[0] == 0:
                mx = np.full(len(pdf), -1.0)
            else:
                c = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf[vec_col]])
                cn = np.linalg.norm(c, axis=1)
                cn[cn == 0.0] = 1.0
                mx = ((c / cn[:, None]) @ b.T).max(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "bench_cosine": mx,
                "contaminated": mx >= thr,
            })

    return vectors.select(id_col, vec_col).mapInPandas(score, out_schema)


def repeated_spans(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 13,
                   min_df: int = 2, tokenizer=None) -> DataFrame:
    """Cross-document repeated-passage detection: for every document,
    the maximal token spans all of whose word ``n``-grams occur in at
    least ``min_df`` distinct documents — the gram-level approximation
    of suffix-array exact-substring dedup (find the memorization-prone
    passages a 100 TB corpus repeats verbatim: licenses, templates,
    syndicated articles).  Complements the line-level
    ``boilerplate_scrub`` (spans need no newline structure) and the
    benchmark-set ``decontaminate`` (the "benchmark" here is the corpus
    itself).

    Shape: one gram explode (linear) -> a HASH-keyed doc-frequency
    prefilter (xxhash64(gram): the shuffle carries 8-byte keys instead
    of ~100-byte 13-gram strings — at 100 TB that is the difference
    between ~1 TB and ~6 TB of shuffle) -> an EXACT gram-string
    group-by over the surviving candidates only (a 64-bit collision can
    only widen the candidate superset, never fabricate a shared span —
    the string stage re-verifies df on the true grams, and it runs on
    the repeated-content subset, not the corpus) -> semi join back ->
    per-doc ordered window merging consecutive shared positions into
    maximal runs (the sessionize run-grouping shape: lag + conditional
    cumsum, per-doc bounded sorts).  Output rows are intrinsically
    bounded by the repeated-content volume, never the corpus size.

    Output: (id_col, span_start, span_end, n_grams) in 1-based TOKEN
    coordinates; span_end = last token index covered (start of the last
    shared gram + n - 1).

    ``tokenizer`` (Column -> array<string> Column) overrides the default
    normalized tokenizer (``functions/text.tokens``: lowercased
    alphanumeric — recall-oriented, near-verbatim repeats match).  The
    span-scrub path passes a raw whitespace tokenizer so positions index
    the original text's whitespace tokens and removal is byte-faithful.
    """
    from pyspark.sql import Window

    tok = tokenizer if tokenizer is not None else text.tokens
    grams = (
        docs.select(
            F.col(id_col),
            F.posexplode(text.word_shingles(tok(F.col(text_col)), n))
            .alias("pos0", "g"))
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "g")
    )

    def _df_keys(frame: DataFrame, key: str) -> DataFrame:
        """Keys occurring in >= min_df DISTINCT documents.  For the
        shipped default min_df=2 that predicate is exactly
        ``min(id) != max(id)`` — ONE map-side-combinable aggregate
        instead of count_distinct's two-exchange (partial-dedup, then
        count) shape, halving the gram stream's shuffle passes (r14,
        guide §2.3/§2.4).  Larger thresholds keep the exact
        count_distinct."""
        g = frame.groupBy(key)
        if min_df == 2:
            agg = g.agg(F.min(id_col).alias("__mn"),
                        F.max(id_col).alias("__mx"))
            return agg.filter(F.col("__mn") != F.col("__mx")).select(key)
        return (g.agg(F.count_distinct(F.col(id_col)).alias("df"))
                .filter(F.col("df") >= min_df).select(key))

    hashed = grams.withColumn("gh", F.xxhash64("g"))
    hot = _df_keys(hashed, "gh")
    # cut the candidate frame: it is SMALL (the repeated-content subset)
    # and consumed twice below — materializing it means the full-corpus
    # explode runs exactly twice (df pass + this pass), while the
    # full-width shuffle carries 8-byte hashes instead of ~100-byte gram
    # strings
    cand = cut(hashed.join(hot, "gh", "left_semi").drop("gh"))
    shared = _df_keys(cand, "g")
    hits = cand.join(shared, "g", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        hits.withColumn(
            "nr", F.when(F.col("pos") - F.lag("pos").over(w) > 1, 1)
                   .otherwise(0))
        .withColumn("run", F.sum("nr").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        runs.groupBy(id_col, "run")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + n - 1).alias("span_end"),
             F.count(F.lit(1)).alias("n_grams"))
        .drop("run")
    )

def _ws_tokens(col):
    """Raw whitespace tokenizer: positions index the original text's
    whitespace tokens, so dropping token i removes exactly the bytes the
    reader would see (modulo whitespace-run collapse on rejoin)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")) \
            .otherwise(F.split(trimmed, r"\s+"))


def span_scrub(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", n: int = 13,
               min_df: int = 2) -> DataFrame:
    """Cross-document repeated-passage REMOVAL — the scrub counterpart of
    :func:`repeated_spans` (which only reports).  Every maximal passage
    whose word ``n``-grams occur in >= ``min_df`` distinct documents is
    dropped from ALL documents that carry it (the C4/ExactSubstr-style
    policy: a verbatim passage the corpus repeats — licenses, templates,
    syndicated articles — is memorization fuel wherever it appears).

    Runs on the RAW WHITESPACE token stream (not the normalized tokens
    the audit uses): span positions index the original text's whitespace
    tokens, so surviving tokens keep their exact bytes — casing and
    punctuation included — and the removal is precision-oriented (only
    byte-verbatim repeats match).  Untouched documents come back
    byte-identical; scrubbed documents have their surviving tokens
    rejoined with single spaces (whitespace runs collapse — the same
    contract as whitespace token counting, so ``ws_tokens`` computed on
    the scrubbed text is exactly the surviving token count).

    Shape: :func:`repeated_spans` (gram explode -> hashed df prefilter
    -> exact re-verify -> per-doc run merge) -> per-doc span-array
    aggregate (bounded by repeated-content volume, never corpus size)
    -> one equi-join back on the doc id -> a single higher-order filter
    over the token array.  No collect, no global sort; the join's
    build side is the span table (small after curation-scale dedup,
    AQE-broadcastable).

    Returns (id_col, clean_text, spans_removed, tokens_removed) — one
    row per INPUT document (spans_removed=0 for untouched docs), so the
    caller can join it back 1:1.
    """
    spans = repeated_spans(docs, id_col=id_col, text_col=text_col, n=n,
                           min_df=min_df, tokenizer=_ws_tokens)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.count(F.lit(1)).alias("spans_removed"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
         .alias("tokens_removed"))
    joined = docs.select(id_col, text_col).join(per_doc, id_col, "left")
    kept = F.filter(
        _ws_tokens(F.col(text_col)),
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"])))
    return joined.select(
        F.col(id_col),
        F.when(F.col("_spans").isNull(), F.col(text_col))
         .otherwise(F.array_join(kept, " ")).alias("clean_text"),
        F.coalesce(F.col("spans_removed"), F.lit(0)).cast("long")
         .alias("spans_removed"),
        F.coalesce(F.col("tokens_removed"), F.lit(0)).cast("long")
         .alias("tokens_removed"))
