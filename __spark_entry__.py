"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or the
LLM-data-pipeline extension surface), expressed via the
``cloudbrush_spark`` operator library; ``oracle_sql()`` carries the
DuckDB-equivalent ANSI SQL.  Column names and types are aligned on both
sides (aggregates routed through DECIMAL where float summation order
would otherwise make the value-hash flap).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudbrush_spark.functions import text as textfn
from cloudbrush_spark.operators import dedup, stats, textops


# Tables whose consumers are MAP-HEAVY per input byte — the text corpus
# feeds tokenize / shingle / 16x md5 / gate-regex
# pipelines (~10^3 instructions per byte), so a scan that planned as one
# task serializes whole CPU-seconds onto one core.  The relational /
# event / vector tables feed cheap columnar aggregates and joins where a
# widening exchange is pure overhead (measured: widening EVERY >=256KB
# table cut the heavy queries 2-4x but inflated the sub-second queries
# 1.4-1.8x toward the 2x anchor gate — per-task fixed cost dominates
# them).
_WIDEN_TABLES = frozenset({"documents"})


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    return _widen_scan(spark, df, path) if name in _WIDEN_TABLES else df


def _widen_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition a scan whose file layout yields fewer
    splits than the session has cores — guide §2.5's "unsplittable
    input" case.  The local fixtures are single-file, single-row-group
    parquet, so every scan is ONE task and the map-heavy document
    pipelines (tokenize / shingle / 16x md5 / gate
    regexes) serialize onto one core before their first exchange
    (measured at sf0.1: 4.2 executor-CPU-seconds single-threaded at the
    head of the minhash pipeline).  The split estimate is driver-side
    file metadata only; at production scale splits >> cores and this is
    a structural no-op, so nothing here tunes FOR local mode — it only
    removes a fixture-layout artifact local mode suffers."""
    try:
        # a Spark-written dataset is a DIRECTORY of part files, nested
        # one level per partition column (k=1/part-0.parquet); getsize on
        # the directory entry returns ~4KB and would mis-estimate splits
        # as 1 at ANY scale, silently inverting the "structural no-op at
        # production scale" guard — sum the data files of the whole tree
        # instead, skipping the _/.-prefixed metadata Spark skips too
        if os.path.isdir(path):
            size = 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                size += sum(os.path.getsize(os.path.join(root, f))
                            for f in files if not f.startswith(("_", ".")))
        else:
            size = os.path.getsize(path)
    except OSError:
        return df
    cores = spark.sparkContext.defaultParallelism
    # width capped at 8: per-task fixed cost (scheduling, codegen
    # instantiation, shuffle reader/writer setup — measured ~20-30 ms
    # per task on this sandbox) scales with width times stage count,
    # while the map-stage win scales as 1/width with fast-diminishing
    # returns (gate projection measured 4.5 s @1 -> 0.56 s @8 -> 0.32 s
    # @32) — 8 buys ~90% of the win at a quarter of the overhead, and
    # the corpus table's LIGHT consumers (metadata-only projections)
    # lose almost nothing
    width = min(cores, 8)
    splits = max(1, -(-size // (128 << 20)))
    if splits < width:
        return df.repartition(width)
    return df


# ---------------------------------------------------------------------------
# Query implementations (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_p1_dedup_exact(spark, sf_dir):
    """P1 generic exact dedup: normalized-fingerprint dedup over documents."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.fingerprint_dedup(docs).select(
        "fp", F.col("doc_id").alias("survivor_id"), "dup_cnt"
    )


def q_p2_filter_contained(spark, sf_dir):
    """P2 RedundantRemoval generic: anti-join drop of 'contained' rows —
    orders whose customer has a negative account balance."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    bad = customer.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("o_custkey"))
    return (
        orders.join(F.broadcast(bad), "o_custkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_p3_high_ngrams(spark, sf_dir):
    """P3 BuildHighKmerList generic: char 3-grams of part names with
    count > 50 (high-frequency token blacklist)."""
    part = _t(spark, sf_dir, "part")
    grams = part.select(F.explode(textfn.char_shingles("p_name", 3)).alias("gram"))
    return (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 50)
    )


def q_a3_ngram_doc_counts(spark, sf_dir):
    """A3 CountKmer generic: word 2-gram -> (occurrence count, distinct docs).

    Two-level aggregate instead of count + countDistinct in one groupBy:
    the exact countDistinct would Expand every posting row and shuffle the
    full stream twice; pre-aggregating on (gram, doc_id) gets map-side
    partials and derives both outputs from the collapsed pairs."""
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(textfn.word_shingles(textfn.tokens("text"), 2)).alias("gram")
    )
    per_doc = grams.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    return per_doc.groupBy("gram").agg(
        F.sum("c").alias("cnt"),
        F.count(F.lit(1)).alias("doc_cnt"),
    ).filter(F.col("cnt") >= 5)


def q_a4_count_histogram(spark, sf_dir):
    """A4 KmerStatus generic: histogram of per-user event counts.  Reads
    the one column it counts, so the file's timestamp unit never
    matters."""
    events = spark.read.schema("user_id long") \
        .parquet(os.path.join(sf_dir, "events.parquet"))
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return per_user.groupBy("cnt").agg(F.count(F.lit(1)).alias("num_users"))


def q_a5_token_freq_per_doc(spark, sf_dir):
    """A5 KmerFrequencyOfReads generic: per-doc sum/min of global token freq."""
    docs = _t(spark, sf_dir, "documents")
    postings = docs.select("doc_id", F.explode(textfn.tokens("text")).alias("tok"))
    counts = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    return (
        postings.join(counts, "tok")
        .groupBy("doc_id")
        .agg(F.sum("freq").alias("freq_sum"), F.min("freq").alias("min_freq"))
    )


def q_a6_trusted_docs(spark, sf_dir):
    """A6 IdentifyTrustedReads generic: doc trusted iff ALL its tokens have
    global frequency > 10 (min-aggregate)."""
    docs = _t(spark, sf_dir, "documents")
    postings = docs.select("doc_id", F.explode(textfn.tokens("text")).alias("tok"))
    counts = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    return (
        postings.join(counts, "tok")
        .groupBy("doc_id")
        .agg((F.min("freq") > 10).alias("trusted"))
    )


_DIST_CUTOFFS = (5_000_000, 10_000_000, 25_000_000, 40_000_000)  # cents


def q_a1_size_distribution(spark, sf_dir):
    """A1 Stats per-cutoff distribution table (the reference's 24-cutoff
    report, src/Brush/Stats.java:260-335, in generic form over order
    prices as integer cents): cnt/total/mean/N50/N50cnt per cutoff."""
    orders = _t(spark, sf_dir, "orders")
    cents = orders.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents")
    )
    out = stats.size_distribution(cents, "cents", cutoffs=_DIST_CUTOFFS)
    return out.select(
        "cutoff", "cnt", "total",
        F.round("mean", 2).alias("mean"),
        F.round("mean_cov", 2).alias("mean_cov"),
        "n50", "n50_cnt",
    )


def q_a2_global_counts(spark, sf_dir):
    """A2 CountReads generic: global row count + total text bytes."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def q_j2_overlap_equijoin(spark, sf_dir):
    """J2 VerifyOverlap generic: suffix/prefix equality theta-join
    re-expressed as an equi-join on the overlapping unit — doc A's last
    word matching doc B's first word (word-granular overlap; the DNA form
    uses k-char overlaps, src/Brush/VerifyOverlap.java:287-309)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    a = toks.select(F.col("doc_id").alias("a"), F.element_at("t", -1).alias("ov"))
    b = toks.select(F.col("doc_id").alias("b"), F.element_at("t", 1).alias("ov"))
    return (
        a.join(b, "ov")
        .filter(F.col("a") != F.col("b"))
        .groupBy("ov")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


def _derived_edges(spark, sf_dir):
    """Deterministic synthetic graph from orders: src=o_custkey,
    dst=o_custkey + 1 + o_orderkey % 5 (distinct).  Used by the graph
    operators' generic forms."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_custkey") + 1 + F.col("o_orderkey") % 5).alias("dst"),
        )
        .distinct()
    )


def q_j1_candidates(spark, sf_dir):
    """J1 MatchPrefix generic: inverted-index candidate generation with a
    per-key cap — postings on word 3-gram shingles, at most 10 docs kept
    per shingle key (deterministic rank), candidate pairs counted by
    shared keys (src/Brush/MatchPrefix.java:150-174 + the :366-380 cap)."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(textfn.word_shingles(textfn.tokens("text"), 3)).alias("sh")
    ).distinct()
    w = Window.partitionBy("sh").orderBy("doc_id")
    capped = sh.withColumn("rnk", F.row_number().over(w)) \
        .filter(F.col("rnk") <= 10).drop("rnk")
    a = capped.select(F.col("doc_id").alias("a"), "sh")
    b = capped.select(F.col("doc_id").alias("b"), "sh")
    return (
        a.join(b, "sh").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def q_j3_edge_symmetrize(spark, sf_dir):
    """J3 GenReverseEdge generic: symmetric closure of the derived edge set
    (union of edges with their reverses, dedup)."""
    e = _derived_edges(spark, sf_dir)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    return sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))


def q_g3_transitive_reduction(spark, sf_dir):
    """G3 TransitiveReduction generic: drop edge (a,c) when some b gives
    (a,b) and (b,c) — 2-hop anti-join formulation."""
    e = _derived_edges(spark, sf_dir)
    hop = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(e.select(F.col("src").alias("b"), F.col("dst").alias("c")), "b")
        .select("a", "c")
        .distinct()
    )
    reduced = e.join(
        hop.select(F.col("a").alias("src"), F.col("c").alias("dst")),
        ["src", "dst"],
        "left_anti",
    )
    return reduced.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.min("dst").alias("min_dst"),
    )


def q_g4_degrees(spark, sf_dir):
    """G4 Compressible generic: per-node f/r degree; compressible = both
    directions have exactly one neighbor."""
    e = _derived_edges(spark, sf_dir)
    out_d = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("fdeg"))
    in_d = e.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("rdeg"))
    return (
        out_d.join(in_d, "node", "full")
        .na.fill({"fdeg": 0, "rdeg": 0})
        .select(
            "node", "fdeg", "rdeg",
            ((F.col("fdeg") == 1) & (F.col("rdeg") == 1)).alias("compressible"),
        )
    )


def q_c1_tips(spark, sf_dir):
    """C1 TipsRemoval generic: tip = node with total degree <= 1 in the
    symmetric closure (dead ends of the derived graph)."""
    e = _derived_edges(spark, sf_dir)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    return deg.filter(F.col("degree") <= 1)


def q_c5_astat(spark, sf_dir):
    """C5 A-statistic generic: Myers unique/repeat classification.
    arrival-count analogue: per customer, n = orders, len = sum qty;
    astat = len*GLOBAL_RATE - n*ln2*len/AVG; classify unique = astat > 10.
    Uses the reference's formula shape (src/Brush/CutRepeatBoundary.java:306-315)
    with deterministic decimal inputs."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("mass"),
    )
    ln2 = 0.6931471805599453
    astat = (F.col("mass") / 10000.0) - (F.col("n").cast("double") * ln2)
    return per_cust.select(
        "o_custkey", "n",
        F.round(astat, 4).alias("astat"),
        (astat > 10.0).alias("unique_class"),
    )


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic over documents."""
    docs = _t(spark, sf_dir, "documents")
    return textops.language_id(docs)


def q_quality(spark, sf_dir):
    """Quality scoring over documents."""
    docs = _t(spark, sf_dir, "documents")
    return textops.quality_score(docs)


def q_winnow_fp(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints: per-doc distinct
    window-minimum k-gram hashes — partial-overlap detection the
    whole-doc md5 can't do."""
    docs = _t(spark, sf_dir, "documents")
    return textops.winnow_fingerprints(docs, k=8, window=4)


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by content hash (engine-
    portable md5 buckets — reproducible under reordering/repartition,
    unlike rand()-based sampling)."""
    from cloudbrush_spark.operators import sampling
    docs = _t(spark, sf_dir, "documents")
    out = sampling.assign_split(docs.select("doc_id"), "doc_id")
    return out.select("doc_id", "split")


def q_curation_gate_only(spark, sf_dir):
    """Composed curation decision — the canonical training-data gate:
    quality score x language-ID x token-count bounds joined into one
    keep/drop verdict per document."""
    docs = _t(spark, sf_dir, "documents")
    q = textops.quality_score(docs).select("doc_id", "quality")
    l = textops.language_id(docs).select("doc_id", "lang_pred")
    t = docs.select("doc_id", textfn.token_count("text").cast("long").alias("ws_tokens"))
    keep = ((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en")
            & F.col("ws_tokens").between(10, 1000))
    return (
        q.join(l, "doc_id").join(t, "doc_id")
        .select("doc_id", "quality", "lang_pred", "ws_tokens", keep.alias("keep"))
    )


def q_curation_filter(spark, sf_dir):
    """Text-analysis tagged union (r8): per-doc gate + corpus report.

    'doc' = q_curation_gate_only row-for-row (quality scaled to an
    exact integer: quality is rounded to 4 places, so round(q*10000)
    is engine-portable).  'report' = operators/report.corpus_report —
    the one-pass corpus data card: per-source/per-language volumes,
    quality-decile and integer-log2 length histograms, exact-duplicate
    rate, token-count quantiles, and sketch-vs-exact contracts
    (HyperLogLog distinct / percentile_approx), whose ok flags the
    oracle emits as trivially true (a contract row — a sketch
    outside tolerance flips the flag and breaks the hash).  Late r8
    adds 'heavy' rows: vocabulary heavy hitters (>2% corpus share,
    exact integer share test) with the df.stat.freqItems single-pass
    sketch's soundness folded into the v3 flag the same way — the
    sketch is run at support 0.01 < threshold 0.02 so its one-sided
    guarantee covers every reported row.  Canonical
    (op, k1, k2, v1, v2, v3)."""
    from cloudbrush_spark.operators.report import corpus_report, heavy_tokens
    doc = q_curation_gate_only(spark, sf_dir).select(
        F.lit("doc").alias("op"),
        F.col("doc_id").cast("string").alias("k1"),
        F.col("lang_pred").alias("k2"),
        F.col("ws_tokens").alias("v1"),
        F.round(F.col("quality") * 10000).cast("long").alias("v2"),
        F.col("keep").cast("long").alias("v3"))
    rep = corpus_report(_t(spark, sf_dir, "documents")).select(
        F.lit("report").alias("op"), "k1", "k2", "v1", "v2", "v3")
    hv = heavy_tokens(_t(spark, sf_dir, "documents")).select(
        F.lit("heavy").alias("op"), F.lit("heavy_tok").alias("k1"),
        F.col("tok").alias("k2"), F.col("cnt").alias("v1"),
        F.lit(0).cast("long").alias("v2"), F.col("fi_ok").alias("v3"))
    return doc.unionByName(rep).unionByName(hv)


def q_corpus_guard_base(spark, sf_dir):
    """Corpus-guard tagged union (operators/guard.py) — the three "release
    hygiene" checks a pretraining corpus runs, in one canonical
    (op, doc_id, k, v1, v2, v3) row set (the pre-spans form bench.py
    times for round-over-round comparability; the driver row is
    q_corpus_guard = this + the 'spans' leg):

    - ``decontam``: benchmark decontamination by 13-gram overlap.  The
      held-out "benchmark" is a deterministic 5% md5 sample of the corpus
      (sampling.deterministic_sample, seed='decontam' — engine-portable,
      so the oracle re-derives the same split); every remaining corpus
      doc is joined against the benchmark's n-gram set through an
      8-byte-hash broadcast.  k = hit/clean, v1 = distinct overlapping
      grams, v2 = distinct grams.
    - ``pii``: email/IPv4/US-phone counts (v1/v2/v3) plus k = md5 of the
      scrubbed text — the identity-on-clean-text twin makes the oracle
      verify the actual replacement output, not just the counts.  The
      scrub chain now includes Luhn-validated card redaction (<ID>) and
      international phones, so k covers those replacements too.
    - ``pii_ids`` (r8): the checksummed-ID class — v1 = card-shaped
      candidates, v2 = Luhn-VALID cards (the planted %13 invalid shape
      must stay out of v2 and out of the scrub), v3 = international
      phone count.
    - ``rep``: Gopher-style repetition — k = most frequent word bigram
      (smallest-wins tie-break both engines), v1 = its count, v2 = top
      unigram count, v3 = token count.
    - ``boiler`` (r8): cross-document repeated-line removal
      (guard.boilerplate_scrub) over planted boilerplate lines — k =
      md5 of the reassembled clean text, v1 = line count, v2 = lines
      removed.
    """
    from cloudbrush_spark.operators import guard
    from cloudbrush_spark.operators import sampling
    docs = _t(spark, sf_dir, "documents")
    bench = sampling.deterministic_sample(docs, "doc_id", 0.05, seed="decontam")
    # the corpus is the sample's complement — a pure filter on the same
    # md5 bucket, NOT an anti-join against the sample (zero shuffle,
    # zero broadcast; the two predicates partition docs exactly)
    corpus = docs.filter(
        sampling.hash_bucket("doc_id", 1_000_000, "decontam") >= 50_000)
    dec = guard.decontaminate(corpus, bench, n=13).select(
        F.lit("decontam").alias("op"), "doc_id",
        F.when(F.col("contaminated"), F.lit("hit"))
         .otherwise(F.lit("clean")).alias("k"),
        F.col("n_hit_grams").alias("v1"),
        F.col("n_grams").alias("v2"),
        F.lit(0).cast("long").alias("v3"))
    # the synthetic corpus contains no PII, so a raw-text pii leg would be
    # vacuously all-zero (scrub = identity).  Plant deterministic PII
    # derived from doc_id (every third doc gets an email, every fifth an
    # IP, every seventh a US phone, every fourth a Luhn-VALID payment
    # card — separator varies by doc_id%8 — every 13th a Luhn-INVALID
    # card shape that must survive the scrub, every 11th an international
    # phone) — the oracle derives the identical text, so the counts, the
    # checksum verdicts and the scrubbed-output md5 all carry signal.
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" host 10.0."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit(".1"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" tel 555-01"),
                            F.lpad((F.col("doc_id") % 10).cast("string"), 1, "0"),
                            F.lit("-"),
                            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0,
                   F.when(F.col("doc_id") % 8 == 0,
                          F.lit(" card 4111 1111 1111 1111 ok"))
                   .otherwise(F.lit(" card 4111-1111-1111-1111 ok"))
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" ref 4111 1111 1111 1112 no")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" call +44 20 7946 "),
                            F.lpad((F.col("doc_id") % 10000).cast("string"),
                                   4, "0"))).otherwise(F.lit("")),
        ).alias("text"))
    scrub = guard.pii_scrub(planted)
    pii = scrub.select(
        F.lit("pii").alias("op"), "doc_id",
        F.md5("scrubbed").alias("k"),
        F.col("n_emails").alias("v1"),
        F.col("n_ips").alias("v2"),
        F.col("n_phones").alias("v3"))
    # r8 second pii row: the checksummed-ID class (card candidates vs
    # Luhn-valid redactions) + international phone count
    pii_ids = scrub.select(
        F.lit("pii_ids").alias("op"), "doc_id",
        F.lit("").alias("k"),
        F.col("n_card_candidates").alias("v1"),
        F.col("n_card_ids").alias("v2"),
        F.col("n_intl_phones").alias("v3"))
    rep = guard.repetition_stats(docs).select(
        F.lit("rep").alias("op"), "doc_id",
        F.col("top_bigram").alias("k"),
        F.col("top_bigram_cnt").alias("v1"),
        F.col("top_unigram_cnt").alias("v2"),
        F.col("n_tokens").alias("v3"))
    # r8 fourth leg — SEMANTIC decontamination (guard.semantic_
    # decontaminate): embedding-cosine proximity to a deterministic
    # benchmark slice (vec_id % 97) catches the paraphrase/translation
    # contamination the 13-gram rule misses.  v1 integerizes the max
    # benchmark cosine (x10000, rounded) so the cross-engine hash never
    # rides on raw double bits; benchmark members flag themselves at
    # exactly 10000.
    emb = _emb(spark, sf_dir)
    sem = guard.semantic_decontaminate(
        emb, emb.filter(F.col("vec_id") % 97 == 0), threshold=0.95).select(
        F.lit("semdecon").alias("op"), F.col("vec_id").alias("doc_id"),
        F.when(F.col("contaminated"), F.lit("hit"))
         .otherwise(F.lit("clean")).alias("k"),
        F.round(F.col("bench_cosine") * 10000).cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
        F.lit(0).cast("long").alias("v3"))
    # r8 sixth leg — cross-document boilerplate removal
    # (guard.boilerplate_scrub, the C4/RefinedWeb repeated-line rule).
    # The corpus has no newlines, so plant deterministic lines: every
    # 6th doc gets one of three shared newsletter/cookie/licence lines
    # (rotating on doc_id % 18 — each repeats ~n/18 times, so line_df
    # far exceeds max_df=1 and ALL copies must vanish), every 15th doc
    # a shared second line, and every 10th doc a UNIQUE 'ref <doc_id>'
    # line that must SURVIVE (the df=1 negative control).  k = md5 of
    # the reassembled clean text, so the hash pins the exact removal
    # set and line order, not just the counts.
    lined = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 18 == 0,
                   F.lit("\nsubscribe to our newsletter for updates"))
            .when(F.col("doc_id") % 18 == 6,
                  F.lit("\nthis site uses cookies to improve your experience"))
            .when(F.col("doc_id") % 18 == 12,
                  F.lit("\ncontent licensed under creative commons"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 15 == 0,
                   F.lit("\nall rights reserved")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 10 == 0,
                   F.concat(F.lit("\nref "), F.col("doc_id").cast("string")))
            .otherwise(F.lit("")),
        ).alias("text"))
    boil = guard.boilerplate_scrub(lined).select(
        F.lit("boiler").alias("op"), "doc_id",
        F.md5("clean_text").alias("k"),
        F.col("n_lines").alias("v1"),
        F.col("n_removed").alias("v2"),
        F.lit(0).cast("long").alias("v3"))
    return (dec.unionByName(pii).unionByName(pii_ids).unionByName(rep)
            .unionByName(sem).unionByName(boil))


def q_repeated_spans_only(spark, sf_dir):
    """The corpus_guard 'spans' leg alone (bench/probe form): cross-
    document repeated-SPAN detection (guard.repeated_spans) — maximal
    token spans whose 13-grams all occur in >= 2 docs, the gram-level
    approximation of suffix-array exact-substring dedup.  Benched
    separately so the corpus_guard row's round-over-round time stays
    comparable (the minhash override precedent)."""
    from cloudbrush_spark.operators import guard
    return guard.repeated_spans(_t(spark, sf_dir, "documents"),
                                n=13, min_df=2)


def q_span_scrub_only(spark, sf_dir):
    """Repeated-passage REMOVAL (guard.span_scrub) bench/probe form: the
    repeated_spans detection on the raw whitespace token stream plus the
    mask join + higher-order token filter — what ``-curate
    -scrub_spans_df`` actually costs.  An aggregate over the scrubbed
    text (not the text itself) keeps the bench row's collect bounded."""
    from cloudbrush_spark.operators import guard
    out = guard.span_scrub(_t(spark, sf_dir, "documents"), n=13, min_df=2)
    return out.select(
        "doc_id", "spans_removed", "tokens_removed",
        F.length("clean_text").alias("clean_len"))


def q_corpus_guard(spark, sf_dir):
    """The DRIVER correctness row: the base guard union plus the late-r8
    'spans' leg (cross-document repeated-passage detection over the
    corpus's own exact duplicates — the fixture's duplicated docs make
    the expected spans analytic).  k = span_start so multiple spans per
    doc stay distinct rows."""
    spans = q_repeated_spans_only(spark, sf_dir).select(
        F.lit("spans").alias("op"), "doc_id",
        F.col("span_start").cast("string").alias("k"),
        F.col("span_end").alias("v1"),
        F.col("n_grams").alias("v2"),
        F.lit(0).cast("long").alias("v3"))
    return q_corpus_guard_base(spark, sf_dir).unionByName(spans)


def q_corpus_report_only(spark, sf_dir):
    """The curation_filter 'report' leg alone (probe/bench form): the
    one-pass corpus data card (operators/report.corpus_report)."""
    from cloudbrush_spark.operators.report import corpus_report
    return corpus_report(_t(spark, sf_dir, "documents"))


def q_sink_formats(spark, sf_dir):
    """K1+K2 sink formatting in one tagged union row (merged r7 to free a
    registry slot; both legs unchanged): k1 = FASTA record
    strings, k2 = SFA expand emit ids.  Canonical (op, k, v) strings."""
    k1 = q_k1_fasta_format(spark, sf_dir).select(
        F.lit("fasta").alias("op"), F.col("value").alias("k"),
        F.lit("").alias("v"))
    k2 = q_k2_explode_emit(spark, sf_dir).select(
        F.lit("sfa_expand").alias("op"), F.col("emit_id").alias("k"),
        F.col("p_partkey").cast("string").alias("v"))
    return k1.unionByName(k2)


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (headline aggregate query)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6-shaped forecast-revenue filter-aggregate: narrow predicate
    band on date/discount/quantity, single global sum — the pure
    scan-pushdown + map-side-aggregate shape (no shuffle beyond the final
    1-row combine)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").cast("decimal(18,2)").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(dec("l_extendedprice") * dec("l_discount"))
             .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3-shaped join+agg (customer segment revenue top-10)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join: revenue per nation for one region,
    suppliers local to the customer's nation.  Dimension chain
    (region->nation->customer/supplier) broadcasts; the fact join
    (lineitem-orders) shuffles on the order key."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    dim = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    cust = customer.join(F.broadcast(dim), customer.c_nationkey == dim.n_nationkey) \
        .select("c_custkey", "n_nationkey", "n_name")
    supp = supplier.select("s_suppkey", F.col("s_nationkey"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey)
              & (F.col("s_nationkey") == F.col("n_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4-shaped priority check: orders from one quarter with at
    least one LATE lineitem (l_shipdate > o_orderdate stands in for the
    reference benchmark's commit/receipt columns, absent here), counted
    per priority.  The EXISTS subquery plans as a LEFT SEMI join — the
    shape q1/q3/q5/q6 never exercise.  At scale the semi-join shuffles
    both sides on the order key and never materializes match
    multiplicity, so a 7-lineitem order costs the same as a 1-lineitem
    order."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01")))
    late = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(late, (orders.o_orderkey == late.l_orderkey)
                    & (late.l_shipdate > orders.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13-shaped customer order-count distribution: LEFT OUTER
    join customer->filtered orders (priority exclusion stands in for the
    benchmark's comment-pattern filter), per-customer count, then the
    count-of-counts histogram.  Exercises outer-join null semantics
    (count(col) skips the nulls unmatched customers produce) plus a
    two-level aggregation whose second groupBy key is tiny."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    ords = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderpriority") != "1-URGENT") \
        .select("o_custkey", "o_orderkey")
    per = (cust.join(ords, cust.c_custkey == ords.o_custkey, "left_outer")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("c_count")))
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16-shaped supplier-count-per-part-class: distinct suppliers
    per (brand, type, size) over the lineitem fact (standing in for the
    absent partsupp table), EXCLUDING a blacklisted supplier set
    (negative account balance stands in for the benchmark's complaints
    filter) via a broadcast LEFT ANTI join.  countDistinct plans as the
    two-phase partial-distinct aggregate; the part dimension broadcasts."""
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0) \
        .select("s_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("MEDIUM"))
        & (F.col("p_size") < 30)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17-shaped small-quantity revenue: lineitems whose quantity
    is below 20% of their part's average quantity.  The correlated AVG
    subquery is re-expressed DIVISION-FREE (5*qty*cnt < sum_qty, exact
    decimal arithmetic) so both engines compare identical integers —
    avg() in double would make the boundary rows engine-dependent.  The
    per-part aggregate is bounded by the part dimension, so AQE
    broadcasts it back onto the fact scan (no second fact shuffle)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt_qty"))
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("qty") * F.lit(5) * F.col("cnt_qty") < F.col("sum_qty"))
        .agg(F.sum("price").cast("double").alias("sum_price"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18-shaped large-volume orders: orders whose total lineitem
    quantity exceeds 350 (a HAVING aggregate subquery), joined back to
    orders+customer.  The qualifying set is tiny by construction, so
    after AQE the join back to the fact tables is a broadcast of the
    aggregate survivors — the 'aggregate, then enrich the outliers'
    shape."""
    big = (_t(spark, sf_dir, "lineitem")
           .groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
           .filter(F.col("sum_qty") > 350))
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey",
                F.col("o_totalprice").alias("totalprice"),
                F.col("sum_qty").cast("double").alias("sum_qty"))
    )


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22-shaped lapsed high-balance customers: balance above the
    positive-balance average (scalar aggregate subquery, re-expressed
    division-free: bal*n > sum over exact decimals) AND no order since
    2001-01-01 (NOT EXISTS -> LEFT ANTI join), grouped per nation.  The
    1-row scalar aggregate broadcasts; the anti-join shuffles on the
    customer key."""
    customer = _t(spark, sf_dir, "customer")
    dec_bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(dec_bal).cast("decimal(38,2)").alias("pos_sum"),
        F.count(F.lit(1)).alias("pos_n"))
    recent = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01")) \
        .select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(pos))
        .filter(dec_bal * F.col("pos_n") > F.col("pos_sum"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.sum(dec_bal).cast("double").alias("totacctbal"))
    )


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7-shaped volume shipping: revenue flowing between two
    nations (supplier nation x customer nation, both directions), per
    shipment year.  Two independent dimension chains hang off the same
    fact row — supplier->nation and orders->customer->nation — plus a
    pair-set filter and a date-part group key.  Both dim chains
    broadcast; the fact shuffles once for the final 3-key aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    pair_ok = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01")))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10-shaped returned-item ranking: revenue lost to 'R'
    (returned) lineitems per customer over one quarter's orders, top 20.
    Join+aggregate+global-top-k; ORDER is on the EXACT decimal revenue
    (tie-broken by key) so the cut line is engine-independent — ordering
    a double sum would make rank 20/21 float-dependent."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))) \
        .select("o_orderkey", "o_custkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
            .select("c_custkey", "n_name"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "n_name")
        .agg(F.sum(rev).alias("rev_exact"))
        .orderBy(F.col("rev_exact").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "n_name",
                F.col("rev_exact").cast("double").alias("revenue"))
    )


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12-shaped late-shipment priority split: lineitems shipped
    more than 30 days after their order date (standing in for the
    benchmark's commit/receipt lag — those columns are absent here),
    counted per (linestatus, priority class).  The CASE-bucketed
    conditional count is the plan shape q4/q13 never exercise."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    prio_class = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.lit("high")).otherwise(F.lit("low"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus", prio_class.alias("prio_class"))
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14-shaped promo share: revenue from PROMO-type parts vs
    total revenue for one shipment month.  Emitted DIVISION-FREE as
    (numerator, denominator) — the percentage would be a double divide
    whose last bit differs across engines; callers divide client-side."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01")))
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)
                  .otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"))
    )


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15-shaped top supplier: per-supplier revenue over one
    quarter, keeping every supplier tied at the MAX (the view + scalar
    max shape).  The argmax equality runs on the EXACT decimal sum — a
    double max would make ties engine-dependent.  The 1-row max
    broadcasts back onto the per-supplier aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev"))
    mx = per_supp.agg(F.max("total_rev").alias("mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", F.col("total_rev").cast("double").alias("total_rev"))
    )


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19-shaped disjunctive-predicate revenue: three OR'd
    (brand, size-range, quantity-range) clauses over the part join — the
    multi-clause boolean pushdown shape (Catalyst must keep the whole
    disjunction on the scan side of the join where it prunes, not
    evaluate it post-join)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    q = F.col("l_quantity")
    sz = F.col("p_size")
    clause = (
        ((F.col("p_brand") == "Brand#1") & q.between(1, 11) & sz.between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & q.between(10, 20) & sz.between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & q.between(20, 30) & sz.between(1, 15)))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: for finalized
    ('F') orders, count lineitems whose supplier shipped LATE (>30 days
    after the order date) in a multi-supplier order where NO OTHER
    supplier was late — the sole-blame attribution.  The semi join
    ("another supplier exists") and anti join ("no other late supplier")
    run on the SAME fact self-join key, the hardest correlated-EXISTS
    shape in the benchmark; both plan as single-shuffle joins on the
    order key with no match-multiplicity blowup."""
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late1 = lines.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    others = li.select(F.col("l_orderkey").alias("k_ord"),
                       F.col("l_suppkey").alias("k_supp"))
    late_others = late1.select(F.col("l_orderkey").alias("k_ord"),
                               F.col("l_suppkey").alias("k_supp"))
    blamed = (
        late1
        .join(others, (F.col("l_orderkey") == F.col("k_ord"))
              & (F.col("l_suppkey") != F.col("k_supp")), "left_semi")
        .join(late_others, (F.col("l_orderkey") == F.col("k_ord"))
              & (F.col("l_suppkey") != F.col("k_supp")), "left_anti"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8-shaped national market share: of the STANDARD-part
    revenue sold into ASIA-region customers over 1996-1997, how much was
    supplied from NATION_9 — per order year.  Emitted DIVISION-FREE as
    (nation_revenue, total_revenue) per year; the share itself would be
    a double divide whose last bit can differ across engines.  Both
    dimension chains (customer->nation->region and supplier->nation)
    broadcast; the fact shuffles once for the year aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part") \
        .filter(F.col("p_type") == "STANDARD").select("p_partkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))) \
        .select("o_orderkey", "o_custkey", "o_orderdate")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA") \
        .select("r_regionkey")
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
            .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
            .select("c_custkey"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nat.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey, "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_9", rev)
                  .otherwise(zero)).cast("double").alias("nation_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"))
    )


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9-shaped product-line profit: per (supplier nation, order
    year), sum of  extendedprice*(1-discount) - retailprice*quantity
    over lineitems of 'red'-named parts.  The benchmark prices cost from
    partsupp.ps_supplycost, absent in this dataset — part.p_retailprice
    is the unit-cost stand-in, which preserves the plan shape (a SECOND
    per-row measure priced off the part dimension, so the part join must
    carry a numeric column through the fact aggregate, not just filter).
    All arithmetic exact decimal until the final double cast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part") \
        .filter(F.col("p_name").like("%red%")) \
        .select("p_partkey", "p_retailprice")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
            .select("s_suppkey", F.col("n_name").alias("nation")))
    amount = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)")
           - F.col("l_discount").cast("decimal(18,2)"))
        - F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


def q_tpch_suite(spark, sf_dir):
    """TPC-H-shaped SQL surface in ONE hash-checked tagged union — the
    ``relational_extras`` pattern, restoring driver verification for
    q3/q5/q6 which round 5 pruned from the 50-capped registry (a result
    regression in any leg now flips this row).  Round 8 widened the
    union from four to ten legs; round 9 takes it to nineteen so every
    relational plan shape is driver verified: q1 aggregate, q3
    join+top-k, q4 EXISTS semi-join, q5 6-table join, q6 pushdown
    filter-agg, q7 dual dimension chains + date-part key, q8
    division-free market share over a region semi-join, q9 dimension-
    priced profit measure, q10 exact-decimal-ordered top-20, q12
    CASE-bucketed conditional counts, q13 outer-join distribution, q14
    division-free conditional share, q15 exact-decimal argmax, q16
    anti-join + count-distinct, q17 division-free correlated average,
    q18 HAVING-subquery enrichment, q19 disjunctive predicate pushdown,
    q21 semi+anti on the same self-join, q22 scalar-subquery +
    anti-join.  Shared schema (op, k1,
    v1..v3 double, v4 long); unused measures pinned to 0 so both
    engines hash identical cells.  The single-query forms above remain
    the bench/test surface."""
    z = F.lit(0.0).alias  # noqa: E731
    q1 = q_tpch_q1(spark, sf_dir).select(
        F.lit("q1").alias("op"),
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("k1"),
        F.col("sum_qty").alias("v1"), F.col("sum_base_price").alias("v2"),
        F.col("sum_disc_price").alias("v3"),
        F.col("count_order").cast("long").alias("v4"))
    q3 = q_tpch_q3(spark, sf_dir).select(
        F.lit("q3").alias("op"), F.col("o_orderkey").cast("string").alias("k1"),
        F.col("revenue").alias("v1"), z("v2"), z("v3"),
        F.lit(0).cast("long").alias("v4"))
    q5 = q_tpch_q5(spark, sf_dir).select(
        F.lit("q5").alias("op"), F.col("n_name").alias("k1"),
        F.col("revenue").alias("v1"), z("v2"), z("v3"),
        F.lit(0).cast("long").alias("v4"))
    q6 = q_tpch_q6(spark, sf_dir).select(
        F.lit("q6").alias("op"), F.lit("").alias("k1"),
        F.col("revenue").alias("v1"), z("v2"), z("v3"),
        F.col("n_rows").cast("long").alias("v4"))
    zl = F.lit(0).cast("long").alias  # noqa: E731
    q4 = q_tpch_q4(spark, sf_dir).select(
        F.lit("q4").alias("op"), F.col("o_orderpriority").alias("k1"),
        z("v1"), z("v2"), z("v3"),
        F.col("order_count").cast("long").alias("v4"))
    q13 = q_tpch_q13(spark, sf_dir).select(
        F.lit("q13").alias("op"), F.col("c_count").cast("string").alias("k1"),
        z("v1"), z("v2"), z("v3"),
        F.col("custdist").cast("long").alias("v4"))
    q16 = q_tpch_q16(spark, sf_dir).select(
        F.lit("q16").alias("op"),
        F.concat_ws("|", "p_brand", "p_type", "p_size").alias("k1"),
        z("v1"), z("v2"), z("v3"),
        F.col("supplier_cnt").cast("long").alias("v4"))
    q17 = q_tpch_q17(spark, sf_dir).select(
        F.lit("q17").alias("op"), F.lit("").alias("k1"),
        F.col("sum_price").alias("v1"), z("v2"), z("v3"),
        F.col("n_rows").cast("long").alias("v4"))
    q18 = q_tpch_q18(spark, sf_dir).select(
        F.lit("q18").alias("op"),
        F.concat_ws("|", "c_name", "o_orderkey").alias("k1"),
        F.col("totalprice").alias("v1"), F.col("sum_qty").alias("v2"),
        z("v3"), zl("v4"))
    q22 = q_tpch_q22(spark, sf_dir).select(
        F.lit("q22").alias("op"), F.col("c_nationkey").cast("string").alias("k1"),
        F.col("totacctbal").alias("v1"), z("v2"), z("v3"),
        F.col("numcust").cast("long").alias("v4"))
    q7 = q_tpch_q7(spark, sf_dir).select(
        F.lit("q7").alias("op"),
        F.concat_ws("|", "supp_nation", "cust_nation",
                    F.col("l_year").cast("string")).alias("k1"),
        F.col("revenue").alias("v1"), z("v2"), z("v3"), zl("v4"))
    q10 = q_tpch_q10(spark, sf_dir).select(
        F.lit("q10").alias("op"),
        F.concat_ws("|", F.col("c_custkey").cast("string"), "n_name").alias("k1"),
        F.col("revenue").alias("v1"), z("v2"), z("v3"), zl("v4"))
    q12 = q_tpch_q12(spark, sf_dir).select(
        F.lit("q12").alias("op"),
        F.concat_ws("|", "l_linestatus", "prio_class").alias("k1"),
        z("v1"), z("v2"), z("v3"),
        F.col("line_count").cast("long").alias("v4"))
    q14 = q_tpch_q14(spark, sf_dir).select(
        F.lit("q14").alias("op"), F.lit("").alias("k1"),
        F.col("promo_revenue").alias("v1"),
        F.col("total_revenue").alias("v2"), z("v3"), zl("v4"))
    q15 = q_tpch_q15(spark, sf_dir).select(
        F.lit("q15").alias("op"), F.col("s_name").alias("k1"),
        F.col("total_rev").alias("v1"), z("v2"), z("v3"), zl("v4"))
    q19 = q_tpch_q19(spark, sf_dir).select(
        F.lit("q19").alias("op"), F.lit("").alias("k1"),
        F.col("revenue").alias("v1"), z("v2"), z("v3"),
        F.col("n_rows").cast("long").alias("v4"))
    q21 = q_tpch_q21(spark, sf_dir).select(
        F.lit("q21").alias("op"), F.col("s_name").alias("k1"),
        z("v1"), z("v2"), z("v3"),
        F.col("numwait").cast("long").alias("v4"))
    q8 = q_tpch_q8(spark, sf_dir).select(
        F.lit("q8").alias("op"), F.col("o_year").cast("string").alias("k1"),
        F.col("nation_revenue").alias("v1"),
        F.col("total_revenue").alias("v2"), z("v3"), zl("v4"))
    q9 = q_tpch_q9(spark, sf_dir).select(
        F.lit("q9").alias("op"),
        F.concat_ws("|", "nation", F.col("o_year").cast("string")).alias("k1"),
        F.col("sum_profit").alias("v1"), z("v2"), z("v3"), zl("v4"))
    return (q1.unionByName(q3).unionByName(q5).unionByName(q6)
            .unionByName(q4).unionByName(q13).unionByName(q16)
            .unionByName(q17).unionByName(q18).unionByName(q22)
            .unionByName(q7).unionByName(q10).unionByName(q12)
            .unionByName(q14).unionByName(q15).unionByName(q19)
            .unionByName(q21).unionByName(q8).unionByName(q9))


def _emb(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )


def q_minhash_pairs_self(spark, sf_dir):
    """The classic within-corpus MinHash pair product — the r7-comparable
    single-op form `bench.py` times under the `minhash_lsh_dedup` name
    (the driver row below is the widened union)."""
    pairs = dedup.minhash_dedup_pairs(_t(spark, sf_dir, "documents"))
    return pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def q_minhash_lsh_dedup(spark, sf_dir):
    """MinHash(16) -> LSH(4 bands x 4 rows) -> exact-Jaccard verify, word
    3-gram shingles, threshold 0.5 — the near-dup dedup workhorse, as an
    op-tagged union of its two deployment forms:

    - ``self``: the classic within-corpus pair product.
    - ``cross`` (r8): ``dedup.cross_corpus_near_dups`` — "dedup this
      crawl against the previous release".  The corpus splits on
      doc_id % 5 (new = residue 0, ref = rest); only NEW x REF pairs
      may appear (within-side pairs never expand), same hash family and
      cap contract, so the oracle twin shares the candidate CTE chain.
    """
    docs = _t(spark, sf_dir, "documents")
    self_leg = q_minhash_pairs_self(spark, sf_dir).select(
        F.lit("self").alias("op"), "a", "b", "jaccard")
    cross = dedup.cross_corpus_near_dups(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0))
    cross_leg = cross.select(
        F.lit("cross").alias("op"), F.col("new_id").alias("a"),
        F.col("ref_id").alias("b"), F.round("jaccard", 4).alias("jaccard"))
    return self_leg.unionByName(cross_leg)


def q_dedup_clusters(spark, sf_dir):
    """Cluster-mode dedup: the LINEAR (cluster_rep, member, n) partition of
    the corpus — connected components over the verified MinHash near-dup
    pair set (same parameters as minhash_lsh_dedup), singletons included
    via the documents id universe.  The scalable product replacing the
    quadratic pair enumeration; see dedup.dedup_clusters."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs)
    return dedup.dedup_clusters(pairs, items=docs, id_col="doc_id")


def q_g5g6_pairmark_merge(spark, sf_dir):
    """G5 PairMark + G6 PairMerge in ONE tagged-union row (merged to free a
    registry slot under the 50-query cap; the single-op forms above remain
    the test/bench surface).  'mark' rows carry the randomized-matching
    picks, 'merge' rows the absorbed-node results."""
    mark = q_g5_pairmark(spark, sf_dir).select(
        F.lit("mark").alias("op"), F.col("a").alias("k1"),
        F.col("b").alias("k2"),
        F.concat_ws("", "d1", "d2", "o_a").alias("k3"),
        F.col("ov").cast("long").alias("v1"), F.lit(0.0).alias("v2"))
    merge = q_g6_pairmerge(spark, sf_dir).select(
        F.lit("merge").alias("op"), F.col("node_id").alias("k1"),
        F.lit("").alias("k2"), F.col("seq").alias("k3"),
        F.lit(0).cast("long").alias("v1"), F.col("cov").alias("v2"))
    return mark.unionByName(merge)


def q_text_fp_split(spark, sf_dir):
    """Winnowing fingerprints + deterministic md5 train/val/test split in
    ONE tagged union (merged r7 to free a registry slot; the single-op
    forms above stay defined for bench/tests).  Canonical (op, doc_id, v)
    schema: winnow fingerprints as decimal strings, split labels as-is."""
    w = q_winnow_fp(spark, sf_dir).select(
        F.lit("winnow").alias("op"), "doc_id",
        F.col("fp").cast("string").alias("v"))
    s = q_hash_split(spark, sf_dir).select(
        F.lit("split").alias("op"), "doc_id", F.col("split").alias("v"))
    # r7: domain-mixture leg — deterministic per-source re-weighting
    # (sampling.mixture_resample): 2.5x upsample src0-src4 (every row
    # twice + a deterministic 50% third copy), keep src5-src9, 30% of
    # src10-src19.  v carries source#copy so the duplicated rows are
    # distinct and the oracle pins the exact copy multiset.
    from cloudbrush_spark.operators import sampling
    docs = _t(spark, sf_dir, "documents")
    weights = {f"src{i}": (2.5 if i < 5 else 1.0 if i < 10 else 0.3)
               for i in range(20)}
    m = sampling.mixture_resample(docs, weights).select(
        F.lit("mixture").alias("op"), "doc_id",
        F.concat("source", F.lit("#"), F.col("copy").cast("string")).alias("v"))
    # late r8: per-domain quality CALIBRATION — the exact within-source
    # rank by (quality desc, doc_id), assembled via a two-phase
    # quality-bucket pattern (never one-task-per-domain windows); the
    # DuckDB twin is the direct row_number window, so the two-phase
    # assembly is hash-pinned rank-for-rank.  v = source#rank/n.
    from cloudbrush_spark.operators import textops
    scored = docs.select(
        "doc_id", "source", textops.quality_col("text").alias("quality"))
    c = sampling.calibrated_quality(scored, "quality").select(
        F.lit("calib").alias("op"), "doc_id",
        F.concat("source", F.lit("#"), F.col("q_rank").cast("string"),
                 F.lit("/"), F.col("n_src").cast("string")).alias("v"))
    # late r9: deterministic stratified sample — exactly the 7 smallest
    # md5('strat|'||id) rows per source (the balanced eval-draw
    # primitive); Spark's bucketed two-phase rank + prefix PRUNE vs the
    # oracle's direct sequential window, so the exact selected set and
    # every rank are on the hash
    st = sampling.stratified_sample(docs, 7, seed="strat").select(
        F.lit("strat").alias("op"), "doc_id",
        F.concat("source", F.lit("#"),
                 F.col("samp_rank").cast("string")).alias("v"))
    return w.unionByName(s).unionByName(m).unionByName(c).unionByName(st)


def q_probe_heavy_tokens(spark, sf_dir):
    """Scale-probe leg (NOT in ``queries()``): the data-card
    heavy-hitters section alone — the exact explode+hash-aggregate side
    plus the freqItems sketch's second linear pass."""
    from cloudbrush_spark.operators.report import heavy_tokens
    return heavy_tokens(_t(spark, sf_dir, "documents"))


RAWSQL_QUERY = """
    SELECT 'rawsql' AS op, n.n_name AS k1, '' AS k2,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                AS BIGINT) AS v1,
           count(*) AS v2
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


def q_rawsql(spark, sf_dir):
    """Raw-SQL entry surface (SURVEY §2.8/§7 — 'the relational versions
    come free from Spark SQL and should be exposed'): registers the
    analytic tables as temp views (``cloudbrush_spark.sql.
    register_table_views``) and executes a TEXTUAL ``spark.sql`` query —
    the path a reference user's first ad-hoc query takes, and the same
    text (shared dialect subset) runs on DuckDB as the twin.  The view
    layer is purely logical: pushdown/pruning reach the parquet scans
    through it (pinned in tests/test_cli.py).  CLI:
    ``python -m cloudbrush_spark -sql 'SELECT ...' -data DIR``."""
    from cloudbrush_spark import sql as cbsql
    cbsql.register_table_views(spark, sf_dir,
                               tables=("orders", "customer", "nation"))
    return cbsql.run_sql(spark, RAWSQL_QUERY)


def q_relational_extras(spark, sf_dir):
    """SURVEY §2.8 relational extensions in ONE hash-checked union, all
    plain DataFrame/SQL code: ROLLUP, grouped top-k, EXCEPT DISTINCT,
    (late r9) BAG-semantics EXCEPT ALL / INTERSECT ALL canonicalized as
    exact per-key multiplicities, and (late r9) a RANGE-frame window
    (trailing-30-day spend on integer epoch-days — value-based frames
    with peer-row tie semantics, the family ROWS frames can't express),
    and (r8) INTERSECT DISTINCT plus the analytic window-function family
    (row_number / running sum / rank / lag, see q_window_suite; r9 adds
    the distribution family — ntile(4) with a total-order tiebreak and
    first_value, see q_window_dist), CUBE
    (both single-axis margins ROLLUP lacks), explicit GROUPING SETS
    (late r9 — margins WITHOUT the two-key cells, the form neither
    ROLLUP nor CUBE expresses), PIVOT (explicit value
    list, melted back via stack; absent cells survive as REAL zero rows
    so the densification semantics sit on the hash — the DuckDB twin
    rebuilds them with a cross join + coalesce) and a raw-SQL leg —
    tagged by ``op`` and canonicalized to a shared
    (op, k1, k2, v1, v2) schema (keys as strings, money as exact integer
    cents, -1/0 sentinels instead of NULLs so both engines' null
    handling stays out of the hash).  The single-op forms remain above."""
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    cents = lambda c: (F.col(c).cast("decimal(18,2)") * 100).cast("long")  # noqa: E731
    # margin rows are keyed by grouping_id, not a NULL-coalesce sentinel:
    # a genuine NULL group value (gid bit 0) can never collide with a
    # ROLLUP/CUBE margin (gid bit 1) even if both render "(null)"
    rol = q_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("op"),
        F.concat_ws(":", F.col("gid").cast("string"),
                    F.coalesce(F.col("l_returnflag"), F.lit("(null)"))).alias("k1"),
        F.coalesce(F.col("l_linestatus"), F.lit("(null)")).alias("k2"),
        cents("sum_qty").alias("v1"), F.col("cnt").alias("v2"))
    top = q_topk_per_group(spark, sf_dir).select(
        F.lit("topk").alias("op"), F.col("p_brand").alias("k1"),
        s("p_partkey").alias("k2"), cents("price").alias("v1"),
        F.col("rnk").cast("long").alias("v2"))
    exc = q_set_ops(spark, sf_dir).select(
        F.lit("except").alias("op"), s("o_custkey").alias("k1"),
        F.lit("").alias("k2"), F.lit(-1).cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"))
    uni = q_intersect_ops(spark, sf_dir).select(
        F.lit("intersect").alias("op"), s("o_custkey").alias("k1"),
        F.lit("").alias("k2"), F.lit(-1).cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"))
    winq = q_window_suite(spark, sf_dir)
    win = winq.select(
        F.lit("win_run").alias("op"), s("o_custkey").alias("k1"),
        s("o_orderkey").alias("k2"), F.col("run_cents").alias("v1"),
        F.col("rn").cast("long").alias("v2"))
    lag = winq.select(
        F.lit("win_lag").alias("op"), s("o_custkey").alias("k1"),
        s("o_orderkey").alias("k2"), F.col("gap_days").alias("v1"),
        F.col("val_rank").cast("long").alias("v2"))
    cub = q_cube_qty(spark, sf_dir).select(
        F.lit("cube").alias("op"),
        F.concat_ws(":", F.col("gid").cast("string"),
                    F.coalesce(F.col("l_returnflag"), F.lit("(null)"))).alias("k1"),
        F.coalesce(F.col("l_linestatus"), F.lit("(null)")).alias("k2"),
        cents("sum_qty").alias("v1"), F.col("cnt").alias("v2"))
    gst = q_grouping_sets(spark, sf_dir).select(
        F.lit("gsets").alias("op"),
        F.concat_ws(":", F.col("gid").cast("string"),
                    F.coalesce(F.col("l_returnflag"), F.lit("(null)"))).alias("k1"),
        F.coalesce(F.col("l_linestatus"), F.lit("(null)")).alias("k2"),
        cents("sum_qty").alias("v1"), F.col("cnt").alias("v2"))
    # melt the pivot's dense matrix back to canonical rows; absent cells
    # are REAL zero rows here (pivot's densification is the semantics
    # under test — the oracle rebuilds them with a cross join + coalesce)
    piv = q_pivot_status(spark, sf_dir)
    piv = piv.select(F.col("o_orderpriority").alias("k1"), F.expr(
        "stack(3, 'O', O_cnt, O_cents, 'F', F_cnt, F_cents,"
        " 'P', P_cnt, P_cents) AS (k2, cnt, cents)")).select(
        F.lit("pivot").alias("op"), "k1", "k2",
        F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias("v1"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("v2"))
    ntl = q_window_dist(spark, sf_dir).select(
        F.lit("win_ntile").alias("op"), s("o_custkey").alias("k1"),
        s("o_orderkey").alias("k2"), F.col("tile").cast("long").alias("v1"),
        F.col("first_ok").cast("long").alias("v2"))
    bag = q_bag_set_ops(spark, sf_dir).select(
        F.col("bop").alias("op"), s("o_custkey").alias("k1"),
        F.lit("").alias("k2"), F.col("mult").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"))
    wrange = q_window_range_frame(spark, sf_dir).select(
        F.lit("win_range").alias("op"), s("o_custkey").alias("k1"),
        s("o_orderkey").alias("k2"), F.col("cents_30d").alias("v1"),
        F.lit(0).cast("long").alias("v2"))
    # r10: the raw-SQL entry surface — already canonical (op,k1,k2,v1,v2)
    # straight from the textual query
    raw = q_rawsql(spark, sf_dir)
    return rol.unionByName(top).unionByName(exc).unionByName(uni) \
        .unionByName(win).unionByName(lag) \
        .unionByName(cub).unionByName(gst).unionByName(piv) \
        .unionByName(ntl).unionByName(bag).unionByName(wrange) \
        .unionByName(raw)


def q_g1_pwm_consensus(spark, sf_dir):
    """G1/G9 PWM consensus generic: per p_brand, positional majority vote
    (>= 0.6) over the first 8 chars of p_name; minority positions -> 'N'.
    Pure-SQL PWM (positional explode + weighted majority), the same
    aggregation shape as src/Brush/Node.java:1293-1377 Consensus."""
    from pyspark.sql import Window
    part = _t(spark, sf_dir, "part")
    L = 8
    chars = part.select(
        "p_brand",
        F.explode(F.expr(
            f"transform(sequence(1, least(length(p_name), {L})),"
            " i -> struct(i as pos, substring(p_name, i, 1) as ch))"
        )).alias("pc"),
    ).select("p_brand", F.col("pc.pos").alias("pos"), F.col("pc.ch").alias("ch"))
    counts = chars.groupBy("p_brand", "pos", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.groupBy("p_brand", "pos").agg(F.sum("cnt").alias("tot"))
    w = Window.partitionBy("p_brand", "pos").orderBy(F.col("cnt").desc(), F.col("ch"))
    top = (
        counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        .join(tot, ["p_brand", "pos"])
        .select(
            "p_brand", "pos",
            F.when(F.col("cnt") >= 0.6 * F.col("tot"), F.col("ch")).otherwise(F.lit("N")).alias("cons"),
        )
    )
    return top.groupBy("p_brand").agg(
        F.concat_ws("", F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cons"))), lambda s: s["cons"]
        )).alias("consensus")
    )


def q_k2_explode_emit(spark, sf_dir):
    """K2 Graph2Sfa generic: re-emit each row duplicated `reps` times with
    renumbered ids (explode(sequence(1, reps)), reps = p_size % 4 + 1) —
    src/Brush/Graph2Sfa.java:66-76's duplication loop as a lateral expand."""
    part = _t(spark, sf_dir, "part")
    reps = part.select("p_partkey", (F.col("p_size") % 4 + 1).alias("reps"))
    return reps.select(
        F.col("p_partkey"),
        F.explode(F.sequence(F.lit(1), F.col("reps"))).alias("i"),
    ).select(
        F.concat_ws("_", F.col("i"), F.col("p_partkey")).alias("emit_id"),
        "p_partkey",
    )


def q_a8_precorrect(spark, sf_dir):
    """A8 PreCorrect generic: spaced-seed (2+1+2) positional voting over
    document-text char windows; a masked-middle char with support < 25% of
    the winner yields a correction row (src/Brush/PreCorrect.java:139-217)."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, greatest(length(text) - 4, 0)),"
            " i -> struct(i + 2 as pos, substring(text, i, 2) as w1,"
            " substring(text, i + 3, 2) as w2, substring(text, i + 2, 1) as mid))"
        )).alias("w"),
    ).select("doc_id", "w.pos", "w.w1", "w.w2", "w.mid")
    votes = occ.groupBy("w1", "w2", "mid").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("w1", "w2").orderBy(F.col("cnt").desc(), F.col("mid"))
    winner = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("w1", "w2", F.col("mid").alias("win_ch"), F.col("cnt").alias("win_cnt"))
    )
    return (
        occ.join(votes, ["w1", "w2", "mid"])
        .join(winner, ["w1", "w2"])
        .filter((F.col("cnt") * 4 < F.col("win_cnt")) & (F.col("mid") != F.col("win_ch")))
        .select("doc_id", "pos", F.col("mid").alias("from_ch"), F.col("win_ch").alias("to_ch"))
    )


def q_rollup(spark, sf_dir):
    """ROLLUP aggregate (free from Spark SQL; SURVEY §2.8 exposure)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def q_cube_qty(spark, sf_dir):
    """CUBE aggregate: every grouping-set combination of
    (l_returnflag, l_linestatus) incl. the two single-axis margins ROLLUP
    lacks.  One shuffle — Spark expands the grouping sets map-side."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS ((l_returnflag), (l_linestatus), ()) —
    the grouping-family form ROLLUP/CUBE can't express (single-axis
    margins WITHOUT the two-key cells).  Same one-shuffle map-side
    expansion as cube; margin rows keyed by grouping_id like the
    rollup/cube legs (bit order: first listed column = MSB, pinned in
    tests/test_pivot_cube.py)."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gsets_lineitem")
    return spark.sql("""
        SELECT grouping_id() AS gid, l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty,
               count(*) AS cnt
        FROM __gsets_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


def q_pivot_status(spark, sf_dir):
    """PIVOT: order count + total-price cents per priority, one DENSE
    column pair per order status.  Explicit value list (['O','F','P']) so
    no extra distinct-values pass runs — the form that scales (values
    come from the schema owner, not a scan).  Absent (priority, status)
    cells materialize as zeros: that densification is pivot's semantic
    delta over a two-key groupBy, and it sits on the driver hash."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(cents).alias("cents"))
    )


def q_topk_per_group(spark, sf_dir):
    """Grouped top-k: 3 priciest parts per brand (dense window rank)."""
    from pyspark.sql import Window
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey",
                F.col("p_retailprice").cast("double").alias("price"), "rnk")
    )


def q_set_ops(spark, sf_dir):
    """Set operation (EXCEPT DISTINCT): customers with orders but no
    finished ('F') order."""
    orders = _t(spark, sf_dir, "orders")
    all_c = orders.select("o_custkey")
    f_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return all_c.subtract(f_c)


def q_intersect_ops(spark, sf_dir):
    """Set operation (INTERSECT DISTINCT): customers active in BOTH 2000
    and 2001 — the companion to q_set_ops' EXCEPT, completing the set-op
    family.  Plans as a LeftSemi over distinct keys, one shuffle per
    side."""
    orders = _t(spark, sf_dir, "orders")
    y2000 = orders.filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01"))
        & (F.col("o_orderdate") < F.lit("2001-01-01"))).select("o_custkey")
    y2001 = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01")).select("o_custkey")
    return y2000.intersect(y2001)


def q_bag_set_ops(spark, sf_dir):
    """BAG-semantics set operations (EXCEPT ALL / INTERSECT ALL) — the
    multiplicity-preserving family the DISTINCT legs can't exercise: a
    customer with 5 orders of which 2 are 'F' keeps exactly 3 rows under
    EXCEPT ALL.  The result multiset is canonicalized as (key ->
    multiplicity) counts so the driver hash pins every multiplicity
    exactly.  Spark plans both as aggregate-then-join (count per side,
    emit max(l-r,0) / min(l,r) copies) — one shuffle per side, no row
    explosion."""
    orders = _t(spark, sf_dir, "orders")
    all_c = orders.select("o_custkey")
    f_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    xall = all_c.exceptAll(f_c).groupBy("o_custkey") \
        .agg(F.count(F.lit(1)).alias("mult")) \
        .select(F.lit("xall").alias("bop"), "o_custkey", "mult")
    iall = all_c.intersectAll(f_c).groupBy("o_custkey") \
        .agg(F.count(F.lit(1)).alias("mult")) \
        .select(F.lit("iall").alias("bop"), "o_custkey", "mult")
    return xall.unionByName(iall)


def q_window_range_frame(spark, sf_dir):
    """RANGE-frame window — the VALUE-based frame family the ROWS legs
    can't exercise: each order's trailing-30-day spend (sum of exact
    cents over the customer's orders with ``order_day - 30 <= day <=
    day``, RANGE BETWEEN 30 PRECEDING AND CURRENT ROW on epoch-days).
    Unlike a ROWS frame, PEER rows (same day) all see the same total —
    that tie semantics is the leg's point, and integer epoch-days make
    the frame bound engine-exact."""
    from pyspark.sql import Window
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_custkey") % 7 == 0) \
        .select("o_custkey", "o_orderkey",
                F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
                .cast("long").alias("day"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
    w = (Window.partitionBy("o_custkey").orderBy("day")
         .rangeBetween(-30, 0))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.sum("cents").over(w).alias("cents_30d"))


def q_window_suite(spark, sf_dir):
    """Analytic window functions over each customer's order history
    (custkey % 7 == 0 slice): row_number + running total (exact cents,
    explicit ROWS frame so both engines agree even though the
    (date, orderkey) sort key is unique), rank by order value, and the
    LAG day-gap to the previous order (-1 sentinel for the first).
    One hash shuffle on the partition key; per-key sorts are bounded by
    a customer's order count — the partitioned-window shape that holds
    at any corpus size (never a global ORDER BY)."""
    from pyspark.sql import Window
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_custkey") % 7 == 0) \
        .select("o_custkey", "o_orderkey", "o_orderdate",
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # rank() over cents alone (no tiebreak): ties share a rank in both
    # engines, so the output is deterministic and the leg exercises true
    # rank semantics rather than degenerating into row_number
    byval = Window.partitionBy("o_custkey").orderBy(F.col("cents").desc())
    return orders.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(seq).alias("rn"),
        F.sum("cents").over(run).alias("run_cents"),
        F.rank().over(byval).alias("val_rank"),
        F.coalesce(
            F.datediff(F.col("o_orderdate"),
                       F.lag("o_orderdate").over(seq)),
            F.lit(-1)).cast("long").alias("gap_days"))


def q_window_dist(spark, sf_dir):
    """Distribution-family window functions over the same order-history
    slice as q_window_suite: ntile(4) by order value (TOTAL order — the
    (cents DESC, orderkey) tiebreak makes the bucket assignment
    engine-independent; ntile's floor/ceil bucket-size rule is ANSI) and
    first_value over the date sequence (default frame; the sort key is
    unique so the value is deterministic)."""
    from pyspark.sql import Window
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_custkey") % 7 == 0) \
        .select("o_custkey", "o_orderkey", "o_orderdate",
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    byval = Window.partitionBy("o_custkey").orderBy(
        F.col("cents").desc(), F.col("o_orderkey"))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.ntile(4).over(byval).alias("tile"),
        F.first_value(F.col("o_orderkey")).over(seq).alias("first_ok"))


# ---------------------------------------------------------------------------
# Graph-operator fixture queries (G2/G5/G6/G7+G8/G9/G10/C2/C3/C4/J4/A7/K1):
# one hash-checkable step of each previously pytest-only operator, over the
# deterministic part-derived fixtures in cloudbrush_spark.oracle_fixtures.
# ---------------------------------------------------------------------------

def q_g2_edge_removal(spark, sf_dir):
    """G2 EdgeRemoval: drop a removal set + its mirrored directions from the
    symmetric chain-fixture edge table (src/Brush/EdgeRemoval.java:190-193)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import graph
    edges = gfx.chain_edges(spark, sf_dir)
    removals = gfx.chain_fwd_edges(spark, sf_dir).filter(
        F.col("src").cast("int") % 7 == 0)
    return graph.remove_edges(edges, removals)


def q_g5_pairmark(spark, sf_dir):
    """G5 PairMark: one randomized-matching round over the chain links with
    the engine-portable md5 coin (src/Brush/PairMark.java:104-172; coin
    seeding :61-72 pinned deterministic)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import contraction
    links = gfx.chain_fwd_edges(spark, sf_dir)
    return contraction.pick_merges(links, seed=5, coin="md5")


def q_g6_pairmerge(spark, sf_dir):
    """G6 PairMerge, node step: females absorb their marked males —
    orientation-aware splice + length-weighted coverage
    (src/Brush/PairMerge.java:132-291)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import contraction
    links = gfx.chain_fwd_edges(spark, sf_dir)
    merges = contraction.pick_merges(links, seed=5, coin="md5")
    out = contraction.merge_nodes(gfx.chain_nodes(spark, sf_dir), merges)
    return out.select("node_id", "seq", F.round("cov", 4).alias("cov"))


def q_g7g8_chain_contract(spark, sf_dir):
    """G7 QuickMark + G8 QuickMerge: full chain contraction to fixpoint.
    The 12 disjoint 8-node chains sit under the serial threshold, so this
    exercises the adaptive driver-side finish — the reference's single-
    reducer switch (src/Brush/QuickMark.java:129-137,
    src/Brush/QuickMerge.java:239-279, BrushAssembler.java:506-556)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import contraction
    nodes = gfx.chain_nodes(spark, sf_dir)
    edges = gfx.chain_edges(spark, sf_dir)
    n2, _, _ = contraction.contract_chains(nodes, edges, seed=3)
    return n2.select("node_id", "seq", F.round("cov", 4).alias("cov"))


def q_g9_define_consensus(spark, sf_dir):
    """G9 DefineConsensus: per (node, side) B/W color from the bounded PWM
    consensus over the star fixture (src/Brush/DefineConsensus.java:288-341,
    Node.Consensus src/Brush/Node.java:1293-1377)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import consensus
    nodes, edges = gfx.star_tables(spark, sf_dir)
    return consensus.define_consensus(nodes, edges)


def q_g10_count_braid(spark, sf_dir):
    """G10 CountBraid: braid-motif diagnostic count over the star fixture
    (src/Brush/CountBraid.java:298-373)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import consensus
    nodes, edges = gfx.star_tables(spark, sf_dir)
    return consensus.count_braids(nodes, edges)


def q_c2_find_bubbles(spark, sf_dir):
    """C2 FindBubbles: parallel-path detection on the bubble fixture —
    edit-distance <= 5% of interior, higher coverage survives
    (src/Brush/FindBubbles.java:383-437)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import bubbles
    nodes, edges = gfx.bubble_tables(spark, sf_dir)
    return bubbles.find_bubbles(nodes, edges, maxbubblelen=50, edit_rate=0.05)


def q_c3_pop_bubbles(spark, sf_dir):
    """C3 PopBubbles: remove popped interiors, transfer coverage mass to
    survivors (cov += mass/len, src/Brush/PopBubbles.java:193-216)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import bubbles
    nodes, edges = gfx.bubble_tables(spark, sf_dir)
    pops = bubbles.find_bubbles(nodes, edges, maxbubblelen=50, edit_rate=0.05)
    n3, _ = bubbles.pop_bubbles(nodes, edges, pops)
    return n3.select("node_id", "cov")


def q_c4_low_coverage(spark, sf_dir):
    """C4 RemoveLowCoverage: drop short low-coverage nodes + every edge
    touching them (src/Brush/RemoveLowCoverage.java:67-104); returns the
    surviving edge set."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import graph
    nodes = gfx.chain_nodes(spark, sf_dir)
    edges = gfx.chain_edges(spark, sf_dir)
    _, new_edges, _ = graph.remove_low_coverage(nodes, edges,
                                               low_cov_thresh=3.0, max_len=40)
    return new_edges


def q_j4_mate_adjust(spark, sf_dir):
    """J4 AdjustMateEdge: among a unique node's edges per side, keep the
    max-mate-support edge and emit the rest as removals
    (src/Brush/AdjustMateEdge.java:120-306)."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import mates
    nodes, edges = gfx.mate_tables(spark, sf_dir)
    return mates.adjust_mate_edges(nodes, edges, reads=100, ctg_sum=100,
                                   inslen=200, inslen_sd=20)


def q_a7_tag_trusted(spark, sf_dir):
    """A7 TagTrustedReads: left-join the trust flag, UNIQUE = NOT trusted
    (src/Brush/TagTrustedReads.java:104-109).  Trust source = the A6
    min-frequency rule restricted to even doc_ids, so the fill-false path
    is exercised too."""
    from cloudbrush_spark.operators import mates
    docs = _t(spark, sf_dir, "documents")
    postings = docs.select("doc_id", F.explode(textfn.tokens("text")).alias("tok"))
    counts = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    trusted = (
        postings.join(counts, "tok")
        .groupBy("doc_id")
        .agg((F.min("freq") > 10).alias("trusted"))
        .filter(F.col("doc_id") % 2 == 0)
    )
    return mates.tag_trusted(docs.select("doc_id"), trusted,
                             id_col="doc_id", flag_col="trusted")


def _dna_from_docs(col):
    return F.translate(F.md5(col), "0123456789abcdef", "acgtacgtacgtacgt")


def q_s2_sfa_roundtrip(spark, sf_dir):
    """S2 SFA scan round-trip: derive one (id, dna32) row per document,
    write a real tab-separated .sfa file, read it back through read_sfa
    (csv scan + upper normalization, src/Brush/BrushAssembler.java SFA
    input contract; data/preprocessor.pl output format).  The oracle
    derives the same rows directly — a parse/normalize bug in the scanner
    breaks the hash."""
    import os
    import tempfile
    from cloudbrush_spark.sources import fasta
    docs = _t(spark, sf_dir, "documents")
    rows = docs.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("read_id"),
        _dna_from_docs(F.col("text")).alias("seq"),
    ).sort("read_id").collect()
    d = tempfile.mkdtemp(prefix="sfa_rt_")
    path = os.path.join(d, "reads.sfa")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(f"{r.read_id}\t{r.seq}\n")
    return fasta.read_sfa(spark, path)


def q_s1_fastq_roundtrip(spark, sf_dir):
    """S1 FASTQ preprocessor round-trip: write a real 4-line-record FASTQ
    (with '/1' mate suffixes and quality lines that START WITH '@' — the
    ambiguity that breaks byte-sniffing record detection), read it back
    through read_fastq's index-arithmetic parser
    (data/preprocessor.pl:33-51)."""
    import os
    import tempfile
    from cloudbrush_spark.sources import fasta
    docs = _t(spark, sf_dir, "documents")
    rows = docs.select(
        F.col("doc_id").cast("string").alias("rid"),
        _dna_from_docs(F.col("text")).alias("seq"),
    ).sort(F.col("doc_id").cast("long")).collect()
    d = tempfile.mkdtemp(prefix="fastq_rt_")
    path = os.path.join(d, "reads.fastq")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(f"@d{r.rid}/1\n{r.seq}\n+\n@{'I' * (len(r.seq) - 1)}\n")
    return fasta.read_fastq(spark, path, mate_suffix=True)


# Adversarial suffix appended to every document before the JSONL/CSV
# round-trips: quote, comma, tab, embedded NEWLINE, doubled quote, and a
# non-ASCII char — every byte class the two interchange formats must
# escape.  The Spark literal and the DuckDB expression build the SAME
# string; the md5 on the driver hash proves the write->read round-trip
# is byte-exact through the escaping.
_TRICKY_TEXT = ' |"q,uote"\t\nmixed \'line\'|é'
_TRICKY_SQL = "' |\"q,uote\"' || chr(9) || chr(10) || 'mixed ''line''|' || chr(233)"


def _rt_docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat("text", F.lit(_TRICKY_TEXT)).alias("text"),
        "lang", "source")


def _rt_canonical(back):
    return back.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("read_id"),
        F.md5(F.concat("lang", F.lit("|"), "source", F.lit("|"), "text"))
        .alias("seq"))


def q_s4_jsonl_roundtrip(spark, sf_dir):
    """JSONL source round-trip: documents (with the adversarial suffix) ->
    `sources/textfiles.write_jsonl` -> explicit-schema `read_jsonl` —
    the crawl-dump interchange format, line-splittable at scale."""
    import tempfile
    from cloudbrush_spark.sources import textfiles
    d = tempfile.mkdtemp(prefix="jsonl_rt_")
    textfiles.write_jsonl(_rt_docs(spark, sf_dir), d)
    return _rt_canonical(textfiles.read_jsonl(
        spark, d, "doc_id long, text string, lang string, source string"))


def q_s5_csv_roundtrip(spark, sf_dir):
    """RFC-4180 CSV source round-trip (quoted fields, doubled quotes,
    embedded newlines under multiLine) through
    `sources/textfiles.write_csv_quoted`/`read_csv_quoted`."""
    import tempfile
    from cloudbrush_spark.sources import textfiles
    d = tempfile.mkdtemp(prefix="csv_rt_")
    textfiles.write_csv_quoted(_rt_docs(spark, sf_dir), d)
    return _rt_canonical(textfiles.read_csv_quoted(
        spark, d, "doc_id long, text string, lang string, source string"))


def q_s6_orc_roundtrip(spark, sf_dir):
    """ORC source round-trip (write_orc/read_orc): the Hive-ecosystem
    columnar interchange format, stripe-splittable with pushdown —
    binary-safe, so the adversarial suffix rides through with no escape
    convention in play (the leg still catches a truncating/normalizing
    reader or a schema-mapping slip)."""
    import tempfile
    from cloudbrush_spark.sources import textfiles
    d = tempfile.mkdtemp(prefix="orc_rt_")
    textfiles.write_orc(_rt_docs(spark, sf_dir), d)
    return _rt_canonical(textfiles.read_orc(
        spark, d, "doc_id long, text string, lang string, source string"))


def q_source_roundtrips(spark, sf_dir):
    """S1+S2 source round-trips in one tagged union row (merged r7 to free
    a registry slot for corpus_guard; both legs unchanged and still fully
    verified — a parse/normalize bug in either scanner breaks the hash).
    r8 adds the general-purpose text interchange formats: 'jsonl' and
    'csv' write->read round-trips over documents salted with an
    adversarial suffix (quotes/commas/tabs/newlines/non-ASCII), hashed
    content on the driver row — a broken escape convention in either
    sink/scanner pair flips the seq md5.  r9 adds 'orc' (the Hive-
    ecosystem columnar format, stripe-splittable, binary-safe)."""
    fq = q_s1_fastq_roundtrip(spark, sf_dir).select(
        F.lit("fastq").alias("op"), "read_id", "seq")
    sfa = q_s2_sfa_roundtrip(spark, sf_dir).select(
        F.lit("sfa").alias("op"), "read_id", "seq")
    js = q_s4_jsonl_roundtrip(spark, sf_dir).select(
        F.lit("jsonl").alias("op"), "read_id", "seq")
    cs = q_s5_csv_roundtrip(spark, sf_dir).select(
        F.lit("csv").alias("op"), "read_id", "seq")
    orc = q_s6_orc_roundtrip(spark, sf_dir).select(
        F.lit("orc").alias("op"), "read_id", "seq")
    return fq.unionByName(sfa).unionByName(js).unionByName(cs) \
        .unionByName(orc)


def q_overlap_graph(spark, sf_dir):
    """J1 MatchPrefix -> J2 VerifyOverlap -> J3 GenReverseEdge composite —
    the reference's hottest stage (src/Brush/MatchPrefix.java:51-495,
    BrushAssembler.java:313-333) — over the synthetic block-genome reads
    (one read per orders row; scales with sf).  The read layout makes the
    verified overlap graph analytically known, so the k-mer-seeded join's
    FULL output is hash-checked: a missed edge, a spurious survivor of the
    verify filter, or a broken mirror all flip the row hash."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import overlap
    reads = gfx.overlap_reads(spark, sf_dir)
    # match_prefix's NON-OPTIONAL hot-key guard self-derives the
    # blacklist over the hashed posting keys (8-byte longs, map-side
    # partials) — after the seed-key hashing rework this costs less than
    # a separate P3 string-kmer pass did (a canonical-form string
    # aggregate was ~10x the CPU), so the bench measures the guard the
    # operator always runs.  At this fixture's 4x coverage no key nears
    # the cap, so the analytic edge oracle is unaffected.
    return overlap.build_overlap_graph(reads, k=24)


def q_k1_fasta_format(spark, sf_dir):
    """K1 Graph2Fasta record formatting: ``>id len= cov=`` + 60-char-wrapped
    sequence (src/Brush/Graph2Fasta.java:54-77) — the sink's exact record
    expression as a checkable string column."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.sources import fasta
    nodes = gfx.chain_nodes(spark, sf_dir)
    contigs = nodes.select("node_id", F.repeat("seq", 3).alias("seq"), "cov")
    return fasta.fasta_records(contigs)


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect-compatible ANSI)
# ---------------------------------------------------------------------------

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_TOKS = f"string_split({_NORM}, ' ')"

_EDGES = (
    "SELECT DISTINCT o_custkey AS src, o_custkey + 1 + o_orderkey % 5 AS dst FROM orders"
)

_ORACLES: dict[str, str] = {
    "p1_dedup_exact": f"""
        SELECT md5({_NORM}) AS fp, min(doc_id) AS survivor_id, count(*) AS dup_cnt
        FROM documents GROUP BY 1
    """,
    "p2_filter_contained": """
        SELECT o_orderstatus, count(*) AS cnt FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        GROUP BY 1
    """,
    "p3_high_ngrams": """
        SELECT gram, count(*) AS cnt
        FROM (SELECT substring(p_name, i, 3) AS gram
              FROM part, LATERAL (SELECT unnest(generate_series(1, greatest(length(p_name) - 2, 0))) AS i))
        GROUP BY 1 HAVING count(*) > 50
    """,
    "a3_ngram_doc_counts": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
            FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i)
        )
        SELECT gram, count(*) AS cnt, count(DISTINCT doc_id) AS doc_cnt
        FROM grams GROUP BY 1 HAVING count(*) >= 5
    """,
    "a4_count_histogram": """
        WITH per_user AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
        SELECT cnt, count(*) AS num_users FROM per_user GROUP BY 1
    """,
    "a5_token_freq_per_doc": f"""
        WITH postings AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        counts AS (SELECT tok, count(*) AS freq FROM postings GROUP BY 1)
        SELECT doc_id, CAST(sum(freq) AS BIGINT) AS freq_sum, min(freq) AS min_freq
        FROM postings JOIN counts USING (tok) GROUP BY 1
    """,
    "a6_trusted_docs": f"""
        WITH postings AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        counts AS (SELECT tok, count(*) AS freq FROM postings GROUP BY 1)
        SELECT doc_id, min(freq) > 10 AS trusted
        FROM postings JOIN counts USING (tok) GROUP BY 1
    """,
    "a1_size_distribution": """
        WITH sized AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS sz
            FROM orders
        ),
        e AS (
            SELECT c.cutoff, s.sz
            FROM sized s
            JOIN (VALUES (5000000), (10000000), (25000000), (40000000)) c(cutoff)
              ON s.sz >= c.cutoff
        ),
        cum AS (
            SELECT cutoff, sz,
                   sum(sz) OVER w AS cumi,
                   row_number() OVER w AS rn,
                   sum(sz) OVER (PARTITION BY cutoff) AS tot,
                   count(*) OVER (PARTITION BY cutoff) AS cnt
            FROM e
            WINDOW w AS (PARTITION BY cutoff ORDER BY sz DESC
                         ROWS UNBOUNDED PRECEDING)
        )
        SELECT cutoff,
               CAST(max(cnt) AS BIGINT) AS cnt,
               CAST(max(tot) AS BIGINT) AS total,
               round(CAST(max(tot) AS DOUBLE) / max(cnt), 2) AS mean,
               1.0 AS mean_cov,
               max(CASE WHEN 2 * cumi >= tot AND 2 * (cumi - sz) < tot THEN sz END) AS n50,
               CAST(max(CASE WHEN 2 * cumi >= tot AND 2 * (cumi - sz) < tot THEN rn END) AS BIGINT) AS n50_cnt
        FROM cum GROUP BY 1
    """,
    "a2_global_counts": """
        SELECT count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
        FROM documents
    """,
    "j2_overlap_equijoin": """
        WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
             a AS (SELECT doc_id AS a, t[-1] AS ov FROM toks),
             b AS (SELECT doc_id AS b, t[1] AS ov FROM toks)
        SELECT ov, count(*) AS pair_cnt
        FROM a JOIN b USING (ov) WHERE a <> b
        GROUP BY 1
    """,
    "j1_candidates": None,   # filled below (shared shingle CTEs)
    "j3_edge_symmetrize": f"""
        WITH e AS ({_EDGES}),
        sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
        SELECT src, count(*) AS degree FROM sym GROUP BY 1
    """,
    "g3_transitive_reduction": f"""
        WITH e AS ({_EDGES}),
        hop AS (SELECT DISTINCT e1.src AS a, e2.dst AS c
                FROM e e1 JOIN e e2 ON e1.dst = e2.src)
        SELECT src, count(*) AS out_degree, min(dst) AS min_dst
        FROM e WHERE NOT EXISTS (
            SELECT 1 FROM hop WHERE hop.a = e.src AND hop.c = e.dst)
        GROUP BY 1
    """,
    "g4_degrees": f"""
        WITH e AS ({_EDGES}),
        o AS (SELECT src AS node, count(*) AS fdeg FROM e GROUP BY 1),
        i AS (SELECT dst AS node, count(*) AS rdeg FROM e GROUP BY 1)
        SELECT node,
               coalesce(fdeg, 0) AS fdeg,
               coalesce(rdeg, 0) AS rdeg,
               coalesce(fdeg, 0) = 1 AND coalesce(rdeg, 0) = 1 AS compressible
        FROM o FULL JOIN i USING (node)
    """,
    "c1_tips": f"""
        WITH e AS ({_EDGES}),
        sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
        SELECT src AS node, count(*) AS degree FROM sym GROUP BY 1
        HAVING count(*) <= 1
    """,
    "c5_astat": """
        WITH per_cust AS (
            SELECT o_custkey, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mass
            FROM orders GROUP BY 1
        )
        SELECT o_custkey, n,
               round(mass / 10000.0 - n * 0.6931471805599453, 4) AS astat,
               (mass / 10000.0 - n * 0.6931471805599453) > 10.0 AS unique_class
        FROM per_cust
    """,
    "minhash_lsh_dedup": None,   # filled below (shared shingle CTEs)
    "g1_pwm_consensus": """
        WITH chars AS (
            SELECT p_brand, i AS pos, substring(p_name, i, 1) AS ch
            FROM part, LATERAL (SELECT unnest(generate_series(1, least(length(p_name), 8))) AS i)
        ), counts AS (
            SELECT p_brand, pos, ch, count(*) AS cnt FROM chars GROUP BY 1, 2, 3
        ), tot AS (
            SELECT p_brand, pos, CAST(sum(cnt) AS BIGINT) AS tot FROM counts GROUP BY 1, 2
        ), top AS (
            SELECT c.p_brand, c.pos,
                   CASE WHEN c.cnt >= 0.6 * t.tot THEN c.ch ELSE 'N' END AS cons,
                   row_number() OVER (PARTITION BY c.p_brand, c.pos
                                      ORDER BY c.cnt DESC, c.ch) AS rn
            FROM counts c JOIN tot t USING (p_brand, pos)
        )
        SELECT p_brand, string_agg(cons, '' ORDER BY pos) AS consensus
        FROM top WHERE rn = 1 GROUP BY 1
    """,
    "k2_explode_emit": """
        SELECT i || '_' || p_partkey AS emit_id, p_partkey
        FROM part, LATERAL (SELECT unnest(generate_series(1, p_size % 4 + 1)) AS i)
    """,
    "a8_precorrect": """
        WITH occ AS (
            SELECT doc_id, i + 2 AS pos,
                   substring(text, i, 2) AS w1,
                   substring(text, i + 3, 2) AS w2,
                   substring(text, i + 2, 1) AS mid
            FROM documents, LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i)
        ), votes AS (
            SELECT w1, w2, mid, count(*) AS cnt FROM occ GROUP BY 1, 2, 3
        ), winner AS (
            SELECT w1, w2, mid AS win_ch, cnt AS win_cnt
            FROM (SELECT w1, w2, mid, cnt,
                         row_number() OVER (PARTITION BY w1, w2
                                            ORDER BY cnt DESC, mid) AS rn
                  FROM votes)
            WHERE rn = 1
        )
        SELECT o.doc_id, o.pos, o.mid AS from_ch, w.win_ch AS to_ch
        FROM occ o
        JOIN votes v USING (w1, w2, mid)
        JOIN winner w USING (w1, w2)
        WHERE v.cnt * 4 < w.win_cnt AND o.mid <> w.win_ch
    """,
}


def _lang_id_sql() -> str:
    cases = []
    for lang, markers in sorted(textfn.LANG_MARKERS.items()):
        inlist = ", ".join(f"'{m}'" for m in markers)
        cases.append(
            f"SELECT doc_id, '{lang}' AS lang, len(list_filter({_TOKS}, t -> t IN ({inlist}))) AS hits FROM documents"
        )
    union = " UNION ALL ".join(cases)
    return f"""
        WITH hits AS ({union}),
        ranked AS (
            SELECT doc_id, lang, hits,
                   row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
            FROM hits)
        SELECT doc_id,
               CASE WHEN hits = 0 THEN 'und' ELSE lang END AS lang_pred,
               CAST(hits AS BIGINT) AS lang_hits
        FROM ranked WHERE rn = 1
    """


def _quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in textfn.STOPWORDS_EN)
    return f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS n,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                   {_TOKS} AS toks
            FROM documents
        ), feat AS (
            SELECT doc_id, n, n_tokens,
                   CASE WHEN len(toks) = 0 OR (len(toks) = 1 AND toks[1] = '') THEN 0.0
                        ELSE CAST(len(array_to_string(toks, '')) AS DOUBLE) / len(list_filter(toks, t -> t <> '')) END AS mwl,
                   CASE WHEN n = 0 THEN 0.0
                        ELSE CAST(n - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / n END AS pr,
                   CASE WHEN len(list_filter(toks, t -> t <> '')) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(toks, t -> t IN ({stop}))) AS DOUBLE)
                             / len(list_filter(toks, t -> t <> '')) END AS sr
            FROM base
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
               round(mwl, 4) AS mean_word_len, round(pr, 4) AS punct_ratio,
               round(sr, 4) AS stopword_ratio,
               round(
                   (CASE WHEN n_tokens >= 20 THEN 0.25 ELSE n_tokens / 20.0 * 0.25 END)
                   + (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN pr <= 0.2 THEN 0.25 ELSE greatest(0.0, (0.4 - pr) / 0.2 * 0.25) END)
                   + least(sr / 0.2, 1.0) * 0.25, 4) AS quality
        FROM feat
    """


# Shared CTE fragments for the shingle/signature oracles.  ``_TOKS_NE``
# mirrors cloudbrush_spark.functions.text.tokens exactly (empty tokens
# dropped); shingles are word 3-grams, distinct per doc.
_TOKS_NE = f"list_filter({_TOKS}, t -> t <> '')"

_SHINGLES_CTE = f"""
        toks AS (SELECT doc_id, {_TOKS_NE} AS t FROM documents),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
            FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i)
        ),
        ssz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
"""


def _lsh_cand_ctes(sh: str, cross: bool = False) -> str:
    """The MinHash/LSH candidate CTE chain (sigs -> banded -> small ->
    cand -> inter) over shingle relation ``sh`` — the ONE source of truth
    for the LSH parameterization (16 md5 minhashes, band = h // 4, bucket
    cap 50), shared by the self and cross legs of the minhash_lsh_dedup
    oracle so the two can never drift apart.  ``cross=True`` mirrors
    dedup.cross_corpus_near_dups over a TAGGED relation ('n|'/'r|' id
    prefixes): candidates are new-side x ref-side only, never
    within-side."""
    if cross:
        cand = """
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM small x JOIN small y USING (band, bkey)
            WHERE x.doc_id LIKE 'n|%' AND y.doc_id LIKE 'r|%'"""
    else:
        cand = """
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM small x JOIN small y USING (band, bkey)
            WHERE x.doc_id < y.doc_id"""
    return f"""
        sigs AS (
            SELECT doc_id, h, min(md5(h::VARCHAR || '|' || sh)) AS mh
            FROM {sh}, (SELECT unnest(generate_series(0, 15)) AS h)
            GROUP BY doc_id, h
        ),
        banded AS (
            SELECT doc_id, h // 4 AS band,
                   md5(array_to_string(list_sort(list(h::VARCHAR || ':' || mh)), '|')) AS bkey
            FROM sigs GROUP BY doc_id, band
        ),
        small AS (
            SELECT doc_id, band, bkey
            FROM (SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM banded)
            WHERE bsz <= 50
        ),
        cand AS ({cand}),
        inter AS (
            SELECT c.a, c.b, count(*) AS i
            FROM cand c
            JOIN {sh} x ON x.doc_id = c.a
            JOIN {sh} y ON y.doc_id = c.b AND y.sh = x.sh
            GROUP BY c.a, c.b
        )"""


# md5-bucket deterministic split (sampling.assign_split twin:
# seed='split', 1000 buckets, 900/950 thresholds) over the documents —
# shared by the hash_split oracle and the text_fp_split 'split' leg so
# the thresholds live in exactly one place
_SPLIT_SQL = """
        SELECT doc_id,
               CASE WHEN b < 900 THEN 'train'
                    WHEN b < 950 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(1, 8),
                        i -> (strpos('0123456789abcdef',
                                     substring(md5('split|' || doc_id::VARCHAR), i, 1)) - 1)
                             * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) % 1000 AS b
            FROM documents)"""


def _minhash_lsh_sql() -> str:
    """DuckDB twin of q_minhash_lsh_dedup's op-tagged union: the 'self'
    leg mirrors dedup.minhash_dedup_pairs and the scheme the dedup
    constants fix (SHINGLE_N 3, NUM_HASHES 16, ROWS_PER_BAND 4,
    MAX_BUCKET 50, JACCARD_THRESHOLD 0.5); the 'cross' leg mirrors
    dedup.cross_corpus_near_dups over the doc_id % 5 split via the SAME
    candidate CTE chain run on 'n|'/'r|'-tagged shingles (cross=True:
    new-side x ref-side candidates only).  The md5-based hash family is
    engine-portable by design (dedup.py).  Each leg is its own
    parenthesized WITH subquery so the shared CTE names don't collide."""
    self_q = f"""
        WITH {_SHINGLES_CTE},
        {_lsh_cand_ctes("sh")}
        SELECT 'self' AS op, i2.a, i2.b, round(j, 4) AS jaccard FROM (
            SELECT n.a, n.b, n.i / (sa.sz + sb.sz - n.i) AS j
            FROM inter n
            JOIN ssz sa ON sa.doc_id = n.a
            JOIN ssz sb ON sb.doc_id = n.b) i2
        WHERE j >= 0.5
    """
    cross_q = f"""
        WITH {_SHINGLES_CTE},
        xsh AS (
            SELECT (CASE WHEN doc_id % 5 = 0 THEN 'n|' ELSE 'r|' END)
                   || doc_id::VARCHAR AS doc_id, sh
            FROM sh
        ),
        xsz AS (SELECT doc_id, count(*) AS sz FROM xsh GROUP BY 1),
        {_lsh_cand_ctes("xsh", cross=True)}
        SELECT 'cross' AS op,
               CAST(substr(i2.a, 3) AS BIGINT) AS a,
               CAST(substr(i2.b, 3) AS BIGINT) AS b,
               round(j, 4) AS jaccard FROM (
            SELECT n.a, n.b, n.i / (sa.sz + sb.sz - n.i) AS j
            FROM inter n
            JOIN xsz sa ON sa.doc_id = n.a
            JOIN xsz sb ON sb.doc_id = n.b) i2
        WHERE j >= 0.5
    """
    return f"SELECT * FROM ({self_q}) UNION ALL SELECT * FROM ({cross_q})"


_ORACLES["winnow_fp"] = f"""
    WITH normed AS (
        SELECT doc_id, array_to_string({_TOKS_NE}, ' ') AS norm FROM documents
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos, substring(norm, i, 8) AS g
        FROM normed,
             LATERAL (SELECT unnest(generate_series(1, greatest(length(norm) - 7, 0))) AS i)
    ),
    hashed AS (
        SELECT doc_id, pos,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    j -> (strpos('0123456789abcdef', substring(md5(g), j, 1)) - 1)
                         * CAST(power(16, 8 - j) AS BIGINT))) AS BIGINT) AS hv
        FROM grams
    ),
    winm AS (
        SELECT doc_id, pos,
               min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM hashed
    )
    SELECT DISTINCT doc_id, wmin AS fp FROM winm WHERE pos <= n - 4
"""

_ORACLES["text_fp_split"] = f"""
    SELECT 'winnow' AS op, doc_id, CAST(fp AS VARCHAR) AS v
    FROM ({_ORACLES["winnow_fp"]})
    UNION ALL
    SELECT 'split' AS op, doc_id, split AS v
    FROM ({_SPLIT_SQL})
    UNION ALL
    SELECT 'mixture' AS op, doc_id, source || '#' || i::VARCHAR AS v
    FROM (
        SELECT doc_id, source,
               CASE WHEN CAST(substr(source, 4) AS INT) < 5
                    THEN 2 + CASE WHEN b < 500000 THEN 1 ELSE 0 END
                    WHEN CAST(substr(source, 4) AS INT) < 10 THEN 1
                    ELSE CASE WHEN b < 300000 THEN 1 ELSE 0 END END AS n
        FROM (
            SELECT doc_id, source,
                   CAST(list_sum(list_transform(generate_series(1, 8),
                        i -> (strpos('0123456789abcdef',
                                     substring(md5('mixture|' || doc_id::VARCHAR), i, 1)) - 1)
                             * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) % 1000000 AS b
            FROM documents)),
    LATERAL (SELECT unnest(generate_series(1, n)) AS i)
    UNION ALL
    SELECT 'calib' AS op, doc_id,
           source || '#' || CAST(rnk AS VARCHAR) || '/' || CAST(n AS VARCHAR) AS v
    FROM (SELECT q.doc_id, d.source,
                 row_number() OVER (PARTITION BY d.source
                                    ORDER BY q.quality DESC, q.doc_id) AS rnk,
                 count(*) OVER (PARTITION BY d.source) AS n
          FROM ({_quality_sql()}) q JOIN documents d USING (doc_id))
    UNION ALL
    -- 'strat' = stratified_sample(n=7): the 7 smallest md5('strat|'||id)
    -- rows per source — the twin is the DIRECT per-source window over
    -- the same hash, so Spark's bucketed two-phase assembly (range
    -- buckets + prefix prune + in-bucket rank) is hash-pinned rank for
    -- rank against the sequential definition
    SELECT 'strat' AS op, doc_id,
           source || '#' || CAST(rk AS VARCHAR) AS v
    FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY hval, doc_id) AS rk
          FROM (SELECT doc_id, source,
                       CAST(list_sum(list_transform(generate_series(1, 8),
                            i -> (strpos('0123456789abcdef',
                                         substring(md5('strat|' || doc_id::VARCHAR), i, 1)) - 1)
                                 * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) AS hval
                FROM documents))
    WHERE rk <= 7
"""

# The per-doc gate of the curation_filter 'doc' leg
_CURATION_GATE_SQL = f"""
    WITH q AS ({_quality_sql()}),
         l AS ({_lang_id_sql()}),
         t AS (SELECT doc_id,
                      CASE WHEN trim(text) = '' THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens
               FROM documents)
    SELECT q.doc_id, q.quality, l.lang_pred, CAST(t.ws_tokens AS BIGINT) AS ws_tokens,
           (q.quality >= 0.5 AND l.lang_pred = 'en'
            AND t.ws_tokens BETWEEN 10 AND 1000) AS keep
    FROM q JOIN l ON q.doc_id = l.doc_id JOIN t ON q.doc_id = t.doc_id
"""

# Corpus data-card twin (operators/report.corpus_report): bounded
# group-by frames + a histogram cumsum for the exact discrete quantiles;
# the sketch ok flags are emitted trivially true (contract rows)
_REPORT_SQL = f"""
    WITH rq AS ({_quality_sql()}),
    rl AS ({_lang_id_sql()}),
    feats AS (
        SELECT d.source AS src, CAST(rq.n_tokens AS BIGINT) AS ws,
               rq.quality AS q, rl.lang_pred AS lang, md5({_NORM}) AS fp
        FROM documents d
        JOIN rq ON rq.doc_id = d.doc_id
        JOIN rl ON rl.doc_id = d.doc_id),
    tot AS (SELECT count(*) AS n, sum(ws) AS t,
                   count(DISTINCT fp) AS dx FROM feats),
    hist AS (SELECT ws, count(*) AS cnt FROM feats GROUP BY 1),
    cumh AS (SELECT ws, sum(cnt) OVER (ORDER BY ws
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM hist),
    qv AS (SELECT pct, name
           FROM (VALUES (25,'p25'),(50,'p50'),(75,'p75'),(90,'p90'))
                v(pct, name)),
    tq AS (SELECT qv.name AS k2, min(c.ws) AS v1
           FROM qv, cumh c, tot
           WHERE c.cum * 100 >= qv.pct * tot.n
           GROUP BY 1)
    SELECT 'source' AS k1, src AS k2, CAST(count(*) AS BIGINT) AS v1,
           CAST(sum(ws) AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3
    FROM feats GROUP BY 2
    UNION ALL
    SELECT 'lang', lang, CAST(count(*) AS BIGINT), 0, 0
    FROM feats GROUP BY 2
    UNION ALL
    SELECT 'quality_decile',
           CAST(CAST(least(floor(q * 10), 9) AS INT) AS VARCHAR),
           CAST(count(*) AS BIGINT), 0, 0
    FROM feats GROUP BY 2
    UNION ALL
    SELECT 'len_bits', CAST(length(bin(ws)) AS VARCHAR),
           CAST(count(*) AS BIGINT), 0, 0
    FROM feats GROUP BY 2
    UNION ALL
    SELECT 'corpus', 'all', CAST(n AS BIGINT), CAST(t AS BIGINT), 0 FROM tot
    UNION ALL
    SELECT 'dup', 'exact_fp', CAST(dx AS BIGINT), CAST(n - dx AS BIGINT), 0
    FROM tot
    UNION ALL
    SELECT 'sketch', 'distinct_fp', CAST(dx AS BIGINT), 0, 1 FROM tot
    UNION ALL
    SELECT 'tokens_q', k2, CAST(v1 AS BIGINT), 0, 1 FROM tq
"""

_ORACLES["curation_filter"] = f"""
    SELECT 'doc' AS op, CAST(doc_id AS VARCHAR) AS k1, lang_pred AS k2,
           ws_tokens AS v1,
           CAST(round(quality * 10000) AS BIGINT) AS v2,
           CAST(keep AS BIGINT) AS v3
    FROM ({_CURATION_GATE_SQL})
    UNION ALL
    SELECT 'report' AS op, k1, k2, v1, v2, v3 FROM ({_REPORT_SQL})
    UNION ALL
    SELECT 'heavy' AS op, 'heavy_tok' AS k1, tok AS k2,
           CAST(cnt AS BIGINT) AS v1, CAST(0 AS BIGINT) AS v2,
           CAST(1 AS BIGINT) AS v3
    FROM (SELECT tok, count(*) AS cnt
          FROM (SELECT unnest({_TOKS}) AS tok FROM documents) GROUP BY 1),
         (SELECT count(*) AS n
          FROM (SELECT unnest({_TOKS}) AS tok FROM documents))
    WHERE cnt * 100 > 2 * n
"""

_ORACLES["j1_candidates"] = f"""
    WITH {_SHINGLES_CTE},
    capped AS (
        SELECT doc_id, sh
        FROM (SELECT doc_id, sh,
                     row_number() OVER (PARTITION BY sh ORDER BY doc_id) AS rnk
              FROM sh)
        WHERE rnk <= 10
    )
    SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
    FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
"""

_ORACLES["minhash_lsh_dedup"] = _minhash_lsh_sql()

# Connected components over the verified MinHash pair set (recursive label
# spread to the transitive closure — exact for the bounded oracle scale;
# the Spark side converges by hash-min rounds, see dedup.dedup_clusters),
# singletons included from the documents universe.
_ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
    edges AS (SELECT a, b FROM pairs
              UNION ALL SELECT b AS a, a AS b FROM pairs),
    reach(member, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.member
    ),
    labels AS (SELECT member, min(lab) AS cluster_rep FROM reach GROUP BY member),
    sizes AS (SELECT cluster_rep, count(*) AS n FROM labels GROUP BY 1)
    SELECT l.cluster_rep, l.member, s.n
    FROM labels l JOIN sizes s USING (cluster_rep)
"""

# ---------------------------------------------------------------------------
# Graph-operator fixture oracles.  The fixture CTEs (SQL_CHAIN / SQL_STAR /
# SQL_BUBBLE / SQL_MATE) build the exact rows the Spark builders in
# cloudbrush_spark.oracle_fixtures produce — see that module for the shared
# layout conventions (zero-padded ids, md5-derived sequences, modular
# orientation/overlap/coverage).
# ---------------------------------------------------------------------------

from cloudbrush_spark.oracle_fixtures import (  # noqa: E402
    SQL_BUBBLE, SQL_CHAIN, SQL_MATE, SQL_STAR,
)

_RC = "reverse(translate({0}, 'ACGT', 'TGCA'))"
_FLIPLINK = "CASE {0} WHEN 'ff' THEN 'rr' WHEN 'rr' THEN 'ff' ELSE {0} END"
_COIN_EVEN = "('0', '2', '4', '6', '8', 'a', 'c', 'e')"

_ORACLES["g2_edge_removal"] = f"""
    WITH {SQL_CHAIN},
    grem AS (SELECT src, et, dst, ov FROM cfwd WHERE CAST(src AS INTEGER) % 7 = 0),
    gremb AS (SELECT src, et, dst, ov FROM grem
              UNION SELECT dst, {_FLIPLINK.format('et')}, src, ov FROM grem)
    SELECT e.src, e.et, e.dst, e.ov FROM cedges e
    WHERE NOT EXISTS (SELECT 1 FROM gremb r
                      WHERE r.src = e.src AND r.et = e.et
                        AND r.dst = e.dst AND r.ov = e.ov)
"""

# G5 pick step with the md5 coin (seed 5): male iff the first hex digit of
# md5(id || '#5') is even; one merge per male, pinned by (d1, b).
_SQL_PICK5 = f"""
    gcand AS (SELECT src AS a, substring(et, 1, 1) AS d1, dst AS b,
                     substring(et, 2, 1) AS d2, ov
              FROM cfwd
              WHERE substring(md5(src || '#5'), 1, 1) IN {_COIN_EVEN}
                AND substring(md5(dst || '#5'), 1, 1) NOT IN {_COIN_EVEN}),
    gpick AS (SELECT a, d1, b, d2, ov,
                     CASE WHEN d2 = 'f' THEN d1
                          ELSE (CASE WHEN d1 = 'f' THEN 'r' ELSE 'f' END) END AS o_a
              FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY d1, b) AS rn
                    FROM gcand)
              WHERE rn = 1)
"""

_ORACLES["g5_pairmark"] = f"""
    WITH {SQL_CHAIN}, {_SQL_PICK5}
    SELECT a, d1, b, d2, ov, o_a FROM gpick
"""

_ORACLES["g6_pairmerge"] = f"""
    WITH {SQL_CHAIN}, {_SQL_PICK5},
    mj AS (SELECT p.*, n.seq AS a_seq, n.cov AS a_cov, length(n.seq) AS a_len
           FROM gpick p JOIN cnd n ON n.node_id = p.a),
    perb AS (SELECT b AS node_id,
                    max(CASE WHEN d2 = 'f' THEN
                        (CASE WHEN d1 = 'f' THEN a_seq ELSE {_RC.format('a_seq')} END)
                        END) AS l_oseq,
                    max(CASE WHEN d2 = 'f' THEN ov END) AS l_ov,
                    max(CASE WHEN d2 = 'f' THEN a_cov END) AS l_cov,
                    max(CASE WHEN d2 = 'f' THEN a_len END) AS l_len,
                    max(CASE WHEN d2 = 'r' THEN
                        (CASE WHEN d1 = 'f' THEN {_RC.format('a_seq')} ELSE a_seq END)
                        END) AS r_oseq,
                    max(CASE WHEN d2 = 'r' THEN ov END) AS r_ov,
                    max(CASE WHEN d2 = 'r' THEN a_cov END) AS r_cov,
                    max(CASE WHEN d2 = 'r' THEN a_len END) AS r_len
             FROM mj GROUP BY b),
    fem AS (SELECT n.node_id, n.seq AS fseq, n.cov AS fcov,
                   p.l_cov, p.l_len, p.r_oseq, p.r_ov, p.r_cov, p.r_len,
                   CASE WHEN p.l_oseq IS NOT NULL
                        THEN p.l_oseq || substring(n.seq, p.l_ov + 1)
                        ELSE n.seq END AS s1
            FROM cnd n JOIN perb p USING (node_id)),
    fem2 AS (SELECT node_id,
                    CASE WHEN r_oseq IS NOT NULL
                         THEN substring(s1, 1, length(s1) - r_ov) || r_oseq
                         ELSE s1 END AS seq,
                    (fcov * length(fseq) + coalesce(l_cov * l_len, 0)
                     + coalesce(r_cov * r_len, 0))
                    / (length(fseq) + coalesce(l_len, 0) + coalesce(r_len, 0)) AS cov
             FROM fem)
    SELECT node_id, seq, round(cov, 4) AS cov FROM fem2
    UNION ALL
    SELECT node_id, seq, round(cov, 4) AS cov FROM cnd
    WHERE node_id NOT IN (SELECT a FROM gpick)
      AND node_id NOT IN (SELECT b FROM gpick)
"""

# Tagged union of the two (see q_g5g6_pairmark_merge): each leg is the
# full single-op oracle above as a derived subquery.
_ORACLES["g5g6_pairmark_merge"] = f"""
    SELECT 'mark' AS op, a AS k1, b AS k2, d1 || d2 || o_a AS k3,
           CAST(ov AS BIGINT) AS v1, 0.0 AS v2
    FROM ({_ORACLES["g5_pairmark"]})
    UNION ALL
    SELECT 'merge', node_id, '', seq, CAST(0 AS BIGINT), cov
    FROM ({_ORACLES["g6_pairmerge"]})
"""

# G7/G8 fixpoint: walk each chain head-to-tail, splicing oriented sequences
# (trim the incoming overlap) and folding the length-weighted coverage in
# walk order — the same order-dependent formula as the serial contraction
# (operators/contraction.py _serial_contract; src/Brush/PairMerge.java:149).
_ORACLES["g7g8_chain_contract"] = f"""
    WITH RECURSIVE {SQL_CHAIN},
    walk AS (
        SELECT k AS start_k, k AS cur_k, 0 AS pos,
               CASE WHEN k % 3 <> 0 THEN seq ELSE {_RC.format('seq')} END AS acc,
               cov AS cur_cov, CAST(length(seq) AS BIGINT) AS cur_len
        FROM cnd WHERE (k - 1) % 8 = 0
        UNION ALL
        SELECT w.start_k, n.k, w.pos + 1,
               w.acc || substring(
                   CASE WHEN n.k % 3 <> 0 THEN n.seq ELSE {_RC.format('n.seq')} END,
                   (w.cur_k % 5 + 3) + 1),
               (w.cur_cov * w.cur_len + n.cov * length(n.seq))
               / (w.cur_len + length(n.seq)),
               w.cur_len + length(n.seq) - (w.cur_k % 5 + 3)
        FROM walk w JOIN cnd n ON n.k = w.cur_k + 1
        WHERE (w.cur_k - 1) % 8 < 7
    )
    SELECT lpad(CAST(start_k AS VARCHAR), 6, '0') AS node_id, acc AS seq,
           round(cur_cov, 4) AS cov
    FROM walk WHERE pos = 7
"""

# Bounded PWM consensus twin (Node.Consensus, src/Brush/Node.java:1293-1377)
# over the star fixture — shared by the G9 and G10 oracles.
_SQL_PWM_STAR = f"""
    ext AS (
        SELECT e.src, substring(e.et, 1, 1) AS d, e.dst, n.cov AS w,
               greatest(CAST(floor(n.cov) AS INTEGER), 0) AS iw,
               substring(CASE WHEN substring(e.et, 2, 1) = 'f' THEN n.seq
                              ELSE {_RC.format('n.seq')} END,
                         e.ov + 1, 100) AS ext
        FROM sedges e JOIN snodes n ON n.node_id = e.dst
    ),
    extf AS (SELECT * FROM ext WHERE length(ext) > 0),
    rankedx AS (SELECT *, row_number() OVER (
                    PARTITION BY src, d
                    ORDER BY length(ext) DESC, ext, dst) AS rnk
                FROM extf),
    side_len AS (
        SELECT src, d,
               CASE WHEN count(*) = 2
                         OR sum(CASE WHEN rnk <= 2 THEN w ELSE 0 END) > 2.0
                    THEN max(CASE WHEN rnk = 2 THEN length(ext) END)
                    ELSE coalesce(max(CASE WHEN rnk = 3 THEN length(ext) END),
                                  max(CASE WHEN rnk = 2 THEN length(ext) END))
               END AS clen
        FROM rankedx GROUP BY src, d HAVING count(*) >= 2
    ),
    chars0 AS (
        SELECT src, d, iw, i - 1 AS pos, substring(ext, i, 1) AS ch
        FROM extf, LATERAL (SELECT unnest(generate_series(1, length(ext))) AS i) t
    ),
    charsx AS (SELECT c.* FROM chars0 c
               JOIN side_len s ON s.src = c.src AND s.d = c.d AND c.pos < s.clen),
    colw AS (SELECT src, d, pos, ch, sum(iw) AS cw FROM charsx GROUP BY 1, 2, 3, 4),
    coltop AS (SELECT src, d, pos, ch AS top_ch, cw AS top_w
               FROM (SELECT *, row_number() OVER (
                         PARTITION BY src, d, pos
                         ORDER BY cw DESC, ch DESC) AS rn
                     FROM colw)
               WHERE rn = 1),
    cons AS (SELECT t.src, t.d, t.pos,
                    CASE WHEN p.top_w > 0.6 * t.total_w THEN p.top_ch ELSE 'N' END AS cchar
             FROM (SELECT src, d, pos, sum(cw) AS total_w FROM colw GROUP BY 1, 2, 3) t
             JOIN coltop p ON p.src = t.src AND p.d = t.d AND p.pos = t.pos),
    colors AS (
        SELECT src AS node_id, d,
               CASE WHEN sum(CASE WHEN cchar = 'N' THEN 1 ELSE 0 END) * 1.0
                         / count(*) <= 0.1
                    THEN 'B' ELSE 'W' END AS color
        FROM cons GROUP BY 1, 2
        UNION ALL
        SELECT src AS node_id, substring(et, 1, 1) AS d, 'B' AS color
        FROM sedges GROUP BY 1, 2 HAVING count(*) = 1
    )
"""

_ORACLES["g9_define_consensus"] = f"""
    WITH {SQL_STAR}, {_SQL_PWM_STAR}
    SELECT node_id, d, color FROM colors
"""

_ORACLES["g10_count_braid"] = f"""
    WITH {SQL_STAR}, {_SQL_PWM_STAR},
    jj AS (SELECT s.src, s.d, c1.color,
                  CASE WHEN c2.color = 'B' THEN 1 ELSE 0 END AS nb
           FROM (SELECT src, substring(et, 1, 1) AS d, dst,
                        substring(et, 2, 1) AS d2 FROM sedges) s
           JOIN colors c1 ON c1.node_id = s.src AND c1.d = s.d
           LEFT JOIN colors c2 ON c2.node_id = s.dst
                AND c2.d = (CASE WHEN s.d2 = 'f' THEN 'r' ELSE 'f' END)),
    per_side AS (SELECT src, d, count(*) AS n, max(color) AS color,
                        min(nb) AS all_b
                 FROM jj GROUP BY 1, 2)
    SELECT count(*) AS braids FROM per_side
    WHERE n > 1 AND color = 'B' AND all_b = 1
"""

_ORACLES["c2_find_bubbles"] = f"""
    WITH {SQL_BUBBLE}
    SELECT node_id, survivor_id, mass FROM bpops
"""

_ORACLES["c3_pop_bubbles"] = f"""
    WITH {SQL_BUBBLE},
    ball AS (SELECT node_id, seq, cov FROM bint
             UNION ALL SELECT node_id, seq, cov FROM bend),
    credit AS (SELECT survivor_id AS node_id, sum(mass) AS extra
               FROM bpops p
               WHERE NOT EXISTS (SELECT 1 FROM bpops q
                                 WHERE q.node_id = p.survivor_id)
               GROUP BY 1)
    SELECT a.node_id, a.cov + coalesce(c.extra, 0) / length(a.seq) AS cov
    FROM ball a LEFT JOIN credit c USING (node_id)
    WHERE a.node_id NOT IN (SELECT node_id FROM bpops)
"""

_ORACLES["c4_low_coverage"] = f"""
    WITH {SQL_CHAIN},
    doomed AS (SELECT node_id FROM cnd WHERE length(seq) <= 40 AND cov <= 3.0)
    SELECT e.src, e.et, e.dst, e.ov FROM cedges e
    WHERE e.src NOT IN (SELECT node_id FROM doomed)
      AND e.dst NOT IN (SELECT node_id FROM doomed)
"""

_ORACLES["j4_mate_adjust"] = f"""
    WITH {SQL_MATE}
    SELECT src, et, dst, ov FROM mrank
    WHERE best > 0 AND rnk > 1
      AND src NOT IN (SELECT src FROM mspan_bad)
"""

_ORACLES["a7_tag_trusted"] = f"""
    WITH postings AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    counts AS (SELECT tok, count(*) AS freq FROM postings GROUP BY 1),
    tr AS (SELECT doc_id, min(freq) > 10 AS trusted
           FROM postings JOIN counts USING (tok) GROUP BY 1),
    sel AS (SELECT doc_id, trusted FROM tr WHERE doc_id % 2 = 0)
    SELECT d.doc_id, coalesce(s.trusted, FALSE) AS trusted,
           NOT coalesce(s.trusted, FALSE) AS "unique"
    FROM documents d LEFT JOIN sel s USING (doc_id)
"""

_ORACLES["relational_extras"] = """
    SELECT 'rollup' AS op,
           CAST(GROUPING(l_returnflag, l_linestatus) AS VARCHAR) || ':' ||
               coalesce(l_returnflag, '(null)') AS k1,
           coalesce(l_linestatus, '(null)') AS k2,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS v1,
           count(*) AS v2
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'topk', p_brand, CAST(p_partkey AS VARCHAR),
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT),
           CAST(rnk AS BIGINT)
    FROM (SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rnk
          FROM part)
    WHERE rnk <= 3
    UNION ALL
    SELECT 'except', CAST(o_custkey AS VARCHAR), '', CAST(-1 AS BIGINT),
           CAST(0 AS BIGINT)
    FROM (SELECT o_custkey FROM orders
          EXCEPT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    UNION ALL
    SELECT 'intersect', CAST(o_custkey AS VARCHAR), '', CAST(-1 AS BIGINT),
           CAST(0 AS BIGINT)
    FROM (SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '2000-01-01'
            AND o_orderdate < TIMESTAMP '2001-01-01'
          INTERSECT
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '2001-01-01')
    UNION ALL
    SELECT 'win_run', CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR),
           CAST(run_cents AS BIGINT), CAST(rn AS BIGINT)
    FROM (SELECT o_custkey, o_orderkey,
                 row_number() OVER w AS rn,
                 sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                     OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS run_cents
          FROM orders WHERE o_custkey % 7 = 0
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey))
    UNION ALL
    SELECT 'win_lag', CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR),
           CAST(coalesce(gap_days, -1) AS BIGINT), CAST(val_rank AS BIGINT)
    FROM (SELECT o_custkey, o_orderkey,
                 date_diff('day',
                           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate, o_orderkey),
                           o_orderdate) AS gap_days,
                 rank() OVER (PARTITION BY o_custkey
                              ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC)
                     AS val_rank
          FROM orders WHERE o_custkey % 7 = 0)
    UNION ALL
    SELECT 'win_ntile', CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR),
           CAST(tile AS BIGINT), CAST(first_ok AS BIGINT)
    FROM (SELECT o_custkey, o_orderkey,
                 ntile(4) OVER (PARTITION BY o_custkey
                                ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
                                         o_orderkey) AS tile,
                 first_value(o_orderkey) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey) AS first_ok
          FROM orders WHERE o_custkey % 7 = 0)
    UNION ALL
    SELECT 'cube',
           CAST(GROUPING(l_returnflag, l_linestatus) AS VARCHAR) || ':' ||
               coalesce(l_returnflag, '(null)'),
           coalesce(l_linestatus, '(null)'),
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT),
           count(*)
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets',
           CAST(GROUPING(l_returnflag, l_linestatus) AS VARCHAR) || ':' ||
               coalesce(l_returnflag, '(null)'),
           coalesce(l_linestatus, '(null)'),
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT),
           count(*)
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    UNION ALL
    SELECT 'pivot', k1, k2,
           CAST(coalesce(cents, 0) AS BIGINT), CAST(coalesce(cnt, 0) AS BIGINT)
    FROM (SELECT DISTINCT o_orderpriority AS k1 FROM orders)
         CROSS JOIN (SELECT unnest(['O', 'F', 'P']) AS k2)
         LEFT JOIN (SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
                           sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
                    FROM orders GROUP BY 1, 2) g
           ON g.o_orderpriority = k1 AND g.o_orderstatus = k2
    UNION ALL
    SELECT 'xall', CAST(o_custkey AS VARCHAR), '', count(*), CAST(0 AS BIGINT)
    FROM (SELECT o_custkey FROM orders
          EXCEPT ALL
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    GROUP BY 2
    UNION ALL
    SELECT 'iall', CAST(o_custkey AS VARCHAR), '', count(*), CAST(0 AS BIGINT)
    FROM (SELECT o_custkey FROM orders
          INTERSECT ALL
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    GROUP BY 2
    UNION ALL
    SELECT 'win_range', CAST(o_custkey AS VARCHAR),
           CAST(o_orderkey AS VARCHAR),
           CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
                                 RANGE BETWEEN 30 PRECEDING
                                       AND CURRENT ROW) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM (SELECT o_custkey, o_orderkey,
                 CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
                      AS BIGINT) AS day,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                     AS cents
          FROM orders WHERE o_custkey % 7 = 0)
    UNION ALL
    SELECT 'rawsql', n.n_name, '',
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                AS BIGINT),
           count(*)
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 2
"""

# Tagged union of the TPC-H-shaped queries (see q_tpch_suite): the
# per-query oracles, canonicalized to the shared measure schema.  The r8
# legs (q4/q13/q16/q17/q18/q22) keep every boundary comparison in exact
# decimal/integer arithmetic (division-free avg re-expressions) so the
# cross-engine hash cannot drift on rounding.
_ORACLES["tpch_suite"] = """
    SELECT 'q1' AS op, l_returnflag || '|' || l_linestatus AS k1,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS v1,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS v2,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS v3,
           count(*) AS v4
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2002-09-02'
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT 'q3', CAST(o_orderkey AS VARCHAR), revenue,
           0.0, 0.0, CAST(0 AS BIGINT)
    FROM (
        SELECT o_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY 1
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10)
    UNION ALL
    SELECT 'q5', n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
           0.0, 0.0, CAST(0 AS BIGINT)
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    UNION ALL
    SELECT 'q6', '',
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE),
           0.0, 0.0, count(*)
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    UNION ALL
    SELECT 'q4', o_orderpriority, 0.0, 0.0, 0.0, count(*)
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'q13', CAST(c_count AS VARCHAR), 0.0, 0.0, 0.0, count(*)
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
                   WHERE o_orderpriority <> '1-URGENT') o
          ON c.c_custkey = o.o_custkey
        GROUP BY 1)
    GROUP BY c_count
    UNION ALL
    SELECT 'q16',
           p_brand || '|' || p_type || '|' || CAST(p_size AS VARCHAR),
           0.0, 0.0, 0.0, count(DISTINCT l_suppkey)
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size < 30
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    UNION ALL
    SELECT 'q17', '',
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),
           0.0, 0.0, count(*)
    FROM lineitem l
    JOIN (SELECT l_partkey,
                 sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                 count(*) AS cnt_qty
          FROM lineitem GROUP BY 1) pq
      ON l.l_partkey = pq.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pq.cnt_qty < pq.sum_qty
    UNION ALL
    SELECT 'q18', c_name || '|' || CAST(o_orderkey AS VARCHAR),
           o_totalprice, CAST(sum_qty AS DOUBLE), 0.0, CAST(0 AS BIGINT)
    FROM orders
    JOIN (SELECT l_orderkey,
                 sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
          FROM lineitem GROUP BY 1
          HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 350) b
      ON o_orderkey = b.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'q22', CAST(c.c_nationkey AS VARCHAR),
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE),
           0.0, 0.0, count(*)
    FROM customer c,
         (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS pos_sum,
                 count(*) AS pos_n
          FROM customer WHERE c_acctbal > 0) pos
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * pos.pos_n > pos.pos_sum
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c.c_nationkey
    UNION ALL
    SELECT 'q7', sn.n_name || '|' || cn.n_name || '|'
               || CAST(year(l_shipdate) AS VARCHAR),
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
           0.0, 0.0, CAST(0 AS BIGINT)
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY 2
    UNION ALL
    SELECT 'q10', CAST(c_custkey AS VARCHAR) || '|' || n_name,
           CAST(rev_exact AS DOUBLE), 0.0, 0.0, CAST(0 AS BIGINT)
    FROM (
        SELECT c_custkey, n_name,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_exact
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
        GROUP BY 1, 2
        ORDER BY rev_exact DESC, c_custkey
        LIMIT 20)
    UNION ALL
    SELECT 'q12', l_linestatus || '|'
               || CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 'high' ELSE 'low' END,
           0.0, 0.0, 0.0, count(*)
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY 2
    UNION ALL
    SELECT 'q14', '',
           CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE),
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
           0.0, CAST(0 AS BIGINT)
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    UNION ALL
    SELECT 'q15', s_name, CAST(total_rev AS DOUBLE),
           0.0, 0.0, CAST(0 AS BIGINT)
    FROM (
        WITH r AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY 1)
        SELECT s_name, total_rev FROM r
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM r))
    UNION ALL
    SELECT 'q19', '',
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
           0.0, 0.0, count(*)
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
           AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
           AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
           AND p_size BETWEEN 1 AND 15)
    UNION ALL
    SELECT 'q21', s_name, 0.0, 0.0, 0.0, count(*)
    FROM lineitem l1
    JOIN orders ON l1.l_orderkey = o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY s_name
    UNION ALL
    SELECT 'q8', CAST(year(o_orderdate) AS VARCHAR),
           CAST(sum(CASE WHEN sn.n_name = 'NATION_9'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE),
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
           0.0, CAST(0 AS BIGINT)
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE p_type = 'STANDARD'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND o_custkey IN (SELECT c_custkey FROM customer
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
                        WHERE r_name = 'ASIA')
    GROUP BY 2
    UNION ALL
    SELECT 'q9', n_name || '|' || CAST(year(o_orderdate) AS VARCHAR),
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
           0.0, 0.0, CAST(0 AS BIGINT)
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 2
"""

_DNA_FROM_DOCS = "upper(translate(md5(text), '0123456789abcdef', 'acgtacgtacgtacgt'))"

_ORACLES["s2_sfa_roundtrip"] = f"""
    SELECT 'd' || CAST(doc_id AS VARCHAR) AS read_id,
           {_DNA_FROM_DOCS} AS seq
    FROM documents
"""

_ORACLES["s1_fastq_roundtrip"] = f"""
    SELECT 'd' || CAST(doc_id AS VARCHAR) || '_1' AS read_id,
           {_DNA_FROM_DOCS} AS seq
    FROM documents
"""

# The JSONL/CSV round-trip twin: DuckDB rebuilds the salted content
# directly from `documents` — the Spark side must reproduce it through a
# physical write->read through the interchange format's escaping.
_RT_SEQ_SQL = f"md5(lang || '|' || source || '|' || text || {_TRICKY_SQL})"

_ORACLES["source_roundtrips"] = f"""
    SELECT 'fastq' AS op, read_id, seq FROM ({_ORACLES["s1_fastq_roundtrip"]})
    UNION ALL
    SELECT 'sfa' AS op, read_id, seq FROM ({_ORACLES["s2_sfa_roundtrip"]})
    UNION ALL
    SELECT 'jsonl' AS op, 'd' || CAST(doc_id AS VARCHAR) AS read_id,
           {_RT_SEQ_SQL} AS seq FROM documents
    UNION ALL
    SELECT 'csv' AS op, 'd' || CAST(doc_id AS VARCHAR) AS read_id,
           {_RT_SEQ_SQL} AS seq FROM documents
    UNION ALL
    SELECT 'orc' AS op, 'd' || CAST(doc_id AS VARCHAR) AS read_id,
           {_RT_SEQ_SQL} AS seq FROM documents
"""

# Corpus-guard union (operators/guard.py): decontam / pii / rep legs.
# The benchmark split re-derives sampling.deterministic_sample's md5
# bucket (seed='decontam', 1e6 buckets, < 50000) with the same hex->long
# arithmetic as _split_case_sql; the PII patterns are the guard module's
# own constants (identical semantics under Java regex and RE2 — pinned by
# tests/test_guard.py::test_pii_scrub_matches_duckdb_semantics).
from cloudbrush_spark.operators.guard import (  # noqa: E402
    CARD_RE, EMAIL_RE, INTL_PHONE_RE, IPV4_RE, PHONE_RE)


def _luhn_sql(expr: str) -> str:
    """DuckDB twin of guard.luhn_valid: mod-10 checksum over the digits
    of ``expr`` as a list fold — same shape as the Spark aggregate."""
    d = f"regexp_replace({expr}, '[^0-9]', '', 'g')"
    dig = f"CAST(substring({d}, i, 1) AS INT)"
    return f"""(length({d}) > 0 AND
        list_sum(list_transform(generate_series(1, length({d})),
          i -> CASE WHEN (length({d}) - i) % 2 = 1
               THEN CASE WHEN 2 * {dig} > 9
                    THEN 2 * {dig} - 9 ELSE 2 * {dig} END
               ELSE {dig} END)) % 10 = 0)"""

_ORACLES["corpus_guard"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS_NE} AS t FROM documents),
    bench AS (
        SELECT doc_id FROM documents
        WHERE CAST(list_sum(list_transform(generate_series(1, 8),
              i -> (strpos('0123456789abcdef',
                           substring(md5('decontam|' || doc_id::VARCHAR), i, 1)) - 1)
                   * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) % 1000000 < 50000),
    g13 AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 12), ' ') AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i)),
    bg AS (SELECT DISTINCT g FROM g13 JOIN bench USING (doc_id)),
    corpus AS (SELECT d.doc_id FROM documents d ANTI JOIN bench b ON d.doc_id = b.doc_id),
    ngr AS (SELECT doc_id, count(*) AS n FROM g13 GROUP BY 1),
    hits AS (SELECT g13.doc_id, count(*) AS n_hit FROM g13 JOIN bg USING (g) GROUP BY 1),
    dec AS (
        SELECT 'decontam' AS op, c.doc_id,
               CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 'hit' ELSE 'clean' END AS k,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS v1,
               CAST(coalesce(n.n, 0) AS BIGINT) AS v2,
               CAST(0 AS BIGINT) AS v3
        FROM corpus c LEFT JOIN hits h USING (doc_id) LEFT JOIN ngr n USING (doc_id)),
    planted AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact u' || doc_id::VARCHAR || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.1'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' tel 555-01' || (doc_id % 10)::VARCHAR || '-'
                            || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN CASE WHEN doc_id % 8 = 0
                            THEN ' card 4111 1111 1111 1111 ok'
                            ELSE ' card 4111-1111-1111-1111 ok' END
                       ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN ' ref 4111 1111 1111 1112 no' ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call +44 20 7946 '
                            || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       ELSE '' END AS text
        FROM documents),
    -- pii scrub chain: email -> IP -> Luhn-valid card fold -> intl
    -- phone -> US phone, each stage over the previous stage's output
    -- (the exact order guard.pii_scrub applies)
    pscrub AS (
        SELECT doc_id, text,
               regexp_replace(regexp_replace(text,
                   '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{IPV4_RE}', '<IP>', 'g') AS t2
        FROM planted),
    pcard AS (
        SELECT doc_id, text,
               list_reduce(
                   list_prepend(t2,
                       list_filter(regexp_extract_all(t2, '{CARD_RE}'),
                                   m -> {_luhn_sql('m')})),
                   (acc, x) -> replace(acc, x, '<ID>')) AS t3
        FROM pscrub),
    pii AS (
        SELECT 'pii' AS op, doc_id,
               md5(regexp_replace(regexp_replace(t3,
                   '{INTL_PHONE_RE}', '<PHONE>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g')) AS k,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS v1,
               CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT) AS v2,
               CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS v3
        FROM pcard),
    pii_ids AS (
        SELECT 'pii_ids' AS op, doc_id, '' AS k,
               CAST(len(regexp_extract_all(text, '{CARD_RE}')) AS BIGINT) AS v1,
               CAST(len(list_filter(regexp_extract_all(text, '{CARD_RE}'),
                                    m -> {_luhn_sql('m')})) AS BIGINT) AS v2,
               CAST(len(regexp_extract_all(text, '{INTL_PHONE_RE}')) AS BIGINT) AS v3
        FROM planted),
    uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
    ucnt AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2),
    utop AS (SELECT doc_id, max(c) AS uc FROM ucnt GROUP BY 1),
    big AS (
        SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i)),
    bcnt AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
    btop AS (SELECT doc_id, g, c FROM (
               SELECT doc_id, g, c,
                      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
               FROM bcnt) WHERE rn = 1),
    rep AS (
        SELECT 'rep' AS op, tk.doc_id, coalesce(bt.g, '') AS k,
               CAST(coalesce(bt.c, 0) AS BIGINT) AS v1,
               CAST(coalesce(ut.uc, 0) AS BIGINT) AS v2,
               CAST(len(tk.t) AS BIGINT) AS v3
        FROM toks tk LEFT JOIN btop bt USING (doc_id) LEFT JOIN utop ut USING (doc_id)),
    bvec AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 = 0),
    sem0 AS (
        SELECT e.vec_id,
               max(list_dot_product(e.embedding, b.embedding)
                   / (sqrt(list_dot_product(e.embedding, e.embedding))
                      * sqrt(list_dot_product(b.embedding, b.embedding)))) AS mx
        FROM embeddings e CROSS JOIN bvec b GROUP BY e.vec_id),
    sem AS (
        SELECT 'semdecon' AS op, e.vec_id AS doc_id,
               CASE WHEN coalesce(s.mx, -1.0) >= 0.95 THEN 'hit' ELSE 'clean' END AS k,
               CAST(round(coalesce(s.mx, -1.0) * 10000, 0) AS BIGINT) AS v1,
               CAST(0 AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3
        FROM embeddings e LEFT JOIN sem0 s USING (vec_id)),
    -- boiler: planted repeated lines (see q_corpus_guard), line-level
    -- corpus dedup — remove EVERY occurrence of a line whose corpus-wide
    -- count exceeds 1, reassemble in original order
    blined AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 18 = 0
                       THEN chr(10) || 'subscribe to our newsletter for updates'
                       WHEN doc_id % 18 = 6
                       THEN chr(10) || 'this site uses cookies to improve your experience'
                       WHEN doc_id % 18 = 12
                       THEN chr(10) || 'content licensed under creative commons'
                       ELSE '' END
               || CASE WHEN doc_id % 15 = 0
                       THEN chr(10) || 'all rights reserved' ELSE '' END
               || CASE WHEN doc_id % 10 = 0
                       THEN chr(10) || 'ref ' || doc_id::VARCHAR ELSE '' END
               AS text
        FROM documents),
    blines AS (
        SELECT doc_id, i AS pos, ln
        FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM blined),
             LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i),
             LATERAL (SELECT parts[i] AS ln)
        WHERE trim(ln) <> ''),
    bdf AS (SELECT ln, count(*) AS line_df FROM blines GROUP BY 1),
    bkept AS (
        SELECT l.doc_id, l.pos, l.ln, (d.line_df > 1) AS boiler
        FROM blines l JOIN bdf d USING (ln)),
    bdoc AS (
        SELECT doc_id,
               array_to_string(list_transform(
                   list_sort(list_filter(
                       list(struct_pack(pos := pos, ln := ln, boiler := boiler)),
                       s -> NOT s.boiler)),
                   s -> s.ln), chr(10)) AS clean_text,
               count(*) AS n_lines,
               sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS n_removed
        FROM bkept GROUP BY 1),
    boiler AS (
        SELECT 'boiler' AS op, d.doc_id,
               md5(coalesce(b.clean_text, '')) AS k,
               CAST(coalesce(b.n_lines, 0) AS BIGINT) AS v1,
               CAST(coalesce(b.n_removed, 0) AS BIGINT) AS v2,
               CAST(0 AS BIGINT) AS v3
        FROM documents d LEFT JOIN bdoc b USING (doc_id))
    ,
    sgrams AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(t, i, i + 12), ' ') AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i)),
    sshared AS (SELECT g FROM sgrams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    shits AS (SELECT doc_id, pos FROM sgrams JOIN sshared USING (g)),
    slagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
                    THEN 1 ELSE 0 END AS nr
        FROM shits),
    srid AS (
        SELECT doc_id, pos,
               sum(nr) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS run
        FROM slagged),
    spans AS (
        SELECT 'spans' AS op, doc_id, CAST(min(pos) AS VARCHAR) AS k,
               CAST(max(pos) + 12 AS BIGINT) AS v1,
               count(*) AS v2, CAST(0 AS BIGINT) AS v3
        FROM srid GROUP BY doc_id, run)
    SELECT * FROM dec UNION ALL SELECT * FROM pii
    UNION ALL SELECT * FROM pii_ids UNION ALL SELECT * FROM rep
    UNION ALL SELECT * FROM sem UNION ALL SELECT * FROM boiler
    UNION ALL SELECT * FROM spans
"""


from cloudbrush_spark.oracle_fixtures import SQL_OVERLAP_EDGES  # noqa: E402

_ORACLES["overlap_graph"] = f"""
    WITH {SQL_OVERLAP_EDGES}
    SELECT src, et, dst, ov FROM oedges
"""

_ORACLES["k1_fasta_format"] = f"""
    WITH {SQL_CHAIN}
    SELECT '>' || node_id || ' len=' || CAST(length(repeat(seq, 3)) AS VARCHAR)
           || ' cov=' || printf('%.2f', cov) || chr(10)
           || rtrim(regexp_replace(repeat(seq, 3), '(.{{60}})',
                                   '\\1' || chr(10), 'g'), chr(10)) AS value
    FROM cnd
"""

_ORACLES["sink_formats"] = f"""
    SELECT 'fasta' AS op, value AS k, '' AS v FROM ({_ORACLES["k1_fasta_format"]})
    UNION ALL
    SELECT 'sfa_expand' AS op, emit_id AS k, CAST(p_partkey AS VARCHAR) AS v
    FROM ({_ORACLES["k2_explode_emit"]})
"""


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

# AT MOST 50 entries: the driver's correctness check covers the first 50
# registry entries, and round 4 proved that anything past that cap gets no
# CORRECTNESS row at all (7 §2 operators went unverified purely by
# position).  Ordering: never-yet-green first, then the round-4
# regressions, then everything else.  Redundant entries were pruned or
# merged rather than dropped silently:
#   - fingerprint          -> same md5 fingerprint as p1_dedup_exact
#   - lang_id/quality/token_stats -> outputs embedded in curation_filter
#   - a1_n50               -> per-cutoff N50 inside a1_size_distribution
#   - tpch_q1/q3/q5/q6     -> tpch_suite tagged union (r6; all four verified)
#   - g5_pairmark/g6_pairmerge -> g5g6_pairmark_merge tagged union (r6)
#   - g5g6_distributed_fixpoint -> G5-G8 covered by g5g6/g7g8 entries
#   - ann_topk_lsh/ann_topk_ivf/emb_near_dup_lsh/emb_near_dup -> ann_contracts
#   - ann_contracts        -> gone with the approximate vector-search
#     operators it checked (LSH/IVF/int8 top-k, embedding near-dup pairs,
#     clusters and cross-corpus dedup)
#   - asof/range/rollup/topk_per_group/set_ops -> relational_extras
#   - winnow_fp/hash_split -> text_fp_split tagged union (r7; both
#     still verified)
#   - simhash_pairs/simhash_clusters/ngram_jaccard/mm_blockhash_pairs ->
#     gone with the SimHash/Hamming, n-gram Jaccard and blockhash near-dup
#     operators they checked; minhash_lsh_dedup and dedup_clusters check
#     the near-dup path curation runs
#   - ann_topk/mm_metadata/mm_binary_dedup, the relational_extras
#     asof/range/merge/salted legs and the curation_filter bm25/lm/lm_sum
#     legs -> gone with the brute-force cosine top-k, binary-payload,
#     join-extension, BM25 and bigram-LM operators they checked
#   - s1_fastq_roundtrip/s2_sfa_roundtrip -> source_roundtrips tagged
#     union (r7; slot freed for corpus_guard — both legs still verified)
#   - k1_fasta_format/k2_explode_emit -> sink_formats tagged union (r7;
#     both legs still verified)
# A pruned query function stays defined above only while bench.py's
# HEADLINE list resolves it by name or a registered query calls it, and a
# pruned oracle stays in _ORACLES only while a registered oracle embeds it.
# A registry entry is pruned only when its operator is deleted; a HEADLINE
# name goes with its operator too.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- red in r8 (oracle HUGEINT leak, fixed r9) — never-green-first ---
    "relational_extras": q_relational_extras,    # rollup/cube/topk/set ops/windows
    # --- new in round 7 ---
    "corpus_guard": q_corpus_guard,              # decontam / pii / repetition
    "source_roundtrips": q_source_roundtrips,    # s1 fastq + s2 sfa union
    "sink_formats": q_sink_formats,              # k1 fasta + k2 sfa union
    "text_fp_split": q_text_fp_split,            # winnow + split union (r7)
    # --- new in round 6 ---
    "tpch_suite": q_tpch_suite,                  # 19-leg TPC-H union
    "dedup_clusters": q_dedup_clusters,          # linear cluster product
    "g5g6_pairmark_merge": q_g5g6_pairmark_merge,
    # --- green in r5 but merged/starved risk: keep early ---
    "c3_pop_bubbles": q_c3_pop_bubbles,
    "c4_low_coverage": q_c4_low_coverage,
    "j4_mate_adjust": q_j4_mate_adjust,
    "a7_tag_trusted": q_a7_tag_trusted,
    "overlap_graph": q_overlap_graph,
    # --- SURVEY §2 core (green in r4) ---
    "p1_dedup_exact": q_p1_dedup_exact,
    "p2_filter_contained": q_p2_filter_contained,
    "p3_high_ngrams": q_p3_high_ngrams,
    "a1_size_distribution": q_a1_size_distribution,
    "a2_global_counts": q_a2_global_counts,
    "a3_ngram_doc_counts": q_a3_ngram_doc_counts,
    "a4_count_histogram": q_a4_count_histogram,
    "a5_token_freq_per_doc": q_a5_token_freq_per_doc,
    "a6_trusted_docs": q_a6_trusted_docs,
    "a8_precorrect": q_a8_precorrect,
    "j1_candidates": q_j1_candidates,
    "j2_overlap_equijoin": q_j2_overlap_equijoin,
    "j3_edge_symmetrize": q_j3_edge_symmetrize,
    "g1_pwm_consensus": q_g1_pwm_consensus,
    "g2_edge_removal": q_g2_edge_removal,
    "g3_transitive_reduction": q_g3_transitive_reduction,
    "g4_degrees": q_g4_degrees,
    "g7g8_chain_contract": q_g7g8_chain_contract,
    "g9_define_consensus": q_g9_define_consensus,
    "g10_count_braid": q_g10_count_braid,
    "c1_tips": q_c1_tips,
    "c2_find_bubbles": q_c2_find_bubbles,
    "c5_astat": q_c5_astat,
    # --- LLM-pipeline dedup/curation surface ---
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "curation_filter": q_curation_filter,
}

assert len(_QUERIES) <= 50, f"driver checks only 50 queries, got {len(_QUERIES)}"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-Q1-shaped pricing
    summary through the engine's aggregate path."""
    return q_tpch_q1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    # restrict to registered queries: the merged legs that registered
    # oracles embed are not queries of their own
    return {k: v for k, v in _ORACLES.items()
            if v is not None and k in _QUERIES}
