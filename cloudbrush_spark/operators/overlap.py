"""Overlap-graph construction: the k-mer-seeded similarity self-join
(J1 MatchPrefix), exact-overlap verification theta-join (J2 VerifyOverlap)
and edge symmetrization (J3 GenReverseEdge).

Edge model (bidirected string graph, src/Brush/Node.java:78):
``edges(src, et, dst, ov)`` where ``et = d1 || d2`` and the edge asserts

    suffix(orient(src, d1), ov) == prefix(orient(dst, d2), ov)

with ``orient(x, 'f') = seq`` and ``orient(x, 'r') = rc(seq)``.  The
reverse edge is ``(dst, flip_link(et), src, ov)``.

Spark-first shape: inverted-index equi-join on the seed k-mer (NOT a
translation of the reference's reducer).  Candidates are generated from
prefix-postings x suffix-window-postings joined on the k-mer, then
verified with a substring-equality filter — the same candidates/verify
split as src/Brush/MatchPrefix.java:120-174 + src/Brush/VerifyOverlap.java:287-309.

r14 physical rework (measured at sf0.1, 150k reads, local[32]: old
two-pass shape 295 executor-CPU-s / 912 MB shuffled / ~17 s wall ->
new single-exchange JVM shape 130 CPU-s / 96 MB / ~10 s wall,
identical output — see OPTIMIZATION_r14.md):

- ONE posting-generation pass emits prefix AND suffix-window postings
  together (``ov = 0`` tags the prefix posting), instead of two
  independent explode pipelines whose exchanges column-pruning then
  specialized apart — the old plan generated + shuffled the ~200x
  window explosion twice and re-read it a third time for the hot-key
  count (guide §2.4: remove shuffles outright).
- The generation pass is a pure-JVM expression pipeline (posexplode
  over substring windows + xxhash64).
- Count-gated broadcast SEMI prefilter: suffix windows whose seed k-mer
  matches NO read prefix can never produce a candidate, so the big
  side is pre-filtered against the distinct prefix-key set before the
  exchange (guide §3.2 Bloom/semi-join pre-filtering; 585 MB -> 74 MB
  shuffled at sf0.1).  The prefix-key set is 2 keys/read, so past
  ``PREFILTER_KEYS_MAX`` the prefilter is skipped (the single-exchange
  shape above still holds; only the exchange carries all windows).
- The per-key cap guard is a streaming window count OVER THE JOIN'S OWN
  EXCHANGE (sorted once, counted in one pass), replacing the separate
  full-posting count aggregate + union-of-counts regroup + broadcast
  hot-list anti-join.  Same drop-whole-key semantics, zero extra
  shuffles, no 10^7-entry aggregate hash table.
- The candidate join is a SELF-join of the capped frame on the seed key
  with the prefix/suffix split expressed in the JOIN CONDITION
  (``p.ov = 0 AND s.ov > 0``), so both children are canonically
  identical and exchange reuse is structural, not an optimizer
  accident.  ``shuffle_hash`` pin as before: posting tables must never
  be broadcast (Generate-estimate regression, test_plans.py).

100 TB scale levers, all load-bearing (SURVEY §7 risk 4):
- high-frequency k-mer blacklist applied BEFORE the join (mirrors
  src/Brush/MatchPrefix.java:155-158) — removes the repeat-induced hot
  keys that would otherwise dominate the shuffle;
- homopolymer seed windows dropped (src/Brush/MatchPrefix.java:163,170);
- NON-OPTIONAL per-key cap (src/Brush/MatchPrefix.java:366-380): keys
  whose total posting count exceeds ``per_key_cap`` are dropped whole by
  the streaming window count — never a whole hot posting list in one
  hash-table build;
- AQE skew-join handles residual imbalance.

Key-hashing note: seed keys are hashed to 64-bit integers (xxhash64)
before the exchange (a 24-char UTF8 k-mer is ~3x the bytes of a long
and far slower to hash/compare).  The homopolymer and blacklist
filters run on the k-mer strings before hashing, so only two
2^-64-scale collision modes remain: a JOIN-side collision only creates
a false candidate that the exact J2 verify rejects; a CAP-side
collision merges two keys' counts and can drop an innocent key whole
(documented, bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna

# Prefilter gate: the broadcast distinct prefix-key set is 2 keys per
# read (16 B/key framed — ~160 MB at this bound, the top of the
# comfortable broadcast range).  ``match_prefix`` counts the reads (one
# cheap job) and skips the prefilter past the bound, like every other
# count-gated bound in this package.
PREFILTER_KEYS_MAX = 10_000_000


def _oriented(seq_col, d_col):
    return F.when(d_col == "f", seq_col).otherwise(dna.rc(seq_col))


def _oriented_both(nodes: DataFrame) -> DataFrame:
    """(node_id, d, oseq) for both orientations; null sequences dropped
    (they generate no postings)."""
    return nodes.filter(F.col("seq").isNotNull()).select(
        "node_id",
        F.explode(F.array(
            F.struct(F.lit("f").alias("d"), F.col("seq").alias("oseq")),
            F.struct(F.lit("r").alias("d"), dna.rc(F.col("seq")).alias("oseq")),
        )).alias("o"),
    ).select("node_id", F.col("o.d").alias("d"), F.col("o.oseq").alias("oseq"))


def _postings(nodes: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """(prefix_postings, suffix_postings) over both orientations, keyed by
    the k-mer string; ``match_prefix`` and the string-level noise-filter
    tests build on it."""
    both = _oriented_both(nodes)
    prefixes = both.select(
        F.substring("oseq", 1, k).alias("kmer"), "node_id", "d"
    )
    # interior windows: start positions 2..len-k+1 (1-based), ov = len - start + 1
    suffixes = both.select(
        "node_id", "d", F.length("oseq").alias("len"),
        F.posexplode(F.expr(
            f"transform(sequence(2, greatest(length(oseq) - {k} + 1, 1)), i -> substring(oseq, i, {k}))"
        )).alias("pos", "kmer"),
    ).select(
        "node_id", "d", "kmer", (F.col("len") - F.col("pos") - 1).alias("ov")
    ).filter(F.col("ov") >= k)
    return prefixes, suffixes


def _drop_noise_keys(postings: DataFrame, k: int, high_kmers: DataFrame | None) -> DataFrame:
    """Homopolymer + high-frequency seed removal (skew control) at the
    string level.  The blacklist holds canonical k-mers (P3), so a seed
    is matched by its canonical form, whichever strand it was read on
    (src/Brush/MatchPrefix.java:122-141,160-174)."""
    homopolymers = [c * k for c in "ACGT"]
    out = postings.filter(~F.col("kmer").isin(homopolymers))
    if high_kmers is not None:
        hk = F.broadcast(high_kmers.select(F.col("kmer").alias("__hk")))
        out = out.join(hk, dna.canonical(F.col("kmer")) == F.col("__hk"), "left_anti")
    return out


def match_prefix(nodes: DataFrame, k: int, high_kmers: DataFrame | None = None,
                 per_key_cap: int = 2000) -> DataFrame:
    """J1: candidate overlap edges (src, d1, dst, d2, ov), maximal ov per
    oriented pair.

    The skew guard is NON-OPTIONAL when no precomputed ``high_kmers``
    blacklist is supplied: seed keys whose total posting count exceeds
    ``per_key_cap`` are dropped whole by a streaming window count over
    the join's own exchange.  Documented deviations from the reference
    reducer (src/Brush/MatchPrefix.java:366-380), both deliberate:

    - the reference keeps the TOP ``UP_KMER`` candidates per key by
      descending overlap instead of dropping the key; that per-key
      sorted top-K is exactly the hot-key pile-up this operator refuses.
      With the P3 blacklist active the reference's own count cutoff
      removes such keys before this point anyway.
    - the reference's ``LOW_KMER`` minimum (skip keys with <= LowKmer
      candidate edges, default 1 — a pre-verify noise heuristic) is not
      applied: the exact J2 substring verification already rejects
      every spurious candidate, so the minimum only changes which TRUE
      single-candidate edges survive, and dropping true edges is the
      wrong default for a verified pipeline.

    The posting stream is semi-joined against the broadcast distinct
    prefix-key set before the exchange: suffix windows matching no read
    prefix cannot produce candidates, so dropping them is invisible in
    the output — including to the cap guard, whose drops are only
    observable on keys that join.  The prefix-key set is 2/read, so one
    cheap count of ``nodes`` COUNT-GATES the prefilter: it runs only
    while ``2 * reads <= PREFILTER_KEYS_MAX`` (past it, multi-GB
    broadcasts don't fly and the identical single-exchange plan simply
    carries all windows — same output either side of the gate, pinned
    in tests/test_overlap.py).  The count is cheap only when ``nodes``
    is already cut (``plans.cut``), as the assembler's node table is: on
    an uncut derived frame it re-runs the whole upstream plan once more.
    """
    prefixes, suffixes = _postings(nodes, k)
    prefixes = _drop_noise_keys(prefixes, k, high_kmers)
    suffixes = _drop_noise_keys(suffixes, k, high_kmers)
    un = (
        prefixes.select("node_id", "d", F.xxhash64("kmer").alias("khash"),
                        F.lit(0).alias("ov"))
        .unionByName(suffixes.select(
            "node_id", "d", F.xxhash64("kmer").alias("khash"),
            F.col("ov").cast("int").alias("ov")))
    )
    if nodes.count() * 2 <= PREFILTER_KEYS_MAX:
        pref_keys = prefixes.select(F.xxhash64("kmer").alias("khash")).distinct()
        un = un.join(F.broadcast(pref_keys), "khash", "semi")
    # ONE exchange on the hashed seed key feeds the cap guard AND both
    # sides of the candidate self-join (exchange reuse is structural:
    # the branches are the same frame).
    un_sh = un.repartition(F.col("khash"))
    if high_kmers is None:
        # Streaming window count over the join's own exchange (r14) —
        # zero extra shuffles vs the old count-aggregate + broadcast
        # anti-join.  EXTREME-scale caveat (r14 verdict #4, documented
        # deliberately): the window buffers one key's postings in one
        # task before dropping it, so a mega-hot seed key (possible only
        # when no P3 ``high_kmers`` blacklist is supplied) becomes a
        # single-task sort/spill straggler rather than a map-side
        # pre-aggregated count.  The spill is bounded and correct; at
        # 100 TB supply the P3 blacklist (this branch then never runs —
        # the reference's own pipeline always computes one) rather than
        # re-paying the two-pass count shape on every clean corpus.
        w = Window.partitionBy("khash")
        flt = un_sh.withColumn("tot", F.count(F.lit(1)).over(w)) \
            .filter(F.col("tot") <= per_key_cap).drop("tot")
    else:
        flt = un_sh
    # Self-join on the seed key with the prefix/suffix split in the JOIN
    # CONDITION (not pre-filtered branches): both children stay
    # canonically identical, so the exchange above is planned once.
    # Explicit shuffle-hash: posting tables are explode-multiplied and
    # Catalyst's Generate estimate is the CHILD's size, so the planner
    # would happily broadcast a multi-GiB posting side (observed: 5 GiB
    # at sf0.1).  Postings are never broadcastable at scale — pin the
    # strategy; build on the sparser prefix side (2 postings/read).
    s = flt.alias("s")
    p = flt.alias("p").hint("shuffle_hash")
    cand = (
        s.join(p, (F.col("s.khash") == F.col("p.khash"))
               & (F.col("p.ov") == 0) & (F.col("s.ov") > 0)
               & (F.col("s.node_id") != F.col("p.node_id")))
        .select(
            F.col("s.node_id").alias("src"),
            F.col("s.d").alias("d1"),
            F.col("p.node_id").alias("dst"),
            F.col("p.d").alias("d2"),
            F.col("s.ov").alias("ov"),
        )
    )
    # maximal overlap per oriented pair (src/Brush/VerifyOverlap.java:275-283)
    return cand.groupBy("src", "d1", "dst", "d2").agg(F.max("ov").alias("ov"))


def verify_overlap(candidates: DataFrame, nodes: DataFrame) -> DataFrame:
    """J2: keep candidates whose full overlap string matches exactly;
    output the edge table (src, et, dst, ov).

    Containment (ov >= min length) is excluded like the reference
    (src/Brush/VerifyOverlap.java:296-300).
    """
    a = nodes.select(F.col("node_id").alias("src"), F.col("seq").alias("sa"))
    b = nodes.select(F.col("node_id").alias("dst"), F.col("seq").alias("sb"))
    joined = candidates.join(a, "src").join(b, "dst")
    oa = _oriented(F.col("sa"), F.col("d1"))
    ob = _oriented(F.col("sb"), F.col("d2"))
    ok = (
        (F.col("ov") < F.length("sa")) & (F.col("ov") < F.length("sb"))
        & (oa.substr(F.length("sa") - F.col("ov") + 1, F.col("ov"))
           == ob.substr(F.lit(1), F.col("ov")))
    )
    return (
        joined.filter(ok)
        .select("src", F.concat("d1", "d2").alias("et"), "dst", "ov")
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """J3: symmetric closure — emit each edge and its flip in ONE pass
    (explode of a 2-struct array), then dedup
    (src/Brush/GenReverseEdge.java:209-241).

    Deliberately not union(e, flip(e)): a union re-executes the upstream
    plan once per branch (Catalyst's exchange reuse does not fire across
    the differing projections), which doubled the whole J1->J2 pipeline
    in the overlap-graph composite."""
    both = edges.select(F.explode(F.array(
        F.struct("src", "et", "dst", "ov"),
        F.struct(
            F.col("dst").alias("src"),
            dna.flip_link("et").alias("et"),
            F.col("src").alias("dst"),
            F.col("ov").alias("ov"),
        ),
    )).alias("e"))
    return both.select("e.src", "e.et", "e.dst", "e.ov").distinct()


def build_overlap_graph(nodes: DataFrame, k: int,
                        high_kmers: DataFrame | None = None,
                        per_key_cap: int = 2000) -> DataFrame:
    """J1 -> J2 -> J3 composite (src/Brush/BrushAssembler.java:313-333)."""
    cand = match_prefix(nodes, k, high_kmers, per_key_cap)
    verified = verify_overlap(cand, nodes)
    return symmetrize(verified)
