"""Deduplication operators.

Generalizes the reference's read-dedup stage (P1/P2:
src/Brush/GenNonContainedReads.java:42-316 groups reads by canonical key and
collapses exact + reverse-complement duplicates into a coverage count;
src/Brush/RedundantRemoval.java:97-102 drops the marked rows) to documents.
What stays is what the pipelines run:

- ``dedup_reads``: canonical-key exact dedup of DNA reads (the assembler's
  preprocess);
- ``fingerprint_dedup``: normalized-token exact dedup of documents;
- MinHash/LSH candidate pairs verified by exact Jaccard
  (``minhash_dedup_pairs*``, ``cross_corpus_near_dups``) — the near-dup
  method curation runs, with ONE fixed scheme: word ``SHINGLE_N``-gram
  shingles, ``NUM_HASHES`` md5 minhashes in ``BANDS`` bands of
  ``ROWS_PER_BAND`` rows, pairs kept at Jaccard >= ``JACCARD_THRESHOLD``.
  The self-join and the cross-corpus join share one bucket split
  (``_band_buckets``) and one verify (``_verified_pairs``); each keeps
  its own pairing rule.  Per-bucket pair expansion is capped
  (``MAX_BUCKET``) like the reference caps candidates per k-mer key
  (``UP_KMER``, src/Brush/MatchPrefix.java:366-380);
- ``dedup_clusters``: connected components of a verified pair set.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna, text
from cloudbrush_spark.operators.smallgraph import arrow_frame
from cloudbrush_spark.plans import cut


# Edge-count bound for solving connected components driver-side (one
# collect + union-find) instead of the distributed hash-min loop: 2M
# (a, b) rows is tens of MB on the driver — the same order as the
# broadcast thresholds this module already relies on — while the loop
# costs ~6 sequential driver round-trips per round for up to
# ~log2(diameter) rounds.  Past the bound the loop is the 100 TB path.
DRIVER_CC_MAX = 2_000_000

# Round budget of dedup_clusters' distributed loop (pointer jumping: 50
# rounds cover component diameter ~2^50)
CC_MAX_ITER = 50


def _driver_cc_max(dtype) -> int:
    """Edge-count bound for the driver-side union-find fast path, by id
    dtype (advisor r14: the 2M bound assumed fixed-width ids — 2M edge
    rows of long URL ids is GBs of driver Python objects, and float ids
    containing NaN order differently under Python ``<`` than Spark SQL).

    Integral ids keep the designed 2M bound; strings (Python ordering
    still matches Spark's — UTF-8 byte order is code-point order) get an
    8x smaller bound to keep unknown-width ids at driver-safe RSS; any
    other dtype returns 0, forcing the distributed loop."""
    from pyspark.sql.types import IntegralType, StringType
    if isinstance(dtype, IntegralType):
        return DRIVER_CC_MAX
    if isinstance(dtype, StringType):
        return DRIVER_CC_MAX // 8
    return 0


def _bcast_rows_bound(dtype) -> int:
    """Row bound for FORCING a broadcast hint on an id-keyed frame,
    by id dtype: fixed-width (numeric/date) ids at 2M rows are tens of
    MB framed — the bound this module's gates were designed around —
    while variable-width ids (strings: URLs, UUIDs, paths) have no
    width bound, so the forced hint only applies under a 16x smaller
    count and the planner's size-based decision governs in between
    (advisor r14: a forced 4M-row broadcast of long string ids can
    pressure executor memory past any row-count reasoning)."""
    from pyspark.sql.types import NumericType, DateType, TimestampType
    if isinstance(dtype, (NumericType, DateType, TimestampType)):
        return 2_000_000
    return 125_000


def _driver_union_find(edges: DataFrame, rows):
    """Exact connected components of a BOUNDED edge list, driver-side.

    Union-find with path compression, attaching the larger root under
    the smaller, so each final root IS its component's minimum member —
    the same fixpoint the hash-min loop converges to.  ``rows`` is the
    ALREADY-COLLECTED edge rows (the caller's bounded limit-collect
    doubles as the size gate, so deciding the algorithm and fetching
    the edges is ONE job, not a count plus a collect — r15); ``edges``
    supplies the id dtype.  Returns ``(labels, nodes, n_nodes)``: a
    (member, label) frame over the paired nodes, built from an Arrow
    table so no job that reads it starts Python workers, its member
    projection, and the node count.

    Operates on the edge frame's ``a``/``b`` columns; callers gate this
    path to integral/string id types (``_driver_cc_max``) — Python's
    ``<`` matches Spark SQL ordering for those (UTF-8 byte order is
    code-point order), but diverges for floats containing NaN.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    from pyspark.sql.types import StructField, StructType
    id_type = edges.schema["a"].dataType
    schema = StructType([StructField("member", id_type, False),
                         StructField("label", id_type, False)])
    members = list(parent)
    labels = arrow_frame(edges.sparkSession,
                         {"member": members,
                          "label": [find(m) for m in members]}, schema)
    return labels, labels.select("member"), len(members)


def dedup_reads(reads: DataFrame, id_col: str = "read_id", seq_col: str = "seq",
                k: int = 21) -> DataFrame:
    """P1+P2 in one shot: canonical-key exact dedup of DNA reads.

    The reference does this with a quadratic in-group loop over first-K-mer
    groups (src/Brush/GenNonContainedReads.java:174-248); grouping by the
    full canonical sequence gives the same survivors (min-id representative,
    +1 coverage per duplicate, rc-duplicates collapsed) in one hash
    aggregate with map-side partial aggregation.  A read without an id
    counts toward its group's coverage only (min and collect_list skip
    nulls), and a group without any id makes no node, as in
    ``smallgraph.dedup_reads``.
    """
    valid = reads.filter(dna.valid_seq(F.upper(F.col(seq_col)))).filter(F.length(seq_col) > k)
    return (
        valid.withColumn("__canon", dna.canonical(F.upper(F.col(seq_col))))
        .groupBy("__canon")
        .agg(
            F.min(id_col).alias("node_id"),
            F.count(F.lit(1)).cast("double").alias("cov"),
            F.min_by(seq_col, id_col).alias("seq"),
            # member read ids, kept for mate-pair ops (reference MATE field,
            # src/Brush/Node.java:1603-1660); sorted for determinism
            F.array_sort(F.collect_list(id_col)).alias("pair_ends"),
        )
        .filter(F.col("node_id").isNotNull())
        .drop("__canon")
    )


def fingerprint_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-exact dedup on the normalized-token fingerprint (case/punct/ws
    insensitive).  Output: one row per fingerprint with survivor + count."""
    return (
        docs.withColumn("fp", text.fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_cnt"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

# The one near-dup scheme; the DuckDB twin in __spark_entry__.py hard-codes
# the same numbers.
SHINGLE_N = 3
NUM_HASHES = 16
ROWS_PER_BAND = 4
BANDS = NUM_HASHES // ROWS_PER_BAND
MAX_BUCKET = 50
JACCARD_THRESHOLD = 0.5

# Candidate-pair bound for filtering the shingles to the candidates' docs
# before the exact-Jaccard verify: past it the candidate set is itself
# corpus-scale and the verify reads the whole (distinct) shingle stream.
# Every broadcast hint of the verify sits under it (_bcast_rows_bound).
VERIFY_FILTER_MAX = 2_000_000


def _band_key(band: int):
    """md5 of the band's "h:minhash" strings joined by "|" in the string
    order of h (band 2 reads rows 10, 11, 8, 9)."""
    hs = sorted(str(h) for h in range(band * ROWS_PER_BAND,
                                      (band + 1) * ROWS_PER_BAND))
    return F.md5(F.concat_ws("|", *[
        F.concat_ws(":", F.lit(h), F.col(f"__h{h}")) for h in hs]))


def _band_buckets(shingles: DataFrame, id_col: str, overcap: str):
    """Cut the (id, band, bkey) bucket rows of an (id, sh) shingle stream
    and split them on the bucket cap.  Returns ``(small, hot)``: the rows
    of buckets with at most ``MAX_BUCKET`` members, and the rows of the
    buckets over it (None unless ``overcap == "star"``).  Shared by the
    self-join (``lsh_candidate_pairs``) and cross-corpus
    (``cross_corpus_near_dups``) paths; each pairs the rows its own way.

    One aggregate takes each document's ``NUM_HASHES`` minhashes (min is
    multiset-invariant, so the stream may repeat a shingle; a document
    without shingles makes no row), and one projection of that row gives
    its ``BANDS`` band keys (``_band_key``).  The banded table is
    materialized before the fan-out: the cap branch and both join sides
    would otherwise each re-run the signature pipeline, in PARALLEL
    stages that race any upstream cache while it is still cold
    (observed: the shingle and signature stages ran 4x).  Big buckets
    are found by a groupBy (map-side partials, skew-proof) and split off
    by broadcast anti- and semi-joins — never a window holding a whole
    hot bucket in one task.
    """
    if overcap not in ("drop", "star"):
        raise ValueError(f"overcap must be 'drop' or 'star', got {overcap!r}")
    mins = shingles.groupBy(id_col).agg(*[
        F.min(F.md5(F.concat_ws("|", F.lit(str(h)), F.col("sh")))).alias(f"__h{h}")
        for h in range(NUM_HASHES)])
    banded = cut(mins.select(id_col, F.inline(F.array(*[
        F.struct(F.lit(b).alias("band"), _band_key(b).alias("bkey"))
        for b in range(BANDS)]))))
    big = F.broadcast(banded.groupBy("band", "bkey").count()
                      .filter(F.col("count") > MAX_BUCKET).select("band", "bkey"))
    small = banded.join(big, ["band", "bkey"], "left_anti")
    hot = banded.join(big, ["band", "bkey"], "left_semi") \
        if overcap == "star" else None
    return small, hot


def lsh_candidate_pairs(shingles: DataFrame, id_col: str = "doc_id",
                        overcap: str = "drop") -> DataFrame:
    """Band the MinHash signatures of an (id, sh) shingle stream and emit
    candidate pairs sharing >= 1 band bucket.

    ``MAX_BUCKET`` caps bucket width before pair expansion (skew control,
    mirrors src/Brush/MatchPrefix.java:366-380) — the cap is part of the
    operator's CONTRACT and the DuckDB oracle twin implements it too.

    ``overcap`` picks what happens to buckets over the cap:

    - ``"drop"`` (default): dropped whole.  Right for the PAIR product —
      a >MAX_BUCKET cluster's full pair expansion is quadratic and wrong
      at any cap; exact duplicates belong to the upstream hash dedup
      (P1 / fingerprint_dedup), which MinHash+LSH assumes ran first.
    - ``"star"``: emit (bucket-min-id, member) candidates instead — ONE
      candidate per member, linear in bucket size.  Right for CLUSTER
      consumers (curation dedup): mass NEAR-dup boilerplate (thousands
      of one-token-apart template docs) survives exact dedup, floods
      every band bucket past the cap, and under "drop" would sail
      through curation undeduplicated.  Star candidates still go
      through exact-Jaccard verification, so the result stays sound;
      members of an over-cap bucket that are near the bucket
      representative but not each other's transitive chain can be
      missed — clique-like mass duplication (the realistic shape) is
      fully recovered.  Per-bucket min is a groupBy aggregate
      (map-side combinable), never a window over the hot key.

    Output: (a, b) with a < b, distinct.
    """
    small, hot = _band_buckets(shingles, id_col, overcap)
    a = small.select(F.col(id_col).alias("a"), "band", "bkey")
    b = small.select(F.col(id_col).alias("b"), "band", "bkey")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    if hot is not None:
        reps = hot.groupBy("band", "bkey").agg(F.min(id_col).alias("a"))
        star = (
            hot.join(reps, ["band", "bkey"])
            .filter(F.col(id_col) != F.col("a"))
            .select("a", F.col(id_col).alias("b"))
        )
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def _verified_pairs(shingles: DataFrame, cands: DataFrame,
                    id_col: str) -> DataFrame:
    """Exact Jaccard of distinct (a, b) candidate pairs against an
    (id, sh) shingle stream (duplicates allowed), filtered to
    ``JACCARD_THRESHOLD`` — the "candidates then theta-check" shape of
    J2 (src/Brush/VerifyOverlap.java:287-309).  Returns (a, b, jaccard)
    uncut, so each caller cuts its own projection once.

    The candidates are cut and counted once; the count sizes the rest.
    At or under ``VERIFY_FILTER_MAX`` pairs the shingles are semi-joined
    to the candidates' ids, made distinct (the math needs set semantics)
    and cut: the size aggregate and both intersection join sides read
    that candidate-width frame, where uncut each would replay the
    semi-join and distinct as its own stage chain.  Past the bound the
    candidate set is corpus-scale itself, so the stream is only made
    distinct.  Under ``_bcast_rows_bound`` the id set, the pair frame,
    the per-pair intersection counts (<= n rows) and the per-doc sizes
    (<= 2n rows, as the shingles were filtered) are broadcast
    statically: AQE's runtime SMJ->BHJ conversion would still
    shuffle-write both sides and pay a stage job per exchange.
    """
    cands = cut(cands)
    n = cands.count()
    filtered = n <= VERIFY_FILTER_MAX
    hint = filtered and n <= _bcast_rows_bound(cands.schema["a"].dataType)
    if filtered:
        ids = (cands.select(F.col("a").alias(id_col))
               .unionByName(cands.select(F.col("b").alias(id_col)))
               .distinct())
        sh = cut(shingles.join(F.broadcast(ids) if hint else ids,
                               id_col, "left_semi").distinct())
    else:
        sh = shingles.distinct()
    p = F.broadcast(cands) if hint else cands
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        p.join(sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sha")), "a")
        .join(sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sha")), ["b", "sha"])
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    if hint:
        inter, sa, sb = F.broadcast(inter), F.broadcast(sa), F.broadcast(sb)
    return (
        cands.join(inter, ["a", "b"], "left")
        .na.fill({"inter": 0})
        .join(sa, "a").join(sb, "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .select("a", "b", "jaccard")
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def minhash_dedup_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH candidates -> exact-Jaccard
    verification, over-cap buckets dropped.  Thin tokenizing wrapper over
    ``minhash_dedup_pairs_from_shingles``.

    Output: (a, b, jaccard) pairs above threshold, a < b.
    """
    stream = docs.select(
        F.col(id_col),
        F.explode(text.word_shingles(text.tokens(text_col), SHINGLE_N))
        .alias("sh"))
    return minhash_dedup_pairs_from_shingles(stream, id_col=id_col)


def minhash_dedup_pairs_from_shingles(shingles: DataFrame, id_col: str = "doc_id",
                                      overcap: str = "drop") -> DataFrame:
    """``minhash_dedup_pairs`` over a PREPARED (id, sh) shingle stream —
    the threading entry for pipelines (curation) that already
    materialized the token stream in an earlier stage and shingle from it
    directly, so the tokenizer regex runs once per document across the
    whole composite instead of once per stage.  The stream may repeat a
    shingle: the signatures are multiset-invariant and the verify makes
    the shingles distinct after the candidate filter, at candidate width,
    so callers should not pay a corpus-width distinct up front.

    The stream feeds both the signature aggregate and the verify, so it
    is persisted here and evaluates once.  persist(), not a lazy
    (``eager=False``) local checkpoint: that materializes by RE-RUNNING
    the marked tasks after the driving query's execution is torn down,
    and those replayed tasks report to that query's already-unregistered
    SQLMetrics accumulators (a noisy "attempted to access non-existent
    accumulator" ERROR storm).  The result, far smaller than the
    shingles, is cut and the persisted stream released before returning,
    so a session calling this repeatedly holds storage memory only for
    its results.
    """
    shingles = shingles.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cands = lsh_candidate_pairs(shingles, id_col, overcap)
        return cut(_verified_pairs(shingles, cands, id_col))
    finally:
        shingles.unpersist()


def cross_corpus_near_dups(new_docs: DataFrame, ref_docs: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           overcap: str = "drop",
                           new_tokens_col: str | None = None) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora: every new document that
    near-duplicates a reference document — the "dedup this crawl against
    the previous release" operation, which a self-join near-dup cannot
    express without concatenating the corpora and paying the reference
    side's quadratic self-pairs.

    ``new_tokens_col`` names a pre-materialized token-array column on
    the NEW side (pipelines that already tokenized, e.g. curation's
    gate — the ``decontaminate`` threading convention); the reference
    side always tokenizes its own ``text_col``.

    Output: (new_id, ref_id, jaccard) with jaccard >= threshold, id
    dtypes preserved from the inputs.  The MinHash family is the same
    content-addressed md5 construction as ``minhash_dedup_pairs`` —
    identical text on either side produces identical signatures, so the
    cross join fires on exactly the buckets a concatenated self-join
    would, minus the within-side pair expansion.

    Scale shape: both sides' (tagged) shingle streams union into ONE
    signature aggregate, ONE banding pass and ONE verify; the bucket
    join is new-side x ref-side only, so within-side duplicates (the
    reference corpus is typically the big, already-deduped one) never
    expand.  The bucket cap drops buckets over ``MAX_BUCKET`` TOTAL
    members; ``overcap='star'`` instead pairs each over-cap NEW member
    with the bucket's min REF member (linear — the mass-boilerplate case
    where a template floods a bucket on both sides), verified like every
    other candidate.
    """
    new_t, ref_t = new_docs.schema[id_col].dataType, \
        ref_docs.schema[id_col].dataType

    def _tagged(docs: DataFrame, tag: str,
                tokens_col: str | None = None) -> DataFrame:
        toks = text.tokens(F.col(text_col)) if tokens_col is None \
            else F.col(tokens_col)
        sh = docs.select(
            F.col(id_col),
            F.explode(text.word_shingles(toks, SHINGLE_N)).alias("sh"))
        return sh.select(
            F.concat(F.lit(tag), F.col(id_col).cast("string")).alias(id_col),
            "sh")

    sh = _tagged(new_docs, "n|", new_tokens_col) \
        .unionByName(_tagged(ref_docs, "r|")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        small, hot = _band_buckets(sh, id_col, overcap)
        n_side = small.filter(F.col(id_col).startswith("n|")) \
            .select(F.col(id_col).alias("a"), "band", "bkey")
        r_side = small.filter(F.col(id_col).startswith("r|")) \
            .select(F.col(id_col).alias("b"), "band", "bkey")
        pairs = n_side.join(r_side, ["band", "bkey"]).select("a", "b")
        if hot is not None:
            # rep = min REF member per hot bucket; buckets with no ref
            # member contribute nothing (there is no ref to match)
            reps = (hot.filter(F.col(id_col).startswith("r|"))
                    .groupBy("band", "bkey").agg(F.min(id_col).alias("b")))
            star = (hot.filter(F.col(id_col).startswith("n|"))
                    .join(reps, ["band", "bkey"])
                    .select(F.col(id_col).alias("a"), "b"))
            pairs = pairs.unionByName(star)
        jac = _verified_pairs(sh, pairs.distinct(), id_col)
        return cut(jac.select(
            F.expr("substring(a, 3)").cast(new_t).alias("new_id"),
            F.expr("substring(b, 3)").cast(ref_t).alias("ref_id"),
            "jaccard"))
    finally:
        sh.unpersist()


def dedup_clusters(pairs: DataFrame, items: DataFrame | None = None,
                   id_col: str = "doc_id") -> DataFrame:
    """Duplicate CLUSTERS from a verified near-dup pair set — the linear
    product a 100 TB pipeline consumes, vs the pair enumeration that is
    inherently quadratic in duplicate-cluster size (m docs sharing a
    signature -> m(m-1)/2 pair rows, but only m cluster rows).

    Connected components by hash-min label propagation: every node starts
    labeled with its own id; each round every node takes the min of its
    own and its neighbors' labels; at fixpoint each component carries its
    minimum member id.  The generalization of P1's (survivor, count)
    contract (src/Brush/GenNonContainedReads.java:174-248: min-id
    representative + coverage count per duplicate group) from exact-key
    groups to arbitrary near-dup graphs.

    ``items`` (optional) supplies the full id universe so unpaired docs
    come out as singleton clusters — making the output a total partition
    of the corpus (the form a curation pipeline keeps).

    Scale shape: the propagation loop runs over PAIRED nodes only (at
    most 2x|pairs| rows — for any real corpus orders of magnitude
    smaller than the corpus itself), never the full id universe; the
    singleton majority joins the result once, label = own id, after the
    fixpoint.  Per round, one equi-join of the (bounded) edge list
    against the CHANGED-LABEL FRONTIER (delta iteration — an unchanged
    node's message was already min-folded by its neighbors when it last
    changed, so dropping it is lossless; the frontier collapses within
    2-3 rounds on quasi-clique near-dup graphs and the join turns into
    an exact-counted broadcast) plus one min-aggregate — map-side
    combinable hash shuffles when they shuffle at all.  Each round also POINTER-JUMPS (every
    node additionally adopts its current label's label — the doubling
    step of Kiveris et al., "Connected Components in MapReduce"), so
    rounds = O(log diameter), not diameter: near-dup clusters are dense
    quasi-cliques that converge in 2-3 rounds either way, but an
    adversarial chain of incrementally-edited versions (diameter ≫
    ``CC_MAX_ITER``) would otherwise exit with labels that name no real
    representative — and a downstream ``member == cluster_rep`` filter
    would then silently drop whole clusters.  With jumping, the
    ``CC_MAX_ITER`` = 50 rounds cover diameter ~2^50; if the fixpoint is
    somehow still not reached the function RAISES rather than returning
    wrong labels.
    ``plans.cut`` truncates lineage each round like the assembler's
    contraction loop; the driver-side loop holds only a changed-row
    probe, never data.
    """
    # cut BEFORE the loop: the edge list is re-joined every round, and an
    # un-checkpointed ``pairs`` input (this package's pair operators end
    # in plans.cut, but arbitrary caller-built pair frames don't) would
    # otherwise replay its whole upstream plan once per iteration.  Cut
    # the DIRECTED edges and derive the symmetrized form lazily: the
    # union of two column-swapped projections is a map-side no-op each
    # round, while checkpointing ``sym`` itself would materialize 2×
    # |pairs| rows (profiled at x100: 1,168 core-seconds — 19% of the
    # whole query — spent writing the 103M-row symmetrized copy).
    # An input that IS already a checkpoint (every pair operator in this
    # package ends in plans.cut, marked ``_cb_cut``) skips the second
    # cut: the narrow (a, b) projection re-reads materialized blocks per
    # round, which is exactly what the cut would have bought (r15).
    edges = pairs.select("a", "b")
    if not getattr(pairs, "_cb_cut", False):
        edges = cut(edges)
    # the edge list is materialized, so its count is one cheap job — and
    # it decides the ALGORITHM, not just a hint: a bounded edge list
    # (near-dup graphs are orders of magnitude smaller than the corpus)
    # is solved exactly by driver-side union-find in ONE collect, where
    # the distributed loop pays ~6 sequential driver round-trips PER
    # ROUND for up to ~log2(diameter) rounds (a 9-round graph costs
    # ~54 jobs; union-find does it in 2).  Past the cap the hash-min
    # loop below is the distributed path: collect while provably small,
    # stay distributed past the driver cliff.
    bcast_max = 2_000_000  # (member, label) rows well under executor memory
    # ONE bounded limit-collect both decides the algorithm and fetches
    # the driver path's edges (the old shape paid a count job AND a
    # collect job); past the cap the collected prefix is discarded —
    # the same driver-RSS bound the fast path itself would have held
    cc_cap = _driver_cc_max(edges.schema["a"].dataType)
    rows = edges.limit(cc_cap + 1).collect() if cc_cap else None
    distributed = rows is None or len(rows) > cc_cap
    if not distributed:
        labels, nodes, n_nodes = _driver_union_find(edges, rows)
    else:
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        nodes = sym.select(F.col("a").alias("member")).distinct()
        labels = cut(nodes.withColumn("label", F.col("member")))
        # one cheap count over the checkpointed label table: the node
        # count bounds every per-round frame (labels, jump build side,
        # round-0 frontier), so each loop join below can carry an EXACT
        # broadcast hint instead of waiting for AQE to materialize both
        # shuffle sides before noticing one is tiny — each avoided AQE
        # round-trip is a sequential driver re-plan + job schedule (r14:
        # the per-round stage jobs, not the data, dominated this loop's
        # wall at bench scale)
        n_nodes = labels.count()
    # DELTA ITERATION: only a node whose label CHANGED last round can
    # deliver new information — an unchanged node's message is the same
    # one its neighbors min-folded when it last changed (labels are
    # monotone non-increasing and ``cand`` always carries the current
    # state, so dropping duplicate messages is exactly lossless).  The
    # edge join therefore runs against the CHANGED frontier, not the
    # full label table: near-dup graphs converge from the quasi-clique
    # core outward, so within 2-3 rounds the frontier is tiny and the
    # per-round cost falls from a full edge-list shuffle (profiled at
    # x100: ~1 GB × ~8 rounds) to a scan.
    delta = labels  # round 0: every node is fresh
    n_delta = n_nodes
    converged = not distributed  # union-find is already at the fixpoint
    for it in range(CC_MAX_ITER if distributed else 0):
        send = delta.select(F.col("member").alias("a"), "label")
        if n_delta <= bcast_max:
            # the frontier is materialized and counted, so the broadcast
            # decision is exact rather than left to AQE's runtime
            # SMJ->BHJ conversion (which can materialize the edge-list
            # exchange before the small side's size is known)
            send = F.broadcast(send)
        # the label rows ride the candidate union TAGGED (__own=true) so
        # ONE aggregate yields both the new label (min over all
        # candidates) and the old one (the unique tagged row) — the
        # previous shape checkpointed a second per-round frame (new JOIN
        # old, filtered to changes) whose plan execution was pure
        # sequential overhead (r14; ~3 stage jobs/round at bench scale)
        own = labels.select("member", "label", F.lit(True).alias("__own"))
        msgs = sym.join(send, "a").select(
            F.col("b").alias("member"), "label", F.lit(False).alias("__own"))
        cand = own.unionByName(msgs)
        if it > 0:
            # pointer jump: adopt the label of one's label (labels only
            # ever decrease toward the component min, so the extra
            # candidates are always valid and the min-aggregate keeps
            # correctness).  Skipped in round 1, where labels are the
            # identity map and the jump join is a pure no-op.
            lab2 = labels.select(F.col("member").alias("label"),
                                 F.col("label").alias("label2"))
            if n_nodes <= bcast_max:
                lab2 = F.broadcast(lab2)
            jump = (
                labels.alias("l1").join(lab2, "label")
                .select("member", F.col("label2").alias("label"),
                        F.lit(False).alias("__own"))
            )
            cand = cand.unionByName(jump)
        # sever=True: per-round cuts of an unbounded loop must not chain
        # origin plans (see plans/sever.py)
        merged = cut(
            cand.groupBy("member").agg(
                F.min("label").alias("label"),
                # exactly one tagged row per member (labels is keyed by
                # member and every cand member is a labels member), so
                # this min() IS the previous label
                F.min(F.when(F.col("__own"), F.col("label"))).alias("__old")),
            sever=True,
        )
        delta = merged.filter(F.col("label") != F.col("__old")) \
                      .select("member", "label")
        n_delta = delta.count()
        converged = n_delta == 0
        labels = merged.select("member", "label")
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not reach a fixpoint in CC_MAX_ITER="
            f"{CC_MAX_ITER} iterations — refusing to return labels that may "
            "name no real representative (raise dedup.CC_MAX_ITER; with "
            "pointer jumping 50 rounds cover component diameter ~2^50)")
    # paired clusters: sizes aggregated over the PAIRED label table only
    # (bounded by 2x|pairs| — node-level, never corpus-level).  Singletons
    # are (member, member, 1) by definition, so unioning them AFTER the
    # size join removes the two corpus-width exchanges the old shape paid
    # (groupBy + size join over paired ∪ singletons): a paired cluster's
    # label is a paired member id and a singleton's is its own unpaired
    # id, so the two size domains can never merge — output identical.
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    out = (
        labels.join(sizes, "label")
        .select(F.col("label").alias("cluster_rep"), "member", "n")
    )
    if items is not None:
        singletons = (
            items.select(F.col(id_col).alias("member")).distinct()
            .join(F.broadcast(nodes) if n_nodes <= bcast_max else nodes,
                  "member", "left_anti")
            .select(F.col("member").alias("cluster_rep"), "member",
                    F.lit(1).cast("long").alias("n"))
        )
        out = out.unionByName(singletons)
    return out
