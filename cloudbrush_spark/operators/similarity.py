"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast nested-loop expressed as a
join on a constant, with the dot product as a JVM-side higher-order
function (``aggregate(zip_with(...))``), so no Python in the hot path.

Scale path (100 TB): random-hyperplane LSH bucketing — each vector lands in
2^planes sign-pattern buckets; candidates share a bucket, exact cosine
re-rank inside.  Probing multiple hash tables raises recall.

The approximate paths carry the same three scale levers as the text-side
near-dup family (``operators/dedup.py``), because the failure mode is the
same — a skewed corpus turns a bucket equi-join into a quadratic pair
bomb:

1. **Distinct-vector pre-collapse** (mirrors ``hamming_near_pairs``'
   distinct-signature banding): byte-identical vectors — the dominant
   duplicate mode in a scraped corpus — collapse to ONE representative
   before any bucketing or pair expansion, so 1M copies of an embedding
   cost one bucket row, not 10^12 candidate pairs.  Members are recovered
   from representative results afterwards with linear joins.
2. **Bucket cap via groupBy-count + broadcast anti-join** (mirrors
   ``lsh_candidate_pairs``; the reference caps candidates per k-mer key
   the same way, src/Brush/MatchPrefix.java:366-380), with hierarchical
   RE-BANDING of over-cap buckets on fresh hyperplanes (mirrors the
   SimHash level-2 re-band) before any star/drop fallback — sign patterns
   correlate across a clustered corpus, so dropping a hot bucket outright
   would lose true neighbors that a finer partition still finds.
3. **Corpus-sized bucket space**: ``planes=None`` (the default) derives
   the hyperplane count from the distinct-vector count so the expected
   bucket occupancy stays ~64 — a fixed ``planes=8`` means 256 buckets
   and Θ(n²/256) candidates no matter how big n gets.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.plans import cut


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def with_cosine(pairs: DataFrame, a_col: str = "va", b_col: str = "vb") -> DataFrame:
    a, b = F.col(a_col), F.col(b_col)
    return pairs.withColumn(
        "cosine", _dot(a, b) / (_norm(a) * _norm(b))
    )


# Norms are per-VECTOR, not per-pair: computing them in the pair expression
# re-evaluates an O(dim) aggregate fan-out times per vector.  Each entry
# point below attaches the norm once in the per-side projection (one pass
# over each vector) and the pair expression divides by the two scalars.


def cosine_topk_bruteforce(vectors: DataFrame, queries: DataFrame, k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding self).

    ``queries`` is broadcast (queries are the small side by assumption);
    the corpus streams once — the correct physical plan for 1 query batch
    vs a 100 TB corpus.  Output: (query_id, neighbor_id, rank, cosine).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("qn"))
    c = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                       _norm(F.col(vec_col)).alias("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) /
                    (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# Distinct-vector pre-collapse (shared by every approximate path)
# --------------------------------------------------------------------------

def _vkey(vec: Column) -> Column:
    """128-bit content key of the exact vector (md5 over the decimal text
    of every component).  A collision (p ~ 2^-128) would merge two distinct
    vectors into one representative group — the spurious candidates that
    creates are removed by the exact-cosine verification every consumer
    runs, so collapse-key collisions cost recall noise, never soundness."""
    return F.md5(F.concat_ws(",", F.transform(vec, lambda x: x.cast("string"))))


def _collapse(vectors: DataFrame, id_col: str, vec_col: str):
    """(keyed, groups): ``keyed`` maps every original id to its vector-content
    key; ``groups`` is the DISTINCT-vector frame — one row per unique vector
    with the min-id representative, member count and the vector itself.

    ``groups`` is eagerly cut (``plans.cut``): it feeds the bucketing
    pipeline, both re-rank join sides and the member-recovery joins, which
    launch as parallel stages and would otherwise each replay the collapse
    aggregate.  ``keyed`` stays lazy — re-deriving it is one scan + md5.
    """
    keyed = vectors.select(F.col(id_col), _vkey(F.col(vec_col)).alias("vkey"),
                           F.col(vec_col).alias("__vec"))
    groups = cut(keyed.groupBy("vkey").agg(
        F.min(id_col).alias("rep"),
        F.count(F.lit(1)).alias("m"),
        F.min_by("__vec", id_col).alias("__vec"),
    ))
    return keyed.select(id_col, "vkey"), groups


def _derive_planes(n_distinct: int) -> int:
    """Hyperplane count sized to the corpus: 2^planes ≈ n/64 (expected
    bucket occupancy ~64), clamped to [8, 24].  A fixed small default is
    the classic LSH scale bug — 2^8 = 256 buckets makes candidate volume
    Θ(n²/256) regardless of corpus size."""
    return max(8, min(24, math.ceil(math.log2(max(n_distinct / 64.0, 2.0)))))


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def _sig_expr(vec_col: str, hp: list[list[float]]):
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(hp):
        proj = _dot(F.col(vec_col), F.array(*[F.lit(w) for w in plane]))
        sig = sig + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_bucket(vectors: DataFrame, dim: int, planes: int = 8, seed: int = 42,
               id_col: str = "vec_id", vec_col: str = "embedding",
               tables: int = 1) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-pattern of ``planes`` projections,
    one ``(tbl, bucket)`` row per vector per hash table.

    Hyperplanes are generated driver-side (seeded, tiny) and folded into the
    expression as literals — no UDF, no broadcast variable needed.  Multiple
    tables (independent seeds) are the standard recall lever: a near pair is
    found if it collides in ANY table, so recall = 1-(1-p)^tables at a
    ``tables``-times-larger (still bucket-bounded) candidate volume.
    """
    sigs = [
        F.struct(F.lit(t).alias("tbl"),
                 _sig_expr(vec_col, _hyperplanes(dim, planes, seed + 7919 * t))
                 .alias("bucket"))
        for t in range(tables)
    ]
    return vectors.select(
        F.col(id_col), F.col(vec_col),
        F.explode(F.array(*sigs)).alias("tb"),
    ).select(id_col, vec_col, F.col("tb.tbl").alias("tbl"),
             F.col("tb.bucket").alias("bucket"))


def _bucket_pair_join(banded: DataFrame, keys: list[str],
                      id_col: str = "rep") -> DataFrame:
    a = banded.select(F.col(id_col).alias("a"), *keys)
    b = banded.select(F.col(id_col).alias("b"), *keys)
    return (
        a.join(b, keys)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )


def _capped_rep_pairs(groups: DataFrame, dim: int, planes: int, seed: int,
                      tables: int, max_bucket: int,
                      star_overcap: bool) -> DataFrame:
    """Candidate representative pairs (a < b, distinct) from capped LSH
    buckets over the DISTINCT-vector frame.

    Level 1: bucket by ``planes`` hyperplanes per table; buckets over
    ``max_bucket`` are found with a groupBy count (map-side partials,
    skew-proof) + broadcast anti-join — never a window over the hot key —
    and their members are NOT pair-expanded at this level.

    Level 2: hot-bucket members are re-banded on a FRESH hyperplane set
    (one shared set — level 2 only ever subdivides within a (tbl, bucket),
    so per-table independence buys nothing) and pair-expanded in the
    sub-buckets that fit the cap.  Sign patterns correlate across a
    clustered corpus, so re-banding recovers most hot-bucket neighbors
    that an outright drop would lose — the vector analogue of the SimHash
    rotated re-band (``dedup._hamming_pairs_from_cached``), except recall
    here is probabilistic either way (LSH), not pigeonhole-exact.

    Still-over-cap sub-buckets — genuinely near-degenerate direction mass
    — fall back to ``star_overcap``: True emits (sub-bucket-min, member)
    candidates (ONE per member, linear; right for top-k and cluster
    consumers), False drops them (the faithful-pair-product mode, where a
    quadratic expansion is wrong at any cap).

    Candidate volume is hard-bounded: every pair-expanded bucket holds
    <= max_bucket members, so candidates <= tables * n * max_bucket / 2
    + n star rows — linear in n with the cap constant.
    """
    from cloudbrush_spark.operators.dedup import _cap_list_frame
    b = lsh_bucket(groups, dim, planes, seed, id_col="rep", vec_col="__vec",
                   tables=tables)
    b1 = cut(b.select("rep", "tbl", "bucket"))
    # over-cap bucket list, bounded by n * tables / max_bucket rows — the
    # same cap pattern as the SimHash side (dedup._hamming_pairs_from_
    # cached): collected driver-side below the OVERCAP_COLLECT_MAX
    # threshold (knowing emptiness skips the level-2 plumbing on the
    # common no-hot-bucket corpus), kept distributed past it
    big = _cap_list_frame(
        b1.groupBy("tbl", "bucket").count()
        .filter(F.col("count") > max_bucket)
        .select("tbl", "bucket"),
        "tbl int, bucket long")
    small = b1 if big is None else \
        b1.join(F.broadcast(big), ["tbl", "bucket"], "left_anti")
    pairs = _bucket_pair_join(small, ["tbl", "bucket"])
    if big is None:
        return pairs.distinct()

    hot = b1.join(F.broadcast(big), ["tbl", "bucket"], "left_semi")
    # one level-2 signature per distinct hot member (not per (member, tbl)
    # row): join the vector back by rep and compute the fresh-plane
    # sign pattern once, then attach it to every hot bucket row
    hp2 = _hyperplanes(dim, planes, seed + 999_983)
    sig2 = (hot.select("rep").distinct()
            .join(groups.select("rep", "__vec"), "rep")
            .select("rep", _sig_expr("__vec", hp2).alias("bucket2")))
    sub = cut(hot.join(sig2, "rep"))
    big2 = (sub.groupBy("tbl", "bucket", "bucket2").count()
            .filter(F.col("count") > max_bucket)
            .select("tbl", "bucket", "bucket2"))
    capped2 = sub.join(F.broadcast(big2), ["tbl", "bucket", "bucket2"], "left_anti")
    pairs = pairs.unionByName(
        _bucket_pair_join(capped2, ["tbl", "bucket", "bucket2"]))
    if star_overcap:
        hot2 = sub.join(F.broadcast(big2), ["tbl", "bucket", "bucket2"], "left_semi")
        reps2 = (hot2.groupBy("tbl", "bucket", "bucket2")
                 .agg(F.min("rep").alias("a")))
        star = (
            hot2.join(reps2, ["tbl", "bucket", "bucket2"])
            .filter(F.col("rep") != F.col("a"))
            .select("a", F.col("rep").alias("b"))
        )
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def _expand_topk(rep_topk: DataFrame, keyed: DataFrame, groups: DataFrame,
                 id_col: str, k: int) -> DataFrame:
    """Recover per-original-id top-k from representative-level top-k.

    Every member INHERITS its representative's neighbor list (neighbors are
    reported as the neighbor group's representative id — the documented
    collapse contract), and members of multi-member groups additionally get
    ONE twin neighbor at cosine 1.0: the group's min-id member other than
    self (the representative, or the second-smallest for the representative
    itself).  A full twin expansion would be quadratic in group size for
    zero information — identical vectors are interchangeable; consumers
    that need the duplicate structure itself want ``embedding_near_dup`` /
    ``dedup_clusters``, not a top-k list.  Output stays <= k rows per
    original id.
    """
    inherited = (
        keyed.join(groups.select("vkey", "rep"), "vkey")
        .select(F.col(id_col).alias("query_id"), "rep")
        .join(rep_topk.withColumnRenamed("query_rep", "rep"), "rep")
        .select("query_id", "neighbor_id", "cosine")
    )
    dup = groups.filter(F.col("m") > 1).select("vkey", "rep")
    dmem = keyed.join(dup, "vkey")
    second = (dmem.filter(F.col(id_col) != F.col("rep"))
              .groupBy("vkey").agg(F.min(id_col).alias("second")))
    twins = dmem.join(second, "vkey").select(
        F.col(id_col).alias("query_id"),
        F.when(F.col(id_col) == F.col("rep"), F.col("second"))
        .otherwise(F.col("rep")).alias("neighbor_id"),
        F.lit(1.0).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        inherited.unionByName(twins)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk_lsh(vectors: DataFrame, dim: int, k: int = 10,
                    planes: int | None = None, seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    tables: int = 1, max_bucket: int = 1000) -> DataFrame:
    """Approximate all-pairs top-k: candidates share an LSH bucket in any
    table; the distinct candidate-pair set is re-ranked with exact cosine.

    Skew-bounded end to end: identical vectors pre-collapse to one
    representative, buckets are capped with level-2 re-banding and a star
    fallback (``_capped_rep_pairs`` — star is always right for top-k:
    linear cost, strictly more recall than dropping), and members inherit
    their representative's list (``_expand_topk``).  ``planes=None``
    derives the bucket space from the distinct-vector count.
    """
    keyed, groups = _collapse(vectors, id_col, vec_col)
    if planes is None:
        planes = _derive_planes(groups.count())
    cand = _capped_rep_pairs(groups, dim, planes, seed, tables, max_bucket,
                             star_overcap=True)
    # top-k is per-query: orient every undirected candidate both ways
    cand = cand.unionByName(
        cand.select(F.col("b").alias("a"), F.col("a").alias("b")))
    qv = groups.select(F.col("rep").alias("query_rep"), F.col("__vec").alias("qv"),
                       _norm(F.col("__vec")).alias("qn"))
    cv = groups.select(F.col("rep").alias("neighbor_id"), F.col("__vec").alias("cv"),
                       _norm(F.col("__vec")).alias("cn"))
    scored = (
        cand.select(F.col("a").alias("query_rep"), F.col("b").alias("neighbor_id"))
        .join(qv, "query_rep").join(cv, "neighbor_id")
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) /
                    (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_rep").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    rep_topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_rep", "neighbor_id", "cosine")
    )
    return _expand_topk(rep_topk, keyed, groups, id_col, k)


def ivf_centroids(vectors: DataFrame, n_centroids: int = 16, sample: int = 4096,
                  iters: int = 8, seed: int = 42,
                  vec_col: str = "embedding") -> list[list[float]]:
    """Coarse quantizer for IVF: Lloyd's k-means over a bounded
    driver-side sample (numpy).  The sample is the ONLY data that leaves
    the cluster; the centroids are trained once on a few thousand rows —
    no iterative Spark job.  Distances use the ``||x||^2 - 2x.c + ||c||^2``
    matmul expansion, chunked over sample rows, so memory is O(chunk x K),
    never the sample x K x dim cube.

    The sample is UNIFORM over the corpus: rows are ordered by a seeded
    content hash and the smallest ``sample`` taken (TakeOrdered — a
    per-partition heap of ``sample`` rows, one scan, no full sort).  A
    plain ``limit(sample)`` would take the first partitions in input
    order, and on a sorted/clustered corpus train the quantizer on one
    corner of the space.
    """
    import numpy as np
    sampled = (vectors.select(vec_col)
               .orderBy(F.xxhash64(F.col(vec_col), F.lit(seed)))
               .limit(sample))
    rows = sampled.collect()
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    x2 = (X * X).sum(axis=1)
    chunk = max(1, 4_000_000 // max(len(cent), 1))
    for _ in range(iters):
        c2 = (cent * cent).sum(axis=1)
        assign = np.empty(len(X), dtype=np.int64)
        for lo in range(0, len(X), chunk):
            hi = min(lo + chunk, len(X))
            d2 = x2[lo:hi, None] - 2.0 * (X[lo:hi] @ cent.T) + c2[None, :]
            assign[lo:hi] = d2.argmin(axis=1)
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [list(map(float, c)) for c in cent]


def _centroid_scores(vec, centroids: list[list[float]]):
    """array<struct<s,i>> of -0.5||c||^2 + v.c (argmax == nearest by L2)."""
    scores = []
    for i, c in enumerate(centroids):
        lit_c = F.array(*[F.lit(w) for w in c])
        c2 = sum(w * w for w in c)
        scores.append(F.struct((_dot(vec, lit_c) - 0.5 * c2).alias("s"),
                               F.lit(i).alias("i")))
    return F.array(*scores)


def _centroid_topn(vec, centroids: list[list[float]], n: int):
    """``array<int>`` of the ``n`` nearest centroid indices for a vector
    column (nearest by L2 via the ``-0.5||c||^2 + v.c`` score; ties break
    toward the LARGER index — the ``reverse(array_sort(...))`` convention
    the literal path has always had).

    The scores ride the plan as literal arrays — whole-stage codegen,
    zero Python.  That form is sized for the tens of centroids its
    callers use (``cosine_topk_ivf`` defaults to 16); thousands of
    dim-sized literals would hit expression-tree and codegen limits.
    """
    scores = _centroid_scores(vec, centroids)
    return F.transform(F.slice(F.reverse(F.array_sort(scores)), 1,
                               min(n, len(centroids))),
                       lambda s: s["i"])


def auto_nprobe(n_centroids: int) -> int:
    """nprobe sized to the centroid count: ``clamp(round(sqrt(K)), 2, K)``.

    The probed fraction is nprobe/K, so a FIXED nprobe loses recall as K
    grows, and a CONSTANT fraction erases the selectivity win of more
    centroids.  The sqrt-K rule is the standard middle path (how
    practitioners tune FAISS-style IVF: nprobe grows with nlist,
    sub-linearly): the probed fraction decays only as 1/sqrt(K) —
    neighbors concentrate in the query's nearest lists, so recall
    degrades slowly.  At the default ``auto_nprobe(16) == 4``.

    ``cosine_topk_ivf`` resolves ``nprobe=None`` through this rule
    against its ACTUAL centroid count; explicit integers always win."""
    return min(n_centroids, max(2, round(math.sqrt(n_centroids))))


def cosine_topk_ivf(vectors: DataFrame, k: int = 10, n_centroids: int = 16,
                    nprobe: int | None = None, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """IVF approximate all-pairs top-k: a driver-trained coarse quantizer
    partitions the corpus into inverted lists (one bucket per vector);
    each query probes its ``nprobe`` nearest centroids and reranks with
    exact cosine inside those lists.

    Scale shape: identical vectors pre-collapse to one representative
    (the same mass-duplicate bomb as the LSH paths: a million copies of
    one embedding otherwise land in ONE inverted list and pair-expand
    quadratically — and bias the k-means training mass), then one shuffle
    on the centroid id (bounded, ~uniform by construction of k-means);
    probe fan-out = nprobe rows per query.  Recall < 1 by construction
    (like the LSH variant); raise nprobe for recall, n_centroids for
    selectivity.  The default ``nprobe=None`` auto-scales with the
    centroid count (:func:`auto_nprobe` — sqrt-K), matching every other
    probe entry point (r13).
    """
    keyed, groups = _collapse(vectors, id_col, vec_col)
    centroids = ivf_centroids(groups, n_centroids, seed=seed, vec_col="__vec")
    if nprobe is None:
        nprobe = auto_nprobe(len(centroids))
    corpus = groups.select(
        F.col("rep").alias("neighbor_id"), F.col("__vec").alias("cv"),
        _norm(F.col("__vec")).alias("cn"),
        _centroid_topn(F.col("__vec"), centroids, 1)[0].alias("bucket"),
    )
    probes = groups.select(
        F.col("rep").alias("query_rep"), F.col("__vec").alias("qv"),
        _norm(F.col("__vec")).alias("qn"),
        F.explode(_centroid_topn(F.col("__vec"), centroids, nprobe))
        .alias("bucket"),
    )
    scored = (
        probes.join(corpus, "bucket")
        .filter(F.col("query_rep") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) /
                    (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_rep").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    rep_topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_rep", "neighbor_id", "cosine")
    )
    return _expand_topk(rep_topk, keyed, groups, id_col, k)


def embedding_near_dup(vectors: DataFrame, dim: int, threshold: float = 0.95,
                       planes: int | None = None, seed: int = 42,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       tables: int = 1, max_bucket: int = 1000,
                       overcap: str = "drop") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold),
    LSH-bucketed candidate generation (any-table collision) + exact verify.
    Every emitted pair passes the exact cosine filter (identical vectors
    are emitted at their exact cosine, 1.0), so the output is always a
    SUBSET of the brute-force pair set — only recall varies with
    ``planes``/``tables``.

    Skew levers (see module docstring): identical vectors pre-collapse to
    one representative; buckets are capped with level-2 re-banding;
    ``overcap`` picks the fallback for sub-buckets still over the cap,
    and the member-recovery shape:

    - ``"drop"`` (default): over-cap sub-buckets are dropped, and the
      faithful PAIR product is emitted — representative pairs expanded to
      all member combinations, plus all within-group pairs at cosine 1.0
      (output-driven quadratic in group size, like the SimHash pair
      product — the pair set of an m-clique IS m(m-1)/2 rows).
    - ``"star"``: over-cap sub-buckets emit (sub-bucket-min, member)
      candidates, and member recovery emits representative-level pairs
      plus within-group STAR edges (rep, member) only — linear, and
      preserves exactly the connectivity ``dedup_clusters`` needs (a's
      members — a_rep — b_rep — b's members).  The mode for cluster
      consumers, mirroring ``lsh_candidate_pairs(overcap='star')``.
    """
    if overcap not in ("drop", "star"):
        raise ValueError(f"overcap must be 'drop' or 'star', got {overcap!r}")
    keyed, groups = _collapse(vectors, id_col, vec_col)
    if planes is None:
        planes = _derive_planes(groups.count())
    cand = _capped_rep_pairs(groups, dim, planes, seed, tables, max_bucket,
                             star_overcap=(overcap == "star"))
    va = groups.select(F.col("rep").alias("a"), F.col("__vec").alias("va"),
                       _norm(F.col("__vec")).alias("na"))
    vb = groups.select(F.col("rep").alias("b"), F.col("__vec").alias("vb"),
                       _norm(F.col("__vec")).alias("nb"))
    rep_pairs = (
        cand.join(va, "a").join(vb, "b")
        .withColumn("cosine", _dot(F.col("va"), F.col("vb")) /
                    (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
    members = keyed.join(groups.select("vkey", "rep", "m"), "vkey")
    if overcap == "star":
        intra = (
            members.filter((F.col("m") > 1) & (F.col(id_col) != F.col("rep")))
            .select(F.col("rep").alias("a"), F.col(id_col).alias("b"),
                    F.lit(1.0).alias("cosine"))
        )
        return rep_pairs.unionByName(intra)
    ga = members.select(F.col("rep").alias("a"), F.col(id_col).alias("ia"))
    gb = members.select(F.col("rep").alias("b"), F.col(id_col).alias("ib"))
    cross = (
        rep_pairs.join(ga, "a").join(gb, "b")
        .select(F.least("ia", "ib").alias("a"),
                F.greatest("ia", "ib").alias("b"), "cosine")
    )
    intra = (
        members.filter(F.col("m") > 1).alias("x")
        .join(members.filter(F.col("m") > 1).alias("y"), "vkey")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b"),
                F.lit(1.0).alias("cosine"))
    )
    return cross.unionByName(intra)


def cross_corpus_embedding_near_dups(new_vectors: DataFrame,
                                     ref_vectors: DataFrame, dim: int,
                                     threshold: float = 0.95,
                                     planes: int | None = None,
                                     seed: int = 42,
                                     id_col: str = "vec_id",
                                     vec_col: str = "embedding",
                                     tables: int = 1,
                                     max_bucket: int = 1000) -> DataFrame:
    """Embedding near-duplicates of a NEW crawl against a PREVIOUS
    release — the vector-side mirror of ``dedup.cross_corpus_near_dups``
    ("drop new documents whose embedding duplicates something we already
    shipped").  Id spaces must be disjoint (same contract as the text
    form).

    One shared collapse + LSH bucketing pass over the tagged union (a
    vector present on both sides lands in ONE group, so cross-side exact
    duplicates never need a bucket collision at all); candidate
    representative pairs are pruned to cross-side-RELEVANT ones — at
    least one side of the pair must hold a new member and the other a
    ref member — BEFORE the exact-cosine verify, so within-side
    candidate mass (the big, already-deduped release × itself) never
    pays the high-dim dot product or expands.  Expansion is star-shaped
    and linear: every matched NEW member pairs with the min REF id of
    the matched group (the product a curation gate consumes is "this
    new doc has a prior-release duplicate", not the full bipartite pair
    set).  Output: (a = new id, b = ref id, cosine), every row
    exact-cosine verified (same-group rows are exact duplicates at 1.0).
    """
    new_t = new_vectors.select(F.col(id_col), F.col(vec_col),
                               F.lit("n").alias("__side"))
    ref_t = ref_vectors.select(F.col(id_col), F.col(vec_col),
                               F.lit("r").alias("__side"))
    tagged = new_t.unionByName(ref_t)
    keyed, groups = _collapse(tagged.select(id_col, vec_col),
                              id_col, vec_col)
    if planes is None:
        planes = _derive_planes(groups.count())
    # per-group side composition (bounded aggregate on the vector key)
    sides = (tagged.select(id_col, _vkey(F.col(vec_col)).alias("vkey"),
                           "__side")
             .groupBy("vkey")
             .agg(F.sum((F.col("__side") == "n").cast("long")).alias("mn"),
                  F.min(F.when(F.col("__side") == "r", F.col(id_col)))
                  .alias("ref_min")))
    comp = groups.select("vkey", "rep").join(sides, "vkey") \
        .select("rep", "mn", "ref_min")
    cand = _capped_rep_pairs(groups, dim, planes, seed, tables, max_bucket,
                             star_overcap=True)
    ca = comp.select(F.col("rep").alias("a"), F.col("mn").alias("a_mn"),
                     F.col("ref_min").alias("a_ref"))
    cb = comp.select(F.col("rep").alias("b"), F.col("mn").alias("b_mn"),
                     F.col("ref_min").alias("b_ref"))
    # cross-side relevance prune BEFORE the exact verify: one side must
    # contribute a new member, the other a ref member
    relevant = (
        cand.join(ca, "a").join(cb, "b")
        .filter(((F.col("a_mn") > 0) & F.col("b_ref").isNotNull())
                | ((F.col("b_mn") > 0) & F.col("a_ref").isNotNull()))
    )
    va = groups.select(F.col("rep").alias("a"), F.col("__vec").alias("va"),
                       _norm(F.col("__vec")).alias("na"))
    vb = groups.select(F.col("rep").alias("b"), F.col("__vec").alias("vb"),
                       _norm(F.col("__vec")).alias("nb"))
    rep_pairs = (
        relevant.join(va, "a").join(vb, "b")
        .withColumn("cosine", _dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "a_ref", "b_ref", "cosine")
    )
    # star expansion: matched NEW members -> the matched group's min ref
    new_members = (
        tagged.filter(F.col("__side") == "n")
        .select(F.col(id_col).alias("nid"),
                _vkey(F.col(vec_col)).alias("vkey"))
        .join(groups.select("vkey", "rep"), "vkey")
        .select("nid", "rep")
    )
    out_ab = (
        rep_pairs.filter(F.col("b_ref").isNotNull())
        .join(new_members.withColumnRenamed("rep", "a"), "a")
        .select(F.col("nid").alias("a"), F.col("b_ref").alias("b"),
                "cosine"))
    out_ba = (
        rep_pairs.filter(F.col("a_ref").isNotNull())
        .join(new_members.withColumnRenamed("rep", "b"), "b")
        .select(F.col("nid").alias("a"), F.col("a_ref").alias("b"),
                "cosine"))
    # same-group cross pairs: a new member whose exact vector already
    # shipped — no bucket collision needed, cosine exactly 1.0
    same = (
        new_members.join(comp.filter(F.col("ref_min").isNotNull()), "rep")
        .select(F.col("nid").alias("a"), F.col("ref_min").alias("b"),
                F.lit(1.0).alias("cosine"))
    )
    return out_ab.unionByName(out_ba).unionByName(same).distinct()


def embedding_clusters(vectors: DataFrame, dim: int, threshold: float = 0.95,
                       planes: int | None = None, seed: int = 42,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       tables: int = 1, max_bucket: int = 1000,
                       max_iter: int = 50) -> DataFrame:
    """Embedding near-duplicate CLUSTERS — the linear consumable product
    (vector analogue of ``dedup.simhash_clusters``): star-mode near-dup
    pairs (linear connectivity — rep-level verified pairs plus
    within-group star edges) closed into connected components, singletons
    included from the full id universe.  Output contract matches
    ``dedup_clusters``: a total (cluster_rep, member, n) partition of the
    corpus.  Note LSH recall < 1 applies to the EDGES, so two vectors
    above the threshold may land in different clusters (raise ``tables``);
    every within-cluster edge was exact-cosine verified."""
    from cloudbrush_spark.operators.dedup import dedup_clusters
    pairs = embedding_near_dup(vectors, dim, threshold, planes, seed, id_col,
                               vec_col, tables, max_bucket, overcap="star")
    return dedup_clusters(pairs.select("a", "b"),
                          items=vectors.select(id_col), id_col=id_col,
                          max_iter=max_iter)


# --------------------------------------------------------------------------
# int8 scalar quantization (round 9)
# --------------------------------------------------------------------------

def quantize_embeddings(vectors: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``code_i =
    round(x_i / scale)`` with ``scale = max(|x|)/127``, stored as
    ``array<tinyint>`` + one float scale.

    This is the storage/shuffle lever for 100 TB embedding work: an int8
    code is 4x smaller than float32 (8x vs the double arrays Spark
    materializes), and reconstruction error is bounded per component by
    ``scale/2``.  Cosine is scale-invariant, so the cosine of two code
    arrays approximates the cosine of the originals without ever
    dequantizing.  Zero vectors quantize to all-zero codes with scale 1
    (no divide-by-zero).  Everything is a JVM-side higher-order-function
    projection — no Python, no shuffle.  Input columns are preserved;
    ``q_scale``/``q_codes`` are appended — pre-existing columns of
    those names (a frame quantized twice) are dropped and recomputed
    rather than duplicated into an ambiguous schema."""
    vectors = vectors.drop("q_scale", "q_codes")
    v = F.col(vec_col)
    mx = F.aggregate(F.transform(v, lambda x: F.abs(x)), F.lit(0.0),
                     lambda acc, x: F.greatest(acc, x))
    scale = F.when(mx == F.lit(0.0), F.lit(1.0)).otherwise(mx / F.lit(127.0))
    return vectors.select(
        "*",
        scale.alias("q_scale"),
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
        .alias("q_codes"),
    )


def _qdot(a, b):
    # tinyint*tinyint would overflow (and Spark keeps the narrow type);
    # widen per element, accumulate in long — exact integer arithmetic.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long"))


def cosine_topk_quantized(vectors: DataFrame, queries: DataFrame, k: int = 10,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Two-stage top-k: SELECT on int8 codes, RE-RANK the k winners with
    the exact double cosine.

    The selection pass — the one that touches every corpus vector — runs
    entirely on the quantized codes (integer dot products over
    ``array<tinyint>``, exact long arithmetic); the exact cosine is
    computed only for the k survivors per query, making the reported
    score identical to the brute-force path's (re-rank is a projection
    AFTER the rank filter, never per candidate).  Candidate order ties on
    the integer score break by neighbor_id, so the cut is deterministic
    across retries.  Zero vectors (all-zero codes) have no meaningful
    cosine direction and are excluded from BOTH sides before the cross
    join — they can neither query nor match.  Output: (query_id,
    neighbor_id, rank, cosine) with rank = quantized-score rank and
    cosine = exact.  The codes are computed on the fly FROM the double
    arrays, so the scan still reads the doubles — a compute-only lever.
    """
    q = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"), F.col("q_codes").alias("qc"),
        F.sqrt(_qdot(F.col("q_codes"), F.col("q_codes")).cast("double"))
        .alias("qcn")).filter(F.col("qcn") > 0)
    c = quantize_embeddings(vectors, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"), F.col("q_codes").alias("cc"),
        F.sqrt(_qdot(F.col("q_codes"), F.col("q_codes")).cast("double"))
        .alias("ccn")).filter(F.col("ccn") > 0)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qcos",
                    _qdot(F.col("qc"), F.col("cc")).cast("double")
                    / (F.col("qcn") * F.col("ccn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(),
                                               F.col("neighbor_id"))
    top = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k))
    return top.select(
        "query_id", "neighbor_id", "rank",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .alias("cosine"))
