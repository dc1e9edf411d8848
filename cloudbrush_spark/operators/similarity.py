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

import json
import math
import random
import threading

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


#: Past this many centroids, training leaves the driver: Lloyd's over a
#: numpy sample costs sample x K x dim flops per iteration, and at the
#: ~30k centroids a 10^9-vector corpus wants (sqrt-n rule) the driver
#: pass is days of single-node matmul — distributed KMeans (Spark MLlib)
#: is the scale form.  Kept separate from CENTROID_LITERAL_MAX: the two
#: ceilings are different resources (driver flops vs plan size).
CENTROID_DRIVER_KMEANS_MAX = 4096


def ivf_centroids(vectors: DataFrame, n_centroids: int = 16, sample: int = 4096,
                  iters: int = 8, seed: int = 42,
                  vec_col: str = "embedding") -> list[list[float]]:
    """Coarse quantizer for IVF.

    Up to ``CENTROID_DRIVER_KMEANS_MAX`` centroids: Lloyd's k-means over
    a bounded driver-side sample (numpy).  The sample is the ONLY data
    that leaves the cluster; the centroids are trained once on a few
    thousand rows — no iterative Spark job.  Distances use the
    ``||x||^2 - 2x.c + ||c||^2`` matmul expansion, chunked over sample
    rows, so memory is O(chunk x K), never the sample x K x dim cube.

    Above it (r12): distributed k-means (``pyspark.ml.clustering.KMeans``,
    ``initMode='random'`` — k-means|| init costs ~2k extra passes and a
    coarse quantizer doesn't need it) over the same uniform sample, kept
    as a DataFrame instead of collected.  Assignment during training runs
    executor-side in the JVM; only the K centers come back to the driver.

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
    if n_centroids > CENTROID_DRIVER_KMEANS_MAX:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
        spark = vectors.sparkSession
        # TakeOrdered lands the sample on one partition — spread it back
        # out so the iterative assignment parallelizes
        feats = (sampled
                 .repartition(spark.sparkContext.defaultParallelism or 4)
                 .select(array_to_vector(
                     F.col(vec_col).cast("array<double>")).alias("__fv"))
                 .persist())
        # MLlib errors on k > sample rows; the driver path clamps
        # silently — match that contract (one bounded count)
        k = min(n_centroids, feats.count())
        model = KMeans(k=k, maxIter=iters, seed=seed,
                       initMode="random", featuresCol="__fv").fit(feats)
        feats.unpersist()
        return [[float(x) for x in c] for c in model.clusterCenters()]
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


#: Past this many centroids the assignment switches from plan-literal
#: score arrays to a broadcast centroid matrix + Arrow-batched argmax:
#: thousands of dim-sized literals blow expression-tree/codegen limits
#: long before they blow memory.  Tests monkeypatch this to force either
#: path; the two are equivalence-pinned (tests/test_similarity.py).
CENTROID_LITERAL_MAX = 256

#: Centroid broadcasts kept alive per session (LRU): a crawl-per-day
#: session probes the SAME index many times, and re-broadcasting a
#: 30k x 512 matrix per probe would pile ~100 MB driver-held copies
#: per call.  Evicted entries are explicitly unpersisted.
_CENTROID_BC_KEEP = 4
_centroid_bc_cache: "dict[tuple, object]" = {}
# The cache is module state mutated by pop/insert/evict; without a lock,
# two threads probing DIFFERENT indexes concurrently (the library is
# importable from any threaded host, not just the single-threaded CLI)
# can interleave evictions and unpersist a broadcast the other thread
# just took — a task-time Broadcast fetch error (r12 verdict finding).
_centroid_bc_lock = threading.Lock()


def _broadcast_centroids(spark, cmat, bias):
    """One Spark broadcast per distinct centroid matrix per session,
    LRU-bounded (see ``_CENTROID_BC_KEEP``).  Keyed by content digest +
    the JVM app id, so a restarted session never reuses a dead handle."""
    import hashlib
    key = (spark.sparkContext.applicationId,
           hashlib.md5(cmat.tobytes()).hexdigest())
    with _centroid_bc_lock:
        bc = _centroid_bc_cache.pop(key, None)
        if bc is None:
            bc = spark.sparkContext.broadcast((cmat, bias))
        _centroid_bc_cache[key] = bc  # re-insert = move to MRU position
        evict = []
        while len(_centroid_bc_cache) > _CENTROID_BC_KEEP:
            evict.append(_centroid_bc_cache.pop(
                next(iter(_centroid_bc_cache))))
    for evicted in evict:
        try:
            evicted.unpersist()
        except Exception:
            pass  # the owning session may already be stopped
    return bc


def _centroid_topn(vec, centroids: list[list[float]], n: int):
    """``array<int>`` of the ``n`` nearest centroid indices for a vector
    column (nearest by L2 via the ``-0.5||c||^2 + v.c`` score; ties break
    toward the LARGER index — the ``reverse(array_sort(...))`` convention
    the literal path has always had).

    Two physical forms, identical semantics:

    - ``len(centroids) <= CENTROID_LITERAL_MAX``: the scores ride the
      plan as literal arrays — whole-stage codegen, zero Python.
    - above (r12): the centroid matrix ships ONCE per executor as a
      Spark broadcast, and an Arrow-batched pandas UDF computes each
      batch's score matrix with one numpy matmul (chunked so a batch
      never materializes more than ~32 MB of scores).  The obvious
      relational alternative — ``crossJoin(broadcast(centroid_table))``
      + ``groupBy(id).agg(max_by(...))`` — expands every corpus row into
      K rows before the partial aggregate (10^9 vectors x 30k centroids
      = 3x10^13 intermediate rows); the matmul form is a PROJECTION: no
      shuffle, no row blowup, and the centroids move once per executor,
      not once per row.
    """
    k = len(centroids)
    nn = min(n, k)
    if k <= CENTROID_LITERAL_MAX:
        scores = _centroid_scores(vec, centroids)
        return F.transform(F.slice(F.reverse(F.array_sort(scores)), 1, nn),
                           lambda s: s["i"])
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    spark = SparkSession.getActiveSession() \
        or SparkSession.builder.getOrCreate()
    cmat = np.asarray(centroids, dtype=np.float64)
    bias = -0.5 * (cmat * cmat).sum(axis=1)
    bc = _broadcast_centroids(spark, cmat, bias)
    # rows per score chunk so chunk x K stays ~32 MB regardless of K
    step = max(1, 4_000_000 // k)

    def _topn(v):
        cb, bb = bc.value
        out: list[list[int]] = []
        vals = v.to_numpy()
        for lo in range(0, len(vals), step):
            block = vals[lo:lo + step]
            if len(block) == 0:
                continue
            x = np.array([np.asarray(e, dtype=np.float64) for e in block])
            s = x @ cb.T + bb
            # ties toward the LARGER index, matching the literal path:
            # stable-argsort the REVERSED columns (first occurrence among
            # equals = largest original index) and map back
            order = np.argsort(-s[:, ::-1], axis=1, kind="stable")[:, :nn]
            out.extend((s.shape[1] - 1 - order).astype("int32").tolist())
        return pd.Series(out, dtype=object)

    # real class objects, not strings: the module's `from __future__ import
    # annotations` would stringify inline hints, and pandas/numpy are local
    # imports here so pyspark's type-hint resolution could not eval them
    _topn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_topn, "array<int>")(vec)


def auto_nprobe(n_centroids: int) -> int:
    """nprobe sized to the centroid count: ``clamp(round(sqrt(K)), 2, K)``.

    A FIXED nprobe is the IVF scale bug the r12 clamp removal exposed:
    the probed fraction is nprobe/K, so when the sqrt-n auto-sizing
    raises K with the corpus (16 → ~30k at 10^9 vectors), a constant
    ``nprobe=2`` probes 0.007% of the lists and recall craters silently.
    Probing a CONSTANT fraction instead would erase the selectivity win
    of more centroids (bytes/query = fraction × corpus, linear in n).
    The sqrt-K rule is the standard middle path (how practitioners tune
    FAISS-style IVF: nprobe grows with nlist, sub-linearly): probed
    fraction decays only as 1/sqrt(K) — neighbors concentrate in the
    query's nearest lists, so recall degrades slowly (measured across
    16 → 447 → 1024 centroids in ``probes/ivfq_autonprobe_recall.json``
    and pinned at ≥1024 centroids in ``tests/test_similarity.py``) —
    while probed bytes under sqrt-n auto-sizing grow as n^(3/4), not n.
    At the small-index corner the rule reproduces the tuned constants
    this engine shipped with: ``auto_nprobe(16) == 4``, the release
    gate's historical fixed default.

    Every probe entry point (``cosine_topk_ivf``,
    ``cosine_topk_ivf_indexed``, ``cosine_topk_ivf_quantized`` /
    ``ivf_quantized_select``, the release gate, the CLI) resolves
    ``nprobe=None`` through this rule against the index's ACTUAL
    centroid count; explicit integers always win."""
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
# persisted IVF index (round 10)
# --------------------------------------------------------------------------

def write_ivf_index(vectors: DataFrame, path: str,
                    n_centroids: int | None = 16,
                    sample: int = 4096, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    quantized: bool = False) -> list[list[float]]:
    """Write a persisted IVF INDEX: the corpus as CENTROID-PARTITIONED
    parquet (``<path>/vectors/bucket=<i>/``) plus the centroid table
    (``<path>/centroids``).

    This is the IVF analogue of the persisted-codes path
    (:func:`write_quantized_codes`): the inline :func:`cosine_topk_ivf`
    still SCANS the whole corpus to assign buckets per query run,
    whereas a probe against this index reads ONLY the ``nprobe``
    partitions each query selects — directory-level PartitionFilters,
    so the per-query corpus pass is nprobe/n_centroids of the data
    before a single row is deserialized (plan-pinned in
    ``tests/test_similarity.py``).  Written once per corpus snapshot;
    mass-duplicate corpora should exact-dedup first (a million copies
    of one embedding land in one partition).  Returns the centroids.

    ``quantized=True`` COMPOSES the two persisted levers (r11): the
    bucket partitions store ONLY the int8 codes (``q_scale``,
    ``q_codes array<tinyint>`` — no double column reaches the probe
    scan's ReadSchema), and the double vectors land once in a separate
    id-sorted ``<path>/doubles`` side table that only the winner
    re-rank touches (In() row-group pruning).  A probe through
    :func:`cosine_topk_ivf_quantized` then multiplies the levers:
    nprobe/n_centroids of the DIRECTORIES at ~1/8 of the BYTES each.

    ``n_centroids=None`` auto-sizes by the IVF rule of thumb —
    ``sqrt(corpus)`` clamped to [16, 65536] — so the bytes a probe
    faces per bucket grow with sqrt(n) as the corpus scales (one extra
    bounded count; the training sample is raised to cover the centroid
    count where needed).  Up to ``CENTROID_LITERAL_MAX`` (256) the
    assignment rides the plan as literal score arrays; above it (r12)
    the centroids broadcast once per executor and an Arrow-batched
    matmul assigns buckets (see :func:`_centroid_topn` — the two forms
    are equivalence-pinned), and training moves to distributed KMeans
    past ``CENTROID_DRIVER_KMEANS_MAX`` — so a 10^9-vector corpus gets
    its ~30k centroids and the full sqrt(n) partition-pruning lever,
    instead of saturating at 256."""
    if n_centroids is None:
        import math
        n = vectors.count()
        if n == 0:
            raise ValueError(
                "write_ivf_index: cannot index an empty corpus")
        n_centroids = max(16, min(65536, int(math.sqrt(n))))
        sample = max(sample, 8 * n_centroids)
    centroids = ivf_centroids(vectors, n_centroids, sample, seed=seed,
                              vec_col=vec_col)
    assigned = vectors.withColumn(
        "bucket", _centroid_topn(F.col(vec_col), centroids, 1)[0])
    doubles_plan = None
    if quantized:
        assigned = quantize_embeddings(assigned, id_col, vec_col) \
            .select(id_col, "q_scale", "q_codes", "bucket")
        # range-partition so files hold DISJOINT id ranges: the winner
        # re-rank pushes an In(id,...) filter into this scan, and with
        # disjoint ranges parquet min/max stats skip whole FILES, not
        # just row groups inside every file (file-count pinned in
        # tests/test_plans.py)
        doubles_plan = (vectors.select(id_col, vec_col)
                        .repartitionByRange(F.col(id_col))
                        .sortWithinPartitions(id_col))
    # a ``_rebuilding`` sentinel brackets the destructive writes (r14,
    # advisor finding): mode('overwrite') destroys the previous
    # /vectors at write start, so a rebuild that dies mid-write leaves
    # a BROKEN index — and one that completes its writes but dies
    # before the marker clear below leaves stale markers silently
    # suppressing re-appends.  The sentinel makes both states
    # detectable: append_to_ivf_index refuses while it exists, and only
    # a COMPLETED rebuild removes it.  Taken here, after all plan
    # construction and training, so a pre-write failure leaves the old
    # index intact AND un-wedged.
    spark = vectors.sparkSession
    from cloudbrush_spark.sources.corpus import _hfs, fs_write_text
    jvm, _, fs, root = _hfs(spark, path)
    fs.mkdirs(root)
    rebuilding = jvm.org.apache.hadoop.fs.Path(root, "_rebuilding")
    fs.create(rebuilding, True).close()
    # structural interlock, Dekker-ordered like the appender's (r14
    # review): the sentinel is created FIRST, then the other side's
    # markers are checked — whichever of {rebuild, compact/split/merge,
    # append} claims second sees the other and backs off.  Without
    # this, a rebuild's overwrites interleave with a compaction's
    # swap (stale vectors_compact_tmp renamed over the fresh /vectors
    # -> new centroids paired with pre-rebuild buckets, silently wrong
    # probes) or destroy an in-flight append's files mid-commit.
    blockers = []
    if fs.exists(jvm.org.apache.hadoop.fs.Path(root, "_compacting")):
        blockers.append("_compacting (compact/split/merge in progress)")
    for st in fs.listStatus(root):
        if st.getPath().getName().startswith("_appending_"):
            blockers.append(st.getPath().getName() + " (append in flight)")
    if blockers:
        fs.delete(rebuilding, False)  # back off: release our claim
        raise RuntimeError(
            f"write_ivf_index: cannot rebuild {path} while other "
            f"writers hold it: {', '.join(sorted(blockers))} — wait "
            "for them to finish (or run the matching repair if one "
            "crashed), then retry.")
    if doubles_plan is not None:
        doubles_plan.write.mode("overwrite").parquet(path + "/doubles")
    (assigned.repartition(max(4, len(centroids)), F.col("bucket"))
     .sortWithinPartitions("bucket", id_col)
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(path + "/vectors"))
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "bucket int, centroid array<double>")
    cdf.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    # a REBUILD invalidates every append marker under this root: the
    # markers dedup batches against the OLD index's content, and leaving
    # them would make a legitimate re-append of those rows into the new
    # index silently return 0 (rows permanently missing).  Cleared AFTER
    # the three overwrites land: a rebuild that dies mid-write leaves a
    # broken index either way (mode('overwrite') destroys the old
    # /vectors at write start, r14 comment fix), but clearing FIRST
    # would additionally strip replay protection off batches whose
    # re-append into the half-written index the _rebuilding sentinel
    # blocks; either crash ordering is detectable via the sentinel.
    _clear_append_markers(spark, path)
    # stale tombstones die with the markers (r14 review): the rebuild's
    # input corpus is authoritative — leaving the old /deletes would
    # silently suppress fresh rows sharing a tombstoned id, and the
    # next (maintain-triggered) compaction would physically purge them.
    # A takedown that must survive rebuilds is applied to the rebuild's
    # INPUT (see delete_from_ivf_index's takedown-scope note).
    fs.delete(jvm.org.apache.hadoop.fs.Path(root, "deletes"), True)
    # stamp the format LAST, then drop the sentinel: a post-r14 index is
    # born format-2 (content-bearing markers only — the appender skips
    # the legacy id-only token check outright)
    fs_write_text(spark, f"{path}/_format", f"{INDEX_FORMAT}\n")
    fs.delete(rebuilding, False)
    return centroids


def cosine_topk_ivf_indexed(spark, path: str, queries: DataFrame,
                            k: int = 10, nprobe: int | None = None,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            broadcast_queries: bool = True) -> DataFrame:
    """Top-k against a persisted IVF index (see :func:`write_ivf_index`).

    Centroids load driver-side (bounded — n_centroids rows); each query
    selects its ``nprobe`` nearest buckets; the UNION of probed buckets
    (bounded by n_centroids no matter how many queries) becomes a
    literal partition filter on the vectors scan, so unprobed
    directories are never listed, read, or decoded.  Exact cosine
    re-rank inside the probed lists, deterministic neighbor_id
    tiebreak.  Output: (query_id, neighbor_id, rank, cosine).

    ``broadcast_queries=True`` (the point-lookup shape) forces the
    query frame broadcast; pass ``False`` for corpus-scale query
    batches (e.g. a whole crawl probing a release index) — a forced
    broadcast of millions of double vectors would hit Spark's broadcast
    size limit, where a plain join lets stats/AQE pick the strategy.

    The probed fraction is nprobe/n_centroids — at a fixed nprobe
    recall falls as the centroid count grows, so the default
    ``nprobe=None`` resolves through :func:`auto_nprobe` against the
    index's actual centroid count (r13; sqrt-K rule, recall pinned at
    ≥1024 centroids)."""
    bcast = F.broadcast if broadcast_queries else (lambda d: d)
    cent_rows = spark.read.parquet(path + "/centroids") \
        .orderBy("bucket").collect()
    centroids = [list(r.centroid) for r in cent_rows]
    if nprobe is None:
        nprobe = auto_nprobe(len(centroids))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        _centroid_topn(F.col(vec_col), centroids, nprobe).alias("probes"))
    qx = q.select("query_id", "qv", "qn",
                  F.explode("probes").alias("bucket"))
    # when nprobe covers every centroid, EVERY bucket is probed by
    # construction — skip the probed-union pre-job entirely (r14; it is
    # a full Spark job over the exploded query set) and read the corpus
    # unfiltered; a K-literal InSet that prunes nothing would only
    # bloat the plan (K can be 65k)
    probed = (list(range(len(centroids))) if nprobe >= len(centroids)
              else sorted(r[0] for r in
                          qx.select("bucket").distinct().collect()))
    corpus = spark.read.parquet(path + "/vectors")
    if len(probed) < len(centroids):
        # partition filter on the probed union (bounded by n_centroids
        # no matter how many queries)
        corpus = corpus.filter(F.col("bucket").isin(probed))
    dels = _pending_deletes(spark, path, id_col)
    if dels is not None:
        corpus = corpus.join(dels, id_col, "left_anti")
    corpus = corpus.select(F.col("bucket"),
                           F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("cv"),
                           _norm(F.col(vec_col)).alias("cn"))
    scored = (
        corpus.join(bcast(qx), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv"))
                    / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


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
    projection — no Python, no shuffle.  Input columns are preserved
    (the IVF-quantized index writer keeps its ``bucket`` through here);
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


def write_quantized_codes(vectors: DataFrame, path: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          mode: str = "overwrite") -> None:
    """Persist the int8 codes TABLE: ``(id, q_scale float, q_codes
    array<tinyint>)`` parquet, written once per corpus snapshot.

    This is what makes the quantization a storage/IO lever rather than a
    compute trick: a selection pass that reads this table instead of the
    double arrays scans ~1/8 the vector bytes (tinyint vs the double
    Spark materializes; parquet byte ratio measured in
    ``tests/test_similarity.py``).  Rows are sorted by id WITHIN files so
    the re-rank's ``isin`` pushdown prunes row groups via min/max stats
    — on a 100 TB corpus the exact re-rank touches only the row groups
    holding the ≤ queries×k winners."""
    codes = quantize_embeddings(vectors, id_col, vec_col) \
        .select(id_col, "q_scale", "q_codes")
    codes.sortWithinPartitions(id_col).write.mode(mode).parquet(path)


def read_quantized_codes(spark, path: str) -> DataFrame:
    """Scan a persisted codes table (see ``write_quantized_codes``)."""
    return spark.read.parquet(path)


# Winner-id lists are bounded by queries x k; past this many rows the
# driver collect (used to push an In() filter into the doubles scan)
# would become its own cliff and the re-rank joins distributed instead.
RERANK_COLLECT_MAX = 100_000


def quantized_select(codes: DataFrame, q: DataFrame, k: int,
                     id_col: str = "vec_id") -> DataFrame:
    """Selection stage of the persisted-codes two-stage top-k: integer
    dot products over the codes TABLE only — by construction this plan
    can never read a double vector column (plan-pinned in
    ``tests/test_plans.py``).  ``q`` is the quantized-query frame
    (query_id, qc, qcn, ...); returns (query_id, neighbor_id, rank)."""
    c = codes.select(
        F.col(id_col).alias("neighbor_id"), F.col("q_codes").alias("cc"),
        F.sqrt(_qdot(F.col("q_codes"), F.col("q_codes")).cast("double"))
        .alias("ccn")).filter(F.col("ccn") > 0)
    scored = (
        c.crossJoin(F.broadcast(q.select("query_id", "qc", "qcn")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qcos", _qdot(F.col("qc"), F.col("cc")).cast("double")
                    / (F.col("qcn") * F.col("ccn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(),
                                               F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def cosine_topk_quantized(vectors: DataFrame, queries: DataFrame, k: int = 10,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          codes: DataFrame | None = None,
                          rerank_collect_max: int | None = None) -> DataFrame:
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
    cosine = exact.

    Two corpus forms:

    - ``codes=None`` (inline): codes are computed on the fly FROM the
      double arrays, so the scan still reads the doubles — a
      compute-only variant; the byte saving below does not apply.
    - ``codes=<persisted table>`` (from ``write_quantized_codes``): the
      selection plan reads ONLY the codes parquet — its scan's
      ReadSchema has no double vector column (plan-pinned in
      ``tests/test_plans.py``) — so the per-query full-corpus pass
      scans ~1/8 the vector bytes.  The ≤ queries×k winners are then
      joined back to ``vectors`` for the exact re-rank: their id list
      is collected (bounded by construction; cap
      ``rerank_collect_max``) and pushed into the doubles scan as an
      ``In`` filter for row-group pruning; past the cap the same join
      runs distributed via a broadcast of the winner frame.
    """
    q = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"), F.col("q_codes").alias("qc"),
        F.sqrt(_qdot(F.col("q_codes"), F.col("q_codes")).cast("double"))
        .alias("qcn")).filter(F.col("qcn") > 0)
    if codes is None:
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
    # Persisted-codes path: the selection never touches `vectors`.
    if rerank_collect_max is None:
        rerank_collect_max = RERANK_COLLECT_MAX
    top = quantized_select(codes, q, k)
    # Stage-cut so the winner frame evaluates once (the id collect below
    # plus the result join would otherwise each re-run the selection).
    top = cut(top)
    ids = [r[0] for r in
           top.select("neighbor_id").distinct()
           .limit(rerank_collect_max + 1).collect()]
    nbr = vectors
    if len(ids) <= rerank_collect_max:
        # Bounded winner set: push In(id, ...) into the doubles scan so
        # parquet row-group min/max stats prune everything else.
        nbr = nbr.filter(F.col(id_col).isin(ids))
    nbr = nbr.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("cv"), _norm(F.col(vec_col))
                     .alias("cn"))
    return (
        nbr.join(F.broadcast(top), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv", "qn")), "query_id")
        .select("query_id", "neighbor_id", "rank",
                (_dot(F.col("qv"), F.col("cv"))
                 / (F.col("qn") * F.col("cn"))).alias("cosine"))
    )


#: Full ``_appended_*`` markers retained behind the newest append — the
#: same trailing-window bound as ``streaming.windows.ROLLUP_MARKER_KEEP``
#: so a crawl-per-day index's root ``listStatus`` stays O(window) instead
#: of O(history).  Pruned tokens fold into ONE compact history file (a
#: token is 8-24 bytes: 10k crawls ~ a 200 KB file), so replay detection
#: never loses a batch — a replay of a PRUNED batch is still a no-op,
#: pinned in tests/test_similarity.py.
APPEND_MARKER_KEEP = 64


#: Index metadata format stamped by ``write_ivf_index`` into
#: ``<path>/_format``.  1 (implicit — no ``_format`` file): pre-r14
#: index whose marker/history space may hold LEGACY id-only batch
#: tokens, so the appender must check both digests.  2: every marker is
#: content-bearing; the appender skips the legacy check entirely, so a
#: fresh index carries no legacy-collision surface (r13 advisor
#: finding: two different batches with the same ids collide under the
#: id-only digest).
INDEX_FORMAT = 2


def _index_format(spark, path: str) -> int:
    """The stamped format version of the index at ``path`` (see
    :data:`INDEX_FORMAT`); a missing or unreadable ``_format`` file
    means a pre-r14 index → 1."""
    from cloudbrush_spark.sources.corpus import _hfs, fs_read_text
    jvm, _, fs, root = _hfs(spark, path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(root, "_format")):
        return 1
    try:
        return int(fs_read_text(spark, f"{path}/_format").strip() or 1)
    except Exception:
        return 1


def _clear_append_markers(spark, path: str) -> None:
    """Delete every ``_appended_*`` / ``_appending_*`` marker and the
    pruned-token history under an index root.  A REBUILD calls this:
    ``write_ivf_index`` only overwrites ``/vectors`` / ``/doubles`` /
    ``/centroids``, and markers surviving a rebuild would dedup new
    appends against content that no longer exists (a re-appended batch
    would silently return 0 and its rows stay missing forever)."""
    from cloudbrush_spark.sources.corpus import _hfs
    _, _, fs, root = _hfs(spark, path)
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(("_appended_", "_appending_",
                            "_append_history_")):
            fs.delete(st.getPath(), False)


def _append_history(spark, path: str) -> tuple[set[str], int]:
    """(pruned-token set, newest generation) from the index root's
    ``_append_history_<g>`` file.  Generations exist because object
    stores have no atomic overwrite: each marker-pruning pass writes a
    complete NEW generation (create + close — visible whole), then
    deletes older ones; a reader racing the swap sees the previous
    complete generation, which is always a subset of the truth (the
    full markers it omits still exist until the new generation lands).
    Single writer per index is ENFORCED by the appender's exclusive
    intent-marker create and the compaction interlock (r13)."""
    from cloudbrush_spark.sources.corpus import _hfs, fs_read_text
    _, _, fs, root = _hfs(spark, path)
    gens = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("_append_history_"):
                try:
                    gens.append(int(name[len("_append_history_"):]))
                except ValueError:
                    pass
    if not gens:
        return set(), 0
    g = max(gens)
    text = fs_read_text(spark, f"{path}/_append_history_{g}")
    return {t for t in text.split() if t}, g


def append_to_ivf_index(new_vectors: DataFrame, path: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> int:
    """Append a new crawl's vectors to an EXISTING persisted IVF index
    (plain or quantized layout — detected from the partition schema)
    without rebuilding: new vectors are assigned to the index's FROZEN
    centroids and appended into their bucket partitions (dynamic
    partition overwrite is not needed — parquet append adds files to
    the matching ``bucket=<i>/`` directories only), and on the
    quantized layout their doubles append to the side table.

    This is how the index stays fresh across releases at 100 TB — the
    alternative is re-clustering and rewriting the world per crawl.
    Frozen centroids are the documented trade: if the new data's
    distribution drifts far from the training sample, buckets skew and
    probe recall decays — split the fat buckets in place with
    :func:`split_fat_buckets` (r14) when :func:`index_stats` shows
    ``bucket_skew`` climbing, or rebuild with :func:`write_ivf_index`
    when the whole histogram degrades.  Appending an id that already
    exists in the index creates a duplicate (this function does not
    dedup; run the dedup operators upstream).

    Parquet appends are not transactional, so the two quantized-layout
    writes cannot be atomic together.  This function therefore brackets
    each append with a DETERMINISTIC batch token (order-insensitive
    digest over ids AND vector content — r12, so a batch with the same
    ids but re-embedded vectors is a NEW batch, not a replay): a
    completed append is a no-op on retry, and a retry that finds the
    INTENT marker without the commit marker fails LOUDLY (partially
    appended files cannot be rolled back safely — rebuild the index or
    remove the partial files by their write timestamps) instead of
    silently double-appending rows, which would duplicate ranks in
    every later probe.  Full markers are pruned behind a trailing
    window (``APPEND_MARKER_KEEP``, r12) with the pruned tokens folded
    into one compact history file, so the root listing stays bounded
    while replay of ANY committed batch — however old — remains a
    no-op.  Batches committed pre-r12 under the legacy id-only token
    format are still recognized as replays (both digests are checked;
    new markers use the content-bearing format).  Concurrent writers
    are ENFORCED-against, not assumed-away (r13): the intent marker is
    created exclusively (a simultaneous appender of the same batch
    fails loudly), and an in-progress :func:`compact_index` (its
    ``_compacting`` marker) blocks appends whose files its snapshot
    would silently drop.  Accreted per-append files are bounded by
    running :func:`compact_index` periodically.  Returns the number of
    rows appended (0 for a replay)."""
    spark = new_vectors.sparkSession
    vec_schema = spark.read.parquet(path + "/vectors").schema
    quantized = "q_codes" in vec_schema.fieldNames()
    tgt_type = (spark.read.parquet(path + "/doubles").schema[vec_col]
                if quantized else vec_schema[vec_col]).dataType
    # align the appended vector type with the index's stored type BEFORE
    # the token digest: a float crawl appended raw to a double index
    # would leave the bucket directory with two parquet element types
    # and break every later scan of it
    new_vectors = new_vectors.withColumn(
        vec_col, F.col(vec_col).cast(tgt_type))
    # evaluated up to three times (token digest + two layout writes):
    # cache the input so an expensive upstream chain runs once
    new_vectors = new_vectors.persist()
    try:
        # order-insensitive digest of the appended (id, vector) rows
        # (32-bit-masked per-row hashes summed — the merge_upsert/
        # bucket-digest pattern; xxhash64 folds the array's elements in,
        # so re-embedded vectors change the token).  The LEGACY (pre-
        # r12) id-only digest is computed alongside: indexes on disk
        # carry markers/history written under that format, and checking
        # only the new token would make a replay of a pre-r12 batch
        # match nothing and silently double-append (advisor finding) —
        # either token matching means replay.  New markers are always
        # written under the content-bearing token.
        tok_row = new_vectors.agg(
            F.sum(F.xxhash64(F.col(id_col), F.col(vec_col))
                  .bitwiseAND(F.lit(0xFFFFFFFF)))
            .alias("h"),
            F.sum(F.xxhash64(F.col(id_col))
                  .bitwiseAND(F.lit(0xFFFFFFFF)))
            .alias("hleg"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        token = f"{int(tok_row.h or 0):x}_{int(tok_row.n)}"
        legacy = f"{int(tok_row.hleg or 0):x}_{int(tok_row.n)}"
        from cloudbrush_spark.sources.corpus import _hfs, fs_write_text
        jvm, _, fs, root = _hfs(spark, path)
        hpath = jvm.org.apache.hadoop.fs.Path
        commit = hpath(root, f"_appended_{token}")
        intent = hpath(root, f"_appending_{token}")
        if fs.exists(hpath(root, "_rebuilding")):
            raise RuntimeError(
                f"append_to_ivf_index: a rebuild of {path} is in "
                "flight or died before completing (_rebuilding marker "
                "present) — the index data may be partial and appends "
                "against it would be lost or duplicated by the next "
                "rebuild.  Wait for the rebuild, or re-run "
                "write_ivf_index to completion.")
        # post-r13 indexes stamp _format >= 2: their marker/history
        # space NEVER held legacy id-only tokens, so the legacy check
        # is skipped outright — a fresh index keeps no legacy-collision
        # surface (advisor finding).  On older indexes a LEGACY match
        # (not a content match) is ambiguous — same ids re-embedded
        # with new vectors digests to the same legacy token — so the
        # suppressed append is made observable with a warning.
        check_legacy = _index_format(spark, path) < 2

        def _legacy_suppressed():
            import warnings
            warnings.warn(
                f"append_to_ivf_index: batch {token} was suppressed by "
                f"a LEGACY id-only marker ({legacy}) under {path}. If "
                "these ids were re-embedded (same ids, new vectors), "
                "the new vectors are NOT in the index — legacy markers "
                "cannot tell the two apart. Rebuild with "
                "write_ivf_index to clear legacy markers and re-append.",
                RuntimeWarning, stacklevel=3)

        if fs.exists(commit):
            return 0
        if check_legacy and fs.exists(hpath(root, f"_appended_{legacy}")):
            _legacy_suppressed()
            return 0
        history, gen = _append_history(spark, path)
        if token in history:
            return 0  # committed long ago; its full marker was pruned
        if check_legacy and legacy in history:
            _legacy_suppressed()
            return 0
        for t in (token,) + ((legacy,) if check_legacy else ()):
            if fs.exists(hpath(root, f"_appending_{t}")):
                raise RuntimeError(
                    f"append_to_ivf_index: found intent marker without "
                    f"commit for batch {t} under {path}.  This marker "
                    "may belong to an append of the same batch that is "
                    "STILL IN FLIGHT — wait for writers to quiesce and "
                    "retry first (a committed batch replays as a "
                    "no-op).  Only if the marker persists with no "
                    "active writer did that append die mid-write; its "
                    "partial files cannot be rolled back safely — then "
                    "rebuild the index (write_ivf_index) or remove the "
                    "partial files, and delete the marker.")
        # exclusive create (r13, enforcing what was previously only
        # documented): two concurrent appenders of the SAME batch both
        # passing the exists-checks above would otherwise both append.
        # create-no-overwrite makes the second one fail loudly here —
        # a distinct error from the died-mid-write case above.
        _exclusive_create(
            fs, intent,
            f"append_to_ivf_index: another appender is writing "
            f"batch {token} under {path} right now (intent "
            "marker appeared between the replay check and the "
            "exclusive create) — concurrent appends to one "
            "index are not supported; retry after it commits "
            "(the retry will then be a no-op replay).")
        # compaction interlock, checked AFTER our intent marker exists
        # (Dekker ordering, r13 review): the compactor creates
        # _compacting first and THEN scans for intents, so whichever
        # order the two racers interleave in, at least one sees the
        # other and backs off — checking before creating the intent
        # would leave a window where an append slips past a compaction
        # snapshot and its files are silently dropped by the swap.
        if fs.exists(hpath(root, "_compacting")):
            fs.delete(intent, False)  # back off: release our claim
            raise RuntimeError(
                f"append_to_ivf_index: a compaction is in progress (or "
                f"died) under {path} — appending now would write files "
                "a concurrent compact_index snapshot does not include "
                "(silently lost on its swap).  Wait for the compaction, "
                "or if it crashed, re-run compact_index(repair=True) "
                "or delete _compacting by hand, then retry.")
        if fs.exists(hpath(root, "_rebuilding")):
            # re-checked AFTER our intent exists (r14 review — same
            # Dekker ordering as the compaction interlock): the
            # top-of-function check races a rebuild that claims its
            # sentinel between our check and our intent create;
            # write_ivf_index checks intents after its sentinel, so
            # whichever claim lands second backs off here or there.
            fs.delete(intent, False)
            raise RuntimeError(
                f"append_to_ivf_index: a rebuild of {path} claimed the "
                "index while this append was starting (_rebuilding "
                "marker) — retry after the rebuild completes.")
        if fs.exists(hpath(root, "deletes")):
            # takedown interplay (r14): appended rows whose ids carry a
            # pending tombstone land in the partitions but stay
            # invisible to probes — make that observable, not silent
            dels = spark.read.parquet(path + "/deletes") \
                .select(F.col(id_col)).distinct()
            # no forced broadcast (r14 review): after a mass takedown
            # the tombstone set can exceed the broadcast limit, and a
            # diagnostic warning must never fail the append — AQE
            # broadcasts the small case by itself
            bad = [r[0] for r in new_vectors
                   .join(dels, id_col, "left_semi")
                   .select(id_col).limit(5).collect()]
            if bad:
                import warnings
                warnings.warn(
                    f"append_to_ivf_index: batch {token} carries ids "
                    f"with PENDING DELETE tombstones under {path} "
                    f"(sample: {bad}) — their rows will append but stay "
                    "invisible to probes until the tombstones are "
                    "lifted (undelete_from_ivf_index); the next "
                    "compact_index purges them.",
                    RuntimeWarning, stacklevel=2)
        cent_rows = spark.read.parquet(path + "/centroids") \
            .orderBy("bucket").collect()
        centroids = [list(r.centroid) for r in cent_rows]
        assigned = new_vectors.withColumn(
            "bucket", _centroid_topn(F.col(vec_col), centroids, 1)[0])
        if quantized:
            assigned = quantize_embeddings(assigned, id_col, vec_col) \
                .select(id_col, "q_scale", "q_codes", "bucket")
            # disjoint id ranges per appended file — same file-skipping
            # contract as the writer's /doubles (see write_ivf_index)
            (new_vectors.select(id_col, vec_col)
             .repartitionByRange(F.col(id_col))
             .sortWithinPartitions(id_col)
             .write.mode("append").parquet(path + "/doubles"))
        (assigned.repartition(max(4, len(centroids)), F.col("bucket"))
         .sortWithinPartitions("bucket", id_col)
         .write.mode("append").partitionBy("bucket")
         .parquet(path + "/vectors"))
        fs.create(commit, True).close()
        fs.delete(intent, False)
        # trailing-window marker prune (the rollup sink's bound, r12):
        # fold tokens older than the newest APPEND_MARKER_KEEP into the
        # next history generation FIRST (a complete new file; older
        # generations dropped after), and only then delete their full
        # markers — a crash between the steps leaves a token in both
        # places, which is harmless (either one makes replay a no-op)
        marks = [(st.getModificationTime(), st.getPath())
                 for st in fs.listStatus(root)
                 if st.getPath().getName().startswith("_appended_")]
        marks.sort(key=lambda t: (t[0], str(t[1].getName())))
        stale = marks[:-APPEND_MARKER_KEEP] if APPEND_MARKER_KEEP else marks
        if stale:
            pruned = history | {
                str(p.getName())[len("_appended_"):] for _, p in stale}
            fs_write_text(spark, f"{path}/_append_history_{gen + 1}",
                          "\n".join(sorted(pruned)) + "\n")
            if gen and fs.exists(jvm.org.apache.hadoop.fs.Path(
                    root, f"_append_history_{gen}")):
                fs.delete(jvm.org.apache.hadoop.fs.Path(
                    root, f"_append_history_{gen}"), False)
            for _, p in stale:
                fs.delete(p, False)
        return int(tok_row.n)
    finally:
        new_vectors.unpersist()


def ivf_quantized_select(spark, path: str, queries: DataFrame,
                         k: int, nprobe: int | None = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         broadcast_queries: bool = True):
    """Selection stage of the composed index probe: build the quantized
    query frame, pick each query's ``nprobe`` buckets, and rank int8
    dot products INSIDE the probed partitions only.  By construction
    this plan scans the codes partitions with a PartitionFilter on the
    probed buckets and a ReadSchema holding no double column — both
    pinned in ``tests/test_plans.py`` (the full probe stage-cuts the
    winner frame, severing this plan from the output's, so the pin
    targets this function).  ``nprobe=None`` (the default) resolves
    through :func:`auto_nprobe` against the index's centroid count.
    Returns ``(q, top)``: the quantized query
    frame and the uncut (query_id, neighbor_id, rank) winners."""
    cent_rows = spark.read.parquet(path + "/centroids") \
        .orderBy("bucket").collect()
    centroids = [list(r.centroid) for r in cent_rows]
    if nprobe is None:
        nprobe = auto_nprobe(len(centroids))
    q = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"), F.col("q_codes").alias("qc"),
        F.sqrt(_qdot(F.col("q_codes"), F.col("q_codes")).cast("double"))
        .alias("qcn"),
        _centroid_topn(F.col(vec_col), centroids, nprobe)
        .alias("probes")) \
        .filter(F.col("qcn") > 0)
    if broadcast_queries:
        # point-lookup shape: the query frame is bounded by assumption
        # (that is what the broadcast flag asserts), and it is consumed
        # by THREE separate executions otherwise — the probed-bucket
        # collect, the scored join's broadcast, and the re-rank join in
        # the caller — each replaying the parquet read + quantize +
        # centroid-rank pipeline (r14; guide §7.2 duplicated subtree).
        # One eager cut makes all three read materialized blocks.  The
        # corpus-batch path (broadcast_queries=False) keeps the lazy
        # frame: materializing a corpus-scale query batch is the bigger
        # cost there and the joins are AQE-planned shuffles anyway.
        q = cut(q)
    qx = q.select("query_id", "qc", "qcn",
                  F.explode("probes").alias("bucket"))
    # nprobe >= n_centroids probes every bucket by construction: skip
    # the probed-union pre-job (a full Spark job over the exploded
    # query set — the release-gate corpus-batch shape pays one wasted
    # stage per run otherwise, r14) and read unfiltered
    probed = (list(range(len(centroids))) if nprobe >= len(centroids)
              else sorted(r[0] for r in
                          qx.select("bucket").distinct().collect()))
    codes = spark.read.parquet(path + "/vectors")
    if len(probed) < len(centroids):
        # see cosine_topk_ivf_indexed: prune only when pruning prunes
        codes = codes.filter(F.col("bucket").isin(probed))
    dels = _pending_deletes(spark, path, id_col)
    if dels is not None:
        codes = codes.join(dels, id_col, "left_anti")
    codes = (codes
             .select(F.col("bucket"), F.col(id_col).alias("neighbor_id"),
                     F.col("q_codes").alias("cc"),
                     F.sqrt(_qdot(F.col("q_codes"), F.col("q_codes"))
                            .cast("double")).alias("ccn"))
             .filter(F.col("ccn") > 0))
    bcast = F.broadcast if broadcast_queries else (lambda d: d)
    scored = (
        codes.join(bcast(qx), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qcos", _qdot(F.col("qc"), F.col("cc")).cast("double")
                    / (F.col("qcn") * F.col("ccn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(),
                                               F.col("neighbor_id"))
    top = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select("query_id", "neighbor_id", "rank"))
    return q, top


def cosine_topk_ivf_quantized(spark, path: str, queries: DataFrame,
                              k: int = 10, nprobe: int | None = None,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              rerank_collect_max: int | None = None,
                              broadcast_queries: bool = True
                              ) -> DataFrame:
    """Top-k against a ``write_ivf_index(quantized=True)`` index — the
    COMPOSITION of the two persisted ANN levers (r11).
    ``broadcast_queries``: as in :func:`cosine_topk_ivf_indexed` — pass
    ``False`` for corpus-scale query batches so the query-side joins
    stay AQE-planned instead of force-broadcast.

    Per query batch: (1) centroids load driver-side (bounded); each
    query picks its ``nprobe`` nearest buckets, and the probed union
    becomes a literal PartitionFilter on the index scan — unprobed
    directories are never listed or decoded; (2) the selection inside
    the probed partitions runs on int8 codes only (integer dot
    products; the scan's ReadSchema carries no double column — both
    properties pinned on the SAME scan in ``tests/test_plans.py``), so
    the probe reads nprobe/n_centroids of the directories at ~1/8 of
    the bytes each; (3) the ≤ queries×k winners re-rank against the
    id-sorted ``<path>/doubles`` side table via an In() pushdown
    (row-group pruning; distributed broadcast-join fallback past
    ``rerank_collect_max``), so the reported cosine is the exact double
    cosine.  Recall loses only what IVF probing and int8 selection each
    lose (measured vs brute force in ``tests/test_similarity.py``).
    The probed FRACTION is nprobe/n_centroids, so at a fixed nprobe
    recall falls as the index's centroid count grows — the default
    ``nprobe=None`` therefore resolves through :func:`auto_nprobe`
    (sqrt-K, r13) against the index's actual centroid count, so the
    sqrt-n auto-sized index keeps its recall as K scales (pinned at
    ≥1024 centroids).  Output: (query_id, neighbor_id, rank, cosine)."""
    q, top = ivf_quantized_select(spark, path, queries, k, nprobe,
                                  id_col, vec_col, broadcast_queries)
    if rerank_collect_max is None:
        rerank_collect_max = RERANK_COLLECT_MAX
    ids = None
    if broadcast_queries:
        # point-lookup shape: the winner frame is bounded by queries×k,
        # so ONE collect yields both the re-rank id list and a local
        # frame to broadcast — two fewer Spark jobs than the
        # stage-cut + id-collect path (which exists for corpus-scale
        # batches where collecting the winners would not be bounded)
        rows = top.limit(rerank_collect_max + 1).collect()
        if len(rows) <= rerank_collect_max:
            top = spark.createDataFrame(rows, top.schema)
            ids = sorted({r.neighbor_id for r in rows})
    if ids is None:
        # Stage-cut: the winner frame is consumed twice
        # (id collect + join).
        top = cut(top)
        ids = [r[0] for r in
               top.select("neighbor_id").distinct()
               .limit(rerank_collect_max + 1).collect()]
    nbr = spark.read.parquet(path + "/doubles")
    if len(ids) <= rerank_collect_max:
        nbr = nbr.filter(F.col(id_col).isin(ids))
    nbr = nbr.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("cv"),
                     _norm(F.col(vec_col)).alias("cn"))
    bcast = F.broadcast if broadcast_queries else (lambda d: d)
    return (
        nbr.join(bcast(top), "neighbor_id")
        .join(bcast(q.select("query_id", "qv", "qn")), "query_id")
        .select("query_id", "neighbor_id", "rank",
                (_dot(F.col("qv"), F.col("cv"))
                 / (F.col("qn") * F.col("cn"))).alias("cosine"))
    )


def index_stats(spark, path: str) -> dict:
    """Operational snapshot of a persisted IVF index — the measurement
    behind the maintenance guidance this module hands out ("split fat
    buckets when bucket_skew climbs", "compact after ~
    APPEND_MARKER_KEEP appends", "rebuild when the whole histogram
    degrades"):

    - ``n_centroids`` / ``buckets_used`` / ``rows``: declared vs
      actually-populated buckets and total indexed rows (a widening gap
      means the frozen centroids no longer cover the data's support).
    - ``bucket_rows_{min,p50,p90,p99,max}`` and ``bucket_skew`` (max /
      median): the histogram itself.  Skew drifting up release over
      release is the frozen-centroid decay signal — probes pay for the
      fattest probed bucket, and k-means-fresh indexes sit near ~1-4.
      The remedy is :func:`split_fat_buckets` (r14), which re-clusters
      only the skewed buckets in place.
    - ``data_files`` / ``files_per_bucket``: the append-accretion
      signal; compact (:func:`compact_index`) when files_per_bucket
      creeps past a handful.
    - ``quantized``, ``append_markers``, ``history_batches``,
      ``in_flight_intents``, ``compacting``: layout + marker state (a
      non-empty intent list or a ``compacting`` flag on a quiet index
      means a writer died — see the appender/compactor recovery docs).

    Everything is bounded work: one groupBy over the index keyed by
    bucket (aggregated column-pruned scan), one centroid count, and
    root-directory listings."""
    from cloudbrush_spark.sources.corpus import _hfs
    jvm, _, fs, root = _hfs(spark, path)
    vec = spark.read.parquet(path + "/vectors")
    sizes = vec.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("used"), F.sum("n").alias("rows"),
        F.min("n").alias("mn"), F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.9)").alias("p90"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        F.max("n").alias("mx")).collect()[0]
    n_cent = spark.read.parquet(path + "/centroids").count()
    files = _count_data_files(
        fs, jvm.org.apache.hadoop.fs.Path(root, "vectors"))
    markers = [st.getPath().getName() for st in fs.listStatus(root)]
    history, _ = _append_history(spark, path)
    used = int(row.used or 0)
    return {
        "n_centroids": int(n_cent),
        "buckets_used": used,
        "rows": int(row.rows or 0),
        "bucket_rows_min": int(row.mn or 0),
        "bucket_rows_p50": float(row.p50 or 0),
        "bucket_rows_p90": float(row.p90 or 0),
        "bucket_rows_p99": float(row.p99 or 0),
        "bucket_rows_max": int(row.mx or 0),
        "bucket_skew": (float(row.mx) / float(row.p50)
                        if row.p50 else 0.0),
        "data_files": files,
        "files_per_bucket": round(files / used, 2) if used else 0.0,
        "quantized": "q_codes" in vec.columns,
        "append_markers": sum(1 for n in markers
                              if n.startswith("_appended_")),
        "history_batches": len(history),
        "in_flight_intents": [n for n in markers
                              if n.startswith("_appending_")],
        "compacting": "_compacting" in markers,
        # pending takedowns (r14): distinct tombstoned ids awaiting the
        # next compaction's physical purge — probes already exclude them
        "pending_deletes": (
            spark.read.parquet(path + "/deletes")
            .select(_infer_index_id_col(vec.schema.fields))
            .distinct().count()
            if "deletes" in markers else 0),
    }


# schemes whose create(overwrite=False) is server-side atomic: the
# HDFS namenode family.  Everything else (minus file://, which gets the
# kernel O_EXCL path) warns that exclusion degrades to best-effort.
_ATOMIC_CREATE_SCHEMES = frozenset({"hdfs", "webhdfs", "viewfs", "ofs"})


def _pending_deletes(spark, path: str, id_col: str):
    """The index's pending tombstone frame (single ``id_col`` column),
    or None when no deletes are pending.  One FS existence check per
    probe — the price of takedown support on the read path."""
    from cloudbrush_spark.sources.corpus import _hfs
    jvm, _, fs, root = _hfs(spark, path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(root, "deletes")):
        return None
    return (spark.read.parquet(path + "/deletes")
            .select(F.col(id_col)).distinct())


def _normalize_delete_ids(spark, path: str, ids, id_col: str | None):
    """Resolve (ids frame, id_col) for the tombstone ops: infer the id
    column from the index layout when not given, accept a DataFrame or
    a plain list/iterable, and cast to the index's stored id type so
    the anti-joins compare like with like."""
    schema = spark.read.parquet(path + "/vectors").schema
    if id_col is None:
        id_col = _infer_index_id_col(schema.fields)
    id_type = schema[id_col].dataType
    if isinstance(ids, DataFrame):
        if id_col in ids.columns:
            df = ids.select(F.col(id_col))
        elif len(ids.columns) == 1:
            df = ids.select(F.col(ids.columns[0]).alias(id_col))
        else:
            raise ValueError(
                f"delete/undelete ids frame must carry the index id "
                f"column '{id_col}' (or be single-column); got "
                f"{ids.columns}")
    else:
        df = spark.createDataFrame([(i,) for i in ids], f"`{id_col}` string") \
            if id_type.simpleString() == "string" else \
            spark.createDataFrame([(int(i),) for i in ids],
                                  f"`{id_col}` long")
    return df.select(F.col(id_col).cast(id_type)).distinct(), id_col


def delete_from_ivf_index(spark, path: str, ids,
                          id_col: str | None = None) -> int:
    """Tombstone rows of a persisted IVF index — the takedown /
    right-to-be-forgotten lever.  At 100 TB a physical delete means
    rewriting bucket partitions per request; instead tombstones ACCRETE
    (``<path>/deletes`` parquet, append-only) and take effect
    immediately: every probe path anti-joins them (AQE broadcasts the
    typically-tiny delete side), so a deleted id never appears in
    results even though its rows still sit in the partitions.  The next
    :func:`compact_index` — already the periodic maintenance pass —
    PURGES tombstoned rows physically from ``/vectors`` (and
    ``/doubles``) and clears the tombstones, so delete cost rides the
    existing compaction cadence instead of triggering rewrites.

    Semantics: a tombstone suppresses the id until it is purged or
    explicitly lifted (:func:`undelete_from_ivf_index`) — including
    rows APPENDED AFTER the delete (the appender warns when a batch
    carries tombstoned ids).  After a purging compaction, note the
    batch-token replay contract: re-ingesting the exact original batch
    is still a no-op (its token is committed history); real pipelines
    re-ingest the next crawl's version of the document, whose changed
    content digests to a fresh token.  Tombstones relocate with their
    rows through :func:`split_fat_buckets` / :func:`merge_small_buckets`
    (id-based, layout-independent — pinned).

    Takedown scope — what a tombstone does NOT do: it removes the id
    from PROBE RESULTS, which also removes it from the cross-release
    dedup gate's reach — a future crawl carrying the same content will
    no longer be deduplicated against it and can re-enter the corpus.
    For right-to-be-forgotten takedowns where the CONTENT must stay
    out, additionally feed the removed documents to the curation
    pipeline as a block set — ``pipeline/curation.curate(benchmark=
    removed_docs)`` (13-gram overlap decontamination) or
    ``curate(reference_docs=removed_docs)`` (exact + near-dup
    cross-corpus gate) — which blocks re-ingestion by content rather
    than by id.

    Concurrency: takes the same exclusive ``_compacting`` marker as the
    structural ops for the duration of the tombstone write — a delete
    landing between a compaction's snapshot and its swap would
    otherwise be silently dropped with the rows it suppressed
    resurrected.  A crashed delete leaves the marker and possibly a
    partial (harmlessly idempotent) tombstone file: clear the marker
    (``compact_index(repair=True)`` does, and then purges whatever
    landed) and re-run the delete.

    Returns the number of distinct ids tombstoned in this call."""
    dels, id_col = _normalize_delete_ids(spark, path, ids, id_col)
    from cloudbrush_spark.sources.corpus import _hfs
    jvm, _, fs, root = _hfs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    _exclusive_create(
        fs, hpath(root, "_compacting"),
        f"delete_from_ivf_index: a structural rewrite (compaction, "
        f"split or merge) or another delete is in progress (or died) "
        f"under {path} — retry after it finishes; if it crashed, run "
        "its repair first.")
    try:
        n = dels.count()
        (dels.coalesce(1).write.mode("append")
         .parquet(path + "/deletes"))
    finally:
        fs.delete(hpath(root, "_compacting"), False)
    return int(n)


def undelete_from_ivf_index(spark, path: str, ids,
                            id_col: str | None = None) -> int:
    """Lift pending tombstones (see :func:`delete_from_ivf_index`):
    ids whose rows have not yet been purged by a compaction become
    visible to probes again — including rows that were appended while
    the tombstone stood.  Ids already purged (or never tombstoned) are
    a no-op; returns the number of tombstones actually lifted.

    The rewrite of the (bounded, tombstone-sized) ``/deletes`` table
    swaps in with the compactor's two-rename protocol; a crash mid-swap
    is finished or rolled back by ``compact_index(repair=True)``."""
    lift, id_col = _normalize_delete_ids(spark, path, ids, id_col)
    from cloudbrush_spark.sources.corpus import _hfs
    jvm, _, fs, root = _hfs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    _exclusive_create(
        fs, hpath(root, "_compacting"),
        f"undelete_from_ivf_index: a structural rewrite or delete is "
        f"in progress (or died) under {path} — retry after it "
        "finishes; if it crashed, run its repair first.")
    try:
        if not fs.exists(hpath(root, "deletes")):
            return 0
        cur = spark.read.parquet(path + "/deletes") \
            .select(F.col(id_col)).distinct()
        # no forced broadcast: the lift set is caller-sized (a mass
        # undelete can be arbitrarily large); AQE picks the strategy
        kept = cur.join(lift, id_col, "left_anti")
        n_before = cur.count()
        n_kept = kept.count()
        if n_kept == n_before:
            return 0
        if n_kept == 0:
            fs.delete(hpath(root, "deletes"), True)
        else:
            (kept.coalesce(1).write.mode("overwrite")
             .parquet(path + "/deletes_compact_tmp"))
            _swap_compacted(fs, hpath, root, "deletes")
        return int(n_before - n_kept)
    finally:
        fs.delete(hpath(root, "_compacting"), False)


def _exclusive_create(fs, marker, already_exists_msg: str) -> None:
    """Create a zero-byte marker with create-no-overwrite — the
    mutual-exclusion primitive both the appender and the compactor
    build on.  A lost race raises ``already_exists_msg`` as a
    RuntimeError, distinct from any prior exists-check's error.

    Atomicity is filesystem-dependent and handled per scheme: on
    ``file://`` paths Hadoop's RawLocalFileSystem implements
    create(overwrite=False) as a client-side exists-check + create
    (NOT atomic), so local paths go through ``os.open(O_CREAT|O_EXCL)``
    — a true kernel-atomic exclusive create.  On HDFS the namenode
    makes ``fs.create(overwrite=False)`` atomic.  On object stores
    without atomic create-no-overwrite (plain S3A), this degrades to
    best-effort exclusion — the documented residual window; deploys
    needing hard exclusion there should front the index with a
    consistent store (HDFS, S3 Express/conditional-write connector) or
    an external lock."""
    uri = marker.toUri()
    scheme = uri.getScheme() or "file"
    if scheme == "file":
        import os
        try:
            os.close(os.open(uri.getPath(),
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
        except FileExistsError as e:
            raise RuntimeError(already_exists_msg) from e
        return
    if scheme not in _ATOMIC_CREATE_SCHEMES:
        # r14 (verdict #7): name the residual race out loud instead of
        # only in the docstring — a docstring never fires in production
        import warnings
        warnings.warn(
            f"_exclusive_create on scheme '{scheme}': "
            "create(overwrite=False) is not atomic here (exists-check "
            "+ create), so two writers racing within the check window "
            "can BOTH proceed — exclusion is best-effort. For hard "
            "exclusion, host the index on HDFS, use an S3 "
            "conditional-write connector, or front appends/compactions "
            "with an external lock.",
            RuntimeWarning, stacklevel=3)
    try:
        fs.create(marker, False).close()
    except Exception as e:
        if "exist" in str(e).lower():
            raise RuntimeError(already_exists_msg) from e
        raise


def _count_data_files(fs, dirpath) -> int:
    """Recursive count of DATA files under a directory (hidden/marker
    files — ``_SUCCESS``, ``.crc`` — excluded), via the Hadoop FS API so
    an index on HDFS/S3 counts the same way a local one does."""
    n = 0
    it = fs.listFiles(dirpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n += 1
    return n


def _infer_index_id_col(fields) -> str:
    """The index's id column from a ``/vectors`` schema: the single
    non-partition, non-code, non-vector (non-array) column.  Raises
    with the actual columns when the layout is unrecognizable rather
    than guessing (the CLI shares this contract)."""
    from pyspark.sql.types import ArrayType
    cand = [f.name for f in fields
            if f.name not in ("bucket", "q_scale", "q_codes")
            and not isinstance(f.dataType, ArrayType)]
    if len(cand) != 1:
        raise ValueError(
            "cannot resolve the index id column: expected exactly one "
            "non-array column besides bucket/q_scale/q_codes, found "
            f"{cand or 'none'} in {[f.name for f in fields]}")
    return cand[0]


def _swap_compacted(fs, hpath, root, name: str) -> None:
    """Swap ``<name>_compact_tmp`` into place as ``<name>``: rename the
    live dir aside, rename tmp in, delete the old copy.  The two
    renames cannot be atomic together; :func:`compact_index`'s repair
    path (``repair=True``) finishes any crash window (live missing +
    complete tmp → rename in; stray old → delete)."""
    live, tmp = hpath(root, name), hpath(root, name + "_compact_tmp")
    old = hpath(root, name + "_compact_old")
    if not fs.rename(live, old):
        raise RuntimeError(
            f"compact_index: rename {name} -> {name}_compact_old "
            f"failed — if a stray {name}_compact_old remains from an "
            "earlier failed cleanup, re-run with repair=True to clear "
            "it first")
    if not fs.rename(tmp, live):
        raise RuntimeError(f"compact_index: rename {name}_compact_tmp "
                           f"-> {name} failed ({name}_compact_old holds "
                           "the pre-compaction data)")
    fs.delete(old, True)


def _repair_compaction(fs, hpath, root, name: str) -> None:
    """Finish or roll back one table's interrupted swap (see
    ``_swap_compacted`` for the crash windows)."""
    live, tmp = hpath(root, name), hpath(root, name + "_compact_tmp")
    old = hpath(root, name + "_compact_old")
    if not fs.exists(live):
        if fs.exists(tmp) and fs.exists(hpath(
                root, name + "_compact_tmp/_SUCCESS")):
            if not fs.rename(tmp, live):
                raise RuntimeError(
                    f"compact_index repair: rename {name}_compact_tmp "
                    f"-> {name} failed")
        elif fs.exists(old):
            if not fs.rename(old, live):
                raise RuntimeError(
                    f"compact_index repair: rename {name}_compact_old "
                    f"-> {name} failed")
        else:
            raise RuntimeError(
                f"compact_index repair: {name} is missing and no "
                "complete _compact_tmp or _compact_old copy exists "
                "under the index root — the index is unrecoverable "
                "from compaction state alone; rebuild it")
    # live exists: any leftover tmp is incomplete-or-unswapped (a fresh
    # compaction rewrites it) and any leftover old is a swapped-out copy
    for stray in (tmp, old):
        if fs.exists(stray):
            fs.delete(stray, True)


def compact_index(spark, path: str, files: int = 16,
                  repair: bool = False) -> int:
    """Compact an appended IVF index's accreted per-append files —
    ``<path>/vectors`` back to ~one file per bucket directory and (on
    the quantized layout) ``<path>/doubles`` back to ``files``
    range-partitioned id-sorted files — without touching the append
    markers, so every committed batch token keeps its replay-is-a-no-op
    contract and probe results are byte-identical (both pinned in
    ``tests/test_similarity.py``).

    This is the index analogue of the corpus sink's
    :func:`cloudbrush_spark.sources.corpus.compact_batches`, and it
    exists for the same operational cliff: each
    :func:`append_to_ivf_index` adds up to one parquet file per bucket
    per batch, so a crawl-per-day index at 30k buckets accretes ~10M
    files/year and fixed per-file open/footer overhead comes to
    dominate the probe (measured in
    ``probes/ivfq_bytes_x10_1024c.json``).  Run it periodically —
    after every ~``APPEND_MARKER_KEEP`` appends is a reasonable cadence.

    Safety protocol: an exclusive ``_compacting`` marker is taken first
    (concurrent compactors fail loudly; :func:`append_to_ivf_index`
    refuses to run while it exists — an append racing the snapshot
    would land files the swap silently drops), in-flight
    ``_appending_*`` intents abort the compaction, and each table is
    rewritten to a ``*_compact_tmp`` directory and swapped in with two
    renames — a crash at any point leaves either the live or the
    swapped-aside copy intact, and re-running with ``repair=True``
    finishes the swap (or rolls it back), clears the marker, and
    re-compacts.  The rewrite preserves the writer's layout contracts:
    vectors hash-partitioned on bucket and sorted (bucket, id) within
    files; doubles range-partitioned and sorted on id so the winner
    re-rank's In() pushdown keeps skipping whole files.

    Returns the number of data files BEFORE compaction (the post count
    is ~n_buckets + ``files``)."""
    from cloudbrush_spark.sources.corpus import _hfs
    jvm, _, fs, root = _hfs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path

    def _hp(name):
        return hpath(root, name)

    marker = _hp("_compacting")
    if repair:
        # the _compacting marker is shared by three structural ops;
        # refuse to "repair" another op's crash state — each leaves
        # distinct artifacts and needs its own direction-aware repair
        for st in fs.listStatus(root):
            n = st.getPath().getName()
            if n == "_merge_plan" or n.startswith(
                    ("vectors_split_old_", "vectors_split_tmp_",
                     "vectors_merge_tmp")):
                raise RuntimeError(
                    f"compact_index repair: {n} under {path} belongs to "
                    "a crashed split/merge, not a compaction — run "
                    "split_fat_buckets(repair=True) or "
                    "merge_small_buckets(repair=True) instead.")
        # /vectors must exist in any recoverable index, so repair it
        # UNCONDITIONALLY: on a root where /vectors and all its
        # tmp/old copies are gone this raises the clear 'rebuild it'
        # error instead of re-taking _compacting, failing the read,
        # and wedging every retry on the leftover marker (r13 advisor
        # finding).  /doubles keeps the any-exists guard — the plain
        # layout legitimately has none.
        _repair_compaction(fs, hpath, root, "vectors")
        if any(fs.exists(_hp("doubles" + sfx)) for sfx in
               ("", "_compact_tmp", "_compact_old")):
            _repair_compaction(fs, hpath, root, "doubles")
        # a crashed undelete_from_ivf_index mid-swap leaves the
        # tombstone table's tmp/old pair; tmp-or-old-only guard — a
        # bare live /deletes needs no repair
        if any(fs.exists(_hp("deletes" + sfx)) for sfx in
               ("_compact_tmp", "_compact_old")):
            _repair_compaction(fs, hpath, root, "deletes")
        fs.delete(marker, False)
    _exclusive_create(
        fs, marker,
        f"compact_index: a compaction is already in progress "
        f"(or died) under {path} — if the previous run crashed, "
        "re-run with repair=True to finish/roll back its swap "
        "and retry.")
    try:
        if fs.exists(_hp("_rebuilding")):
            # r14 review: the one structural op that skipped this check
            # — compacting a half-rebuilt index would bless partial
            # /vectors against a stale centroid table AND destroy the
            # purge-pending tombstones
            raise RuntimeError(
                f"compact_index: a rebuild of {path} is in flight or "
                "died before completing (_rebuilding marker) — re-run "
                "write_ivf_index to completion first.")
        for st in fs.listStatus(root):
            if st.getPath().getName().startswith("_appending_"):
                raise RuntimeError(
                    f"compact_index: in-flight append intent "
                    f"{st.getPath().getName()} under {path} — wait for "
                    "it to commit (or resolve it per the appender's "
                    "died-mid-write protocol) before compacting.")
        schema = spark.read.parquet(path + "/vectors").schema
        id_col = _infer_index_id_col(schema.fields)
        n_buckets = spark.read.parquet(path + "/centroids").count()
        before = _count_data_files(fs, _hp("vectors"))
        # pending tombstones purge physically here (r14): the compaction
        # rewrite is the one pass that already touches every row, so
        # deletes ride the existing maintenance cadence for free.  The
        # _compacting marker serializes deletes against this snapshot —
        # no tombstone can land between the read and the clear below.
        dels = None
        if fs.exists(_hp("deletes")):
            dels = spark.read.parquet(path + "/deletes") \
                .select(F.col(id_col)).distinct()
        vec = spark.read.parquet(path + "/vectors")
        if dels is not None:
            vec = vec.join(dels, id_col, "left_anti")
        (vec.repartition(max(4, int(n_buckets)), F.col("bucket"))
         .sortWithinPartitions("bucket", id_col)
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(path + "/vectors_compact_tmp"))
        has_doubles = fs.exists(_hp("doubles"))
        if has_doubles:
            before += _count_data_files(fs, _hp("doubles"))
            dbl = spark.read.parquet(path + "/doubles")
            if dels is not None:
                dbl = dbl.join(dels, id_col, "left_anti")
            (dbl.repartitionByRange(max(1, files), F.col(id_col))
             .sortWithinPartitions(id_col)
             .write.mode("overwrite")
             .parquet(path + "/doubles_compact_tmp"))
        _swap_compacted(fs, hpath, root, "vectors")
        if has_doubles:
            _swap_compacted(fs, hpath, root, "doubles")
        if dels is not None:
            # purge complete: clear the tombstones (a crash between the
            # swaps and this delete is harmless — the next compaction
            # anti-joins already-absent ids and clears again)
            fs.delete(_hp("deletes"), True)
    except Exception:
        # leave the marker only if a swap actually started (live state
        # possibly inconsistent → repair=True required); a failure
        # before any swap just cleans its tmp dirs and releases the
        # marker.  A table is mid-swap iff its live dir is missing —
        # for doubles that only counts when a swapped-aside copy
        # proves the table existed (the plain layout has no /doubles).
        mid_swap = (not fs.exists(_hp("vectors"))
                    or (fs.exists(_hp("doubles_compact_old"))
                        and not fs.exists(_hp("doubles"))))
        if mid_swap:
            raise
        for name in ("vectors", "doubles"):
            fs.delete(_hp(name + "_compact_tmp"), True)
            # a swapped-out copy whose final delete threw (transient FS
            # error after both renames succeeded) is also safe to clear
            # here — live exists, so the old copy is superseded; leaving
            # it would wedge the next compaction's rename-aside
            fs.delete(_hp(name + "_compact_old"), True)
        fs.delete(marker, False)
        raise
    fs.delete(marker, False)
    return before


def _repair_split(spark, fs, hpath, root, path: str) -> None:
    """Finish or roll back an interrupted :func:`split_fat_buckets`.

    The split's commit point is the centroid-table swap (bucket-dir
    swaps all happen strictly BEFORE it starts), so the crash state is
    decided by the centroid table alone:

    - live ``/centroids`` missing → the crash was INSIDE the centroid
      swap; every bucket swap had completed, so finishing the swap
      (``_repair_compaction``) completes the split (or rolls it back to
      the old copy if the tmp never landed — bucket dirs then get
      rolled back below).
    - ``centroids_compact_tmp`` present with live intact → the swap
      never started: ROLL BACK — restore swapped-aside bucket dirs,
      drop bucket dirs whose ids are beyond the live centroid count
      (sub-buckets already moved in), drop tmp dirs.
    - otherwise → the split committed (or none was in flight): ROLL
      FORWARD — drop aside/tmp leftovers.
    """

    def _hp(name):
        return hpath(root, name)

    if fs.exists(_hp("_merge_plan")):
        raise RuntimeError(
            f"split repair: _merge_plan under {path} belongs to a "
            "crashed merge, not a split — run "
            "merge_small_buckets(repair=True) instead.")
    if not fs.exists(_hp("centroids")):
        _repair_compaction(fs, hpath, root, "centroids")
    roll_back = fs.exists(_hp("centroids_compact_tmp")) \
        and fs.exists(_hp("centroids"))
    asides = [st.getPath() for st in fs.listStatus(root)
              if st.getPath().getName().startswith("vectors_split_old_")]
    tmps = [st.getPath() for st in fs.listStatus(root)
            if st.getPath().getName().startswith("vectors_split_tmp_")]
    if roll_back:
        k_live = spark.read.parquet(path + "/centroids").count()
        for aside in asides:
            b = aside.getName()[len("vectors_split_old_"):]
            live = _hp(f"vectors/bucket={b}")
            if fs.exists(live):
                fs.delete(live, True)
            if not fs.rename(aside, live):
                raise RuntimeError(
                    f"split repair: restoring bucket {b} failed")
        if fs.exists(_hp("vectors")):
            for st in fs.listStatus(_hp("vectors")):
                name = st.getPath().getName()
                if name.startswith("bucket="):
                    try:
                        gid = int(name[len("bucket="):])
                    except ValueError:
                        continue
                    if gid >= k_live:
                        fs.delete(st.getPath(), True)
        fs.delete(_hp("centroids_compact_tmp"), True)
    else:
        for aside in asides:
            fs.delete(aside, True)
        _repair_compaction(fs, hpath, root, "centroids")
    for tmp in tmps:
        fs.delete(tmp, True)
    fs.delete(_hp("_compacting"), False)


def split_fat_buckets(spark, path: str, skew_threshold: float = 4.0,
                      max_split: int = 64, seed: int = 42,
                      repair: bool = False) -> dict:
    """Incrementally re-cluster an IVF index's over-skewed buckets IN
    PLACE — the remedy for the frozen-centroid drift that
    :func:`index_stats` measures (``bucket_skew``) and that, until r14,
    only a full :func:`write_ivf_index` rebuild could fix.

    Appends assign new vectors to FROZEN centroids, so a crawl whose
    distribution drifts piles rows into a few buckets; probes pay for
    the fattest probed bucket, and recall decays because one centroid
    covers what should be many lists.  A full rebuild rewrites the
    world (re-train + re-write every row — untenable per-crawl at
    100 TB); this operator instead rewrites ONLY the fat buckets:

    1. one column-pruned groupBy gives per-bucket counts (bounded by
       n_centroids rows); buckets with ``rows > skew_threshold *
       median`` are fat;
    2. each fat bucket's rows are re-clustered with k-means INTO
       ``clamp(round(rows / max(median, sqrt(corpus))), 2, max_split)``
       sub-buckets — targeting the IVF-optimal ``sqrt(n)`` rows per
       list so the post-split centroid count stays near the sqrt-n
       rule and ``auto_nprobe``'s probed fraction (hence recall) is
       preserved (trained on the bucket's own vectors; on the
       quantized layout the int8 codes are dequantized for
       training/assignment — error bounded by ``q_scale/2`` per
       component, far below centroid granularity);
    3. the bucket's directory is rewritten: sub-bucket 0 keeps the old
       bucket id (its centroid row is UPDATED), the rest append as NEW
       bucket ids/centroid rows — ``auto_nprobe`` then scales with the
       grown centroid count automatically.

    Everything else — unsplit bucket dirs, ``/doubles``, every append
    marker and the token history — is untouched, so committed batches
    keep their replay-is-a-no-op contract and the re-rank contracts hold
    unchanged (all pinned in ``tests/test_similarity.py``).

    Concurrency/crash protocol: takes the same exclusive ``_compacting``
    marker as :func:`compact_index` (appenders and compactors already
    refuse on it — one structural rewrite at a time), refuses on
    in-flight append intents and ``_rebuilding``.  New data lands in
    ``vectors_split_tmp_<b>`` dirs; bucket dirs swap via rename with the
    old copy kept aside; the centroid-table swap is the COMMIT POINT
    (readers before it see old centroids + old bucket contents probed
    consistently; after it, the split layout).  ``repair=True`` finishes
    or rolls back a crashed run (see :func:`_repair_split`).

    Mass-duplicate buckets (one vector repeated) cannot be split by
    k-means — sub-centroids collapse and rows stay in sub-bucket 0;
    such a bucket is detected (no rows moved) and left as-is with no
    new centroid ids allocated (exact-dedup upstream is the real fix,
    as the appender docs note).  For buckets that DO split, every
    sub-centroid row is kept even if its list came out empty: probes
    resolve buckets positionally, so centroid ids must stay contiguous.

    Returns a summary dict: buckets split, centroid counts before and
    after, and the skew before/after (recomputed from the same groupBy).
    """
    import statistics

    from cloudbrush_spark.sources.corpus import _hfs
    jvm, _, fs, root = _hfs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path

    def _hp(name):
        return hpath(root, name)

    if repair:
        _repair_split(spark, fs, hpath, root, path)
    _exclusive_create(
        fs, _hp("_compacting"),
        f"split_fat_buckets: another structural rewrite (split or "
        f"compaction) is in progress (or died) under {path} — if the "
        "previous run crashed, re-run with repair=True.")
    try:
        if fs.exists(_hp("_rebuilding")):
            raise RuntimeError(
                f"split_fat_buckets: a rebuild of {path} is in flight "
                "or died before completing (_rebuilding marker) — "
                "re-run write_ivf_index to completion first.")
        for st in fs.listStatus(root):
            if st.getPath().getName().startswith("_appending_"):
                raise RuntimeError(
                    f"split_fat_buckets: in-flight append intent "
                    f"{st.getPath().getName()} under {path} — wait for "
                    "it to commit before splitting.")
        schema = spark.read.parquet(path + "/vectors").schema
        id_col = _infer_index_id_col(schema.fields)
        quantized = "q_codes" in schema.fieldNames()
        # plain layout stores the double vectors in /vectors; the
        # quantized layout has no vector column there (codes only)
        vec_col = None if quantized else next(
            f.name for f in schema.fields
            if f.name not in ("bucket", id_col))
        counts = {r.bucket: r.n for r in
                  spark.read.parquet(path + "/vectors")
                  .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        cent_rows = spark.read.parquet(path + "/centroids") \
            .orderBy("bucket").collect()
        centroids = {r.bucket: list(r.centroid) for r in cent_rows}
        k_before = len(centroids)
        p50 = statistics.median(counts.values()) if counts else 0
        skew_before = (max(counts.values()) / p50) if p50 else 0.0
        fat = sorted(b for b, n in counts.items()
                     if p50 and n > skew_threshold * p50 and n >= 8)
        summary = {
            "split_buckets": [], "n_centroids_before": k_before,
            "n_centroids_after": k_before,
            "bucket_skew_before": round(skew_before, 2),
            "bucket_skew_after": round(skew_before, 2),
        }
        if not fat:
            fs.delete(_hp("_compacting"), False)
            return summary
        next_gid = max(centroids) + 1
        gids_of = {}
        for b in fat:
            part = spark.read.parquet(path + "/vectors") \
                .filter(F.col("bucket") == b)
            if quantized:
                dv = F.transform(
                    "q_codes",
                    lambda c: c.cast("double") * F.col("q_scale"))
                train = part.withColumn("__dv", dv)
                tcol = "__dv"
            else:
                train, tcol = part, vec_col
            # sub-bucket count targets the IVF-optimal sqrt(corpus)
            # rows per list, NOT the median bucket size: after heavy
            # drift the median is far below sqrt(n), and splitting to
            # it overshoots the sqrt-n centroid rule — auto_nprobe's
            # probed FRACTION (nprobe/K ~ 1/sqrt(K)) then shrinks and
            # recall drops (measured at the x100 drift fixture: the
            # median target gave K=1357 and recall 0.73; the sqrt
            # target K=640 and recall 0.833 at the same skew repair —
            # probes/split_skew_x100.json)
            target = max(p50, math.sqrt(sum(counts.values())))
            k_b = max(2, min(max_split, round(counts[b] / target)))
            subc = ivf_centroids(train, k_b,
                                 sample=min(4096, counts[b]),
                                 seed=seed + b, vec_col=tcol)
            gids = [b] + list(range(next_gid, next_gid + len(subc) - 1))
            sub_idx = _centroid_topn(F.col(tcol), subc, 1)[0]
            gid_arr = F.array(*[F.lit(g) for g in gids])
            assigned = (train
                        .withColumn("bucket",
                                    F.element_at(gid_arr, sub_idx + 1))
                        .select(*[f.name for f in schema.fields]))
            (assigned.repartition(len(gids), F.col("bucket"))
             .sortWithinPartitions("bucket", id_col)
             .write.mode("overwrite").partitionBy("bucket")
             .parquet(path + f"/vectors_split_tmp_{b}"))
            # k-means on near-identical mass can leave sub-buckets
            # empty (no dir written).  If everything stayed in
            # sub-bucket 0 the bucket is unsplittable (mass-duplicate)
            # — leave it as-is and allocate NO new ids.  Otherwise keep
            # EVERY sub-centroid row, empty or not: probes resolve
            # buckets POSITIONALLY (centroid-list index == bucket id),
            # so centroid ids must stay contiguous — an empty probed
            # list costs nothing.
            live_gids = [g for g in gids if fs.exists(
                _hp(f"vectors_split_tmp_{b}/bucket={g}"))]
            if live_gids == [b] or len(live_gids) < 2:
                fs.delete(_hp(f"vectors_split_tmp_{b}"), True)
                continue
            for j, g in enumerate(gids):
                centroids[g] = subc[j]
            next_gid += len(subc) - 1
            gids_of[b] = gids
            summary["split_buckets"].append(
                {"bucket": b, "rows": counts[b],
                 "sub_buckets": len(live_gids)})
        if not gids_of:
            fs.delete(_hp("_compacting"), False)
            return summary
        cdf = spark.createDataFrame(
            sorted((b, c) for b, c in centroids.items()),
            "bucket int, centroid array<double>")
        (cdf.coalesce(1).write.mode("overwrite")
         .parquet(path + "/centroids_compact_tmp"))
        # ---- swap phase: bucket dirs first, centroid table (the
        # commit point) last ----
        for b, gids in gids_of.items():
            aside = _hp(f"vectors_split_old_{b}")
            if not fs.rename(_hp(f"vectors/bucket={b}"), aside):
                raise RuntimeError(
                    f"split_fat_buckets: rename bucket={b} aside "
                    "failed — re-run with repair=True")
            for g in gids:
                if fs.exists(_hp(f"vectors_split_tmp_{b}/bucket={g}")):
                    if not fs.rename(
                            _hp(f"vectors_split_tmp_{b}/bucket={g}"),
                            _hp(f"vectors/bucket={g}")):
                        raise RuntimeError(
                            f"split_fat_buckets: moving sub-bucket {g} "
                            "in failed — re-run with repair=True")
        _swap_compacted(fs, hpath, root, "centroids")
        for b in gids_of:
            fs.delete(_hp(f"vectors_split_old_{b}"), True)
            fs.delete(_hp(f"vectors_split_tmp_{b}"), True)
    except Exception:
        # leave the marker only when a swap actually started (repair
        # required to restore consistency); a failure before any swap
        # cleans its tmp dirs and releases the marker
        mid_swap = any(
            st.getPath().getName().startswith("vectors_split_old_")
            for st in fs.listStatus(root)) or not fs.exists(
                _hp("centroids"))
        if mid_swap:
            raise
        for st in fs.listStatus(root):
            if st.getPath().getName().startswith("vectors_split_tmp_"):
                fs.delete(st.getPath(), True)
        fs.delete(_hp("centroids_compact_tmp"), True)
        fs.delete(_hp("_compacting"), False)
        raise
    fs.delete(_hp("_compacting"), False)
    new_counts = {r.bucket: r.n for r in
                  spark.read.parquet(path + "/vectors")
                  .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
    p50n = statistics.median(new_counts.values())
    summary["n_centroids_after"] = spark.read \
        .parquet(path + "/centroids").count()
    summary["bucket_skew_after"] = round(
        max(new_counts.values()) / p50n, 2) if p50n else 0.0
    return summary


def _execute_merge_moves(spark, fs, hpath, root, path: str,
                         plan: dict) -> None:
    """Execute (or resume, idempotently) a merge's rename sequence from
    its committed ``_merge_plan``: build ``vectors_merge_tmp`` with the
    renumbered layout — survivor bucket dirs RENAMED in under their new
    ids, absorbed buckets' files MOVED into their absorber's dir (the
    ``bucket`` value comes from the directory name, so relabeling a row
    is a metadata move, zero data rewrite) — swap the whole dir in, then
    swap the centroid table and drop the plan.

    Crash-state detection is structural, so repair just re-runs this:

    - ``vectors_merge_tmp`` present + live ``/vectors`` present → moves
      may be pending: resume them (renames skip sources already moved),
      verify no data file is left behind, swap the dir.
    - ``vectors_merge_tmp`` present + live missing → the old dir was
      deleted but the rename-in didn't happen: rename it in.
    - ``vectors_merge_tmp`` gone → the layout committed; finish the
      centroid swap if its tmp is still there, then drop the plan.
    """
    renumber = {int(k): v for k, v in plan["renumber"].items()}
    absorb = {int(k): int(v) for k, v in plan["absorb"].items()}

    def _hp(name):
        return hpath(root, name)

    tmp, live = _hp("vectors_merge_tmp"), _hp("vectors")
    if fs.exists(tmp):
        if fs.exists(live):
            for old in sorted(renumber):
                src = _hp(f"vectors/bucket={old}")
                if fs.exists(src):
                    if not fs.rename(
                            src, _hp(f"vectors_merge_tmp/"
                                     f"bucket={renumber[old]}")):
                        raise RuntimeError(
                            f"merge_small_buckets: renaming bucket "
                            f"{old} -> {renumber[old]} failed — re-run "
                            "with repair=True")
            for t, a in sorted(absorb.items()):
                src_dir = _hp(f"vectors/bucket={t}")
                if not fs.exists(src_dir):
                    continue
                dst = _hp(f"vectors_merge_tmp/bucket={renumber[a]}")
                if not fs.exists(dst):
                    fs.mkdirs(dst)
                for st in fs.listStatus(src_dir):
                    name = st.getPath().getName()
                    if name.startswith(("_", ".")):
                        continue
                    # the m<t>_ prefix keeps names unique across source
                    # buckets and makes resumed moves idempotent
                    if not fs.rename(st.getPath(),
                                     hpath(dst, f"m{t}_{name}")):
                        raise RuntimeError(
                            f"merge_small_buckets: moving a file of "
                            f"bucket {t} into {a} failed — re-run with "
                            "repair=True")
                fs.delete(src_dir, True)
            if _count_data_files(fs, live) != 0:
                raise RuntimeError(
                    "merge_small_buckets: data files remain under "
                    "/vectors outside the planned bucket set — refusing "
                    "to delete them; inspect the index layout")
            fs.delete(live, True)
        if not fs.rename(tmp, live):
            raise RuntimeError(
                "merge_small_buckets: swapping the merged layout in "
                "failed — re-run with repair=True")
    ctmp = _hp("centroids_compact_tmp")
    if fs.exists(ctmp) and fs.exists(
            _hp("centroids_compact_tmp/_SUCCESS")):
        fs.delete(_hp("centroids"), True)
        if not fs.rename(ctmp, _hp("centroids")):
            raise RuntimeError(
                "merge_small_buckets: centroid-table swap failed — "
                "re-run with repair=True")
    fs.delete(_hp("_merge_plan"), False)


def _repair_merge(spark, fs, hpath, root, path: str) -> None:
    """Finish or roll back an interrupted :func:`merge_small_buckets`.

    The plan file decides the direction: a committed ``_merge_plan``
    (written atomically BEFORE any live mutation) means every remaining
    step is deterministic — ROLL FORWARD by re-running the move
    sequence, which detects and resumes any crash state.  No plan means
    nothing live was touched — ROLL BACK by dropping the merge's tmp
    artifacts."""

    def _hp(name):
        return hpath(root, name)

    for st in fs.listStatus(root):
        n = st.getPath().getName()
        if n.startswith(("vectors_split_old_", "vectors_split_tmp_")):
            raise RuntimeError(
                f"merge repair: {n} under {path} belongs to a crashed "
                "split, not a merge — run "
                "split_fat_buckets(repair=True) instead.")
    if fs.exists(_hp("_merge_plan")):
        from cloudbrush_spark.sources.corpus import fs_read_text
        plan = json.loads(fs_read_text(spark, path + "/_merge_plan"))
        _execute_merge_moves(spark, fs, hpath, root, path, plan)
    else:
        for name in ("vectors_merge_tmp", "centroids_compact_tmp",
                     "_merge_plan_tmp"):
            fs.delete(_hp(name), True)
    fs.delete(_hp("_compacting"), False)


def merge_small_buckets(spark, path: str, small_threshold: float = 4.0,
                        k_floor: int | None = None,
                        repair: bool = False) -> dict:
    """Merge an IVF index's under-populated buckets into their nearest
    surviving neighbors IN PLACE — the counterpart of
    :func:`split_fat_buckets`, completing the rebalance story: splits
    repair buckets drift made too FAT; this repairs the ones history
    left too THIN (over-provisioned initial K, post-split remnants, a
    corpus that grew past its original clustering).

    What it is FOR — and, measured, what it is NOT for.  Under
    ``auto_nprobe`` the probed fraction is sqrt(K)/K, so a HIGHER K
    means FEWER rows scanned per query at ~equal recall (both probes:
    a 10x-over-provisioned x10 index held recall 0.956 while folding it
    to the sqrt floor tripled rows-per-probe and the wall with them,
    ``probes/overprovision_x10.json``; folding the x100 drift
    fixture's post-split remnants cost recall 0.833 → 0.799 AND +24%
    probe wall, ``probes/rebalance_x100.json`` — absorbed rows hide
    behind the weighted-mean centroid).  Merge is therefore NEVER a
    probe-wall optimization.  Its honest niche is operational: bound
    the DIRECTORY count and per-query centroid-ranking cost of a K
    history has inflated (every bucket is a filesystem dir + a row in
    the ranking matmul), and clean up ghost dirs after mass takedowns
    (``delete_from_ivf_index`` + compaction can empty whole lists).
    Recall-safe exactly when the folded lists are near-empty — hence
    the ABSOLUTE threshold (lists below
    ``sqrt(corpus)/small_threshold`` rows; a median-relative rule
    matches nothing on a uniformly over-provisioned index) and the
    conservative default inside :func:`rebalance_index`.

    Mechanics — zero data rewrite: ``bucket`` is a partition column, so
    a row's bucket id IS its directory name.  Merging moves the thin
    bucket's parquet files into the absorber's directory and renumbering
    renames directories; only the centroid table (K rows) is rewritten.
    Selection: buckets with ``rows < sqrt(corpus)/small_threshold``
    merge, smallest first, never below ``k_floor`` (default
    ``ceil(sqrt(corpus))`` — the IVF sizing rule — capped at the current
    K).  Each merged bucket is absorbed by its nearest surviving
    centroid (same L2 score as probe assignment) and the absorber's
    centroid moves to the row-count-weighted mean, so probes near either
    cluster still rank the merged list early.  Probes resolve buckets
    positionally, hence the contiguity-preserving renumber.

    Concurrency/crash protocol: same exclusive ``_compacting`` marker as
    the compactor and splitter (one structural rewrite at a time;
    appends refuse while it stands), refuses on in-flight append intents
    and ``_rebuilding``.  A ``_merge_plan`` file (absorb + renumber
    maps) is committed atomically BEFORE any live mutation, making crash
    recovery ROLL-FORWARD-ONLY: ``repair=True`` resumes the rename
    sequence from the plan (see :func:`_execute_merge_moves`).  Append
    markers and the token history are untouched — committed batches keep
    their replay-is-a-no-op contract.  As with split/compaction,
    concurrent PROBES during the two swap renames can see a transient
    mixed state; run structural maintenance in a quiet window.

    Returns a summary dict: merged buckets (with absorbers), centroid
    counts and skew before/after."""
    import statistics

    import numpy as np

    from cloudbrush_spark.sources.corpus import _hfs, fs_write_text
    jvm, _, fs, root = _hfs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path

    def _hp(name):
        return hpath(root, name)

    if repair:
        _repair_merge(spark, fs, hpath, root, path)
    _exclusive_create(
        fs, _hp("_compacting"),
        f"merge_small_buckets: another structural rewrite (split, merge "
        f"or compaction) is in progress (or died) under {path} — if the "
        "previous run crashed, re-run with repair=True.")
    plan_committed = False
    try:
        if fs.exists(_hp("_rebuilding")):
            raise RuntimeError(
                f"merge_small_buckets: a rebuild of {path} is in flight "
                "or died before completing (_rebuilding marker) — "
                "re-run write_ivf_index to completion first.")
        for st in fs.listStatus(root):
            if st.getPath().getName().startswith("_appending_"):
                raise RuntimeError(
                    f"merge_small_buckets: in-flight append intent "
                    f"{st.getPath().getName()} under {path} — wait for "
                    "it to commit before merging.")
        cent_rows = spark.read.parquet(path + "/centroids") \
            .orderBy("bucket").collect()
        centroids = {r.bucket: list(r.centroid) for r in cent_rows}
        k_before = len(centroids)
        got = {r.bucket: r.n for r in
               spark.read.parquet(path + "/vectors")
               .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
        counts = {b: got.get(b, 0) for b in centroids}
        total = sum(counts.values())
        p50 = statistics.median(counts.values()) if counts else 0
        skew_before = (max(counts.values()) / p50) if p50 else 0.0
        floor = k_floor if k_floor is not None else min(
            k_before, max(2, math.ceil(math.sqrt(total))))
        # thinness is ABSOLUTE — relative to the sqrt(corpus) rows the
        # IVF sizing rule wants per list — NOT relative to the median:
        # on a uniformly over-provisioned index (the op's payoff case)
        # every list is equally tiny, the median is tiny with them, and
        # a median-relative rule matches nothing (caught by
        # probes/overprovision_x10.json: 1,410 three-row lists, zero
        # merges).  A list above the sqrt-n target is pulling its
        # weight no matter what the median does.
        target = max(1.0, math.sqrt(total))
        thin = sorted((b for b, n in counts.items()
                       if n < target / small_threshold),
                      key=lambda b: (counts[b], b))
        thin = thin[:max(0, k_before - max(2, floor))]
        summary = {
            "merged_buckets": [], "n_centroids_before": k_before,
            "n_centroids_after": k_before,
            "bucket_skew_before": round(skew_before, 2),
            "bucket_skew_after": round(skew_before, 2),
        }
        if not thin:
            fs.delete(_hp("_compacting"), False)
            return summary
        thin_set = set(thin)
        survivors = sorted(b for b in centroids if b not in thin_set)
        smat = np.array([centroids[s] for s in survivors],
                        dtype=np.float64)
        bias = -0.5 * (smat * smat).sum(axis=1)
        absorb = {}
        for t in thin:
            scores = smat @ np.asarray(centroids[t],
                                       dtype=np.float64) + bias
            absorb[t] = survivors[int(scores.argmax())]
        new_cent, new_n = {}, {}
        for s in survivors:
            new_cent[s] = np.asarray(centroids[s], dtype=np.float64) \
                * counts[s]
            new_n[s] = counts[s]
        for t, a in absorb.items():
            new_cent[a] = new_cent[a] + np.asarray(
                centroids[t], dtype=np.float64) * counts[t]
            new_n[a] += counts[t]
        renumber = {s: i for i, s in enumerate(survivors)}
        rows = []
        for s in survivors:
            c = (new_cent[s] / new_n[s]) if new_n[s] else np.asarray(
                centroids[s], dtype=np.float64)
            rows.append((renumber[s], [float(x) for x in c]))
        cdf = spark.createDataFrame(rows,
                                    "bucket int, centroid array<double>")
        (cdf.coalesce(1).write.mode("overwrite")
         .parquet(path + "/centroids_compact_tmp"))
        plan = {"renumber": renumber,
                "absorb": {str(t): a for t, a in absorb.items()}}
        # tmp dir BEFORE the plan commit: once the plan exists, repair
        # reads "vectors_merge_tmp absent" as "layout swap committed" —
        # so the plan must never exist without the tmp dir
        fs.mkdirs(_hp("vectors_merge_tmp"))
        fs_write_text(spark, path + "/_merge_plan_tmp", json.dumps(plan))
        if not fs.rename(_hp("_merge_plan_tmp"), _hp("_merge_plan")):
            raise RuntimeError(
                "merge_small_buckets: committing the merge plan failed")
        plan_committed = True
        _execute_merge_moves(spark, fs, hpath, root, path, plan)
        for t, a in sorted(absorb.items()):
            summary["merged_buckets"].append(
                {"bucket": t, "rows": counts[t], "into": a,
                 "into_new_id": renumber[a]})
    except Exception:
        if plan_committed:
            # live state mutated (or about to be) under a deterministic
            # committed plan — repair=True rolls forward
            raise
        for name in ("vectors_merge_tmp", "centroids_compact_tmp",
                     "_merge_plan_tmp"):
            fs.delete(_hp(name), True)
        fs.delete(_hp("_compacting"), False)
        raise
    fs.delete(_hp("_compacting"), False)
    new_counts = {r.bucket: r.n for r in
                  spark.read.parquet(path + "/vectors")
                  .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
    full = {b: new_counts.get(b, 0) for b in range(len(survivors))}
    p50n = statistics.median(full.values()) if full else 0
    summary["n_centroids_after"] = len(survivors)
    summary["bucket_skew_after"] = round(
        max(full.values()) / p50n, 2) if p50n else 0.0
    return summary


def rebalance_index(spark, path: str, skew_threshold: float = 4.0,
                    small_threshold: float = 8.0, max_split: int = 64,
                    seed: int = 42) -> dict:
    """Full drift maintenance in one call: :func:`split_fat_buckets`
    (repair the buckets drift made too fat) then
    :func:`merge_small_buckets` (fold near-empty remnants, never below
    the ``sqrt(n)`` centroid floor).  Cadence: run when
    ``index_stats.bucket_skew`` drifts past ``skew_threshold``.

    The merge half defaults CONSERVATIVE (``small_threshold=8``: only
    lists under sqrt(corpus)/8 rows fold — near-empty dirs, the only
    recall-safe case) because both scale probes measured aggressive
    folding as a net LOSS on the probe path: under ``auto_nprobe`` a
    smaller K probes a larger fraction, so shrinking K raises
    rows-per-probe (x10 over-provision: 3x) and can cost recall when
    the folded lists carried structure (x100 drift: 0.833 → 0.799)
    — ``probes/rebalance_x100.json``, ``probes/overprovision_x10.json``.
    Call :func:`merge_small_buckets` directly with a looser threshold
    only when directory-count or centroid-ranking pressure is worth
    that measured trade."""
    return {"split": split_fat_buckets(spark, path,
                                       skew_threshold=skew_threshold,
                                       max_split=max_split, seed=seed),
            "merge": merge_small_buckets(spark, path,
                                         small_threshold=small_threshold)}


def maintain_index(spark, path: str, skew_threshold: float = 4.0,
                   small_threshold: float = 8.0,
                   files_per_bucket_max: float = 8.0,
                   compact_files: int = 16, seed: int = 42) -> dict:
    """The cadence guidance made executable: read :func:`index_stats`
    once and run exactly the maintenance the index needs — a cron-able
    single entry point for a crawl-per-day deployment.

    Decision table (each trigger measured and recorded in BASELINE.md):

    - ``bucket_skew > skew_threshold`` → :func:`rebalance_index`
      (split the drift-fattened buckets, fold thin remnants back to
      the sqrt-n floor; k-means-fresh indexes sit near ~1-4).
    - ``files_per_bucket > files_per_bucket_max`` OR tombstones pending
      → :func:`compact_index` (bound append-accreted per-file
      overhead — the measured ~8 files/bucket knee — and purge pending
      deletes while the rewrite is paid for anyway).  Runs AFTER a
      rebalance: splits/merges relocate files, so the accretion check
      re-reads stats.
    - neither → no-op: a healthy index is touched exactly zero times
      (``actions == []``).

    Returns ``{"stats_before", "actions", "stats_after"}`` where each
    action records its operator summary.  Refusal/interlock semantics
    are the underlying operators' own (one structural rewrite at a
    time; crashed runs repair through their named repair paths)."""
    before = index_stats(spark, path)
    actions = []
    if before["bucket_skew"] > skew_threshold:
        actions.append({"op": "rebalance",
                        "summary": rebalance_index(
                            spark, path, skew_threshold=skew_threshold,
                            small_threshold=small_threshold, seed=seed)})
    mid = index_stats(spark, path) if actions else before
    if (mid["files_per_bucket"] > files_per_bucket_max
            or mid["pending_deletes"] > 0):
        actions.append({"op": "compact",
                        "summary": {"files_before": compact_index(
                            spark, path, files=compact_files)}})
    after = index_stats(spark, path) if actions else before
    return {"stats_before": before, "actions": actions,
            "stats_after": after}
