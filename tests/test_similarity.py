"""ANN operators: brute-force exactness, LSH and IVF recall on a
structured fixture (clustered vectors — approximate paths must find
within-cluster neighbors)."""

import math
import random

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.operators import similarity


@pytest.fixture(scope="module")
def clustered(spark):
    """4 well-separated clusters x 25 vectors in 8-d."""
    rng = random.Random(3)
    centers = [[10 * (1 if i == c else 0) for i in range(8)] for c in range(4)]
    rows = []
    vid = 0
    for c, ctr in enumerate(centers):
        for _ in range(25):
            rows.append((vid, c, [x + rng.gauss(0, 0.5) for x in ctr]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")


def test_bruteforce_topk_is_exact(spark, clustered):
    q = clustered.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk_bruteforce(clustered, q, k=5)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    # python reference for query 0
    data = {r.vec_id: r.embedding for r in clustered.collect()}
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))
    want = sorted(((cos(data[0], v), k) for k, v in data.items() if k != 0),
                  key=lambda t: (-t[0], t[1]))[:5]
    got = sorted(((r.cosine, r.neighbor_id) for r in rows if r.query_id == 0),
                 key=lambda t: (-t[0], t[1]))
    assert [k for _, k in want] == [k for _, k in got]


def _within_cluster_fraction(out, clustered):
    truth = {r.vec_id: r.cluster for r in clustered.collect()}
    rows = out.collect()
    same = sum(1 for r in rows if truth[r.query_id] == truth[r.neighbor_id])
    return same / len(rows)


def test_ivf_topk_recall_on_clusters(spark, clustered):
    out = similarity.cosine_topk_ivf(clustered.select("vec_id", "embedding"),
                                     k=3, n_centroids=8, nprobe=2)
    # every query answered, and neighbors overwhelmingly from the own cluster
    assert out.select("query_id").distinct().count() == 100
    assert _within_cluster_fraction(out, clustered) > 0.95


def test_lsh_topk_buckets_preserve_clusters(spark, clustered):
    out = similarity.cosine_topk_lsh(clustered.select("vec_id", "embedding"),
                                     dim=8, k=3, planes=4, seed=7)
    assert _within_cluster_fraction(out, clustered) > 0.9


def test_emb_near_dup_identical_vectors_skew_fixture(spark):
    """1,000 byte-identical embeddings + a distinct one: identical vectors
    collapse to ONE representative before bucketing, so no bucket ever
    holds the duplicate mass; the faithful pair product still emits all
    C(1000,2) within-group pairs at cosine 1.0 (output-driven), and the
    star mode emits the linear 999-edge star instead."""
    import time
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(1000)]
    rows.append((5000, [-4.0, 3.0, -2.0, 1.0]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t0 = time.time()
    pairs = similarity.embedding_near_dup(vecs, dim=4, threshold=0.9,
                                          planes=4, seed=7, tables=2)
    n = pairs.count()
    elapsed = time.time() - t0
    assert n == 1000 * 999 // 2
    assert pairs.filter(F.col("cosine") < 1.0).count() == 0
    assert elapsed < 120
    star = similarity.embedding_near_dup(vecs, dim=4, threshold=0.9,
                                         planes=4, seed=7, tables=2,
                                         overcap="star")
    srows = star.collect()
    assert len(srows) == 999
    assert all(r.a == 0 and r.cosine == 1.0 for r in srows)


def test_lsh_topk_identical_vectors_bounded(spark):
    """Top-k over a mass-duplicate corpus stays <= k rows per id: members
    inherit the representative's list plus ONE twin neighbor at cosine
    1.0 — never a quadratic twin expansion."""
    rows = [(i, [5.0, 1.0, 0.0, 2.0]) for i in range(500)]
    rows += [(1000 + i, [-1.0, 4.0, float(i % 3), -2.0]) for i in range(20)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk_lsh(vecs, dim=4, k=3, planes=4, seed=7,
                                     tables=4).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) >= set(range(500))
    assert max(len(v) for v in per_q.values()) <= 3
    # every duplicate member's rank-1 neighbor is its twin at cosine 1.0
    for qid in (0, 1, 499):
        top = min(per_q[qid], key=lambda r: r.rank)
        assert top.cosine == 1.0
        assert top.neighbor_id == (1 if qid == 0 else 0)


def test_capped_rep_pairs_hot_bucket_linear(spark):
    """A tight direction cluster (distinct vectors, one sign pattern) blows
    the level-1 cap AND the level-2 re-band: star fallback keeps candidate
    volume linear; drop mode emits no pairs from the hot mass."""
    import random as pyrandom
    rng = pyrandom.Random(11)
    rows = [(i, [10.0 + rng.gauss(0, 0.01), 20.0 + rng.gauss(0, 0.01),
                 30.0 + rng.gauss(0, 0.01), 40.0 + rng.gauss(0, 0.01)])
            for i in range(300)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, groups = similarity._collapse(vecs, "vec_id", "embedding")
    star = similarity._capped_rep_pairs(groups, dim=4, planes=4, seed=7,
                                        tables=2, max_bucket=20,
                                        star_overcap=True)
    n_star = star.count()
    # linear bound: capped buckets contribute <= tables*n*cap/2 pairs from
    # sub-cap buckets plus <= tables*n star rows; the hot mass must not
    # pair-expand (C(300,2) = 44,850 would mean the cap leaked)
    assert 0 < n_star <= 2 * 300 * 20 + 2 * 300
    drop = similarity._capped_rep_pairs(groups, dim=4, planes=4, seed=7,
                                        tables=2, max_bucket=20,
                                        star_overcap=False)
    assert drop.count() <= 2 * 300 * 20


def test_capped_rep_pairs_distributed_cap_list(spark, monkeypatch):
    """Vector-side over-cap guard: with the driver collect threshold
    lowered below the hot-bucket count, the cap list stays distributed and
    the candidate set is identical to the collect-path plan (both modes)."""
    import random as pyrandom

    from cloudbrush_spark.operators import dedup as dedup_mod
    rng = pyrandom.Random(11)
    rows = [(i, [10.0 + rng.gauss(0, 0.01), 20.0 + rng.gauss(0, 0.01),
                 30.0 + rng.gauss(0, 0.01), 40.0 + rng.gauss(0, 0.01)])
            for i in range(300)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, groups = similarity._collapse(vecs, "vec_id", "embedding")

    def pairs(star):
        got = similarity._capped_rep_pairs(groups, dim=4, planes=4, seed=7,
                                           tables=2, max_bucket=20,
                                           star_overcap=star).collect()
        return {(r.a, r.b) for r in got}

    want_star, want_drop = pairs(True), pairs(False)
    monkeypatch.setattr(dedup_mod, "OVERCAP_COLLECT_MAX", 0)
    assert pairs(True) == want_star
    assert pairs(False) == want_drop


def test_ivf_centroid_sample_is_order_independent(spark):
    """The k-means sample is hash-ordered, not first-N: on a corpus SORTED
    by cluster, a first-N sample of size << corpus would train every
    centroid on cluster 0 only.  Each of the 3 well-separated clusters
    must own at least one trained centroid."""
    import random as pyrandom
    rng = pyrandom.Random(5)
    centers = [[40.0 * (1 if i == c else 0) for i in range(4)] for c in range(3)]
    rows = []
    vid = 0
    for ctr in centers:  # sorted: all of cluster 0, then 1, then 2
        for _ in range(2000):
            rows.append((vid, [x + rng.gauss(0, 0.5) for x in ctr]))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(vecs, n_centroids=6, sample=512, seed=3)
    def nearest_center(c):
        return min(range(3), key=lambda i: sum((x - y) ** 2
                                               for x, y in zip(c, centers[i])))
    covered = {nearest_center(c) for c in cents}
    assert covered == {0, 1, 2}


def test_embedding_clusters_total_partition(spark):
    """Cluster product over a mass-duplicate + two-clique corpus: a total
    partition with the duplicate mass as ONE cluster (star edges give the
    connectivity), distinct vectors as singletons."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(200)]          # clique
    rows += [(500, [8.0, -1.0, 0.5, 2.0]), (501, [8.0, -1.0, 0.5, 2.0])]
    rows.append((900, [-4.0, 3.0, -2.0, 1.0]))                      # singleton
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.embedding_clusters(vecs, dim=4, threshold=0.9,
                                        planes=4, seed=7, tables=2)
    rowsd = {(r.cluster_rep, r.member, r.n) for r in out.collect()}
    members = {m for _, m, _ in rowsd}
    assert len(rowsd) == 203 and len(members) == 203  # total partition
    assert (0, 150, 200) in rowsd
    assert (500, 501, 2) in rowsd
    assert (900, 900, 1) in rowsd


def test_derive_planes_scales_with_corpus():
    """Bucket space tracks the distinct-vector count: ~64 expected
    occupancy, clamped to [8, 24]."""
    assert similarity._derive_planes(100) == 8
    assert similarity._derive_planes(16_384) == 8       # 2^8 * 64
    assert similarity._derive_planes(1_000_000) == 14
    assert similarity._derive_planes(10 ** 12) == 24    # clamp high
    assert similarity._derive_planes(0) == 8            # degenerate


def test_ivf_topk_end_to_end_on_sorted_corpus(spark):
    """IVF top-k recall survives a cluster-SORTED corpus with a sample
    smaller than the corpus — the end-to-end form of the centroid
    coverage test (a first-N sample would train all centroids on cluster
    0 and probe junk for clusters 1-2)."""
    import random as pyrandom
    rng = pyrandom.Random(5)
    centers = [[40.0 * (1 if i == c else 0) for i in range(4)] for c in range(3)]
    rows, truth, vid = [], {}, 0
    for c, ctr in enumerate(centers):
        for _ in range(700):
            rows.append((vid, [x + rng.gauss(0, 0.5) for x in ctr]))
            truth[vid] = c
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk_ivf(vecs, k=3, n_centroids=6, nprobe=2, seed=3)
    rowsd = out.collect()
    assert {r.query_id for r in rowsd} == set(range(2100))
    same = sum(1 for r in rowsd if truth[r.query_id] == truth[r.neighbor_id])
    assert same / len(rowsd) > 0.95


def test_ivf_matches_python_reference(spark, clustered):
    """cosine_topk_ivf reproduces exactly the brute-force top-k WITHIN each
    query's probed buckets, given the centroids the operator trains
    (ivf_centroids over the collapsed groups, same seed and sample)."""
    vecs = clustered.select("vec_id", "embedding")
    _, groups = similarity._collapse(vecs, "vec_id", "embedding")
    cents = similarity.ivf_centroids(groups, 8, seed=42, vec_col="__vec")
    out = similarity.cosine_topk_ivf(vecs, k=3, n_centroids=8, nprobe=2,
                                     seed=42)
    got = {}
    for r in out.filter(F.col("query_id").isin([0, 30, 60, 90])).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    data = {r.vec_id: r.embedding for r in vecs.collect()}

    def nearest(v, n):
        # the operator's score: -0.5||c||^2 + v.c, ties toward the larger index
        scored = sorted(
            ((sum(x * c for x, c in zip(v, cv)) - 0.5 * sum(c * c for c in cv), i)
             for i, cv in enumerate(cents)), reverse=True)
        return [i for _, i in scored[:n]]
    assign = {i: nearest(v, 1)[0] for i, v in data.items()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x*x for x in a)) / math.sqrt(sum(x*x for x in b))
    assert set(got) == {0, 30, 60, 90}
    for qid in (0, 30, 60, 90):
        probes = set(nearest(data[qid], 2))
        cand = [(i, cos(data[qid], v)) for i, v in data.items()
                if i != qid and assign[i] in probes]
        want = sorted(cand, key=lambda t: (-t[1], t[0]))[:3]
        assert [(rk, nid) for rk, nid, _ in sorted(got[qid])] == \
            [(rk + 1, i) for rk, (i, _) in enumerate(want)]
        for (_, _, c), (_, wc) in zip(sorted(got[qid]), want):
            assert abs(c - wc) < 1e-9


def test_quantize_embeddings_error_bound_and_types(spark, clustered):
    """Codes are array<tinyint> within [-127,127]; reconstruction error
    per component is bounded by scale/2 (+ float slack); zero vectors
    quantize to zero codes at scale 1 (no divide-by-zero)."""
    q = similarity.quantize_embeddings(clustered)
    assert dict(q.dtypes)["q_codes"] == "array<tinyint>"
    withz = clustered.union(
        spark.createDataFrame([(999, 0, [0.0] * 8)], clustered.schema))
    rows = similarity.quantize_embeddings(withz).collect()
    for r in rows:
        assert all(-127 <= c <= 127 for c in r.q_codes)
        for x, c in zip(r.embedding, r.q_codes):
            assert abs(x - c * r.q_scale) <= r.q_scale / 2 + 1e-9
    z = [r for r in rows if r.vec_id == 999][0]
    assert z.q_scale == 1.0 and all(c == 0 for c in z.q_codes)


def test_quantized_topk_matches_exact_on_separated_clusters(spark, clustered):
    """On well-separated clusters the int8 selection recovers the exact
    top-5 neighbor SET, and the reported cosine is the exact double
    cosine (bitwise — the re-rank projection must not leak quantized
    scores)."""
    q = clustered.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk_bruteforce(clustered, q, k=5)
    quant = similarity.cosine_topk_quantized(clustered, q, k=5)
    e = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    g = {(r.query_id, r.neighbor_id): r.cosine for r in quant.collect()}
    hits = len(set(e) & set(g))
    assert hits >= 23  # >=92% recall@5 on 5 queries
    for k in set(e) & set(g):
        assert e[k] == g[k]  # exact re-rank, bitwise


def test_quantized_rank_ties_are_deterministic(spark):
    """Integer-score ties break by neighbor_id: identical vectors must
    yield the same ranked list on every run (retry-safe cut line)."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out1 = similarity.cosine_topk_quantized(df, df.filter(F.col("vec_id") == 0), k=3)
    out2 = similarity.cosine_topk_quantized(df, df.filter(F.col("vec_id") == 0), k=3)
    assert sorted((r.rank, r.neighbor_id) for r in out1.collect()) == \
        sorted((r.rank, r.neighbor_id) for r in out2.collect()) == \
        [(1, 1), (2, 2), (3, 3)]


def test_quantized_zero_vectors_excluded_not_nan(spark):
    """Zero vectors (all-zero codes, zero code-norm) are excluded from
    both sides before the cross join: a zero QUERY emits no rows and a
    zero CORPUS vector never appears as a neighbor — previously they
    produced NULL-ranked rows and NaN cosines."""
    rows = [(i, [float(i + 1), 2.0, 3.0]) for i in range(4)]
    rows.append((98, [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk_quantized(df, df, k=3).collect()
    assert all(r.query_id != 98 and r.neighbor_id != 98 for r in out)
    assert all(r.cosine == r.cosine and r.cosine is not None for r in out)
    assert {r.query_id for r in out} == {0, 1, 2, 3}


def test_cross_corpus_embedding_near_dups(spark, clustered):
    """New-vs-ref vector dedup: every emitted pair is (new id, ref id)
    with exact cosine >= threshold; within-side pairs never appear; an
    exact duplicate of a shipped vector matches at 1.0 without any LSH
    luck; and the pair set is a subset of the brute-force cross pairs
    with >= 50% recall on the clustered fixture."""
    ref = clustered.filter(F.col("vec_id") % 5 != 0) \
        .select("vec_id", "embedding")
    new = clustered.filter(F.col("vec_id") % 5 == 0) \
        .select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    got = similarity.cross_corpus_embedding_near_dups(
        new, ref, dim=8, threshold=0.9, planes=4, seed=42, tables=16)
    rows = got.collect()
    assert rows
    new_ids = {r.vec_id for r in new.collect()}
    ref_ids = {r.vec_id for r in ref.collect()}
    assert all(r.a in new_ids and r.b in ref_ids for r in rows)
    # brute-force cross truth
    import math
    nv = {r.vec_id: r.embedding for r in new.collect()}
    rv = {r.vec_id: r.embedding for r in ref.collect()}
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x*x for x in a)) / math.sqrt(sum(x*x for x in b))
    truth = {(i, j) for i in nv for j in rv if cos(nv[i], rv[j]) >= 0.9}
    got_pairs = {(r.a, r.b) for r in rows}
    assert got_pairs <= truth                      # soundness (exact verify)
    assert len(got_pairs) * 2 >= len({a for a, _ in truth})  # star recall: per matched new doc
    for r in rows:
        assert abs(r.cosine - cos(nv[r.a], rv[r.b])) < 1e-9


def test_cross_corpus_embedding_exact_dup_no_lsh_needed(spark):
    """A new vector byte-identical to a shipped one matches at cosine
    1.0 through the shared collapse — even with hostile LSH params
    (planes high enough that collisions are unlikely)."""
    ref = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(1, 9)],
        "vec_id long, embedding array<double>")
    new = spark.createDataFrame(
        [(100, [4.0, 1.0, 2.0, 3.0]),      # identical to ref id 4
         (101, [99.0, -50.0, 7.0, 0.1])],  # unrelated
        "vec_id long, embedding array<double>")
    got = similarity.cross_corpus_embedding_near_dups(
        new, ref, dim=4, threshold=0.999, planes=12, seed=7).collect()
    assert any(r.a == 100 and r.b == 4 and r.cosine == 1.0 for r in got)
    assert all(r.a != 101 for r in got)


# --------------------------------------------------------------------------
# round 13: auto-nprobe
# --------------------------------------------------------------------------

def test_auto_nprobe_rule():
    """sqrt-K, floor 2, never above K — and the small-index corner
    reproduces the tuned constant the release gate shipped with
    (auto_nprobe(16) == 4, its historical fixed default)."""
    assert similarity.auto_nprobe(1) == 1
    assert similarity.auto_nprobe(2) == 2
    assert similarity.auto_nprobe(4) == 2
    assert similarity.auto_nprobe(16) == 4
    assert similarity.auto_nprobe(447) == 21
    assert similarity.auto_nprobe(1024) == 32
    assert similarity.auto_nprobe(30000) == 173


def _emb_for(ids, spark, drift=0.0):
    """Deterministic per-id 8-d embeddings: id i gets a unit-ish vector
    seeded by i; ``drift`` perturbs every vector (to make two corpora
    near- but not exact-duplicates)."""
    rows = []
    for i in ids:
        rng = random.Random(i)
        v = [rng.uniform(-1, 1) for _ in range(8)]
        if drift:
            v = [x + drift * rng.uniform(-1, 1) for x in v]
        rows.append((i, v))
    return spark.createDataFrame(rows, "doc_id long, embedding array<double>")


def test_cross_corpus_embedding_recall_contract_vs_exact(spark):
    """Gate-level recall contract: on drifted twins of a prior release
    (some above the threshold, some below), the new ids the operator
    matches are measured against exact-cosine truth.  Every match is
    exact-cosine verified, so precision is 1 by construction (asserted);
    the pinned floor is RECALL >= 0.9.  Prior ids are namespaced
    negative (the operator needs disjoint id spaces, and a release's
    doc ids legally overlap the next one's)."""
    new = _emb_for(range(40), spark)
    # prior release: drifted twins of docs 0-19 under the same ids
    prior = _emb_for(range(20), spark, drift=0.05)
    thr = 0.995
    new_vecs = {r.doc_id: list(r.embedding) for r in new.collect()}
    prior_vecs = [list(r.embedding) for r in prior.collect()]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(x * x for x in b)))

    truth = {i for i, v in new_vecs.items()
             if any(cos(v, p) >= thr for p in prior_vecs)}
    assert truth and truth < set(new_vecs)  # non-degenerate fixture

    ref = prior.select((-F.col("doc_id") - 1).alias("doc_id"), "embedding")
    got = similarity.cross_corpus_embedding_near_dups(
        new, ref, dim=8, threshold=thr, seed=42, id_col="doc_id",
        tables=8).collect()
    assert all(r.b < 0 for r in got)  # every match is a prior-side id
    dropped = {r.a for r in got}
    assert dropped <= truth, (sorted(dropped - truth), sorted(truth))
    recall = len(dropped & truth) / len(truth)
    assert recall >= 0.9, (recall, sorted(truth - dropped))
