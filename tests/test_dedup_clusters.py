"""Connected-component cluster product (operators/dedup.dedup_clusters):
min-id representative semantics, singleton universe, and convergence on
a path graph far longer than the iteration budget (pointer jumping)."""

from pyspark.sql import functions as F

from cloudbrush_spark.operators import dedup


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "a long, b long")


def test_min_id_representative_and_sizes(spark):
    # components {1,2,3} (triangle), {7,9}, singleton 5 via items
    pairs = _pairs(spark, [(2, 1), (2, 3), (9, 7)])
    items = spark.range(1, 10).select(F.col("id").alias("doc_id"))
    out = {(r.cluster_rep, r.member, r.n)
           for r in dedup.dedup_clusters(pairs, items=items).collect()}
    exp = {(1, 1, 3), (1, 2, 3), (1, 3, 3), (7, 7, 2), (7, 9, 2)}
    exp |= {(i, i, 1) for i in (4, 5, 6, 8)}
    assert out == exp


def test_long_chain_converges_within_budget(spark, monkeypatch):
    # path 0-1-2-...-119: diameter 119 >> the 50-round budget — hash-min
    # alone would exit unconverged (and pre-fix, silently return labels
    # naming no real representative); pointer jumping must close it in
    # O(log n) rounds.  DRIVER_CC_MAX=0 forces the DISTRIBUTED loop (the
    # 100 TB path) — the default would solve this size driver-side
    n = 120
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX", 0)
    pairs = _pairs(spark, [(i, i + 1) for i in range(n - 1)])
    out = dedup.dedup_clusters(pairs).collect()
    assert len(out) == n
    assert all(r.cluster_rep == 0 and r.n == n for r in out)


def test_driver_and_distributed_paths_agree(spark, monkeypatch):
    # the r14 bounded-edge-list fast path (driver-side union-find) must
    # produce exactly the distributed hash-min loop's output — same
    # min-id representatives, same sizes, same singleton handling
    edges = ([(2, 1), (2, 3), (9, 7)]
             + [(100 + i, 101 + i) for i in range(40)]   # long chain
             + [(300, 301), (301, 302), (300, 302)])     # triangle
    items = spark.range(0, 320).select(F.col("id").alias("doc_id"))
    pairs = _pairs(spark, edges)
    fast = {(r.cluster_rep, r.member, r.n)
            for r in dedup.dedup_clusters(pairs, items=items).collect()}
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX", 0)
    slow = {(r.cluster_rep, r.member, r.n)
            for r in dedup.dedup_clusters(pairs, items=items).collect()}
    assert fast == slow


def test_lollipop_mixed_frontier(spark):
    # a clique that converges in round 1 welded to a long tail that keeps
    # propagating for many rounds: exercises delta iteration's claim that
    # converged-region nodes need not resend — if dropping their messages
    # lost information, tail nodes joining late would miss the clique's
    # min label and split the component
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    tail = [(4 + k, 5 + k) for k in range(60)]   # 4-5-6-...-64
    pairs = _pairs(spark, clique + tail)
    out = dedup.dedup_clusters(pairs).collect()
    assert len(out) == 65
    assert all(r.cluster_rep == 0 and r.n == 65 for r in out)


def test_no_items_returns_paired_nodes_only(spark):
    pairs = _pairs(spark, [(4, 2)])
    out = {(r.cluster_rep, r.member, r.n)
           for r in dedup.dedup_clusters(pairs).collect()}
    assert out == {(2, 2, 2), (2, 4, 2)}


def test_clusters_over_minhash_pairs(spark):
    # Feed the pair enumeration curation runs into dedup_clusters and
    # consume the LINEAR (rep, member, n) partition.
    # minhash_dedup_pairs emits (a, b, jaccard) — pin that a pair frame
    # carrying an extra score column is drop-in dedup_clusters input.
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "the quick brown fox jumps over one lazy dog"),
         (4, "entirely different content about spark catalyst plans"),
         (5, "unrelated third topic with its own vocabulary set")],
        "doc_id long, text string")
    pairs = dedup.minhash_dedup_pairs(docs)
    got = {(r.a, r.b) for r in pairs.select("a", "b").collect()}
    assert {(1, 2)} <= got          # identical docs always pair
    assert not {(1, 4), (1, 5), (4, 5)} & got
    out = dedup.dedup_clusters(
        pairs, items=docs.select("doc_id")).collect()
    by_member = {r.member: r for r in out}
    assert len(by_member) == 5      # total partition of the corpus
    # 1 and 2 share a cluster under min-id rep; 4 and 5 are singletons
    assert by_member[1].cluster_rep == 1 and by_member[2].cluster_rep == 1
    for s in (4, 5):
        assert by_member[s].cluster_rep == s and by_member[s].n == 1
    # every rep is a real member of its own cluster (the invariant the
    # convergence guard exists to protect)
    reps = {r.cluster_rep for r in out}
    assert reps <= set(by_member)
