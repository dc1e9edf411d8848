"""Overlap-graph construction (J1/J2/J3) on hand-built reads.

Every emitted edge must satisfy the overlap predicate by construction;
symmetric closure must hold (SURVEY §7 M2 test contract).
"""

import random

from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna
from cloudbrush_spark.operators import overlap
from tests import plan_checks
from tests.conftest import make_nodes

K = 5


def edge_set(df):
    return {(r.src, r.et, r.dst, r.ov) for r in df.collect()}


def check_edge_predicate(nodes_df, edges_df):
    """suffix(orient(src,d1),ov) == prefix(orient(dst,d2),ov) for every edge."""
    seqs = {r.node_id: r.seq for r in nodes_df.collect()}
    for r in edges_df.collect():
        d1, d2 = r.et[0], r.et[1]
        sa = seqs[r.src] if d1 == "f" else dna.rc_py(seqs[r.src])
        sb = seqs[r.dst] if d2 == "f" else dna.rc_py(seqs[r.dst])
        assert sa[-r.ov:] == sb[:r.ov], f"edge {r} violates overlap predicate"


def test_forward_chain(spark):
    #  a: ACGTACGTCC  b: GTACGTCCAT  overlap 8: a suffix GTACGTCC == b prefix
    nodes = make_nodes(spark, [("a", "ACGTACGTCC", 1.0), ("b", "GTACGTCCAT", 1.0)])
    edges = overlap.build_overlap_graph(nodes, K)
    es = edge_set(edges)
    assert ("a", "ff", "b", 8) in es
    assert ("b", "rr", "a", 8) in es  # symmetric closure
    check_edge_predicate(nodes, edges)


def test_rc_overlap(spark):
    # b_rc overlaps a: rc(b) = GTACGTCCAT
    b_rc = dna.rc_py("GTACGTCCAT")
    nodes = make_nodes(spark, [("a", "ACGTACGTCC", 1.0), ("b", b_rc, 1.0)])
    edges = overlap.build_overlap_graph(nodes, K)
    es = edge_set(edges)
    assert ("a", "fr", "b", 8) in es
    assert ("b", "fr", "a", 8) in es  # flip_link(fr) = fr
    check_edge_predicate(nodes, edges)


def test_no_spurious_overlap(spark):
    nodes = make_nodes(spark, [("a", "AAAAACCCCC", 1.0), ("b", "GGGGGTTTTT", 1.0)])
    edges = overlap.build_overlap_graph(nodes, K)
    # rc(b) = AAAAACCCCC == a ... careful: rc("GGGGGTTTTT") = AAAAACCCCC
    # that IS a's sequence -> full containment, excluded (ov < len required)
    for r in edges.collect():
        assert r.ov < 10
    check_edge_predicate(nodes, edges)


def test_high_kmer_blacklist_blocks_seed(spark):
    nodes = make_nodes(spark, [("a", "ACGTACGTCC", 1.0), ("b", "GTACGTCCAT", 1.0)])
    # blacklist every seed window of the overlap region
    hk = spark.createDataFrame(
        [(w,) for w in ["GTACG", "TACGT", "ACGTC", "CGTCC",
                        dna.rc_py("GTACG"), dna.rc_py("TACGT"),
                        dna.rc_py("ACGTC"), dna.rc_py("CGTCC")]],
        "kmer string")
    edges = overlap.build_overlap_graph(nodes, K, high_kmers=hk)
    assert ("a", "ff", "b", 8) not in edge_set(edges)


def test_high_kmer_blacklist_matches_seeds_on_both_strands(spark):
    """``kmers.high_kmers`` lists canonical k-mers only, so a seed read on
    the strand whose form is not the canonical one must be dropped all
    the same.  A 16 bp repeat sits in seven reads, three of them
    reverse-complemented; ``a`` and ``b`` overlap on the repeat alone, and
    both seeds of that overlap (``b``'s prefix and ``rc(a)``'s) are the
    non-canonical forms of listed k-mers."""
    from cloudbrush_spark.operators import kmers
    k, rep = 8, "TTGCCATGAGCTACGA"
    rng = random.Random(7)

    def flank():
        return "".join(rng.choice("ACGT") for _ in range(10))
    reads = [("a", flank() + rep), ("b", rep + flank())]
    reads += [(f"f{i}", flank() + rep + flank()) for i in range(2)]
    reads += [(f"r{i}", dna.rc_py(flank() + rep + flank())) for i in range(3)]
    nodes = make_nodes(spark, [(n, s, 1.0) for n, s in reads])
    hk = kmers.high_kmers(nodes, k, up_kmer=4, id_col="node_id", cov_col="cov")
    listed = {r.kmer for r in hk.collect()}
    canon = {min(w, dna.rc_py(w)) for w in (rep[i:i + k] for i in range(len(rep) - k + 1))}
    assert canon <= listed
    assert rep[:k] not in listed and dna.rc_py(rep[-k:]) not in listed
    prefixes, suffixes = overlap._postings(nodes, k)
    kept = [r.kmer for p in (prefixes, suffixes)
            for r in overlap._drop_noise_keys(p, k, hk).collect()]
    assert kept and not {min(w, dna.rc_py(w)) for w in kept} & listed
    edges = overlap.build_overlap_graph(nodes, k, high_kmers=hk)
    assert not {e for e in edge_set(edges) if {e[0], e[2]} == {"a", "b"}}


def test_three_read_path(spark):
    genome = "ACGGTCATTACGGAGCTTAGCAAT"
    reads = [("r0", genome[0:12]), ("r1", genome[6:18]), ("r2", genome[12:24])]
    nodes = make_nodes(spark, [(i, s, 1.0) for i, s in reads])
    edges = overlap.build_overlap_graph(nodes, K)
    es = edge_set(edges)
    assert ("r0", "ff", "r1", 6) in es
    assert ("r1", "ff", "r2", 6) in es
    check_edge_predicate(nodes, edges)


def test_skewed_kmer_seed_stays_bounded(spark):
    """SURVEY §7 risk 4: a k-mer shared by hundreds of reads (repeat) must
    not explode the candidate join — the per-key cap bounds candidates per
    seed and the homopolymer filter drops the degenerate seeds."""
    from pyspark.sql import functions as F
    core = "ACGTTGCAACGGT"  # 13bp shared core -> shared interior k-mers (k=8)
    reads = []
    for i in range(300):
        # unique prefix/suffix, shared core: every read posts the core's
        # 8-mers as seed keys
        pre = format(i, "04d").replace("0", "A").replace("1", "C") \
            .replace("2", "G").replace("3", "T").replace("4", "AC")[:6]
        reads.append((f"s{i:03d}", pre + core + pre[::-1]))
    nodes = make_nodes(spark, [(n, s, 1.0) for n, s in reads])
    cand = overlap.match_prefix(nodes, 8, per_key_cap=20)
    # without the cap this join would yield ~300 candidates per hot seed;
    # capped, no destination accumulates more than cap * seeds
    per_dst = cand.groupBy("dst").count().agg(F.max("count")).collect()[0][0]
    assert per_dst is None or per_dst <= 20 * (len(core) - 8 + 1) * 2


def test_homopolymer_seeds_dropped(spark):
    reads = [("h1", "GG" + "A" * 12 + "CC"), ("h2", "TT" + "A" * 12 + "GG")]
    nodes = make_nodes(spark, [(n, s, 1.0) for n, s in reads])
    prefixes, suffixes = overlap._postings(nodes, 6)
    filtered = overlap._drop_noise_keys(suffixes, 6, None)
    kept = {r.kmer for r in filtered.collect()}
    assert "AAAAAA" not in kept and "TTTTTT" not in kept


def test_prefilter_gate_sides_identical(spark, monkeypatch):
    """A count of the reads gates the broadcast
    prefix-key set.  Both sides of the gate, forced via
    PREFILTER_KEYS_MAX, must produce identical candidate sets."""
    genome = "ACGGTCATTACGGAGCTTAGCAATCGGATCCA"
    rows = [(f"r{i}", genome[i:i + 14]) for i in range(0, 18, 3)]
    nodes = make_nodes(spark, [(n, s, 1.0) for n, s in rows])
    # tiny input: the gate lands on the prefilter side...
    monkeypatch.setattr(overlap, "PREFILTER_KEYS_MAX", 10_000_000)
    on = overlap.match_prefix(nodes, K)
    assert "LeftSemi" in plan_checks.explain_str(on)
    want = {tuple(r) for r in on.collect()}
    assert want
    # ...and on the pass-through side when the bound says the key set
    # would not fly
    monkeypatch.setattr(overlap, "PREFILTER_KEYS_MAX", 1)
    off = overlap.match_prefix(nodes, K)
    assert "LeftSemi" not in plan_checks.explain_str(off)
    assert want == {tuple(r) for r in off.collect()}

