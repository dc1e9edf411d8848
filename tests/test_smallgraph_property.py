"""Seeded agreement tests: each driver-side operator in
``operators.smallgraph`` against its distributed twin in ``dedup``,
``kmers``, ``overlap``, ``graph``, ``bubbles`` and ``contraction`` on
random reads and graphs, and the driver string-graph stage against the
distributed one.  (The chimeric-link cut is pinned in
``tests/test_consensus_property.py``.)

The read sets aim at the P1-P3 and J1-J3 rules: lowercase, ``N``-bearing
and too-short reads; exact and reverse-complement duplicates whose ids
come in random order; homopolymer seeds; a planted repeat that fills the
high-k-mer blacklist; a read that overlaps itself; contained reads and a
node whose reverse complement is another node; and a pair whose largest
seeded overlap fails the exact check while a smaller one would pass.

The generators aim at the tie rules: tip sides that hold only tips or
tips and other nodes, with equal ``len - ov`` and ids drawn in random
order; bubble interiors a few edits either side of the edit-rate bound,
with equal coverages and survivors that are popped themselves; sides
whose overlap values repeat; transitive triples with equal implied
overlaps, an implied overlap of 0, self-loops and a missing middle node;
and chains, cycles and branches whose nodes carry ``pair_ends`` read
lists.
"""

import random

import pytest

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.functions.dna import rc_py
from cloudbrush_spark.operators import (
    bubbles, contraction, dedup, graph, kmers, overlap, smallgraph)
from tests.conftest import make_edges, make_nodes

_FLIP = {"f": "r", "r": "f"}


def _seq(rng, n):
    return "".join(rng.choice("ACGT") for _ in range(n))


def _sym(links):
    return {e for s, et, d, ov in links
            for e in ((s, et, d, ov), (d, _FLIP[et[1]] + _FLIP[et[0]], s, ov))}


class _Ids:
    """Unique node ids in random order, so id tie-breaks are not tied to
    the shape of the graph."""

    def __init__(self, rng, prefix="n"):
        self._it = iter(rng.sample(range(10_000), 2_000))
        self.prefix = prefix

    def __call__(self):
        return f"{self.prefix}{next(self._it):04d}"


def _frames(spark, nodes, edges):
    return (make_nodes(spark, [(n, s, c) for n, (s, c, _) in nodes.items()]),
            make_edges(spark, sorted(edges)))


def _tip_graph(rng):
    new = _Ids(rng)
    nodes, links = {}, []

    def add(length, cov):
        n = new()
        nodes[n] = (_seq(rng, length), cov, None)
        return n

    hubs = [add(60, 5.0) for _ in range(8)]   # len*cov 300: never a tip
    for hub in hubs:
        for d in "fr":
            # 12..18 bp tips (len*cov <= tiplength 100) whose len - ov
            # values often tie
            for _ in range(rng.choice((0, 1, 2, 3, 4))):
                links.append((hub, d + rng.choice("fr"),
                              add(rng.choice((12, 15, 18)), rng.choice((1.0, 2.0, 5.0))),
                              rng.choice((3, 6, 9))))
            if rng.random() < 0.3:
                # a mixed side: one more neighbour with one edge that is
                # not a tip (12 bp at cov 9 is just over the length bound)
                links.append((hub, d + rng.choice("fr"),
                              add(*rng.choice(((12, 9.0), (60, 5.0)))), 10))
    # an all-tip side whose two best tips tie on len - ov (12)
    hubs.append(add(60, 5.0))
    for ln, ov in ((15, 3), (18, 6), (12, 6)):
        links.append((hubs[-1], "f" + rng.choice("fr"), add(ln, 2.0), ov))
    for _ in range(4):
        a, b = rng.sample(hubs, 2)
        links.append((a, rng.choice("fr") + rng.choice("fr"), b, 20))
    a, b = add(12, 2.0), add(15, 2.0)            # two tips joined to each other
    links.append((a, "ff", b, 5))
    t = add(12, 1.0)                             # a tip whose edge is a self-loop
    links.append((t, "fr", t, 4))
    for _ in range(3):                           # islands and an isolated long node
        add(rng.choice((12, 18)), 2.0)
    add(60, 5.0)
    return nodes, _sym(links)


@pytest.mark.parametrize("seed", [3, 17, 40])
def test_find_tips_matches_distributed(spark, seed):
    nodes, edges = _tip_graph(random.Random(seed))
    ndf, edf = _frames(spark, nodes, edges)
    want = {r.node_id for r in graph.find_tips(ndf, edf, 100).collect()}
    want_islands = graph.count_tip_islands(ndf, edf, 100)
    doomed, islands = smallgraph.find_tips(nodes, edges, 100)
    assert (doomed, islands) == (want, want_islands)
    assert doomed and islands


def _mutate(rng, s, n_edits, subs_only=False):
    s = list(s)
    for _ in range(n_edits):
        i = rng.randrange(len(s))
        op = "s" if subs_only else rng.choice("sid")
        if op == "s":
            s[i] = rng.choice([c for c in "ACGT" if c != s[i]])
        elif op == "i":
            s.insert(i, rng.choice("ACGT"))
        else:
            del s[i]
    return "".join(s)


def _bubble_graph(rng):
    new = _Ids(rng)
    nodes, links = {}, []
    for b in range(12):
        lo, hi = sorted((new(), new()))
        for end in (lo, hi):
            nodes[end] = (_seq(rng, 60), 20.0, None)
        du, dv = rng.choice("fr"), rng.choice("fr")
        if b == 0:
            # survivor chain: v2 is 2 edits from v1, v1 2 from v0, and v0
            # 4 from v2 (40 bp: bound 2.0), so v2's credit goes to a
            # survivor that is popped itself
            v0 = _seq(rng, 40)
            v1 = _mutate(rng, v0, 2, subs_only=True)
            variants = [(v0, 3.0), (v1, 2.0),
                        (_mutate(rng, v1, 2, subs_only=True), 1.0)]
        else:
            # interiors up to 60 bp against maxbubblelen 50, 0-3 edits
            # (the bound is 0.05 * the longer interior)
            tmpl = _seq(rng, rng.randint(18, 60))
            variants = [(_mutate(rng, tmpl, rng.choice((0, 1, 1, 2, 2, 3))),
                         rng.choice((1.0, 2.0, 2.0, 3.0, 4.0)))
                        for _ in range(rng.randint(2, 4))]
        for interior, cov in variants:
            n = new()
            ovr, ovf = rng.randint(3, 8), rng.randint(3, 8)
            seq = _seq(rng, ovr) + interior + _seq(rng, ovf)
            if rng.random() < 0.5:   # forward: r side to the minor end
                nodes[n] = (seq, cov, None)
                links += [(n, "r" + dv, lo, ovr), (n, "f" + du, hi, ovf)]
            else:                    # stored reverse-complemented
                nodes[n] = (rc_py(seq), cov, None)
                links += [(n, "f" + dv, lo, ovr), (n, "r" + du, hi, ovf)]
    return nodes, _sym(links)


@pytest.mark.parametrize("seed", [5, 23, 61])
def test_bubbles_match_distributed(spark, seed):
    nodes, edges = _bubble_graph(random.Random(seed))
    ndf, edf = _frames(spark, nodes, edges)
    pops_df = bubbles.find_bubbles(ndf, edf, 50, 0.05)
    want = {tuple(r) for r in pops_df.collect()}
    pops = smallgraph.find_bubbles(nodes, edges, 50, 0.05)
    assert set(pops) == want and len(pops) == len(want)
    assert want
    # survivor credits add up; a popped survivor takes none
    n2, e2 = bubbles.pop_bubbles(ndf, edf, pops_df)
    got_nodes, got_edges = smallgraph.pop_bubbles(dict(nodes), edges, pops)
    assert got_edges == {tuple(r) for r in e2.collect()}
    want_cov = {r.node_id: r.cov for r in n2.collect()}
    assert want_cov == pytest.approx({n: a[1] for n, a in got_nodes.items()},
                                     rel=1e-12)


@pytest.mark.parametrize("seed", [2, 31, 77])
def test_edge_adjustment_cuts_match_distributed(spark, seed):
    rng = random.Random(seed)
    new = _Ids(rng)
    # lengths and coverages on both sides of the A-statistic bound
    nodes = {new(): (_seq(rng, rng.randint(3, 100)), rng.uniform(0.0, 150.0), None)
             for _ in range(30)}
    ids = sorted(nodes)
    links = []
    for n in ids:
        for d in "fr":
            # repeated overlap values: several supported (count >= 2)
            # values per side, or a supported value equal to the maximum
            for dst in rng.sample(ids, rng.randint(0, 6)):
                links.append((n, d + rng.choice("fr"), dst,
                              rng.choice((5, 7, 7, 9, 9, 11))))
    edges = {(s, et, d, ov) for s, et, d, ov in links}
    ndf, edf = _frames(spark, nodes, edges)
    uniq = {r.node_id for r in graph.a_statistic(ndf, 30.0, 36, 21)
            .filter("unique").collect()}
    assert smallgraph.unique_nodes(nodes, 30.0, 36, 21) == uniq
    assert smallgraph.self_loops(edges) == \
        {tuple(r) for r in graph.self_loops(edf).collect()}
    cuts_df = graph.overlap_boundary_cuts(edf)
    cuts = smallgraph.overlap_boundary_cuts(edges)
    assert cuts == {tuple(r) for r in cuts_df.collect()}
    assert cuts
    assert smallgraph.remove_edges(edges, cuts) == \
        {tuple(r) for r in graph.remove_edges(edf, cuts_df).collect()}


def _tr_graph(rng):
    """Random edges with repeated overlap values plus planted a->b->c
    triples: several b implying one a->c, an implied overlap of exactly
    0, a path through a self-loop, a path that returns to a (a == c),
    and a b absent from ``nodes`` (``ghost…``)."""
    new = _Ids(rng)
    nodes = {new(): (_seq(rng, rng.choice((20, 25, 30))), 1.0, None)
             for _ in range(24)}
    ids = sorted(nodes)
    links = [(rng.choice(ids), rng.choice("fr") + rng.choice("fr"), rng.choice(ids),
              rng.choice((5, 10, 15, 20))) for _ in range(40)]
    kept = []

    def path(a, b, c, blen, ov_ac):
        d1, d, d3 = (rng.choice("fr") for _ in range(3))
        ov_ab = rng.randint(1, blen - 1)
        links.extend([(a, d1 + d, b, ov_ab), (b, d + d3, c, blen + ov_ac - ov_ab),
                      (a, d1 + d3, c, ov_ac)])
        return (a, d1 + d3, c, ov_ac)

    for _ in range(8):
        a, c = rng.sample(ids, 2)
        ov_ac = rng.choice((5, 10))
        for b in rng.sample([i for i in ids if i not in (a, c)], rng.randint(1, 3)):
            path(a, b, c, len(nodes[b][0]), ov_ac)
    a, b, c = rng.sample(ids, 3)
    kept.append(path(a, b, c, len(nodes[b][0]), 0))       # implied ov 0
    a, c = rng.sample(ids, 2)
    path(a, a, c, len(nodes[a][0]), rng.choice((5, 10)))  # through a self-loop
    a, b = rng.sample(ids, 2)
    kept.append(path(a, b, a, len(nodes[b][0]), 7))       # back to a
    a, c = rng.sample(ids, 2)
    kept.append(path(a, "ghost", c, 25, 10))              # b not a node
    return nodes, _sym(links), kept


@pytest.mark.parametrize("seed", [4, 13, 52])
def test_transitive_reduction_matches_distributed(spark, seed):
    nodes, edges, kept = _tr_graph(random.Random(seed))
    ndf, edf = _frames(spark, nodes, edges)
    want = {tuple(r) for r in graph.transitive_reduction(ndf, edf).collect()}
    got = smallgraph.transitive_reduction(nodes, edges)
    assert got == want
    assert len(got) < len(edges) and set(kept) <= got


def _chain_graph(rng):
    """Chains, cycles (ids ``y…``) and branches whose node sequences are
    slices of one walk string, so every link's overlap is consistent."""
    nodes, links = {}, []

    def walk(ids, cyclic):
        n = len(ids)
        lens = [rng.randint(8, 16) for _ in range(n)]
        ovs = [rng.randint(3, 6) for _ in range(n if cyclic else n - 1)]
        oris = [rng.choice("fr") for _ in range(n)]
        walk_str = _seq(rng, sum(lens) - sum(ovs))
        rep = walk_str * 4
        pos = 0
        for i, nid in enumerate(ids):
            oriented = rep[pos:pos + lens[i]]
            pairs = sorted(f"r{rng.randrange(1000):03d}" for _ in range(rng.randint(1, 3)))
            nodes[nid] = (oriented if oris[i] == "f" else rc_py(oriented),
                          float(rng.randint(1, 9)), pairs)
            if i + 1 < n or cyclic:
                links.append((nid, oris[i] + oris[(i + 1) % n], ids[(i + 1) % n], ovs[i]))
            pos += lens[i] - (ovs[i] if i < len(ovs) else 0)
        return oris

    ids_of = {"chain": _Ids(rng, "x"), "cycle": _Ids(rng, "y")}
    for c in range(8):
        kind = ("chain", "cycle", "branch")[c % 3]
        new = ids_of["cycle" if kind == "cycle" else "chain"]
        ids = [new() for _ in range(rng.randint(3, 6))]
        oris = walk(ids, kind == "cycle")
        if kind == "branch":
            # a second arm off the same side of the chain's first node
            # blocks compression there and keeps a third-party edge to
            # re-point
            arm = [new() for _ in range(rng.randint(2, 3))]
            walk(arm, False)
            d = _FLIP[oris[0]]
            links.append((ids[0], d + rng.choice("fr"), arm[0], 2))
            links.append((ids[0], d + rng.choice("fr"), ids[-1], 2))
    return nodes, _sym(links)


@pytest.mark.parametrize("seed", [8, 19])
def test_contract_matches_distributed(spark, seed):
    nodes, edges = _chain_graph(random.Random(seed))
    ndf = spark.createDataFrame(
        [(n, s, c, p) for n, (s, c, p) in nodes.items()],
        "node_id string, seq string, cov double, pair_ends array<string>")
    edf = make_edges(spark, sorted(edges))
    got_nodes, got_edges, n_links = smallgraph.contract(nodes, edges)
    assert n_links == graph.compressible(ndf, edf).count() > 0

    # the G7/G8 serial finish: the same walk, the same ids and edges
    n_ser, e_ser, _ = contraction.contract_chains(ndf, edf, serial_threshold=10**6)
    assert got_nodes == {r.node_id: (r.seq, r.cov, r.pair_ends)
                         for r in n_ser.collect()}
    assert got_edges == {tuple(r) for r in e_ser.collect()}

    # the G5/G6 pairwise rounds: the same contigs and spliced read lists
    # (a cycle is broken at another link, so only its reads compare)
    def contigs(rows):
        return sorted(("" if nid.startswith("y") else min(s, rc_py(s)), tuple(p))
                      for nid, s, p in rows)
    n_dis, _, _ = contraction.contract_chains(ndf, edf, seed=seed, serial_threshold=0)
    assert contigs((n, a[0], a[2]) for n, a in got_nodes.items()) == \
        contigs((r.node_id, r.seq, r.pair_ends) for r in n_dis.collect())


def _tiled_graph(rng):
    """Noisy, randomly oriented windows of one 240 bp template with an
    edge for every pair of windows that overlap on it: consensus sides
    with agreeing and disagreeing extensions, transitive triples and
    chains."""
    genome = _seq(rng, 240)
    nodes, placed = {}, []
    for i in range(60):
        ln = rng.randint(18, 30)
        off = rng.randint(0, len(genome) - ln)
        s = list(genome[off:off + ln])
        for _ in range(rng.choice((0, 0, 0, 1, 2))):
            j = rng.randrange(ln)
            s[j] = rng.choice([c for c in "ACGT" if c != s[j]])
        o = rng.choice("fr")
        nid = f"n{i:03d}"
        s = "".join(s)
        nodes[nid] = (s if o == "f" else rc_py(s), float(rng.choice((1, 2, 3, 5))), [nid])
        placed.append((off, ln, nid, o))
    links = [(a, oa + ob, b, off_a + ln_a - off_b)
             for off_a, ln_a, a, oa in placed for off_b, ln_b, b, ob in placed
             if off_a < off_b < off_a + ln_a < off_b + ln_b]
    return nodes, _sym(links)


@pytest.mark.parametrize("seed", [3, 10])
def test_string_graph_stage_matches_distributed(spark, monkeypatch, seed):
    """``Assembler.build_string_graph`` in the driver against the same
    stage at bound 0 (distributed cuts, TR and contraction) on a graph
    whose chimeric cut runs two rounds."""
    from cloudbrush_spark.pipeline.assembler import Assembler
    nodes, edges = _tiled_graph(random.Random(seed))
    ndf = spark.createDataFrame(
        [(n, s, c, p) for n, (s, c, p) in nodes.items()],
        "node_id string, seq string, cov double, pair_ends array<string>")
    edf = make_edges(spark, sorted(edges))
    out = {}
    for bound in (smallgraph.DRIVER_MAX_BYTES, 0):
        monkeypatch.setattr(smallgraph, "DRIVER_MAX_BYTES", bound)
        asm = Assembler(spark)
        n_df, e_df = asm.build_string_graph(ndf, edf)
        out[bound] = ({r.node_id: (r.seq, r.cov, r.pair_ends) for r in n_df.collect()},
                      {tuple(r) for r in e_df.collect()}, asm.counters)
    (d_nodes, d_edges, d_counters), (nodes0, edges0, counters0) = out.values()
    assert d_counters.pop("driver_finish") == 1 and "driver_finish" not in counters0
    assert d_counters == counters0
    assert d_counters["chimeric_cut_r1"] > 0
    assert (d_nodes, d_edges) == (nodes0, edges0)
    assert len(d_nodes) < len(nodes)


def test_driver_bytes_counts_read_lists(spark, monkeypatch):
    """The driver-finish gate sizes the read lists and sequences, not
    just the rows: the same graph with longer read lists leaves the
    driver."""
    from cloudbrush_spark.pipeline.assembler import Assembler
    nodes, edges = _chain_graph(random.Random(8))
    schema = "node_id string, seq string, cov double, pair_ends array<string>"
    ndf = spark.createDataFrame(
        [(n, s, c, p) for n, (s, c, p) in nodes.items()], schema)
    edf = make_edges(spark, sorted(edges))
    chars = sum(len(n) + len(s) + sum(map(len, p)) for n, (s, _, p) in nodes.items()) \
        + sum(len(s) + len(d) for s, _, d, _ in edges)
    n_ids = sum(len(p) for _, _, p in nodes.values())
    for unit, want in (("ROW_BYTES", len(nodes) + len(edges)),
                       ("CHAR_BYTES", chars), ("ID_BYTES", n_ids)):
        for u in ("ROW_BYTES", "CHAR_BYTES", "ID_BYTES"):
            monkeypatch.setattr(smallgraph, u, int(u == unit))
        assert smallgraph.driver_bytes(ndf, edf) == (len(nodes), len(edges), want)
    monkeypatch.undo()

    est = smallgraph.driver_bytes(ndf, edf)[2]
    monkeypatch.setattr(smallgraph, "DRIVER_MAX_BYTES", est)
    asm = Assembler(spark)
    got, _ = asm.compress_chains(ndf, edf)
    assert asm.counters["driver_finish"] == 1
    assert {r.node_id: (r.seq, r.cov, r.pair_ends) for r in got.collect()} == \
        smallgraph.contract(nodes, edges)[0]

    long_lists = spark.createDataFrame(
        [(n, s, c, p * 100) for n, (s, c, p) in nodes.items()], schema)
    assert smallgraph.driver_bytes(long_lists, edf)[:2] == (len(nodes), len(edges))
    asm.compress_chains(long_lists, edf)
    assert asm.counters["driver_finish"] == 1


def test_arrow_frame_partitions_per_50k_rows(spark):
    """A driver-built frame gets one partition per 50k rows, up to the
    default parallelism, not one per row."""
    dp = spark.sparkContext.defaultParallelism
    for rows, want in ((5, 1), (120_001, min(dp, 3))):
        df = smallgraph.arrow_frame(spark, {"x": list(range(rows))}, "x long")
        assert df.rdd.getNumPartitions() == want
        assert df.count() == rows


K_READS = 11
NODE_SCHEMA = "node_id string, seq string, cov double, pair_ends array<string>"


def _read_set(rng):
    """``(read_id, seq)`` rows: reads of both strands tiled over a 240 bp
    genome with a 24 bp repeat planted three times, some repeated (as read
    or reverse-complemented, once without an id) and some lowercased,
    plus the special reads ``s…``: ``N``-bearing, k and k - 3 long, two
    that overlap on a run of A only, and one of period 7 that overlaps
    itself; and a read whose two copies (one reverse-complemented) both
    lack an id."""
    genome = _seq(rng, 240)
    repeat = _seq(rng, 24)
    for at in (30, 120, 200):
        genome = genome[:at] + repeat + genome[at + len(repeat):]
    seqs = []
    for _ in range(90):
        ln = rng.randint(20, 40)
        off = rng.randrange(len(genome) - ln + 1)
        seqs.append(genome[off:off + ln])
    seqs += [rng.choice(seqs) for _ in range(15)]
    seqs = [rc_py(x) if rng.random() < 0.5 else x for x in seqs]
    seqs = [x.lower() if i % 7 == 0 else x for i, x in enumerate(seqs)]
    ids = rng.sample(range(10_000), len(seqs))
    special = {"s_n": _seq(rng, 8) + "N" + _seq(rng, 20),
               "s_k": _seq(rng, K_READS), "s_short": _seq(rng, K_READS - 3),
               "s_polya": _seq(rng, 9) + "A" * 14, "s_apoly": "A" * 14 + _seq(rng, 10),
               "s_period": _seq(rng, 7) * 6}
    orphan = _seq(rng, 30)
    return ([(f"r{i}", x) for i, x in zip(ids, seqs)] + [(None, seqs[0])]
            + list(special.items()) + [(None, orphan), (None, rc_py(orphan))])


def _plant_overlap_cases(rng, nodes):
    """Add node pairs to ``nodes``: ``p_a``/``p_b`` overlap by 23 bp on
    both strand pairs, but each strand pair's seed also matches at a
    larger overlap that fails the exact check; ``p_x``/``p_rx`` are each
    other's reverse complement."""
    pre, suf, x1, y1, r1, r2 = (_seq(rng, n) for n in (K_READS, 12, 5, 5, 6, 6))
    nodes["p_a"] = (r1 + pre + x1 + pre + suf, 1.0, ["p_a"])
    nodes["p_b"] = (pre + suf + y1 + suf[-K_READS:] + r2, 1.0, ["p_b"])
    x = _seq(rng, 30)
    nodes["p_x"], nodes["p_rx"] = (x, 1.0, ["p_x"]), (rc_py(x), 1.0, ["p_rx"])


@pytest.mark.parametrize("seed", [0, 1, 3])
def test_reads_to_overlap_graph_match_distributed(spark, seed):
    """P1+P2, P3 and J1-J3 in the driver against ``dedup.dedup_reads``,
    ``kmers.high_kmers`` and ``overlap.build_overlap_graph``."""
    rng = random.Random(seed)
    reads = _read_set(rng)
    rdf = spark.createDataFrame(reads, "read_id string, seq string")
    nodes = smallgraph.dedup_reads(reads, K_READS)
    ndf = dedup.dedup_reads(rdf, k=K_READS)
    assert nodes == {r.node_id: (r.seq, r.cov, r.pair_ends) for r in ndf.collect()}
    assert not {"s_n", "s_k", "s_short"} & set(nodes)
    assert max(c for _, c, _ in nodes.values()) > 1.0
    assert any(c > len(p) for _, c, p in nodes.values())   # the id-less read

    hk = smallgraph.high_kmers(nodes, K_READS, 20)
    hk_df = kmers.high_kmers(ndf, K_READS, up_kmer=20, id_col="node_id", cov_col="cov")
    assert hk == {r.kmer: r.cnt for r in hk_df.collect()}
    assert hk

    _plant_overlap_cases(rng, nodes)
    ndf = spark.createDataFrame(
        [(n, x, c, p) for n, (x, c, p) in nodes.items()], NODE_SCHEMA)
    want = {tuple(r) for r in overlap.build_overlap_graph(ndf, K_READS, hk_df).collect()}
    index = smallgraph.seed_index(nodes, K_READS, hk)
    got = smallgraph.overlap_graph(nodes, index)
    assert got == want
    # the planted cases are there and are not edges
    a, b = nodes["p_a"][0], nodes["p_b"][0]
    assert a[-23:] == b[:23]
    period = nodes["s_period"][0]
    assert period[7:] == period[:-7]
    assert not {e for e in got if {e[0], e[2]} == {"p_a", "p_b"}
                or e[0] == e[2] or "s_polya" in (e[0], e[2])}
    # some candidate is a contained read
    assert any(ov >= len(nodes[dst][0]) for prefixes, windows in index.values()
               for _, _, ov in windows for dst, _ in prefixes)


def test_overlap_falls_back_to_distributed_join(spark, monkeypatch):
    """With a budget the reads fit but the nodes plus the overlap
    candidates do not, ``build_overlap`` runs the distributed join on the
    node frame the driver built, with the edges and counters of the
    driver overlap graph."""
    from cloudbrush_spark.pipeline.assembler import Assembler
    reads = spark.createDataFrame(_read_set(random.Random(0)),
                                  "read_id string, seq string")
    sizes = []
    driver_bytes = smallgraph.driver_bytes
    monkeypatch.setattr(smallgraph, "driver_bytes",
                        lambda n, e=None: sizes.append(driver_bytes(n, e)) or sizes[-1])

    def overlap_at(bound):
        monkeypatch.setattr(smallgraph, "DRIVER_MAX_BYTES", bound)
        asm = Assembler(spark, BrushParams(k=K_READS, up_kmer=20))
        nodes, hk = asm.preprocess(reads)
        held_nodes, held_hk, (g_nodes, g_hk) = asm._held
        assert held_nodes is nodes and held_hk is hk
        index = smallgraph.seed_index(g_nodes, K_READS, g_hk)
        fits = smallgraph.overlap_bytes(g_nodes, index)[1] <= bound
        edges = asm.build_overlap(nodes, hk)
        assert (asm._held is not None) == fits
        return {tuple(r) for r in edges.collect()}, asm.counters, fits

    driver, counters, fits = overlap_at(smallgraph.DRIVER_MAX_BYTES)
    # a budget of exactly the reads' estimate
    fallback, counters_fb, fits_fb = overlap_at(sizes[0][2])
    assert fits and not fits_fb and len(sizes) == 2
    assert driver == fallback and counters == counters_fb
    assert counters["high_kmers"] > 0
