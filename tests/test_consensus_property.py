"""Seeded agreement test: the per-side array consensus (G1
CutChimericLinks, G9 DefineConsensus) agrees with the driver consensus
``smallgraph.chimeric_cuts``, a literal Python transcription of
Node.Consensus (src/Brush/Node.java:1293-1377), on random sides.

Each side has 2-7 extensions of 1-15 bases over ACGT with an occasional
N, drawn as noisy copies of one template so that most sides reach a
consensus and some extensions disagree with it.  Coverages include
values below 1 and ties.  A few sides have one edge, an empty extension
or a duplicated edge row, which pin the side-count rules and the
set semantics of the cut.
"""

import random

import pytest

from cloudbrush_spark.functions.dna import rc_py
from cloudbrush_spark.operators import consensus, smallgraph
from tests.conftest import make_edges, make_nodes

COVS = (0.4, 0.9, 1.0, 1.0, 1.5, 2.0, 2.7, 3.0, 5.0)


def _colors(nodes, edge_rows, majority, pwm_n):
    """G9 colors from the driver consensus: a one-edge side is its own
    consensus ('B'); a side with >= 2 extensions is 'B' when it has a
    consensus, else 'W'; any other side gets no color."""
    colors = {}
    for key, (n_edges, xs, cons) in smallgraph._consensus_sides(
            nodes, edge_rows, majority, pwm_n, 100).items():
        if n_edges == 1:
            colors[key] = "B"
        elif len(xs) >= 2:
            colors[key] = "B" if cons is not None else "W"
    return colors


def _random_sides(rng: random.Random, n_sides: int):
    """(nodes, edges): each edge's neighbour is its own node whose
    oriented sequence is a random ``ov``-base prefix plus the extension."""
    nodes, edges = [], []
    for s in range(n_sides):
        src, d = f"S{s // 2}", "fr"[s % 2]
        template = "".join(rng.choice("ACGT") for _ in range(15))
        n = 1 if rng.random() < 0.1 else rng.randint(2, 7)
        rows = []
        for j in range(n):
            ext = "".join(
                ch if rng.random() > 0.15 else rng.choice("ACGTN" if rng.random() < 0.3 else "ACGT")
                for ch in template[:rng.randint(1, 15)])
            if rng.random() < 0.05:
                ext = ""  # the overlap covers the whole neighbour
            ov = rng.randint(2, 6)
            d2 = rng.choice("fr")
            oriented = "".join(rng.choice("ACGT") for _ in range(ov)) + ext
            dst = f"N{s}_{j}"
            nodes.append((dst, oriented if d2 == "f" else rc_py(oriented),
                          rng.choice(COVS)))
            rows.append((d + d2, dst, ov, ext, nodes[-1][2]))
        if n > 1 and rng.random() < 0.1:
            rows.append(rows[0])  # a duplicated edge row
        for et, dst, ov, _, _ in rows:
            edges.append((src, et, dst, ov))
    for i in range(n_sides // 2):
        nodes.append((f"S{i}", "ACGTACGT", 1.0))
    return nodes, edges


@pytest.mark.parametrize("seed,majority,pwm_n", [(3, 0.6, 0.1), (11, 0.6, 0.5),
                                                  (29, 0.5, 0.3)])
def test_consensus_matches_node_consensus(spark, seed, majority, pwm_n):
    node_rows, edge_rows = _random_sides(random.Random(seed), 160)
    nodes, edges = make_nodes(spark, node_rows), make_edges(spark, edge_rows)
    g_nodes = {n: (s, c, None) for n, s, c in node_rows}
    want_cuts = smallgraph.chimeric_cuts(g_nodes, edge_rows, majority, pwm_n)
    want_colors = _colors(g_nodes, edge_rows, majority, pwm_n)
    cut_rows = [tuple(r) for r in consensus.cut_chimeric_links(
        nodes, edges, majority=majority, pwm_n=pwm_n).collect()]
    assert len(cut_rows) == len(set(cut_rows))  # one row per cut edge
    assert set(cut_rows) == want_cuts
    got_colors = {(r.node_id, r.d): r.color for r in consensus.define_consensus(
        nodes, edges, majority=majority, pwm_n=pwm_n).collect()}
    assert got_colors == want_colors
    # the fixture reaches every branch: cuts, valid and invalid sides
    assert want_cuts and {"B", "W"} <= set(want_colors.values())


def test_cut_truncates_extensions_to_max_ext(spark):
    """Both consensus forms read at most ``max_ext`` bases of each
    extension, so the bounded length and the votes change with it."""
    node_rows, edge_rows = _random_sides(random.Random(47), 160)
    nodes, edges = make_nodes(spark, node_rows), make_edges(spark, edge_rows)
    g_nodes = {n: (s, c, None) for n, s, c in node_rows}
    want = smallgraph.chimeric_cuts(g_nodes, edge_rows, 0.6, 0.1, max_ext=6)
    got = {tuple(r) for r in consensus.cut_chimeric_links(
        nodes, edges, majority=0.6, pwm_n=0.1, max_ext=6).collect()}
    assert got == want
    assert want != smallgraph.chimeric_cuts(g_nodes, edge_rows, 0.6, 0.1)
