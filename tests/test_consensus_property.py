"""Seeded property test: the per-side array consensus (G1
CutChimericLinks, G9 DefineConsensus) agrees with a literal Python
transcription of Node.Consensus (src/Brush/Node.java:1293-1377) on
random sides.

Each side has 2-7 extensions of 1-15 bases over ACGT with an occasional
N, drawn as noisy copies of one template so that most sides reach a
consensus and some extensions disagree with it.  Coverages include
values below 1 and ties.  A few sides have one edge, an empty extension
or a duplicated edge row, which pin the side-count rules and the
set semantics of the cut.
"""

import math
import random

import pytest

from cloudbrush_spark.functions.dna import rc_py
from cloudbrush_spark.operators import consensus
from tests.conftest import make_edges, make_nodes

COVS = (0.4, 0.9, 1.0, 1.0, 1.5, 2.0, 2.7, 3.0, 5.0)


def _ref_side(exts, majority, pwm_n):
    """exts: [(ext, dst, cov)] of one side.  Returns (consensus or None,
    bounded length): Node.Consensus over the side's extensions."""
    exts = sorted((e for e in exts if e[0]), key=lambda e: (-len(e[0]), e[0], e[1]))
    if len(exts) < 2:
        return None, 0
    # bounded length: 2nd-longest, or 3rd-longest on weak evidence (:1313-1320)
    clen = len(exts[1][0])
    if len(exts) > 2 and exts[0][2] + exts[1][2] <= 2.0:
        clen = len(exts[2][0])
    cons = []
    for i in range(clen):
        votes = {}
        for ext, _, cov in exts:
            if i < len(ext):  # truncated integer weights (:1332)
                votes[ext[i]] = votes.get(ext[i], 0) + max(math.floor(cov), 0)
        top_w, top_ch = max((w, ch) for ch, w in votes.items())
        # strict majority, (weight, char) tie-break (:1348-1361)
        cons.append(top_ch if top_w > majority * sum(votes.values()) else "N")
    cons = "".join(cons)
    if cons.count("N") / clen > pwm_n:  # pwm_n gate (:1369-1371)
        return None, clen
    return cons, clen


def _ref(sides, majority, pwm_n):
    cuts, colors = set(), {}
    for (src, d), rows in sides.items():
        cons, clen = _ref_side([(ext, dst, cov) for _, dst, _, ext, cov in rows],
                               majority, pwm_n)
        if len(rows) == 1:
            colors[(src, d)] = "B"
        elif sum(1 for r in rows if r[3]) >= 2:
            colors[(src, d)] = "B" if cons is not None else "W"
        if cons is None:
            continue
        for et, dst, ov, ext, _ in rows:
            if any(c != "N" and ext[i] != c for i, c in enumerate(cons[:len(ext)])):
                cuts.add((src, et, dst, ov))
    return cuts, colors


def _random_sides(rng: random.Random, n_sides: int):
    """(nodes, edges, sides): each edge's neighbour is its own node whose
    oriented sequence is a random ``ov``-base prefix plus the extension."""
    nodes, edges, sides = [], [], {}
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
        sides[(src, d)] = rows
    for i in range(n_sides // 2):
        nodes.append((f"S{i}", "ACGTACGT", 1.0))
    return nodes, edges, sides


@pytest.mark.parametrize("seed,majority,pwm_n", [(3, 0.6, 0.1), (11, 0.6, 0.5),
                                                  (29, 0.5, 0.3)])
def test_consensus_matches_node_consensus(spark, seed, majority, pwm_n):
    node_rows, edge_rows, sides = _random_sides(random.Random(seed), 160)
    nodes, edges = make_nodes(spark, node_rows), make_edges(spark, edge_rows)
    want_cuts, want_colors = _ref(sides, majority, pwm_n)
    cut_rows = [tuple(r) for r in consensus.cut_chimeric_links(
        nodes, edges, majority=majority, pwm_n=pwm_n).collect()]
    assert len(cut_rows) == len(set(cut_rows))  # one row per cut edge
    assert set(cut_rows) == want_cuts
    got_colors = {(r.node_id, r.d): r.color for r in consensus.define_consensus(
        nodes, edges, majority=majority, pwm_n=pwm_n).collect()}
    assert got_colors == want_colors
    # the fixture reaches every branch: cuts, valid and invalid sides
    assert want_cuts and {"B", "W"} <= set(want_colors.values())
