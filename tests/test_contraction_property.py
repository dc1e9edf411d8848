"""Property tests for the contraction family (G5 PairMark / G6 PairMerge /
G7-G8 serial finish) on hypothesis-generated chain / cycle / branch
topologies, checked against an independent pure-python brute force.

The brute-force oracle exploits a structural fact: merging a mutually-
unique link never changes any (node, side) degree, so the compressible
link set is merge-order invariant and the contracted quotient graph is
UNIQUE — each connected component of the compressible-link subgraph
collapses to exactly one node whose sequence is the orientation-aware
walk splice (src/Brush/PairMerge.java:132-149) in the survivor's frame.
Coverage is mildly merge-order-dependent (the reference weights by
current merged length, PairMerge.java:149), so it is bounds-checked, not
equality-checked.

Termination: PairMark's coin pathology (a round where every chain node
draws the same sex — the F-F-F local-minimum family,
src/Brush/PairMark.java:133-171) merges nothing; contract_chains re-seeds
each round, so the fixpoint must still be reached well inside MAX_ROUNDS
and must leave ZERO compressible links.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cloudbrush_spark.functions.dna import rc_py

# ---------------------------------------------------------------------------
# pure-python graph model
# ---------------------------------------------------------------------------

_FLIP = {"f": "r", "r": "f"}


def _flip_et(et: str) -> str:
    return _FLIP[et[1]] + _FLIP[et[0]]


class Comp:
    """One generated component: nodes {id: (seq, cov)}, fwd walk links
    [(src, et, dst, ov)], plus extra (non-walk) links for branches."""

    def __init__(self, nodes, links, kind):
        self.nodes, self.links, self.kind = nodes, links, kind


@st.composite
def component(draw, cid: int = 0):
    """Overlap-CONSISTENT components: node sequences are slices of an
    underlying walk string, so every edge satisfies the operator's
    precondition suffix(orient(src,d1),ov) == prefix(orient(dst,d2),ov).
    (With inconsistent overlaps the merge result legitimately depends on
    which side gets trimmed — not a contraction property.)"""
    kind = draw(st.sampled_from(["chain", "chain", "cycle", "branch"]))
    rng = random.Random(draw(st.integers(0, 10**6)))

    def rand_seq(n):
        return "".join(rng.choice("ACGT") for _ in range(n))

    def walk_from(ids, walk_str, lens, ovs, oris, cyclic=False):
        """Slice oriented node seqs out of walk_str; store per node frame."""
        nodes, links, pos = {}, [], 0
        L = len(walk_str)
        for i, nid in enumerate(ids):
            if cyclic:
                rep = walk_str * (lens[i] // L + 2)
                oriented = rep[pos % L: pos % L + lens[i]]
            else:
                oriented = walk_str[pos: pos + lens[i]]
            nodes[nid] = (oriented if oris[i] == "f" else rc_py(oriented),
                          float(rng.randint(1, 9)))
            if i + 1 < len(ids):
                links.append((nid, oris[i] + oris[i + 1], ids[i + 1], ovs[i]))
            pos += lens[i] - (ovs[i] if i < len(ovs) else 0)
        if cyclic:
            links.append((ids[-1], oris[-1] + oris[0], ids[0], ovs[-1]))
        return nodes, links

    def chain_parts(n):
        lens = [rng.randint(8, 16) for _ in range(n)]
        ovs = [rng.randint(3, 6) for _ in range(n - 1)]
        oris = [rng.choice("fr") for _ in range(n)]
        return lens, ovs, oris

    if kind in ("chain", "cycle"):
        n = draw(st.integers(3 if kind == "cycle" else 2, 8))
        ids = [f"x{cid}_{i:03d}" for i in range(n)]
        lens, ovs, oris = chain_parts(n)
        if kind == "cycle":
            ovs = ovs + [rng.randint(3, 6)]
            walk_str = rand_seq(sum(lens) - sum(ovs))
            nodes, links = walk_from(ids, walk_str, lens, ovs, oris, cyclic=True)
        else:
            walk_str = rand_seq(sum(lens) - sum(ovs))
            nodes, links = walk_from(ids, walk_str, lens, ovs, oris)
        return Comp(nodes, links, kind)

    # branch: center with two arms off its f side, one arm off its r side.
    # Each arm's walk string starts with the center-side overlap content.
    center = f"x{cid}_000"
    c_seq = rand_seq(rng.randint(10, 16))
    nodes = {center: (c_seq, float(rng.randint(1, 9)))}
    links = []
    for a in range(3):
        alen = draw(st.integers(1, 4))
        side = "f" if a < 2 else "r"
        c_oriented = c_seq if side == "f" else rc_py(c_seq)
        ov0 = rng.randint(3, 6)
        ids = [f"x{cid}_{100 * (a + 1) + j:03d}" for j in range(alen)]
        lens, ovs, oris = chain_parts(alen)
        walk_str = c_oriented[-ov0:] + rand_seq(sum(lens) - sum(ovs) - ov0)
        anodes, alinks = walk_from(ids, walk_str, lens, ovs, oris)
        nodes.update(anodes)
        links.append((center, side + oris[0], ids[0], ov0))
        links += alinks
    return Comp(nodes, links, "branch")


def _sym(links):
    out = set()
    for (s, et, d, ov) in links:
        out.add((s, et, d, ov))
        out.add((d, _flip_et(et), s, ov))
    return sorted(out)


def _side_deg(sym_links):
    deg = {}
    for (s, et, d, ov) in sym_links:
        deg[(s, et[0])] = deg.get((s, et[0]), 0) + 1
    return deg


def _compressible(sym_links):
    deg = _side_deg(sym_links)
    return [
        (s, et, d, ov) for (s, et, d, ov) in sym_links
        if s != d and deg.get((s, et[0]), 0) == 1
        and deg.get((d, _FLIP[et[1]]), 0) == 1
    ]


def _clusters(node_ids, comp_links):
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (s, _, d, _) in comp_links:
        parent[find(s)] = find(d)
    out = {}
    for n in node_ids:
        out.setdefault(find(n), set()).add(n)
    return list(out.values())


def _walk_seq(cluster, comp_links, nodes):
    """Orientation-aware splice of a PATH cluster, canonicalized
    (min of seq / rc); returns None for cycles within the cluster."""
    links = [l for l in comp_links if l[0] in cluster and l[2] in cluster]
    if len(cluster) == 1:
        return min(nodes[next(iter(cluster))][0],
                   rc_py(nodes[next(iter(cluster))][0]))
    adj = {}
    for (s, et, d, ov) in links:
        adj.setdefault(s, []).append((et, d, ov))
    # path cluster: exactly 2 * (|cluster| - 1) directed link rows
    if len(links) != 2 * (len(cluster) - 1):
        return None  # cycle
    ends = [n for n in cluster if len(adj[n]) == 1]
    start = min(ends)
    et0, nxt, ov0 = adj[start][0]

    def orient(nid, d):
        s = nodes[nid][0]
        return s if d == "f" else rc_py(s)

    seq = orient(start, et0[0]) + orient(nxt, et0[1])[ov0:]
    prev, cur, cur_d = start, nxt, et0[1]
    while True:
        step = [(et, d, ov) for (et, d, ov) in adj[cur]
                if d != prev and et[0] == cur_d]
        if not step:
            break
        et, d, ov = step[0]
        seq += orient(d, et[1])[ov:]
        prev, cur, cur_d = cur, d, et[1]
    return min(seq, rc_py(seq))


# ---------------------------------------------------------------------------
# oracle self-check: the walker must reproduce the generator's own walk on
# pure chains (fast, no Spark — broad-coverage validation of the oracle
# and of the edge-building conventions themselves)
# ---------------------------------------------------------------------------

@settings(max_examples=250, deadline=None, derandomize=True)
@given(component())
def test_bruteforce_walker_consistent(comp):
    sym = _sym(comp.links)
    cl = _compressible(sym)
    clusters = _clusters(list(comp.nodes), cl)
    if comp.kind == "chain":
        # a pure chain is one cluster; its walk equals the generator's
        # direct splice
        assert len(clusters) == 1
        rng_seq = None
        for (s, et, d, ov) in comp.links:
            o_s = (comp.nodes[s][0] if et[0] == "f" else rc_py(comp.nodes[s][0]))
            o_d = (comp.nodes[d][0] if et[1] == "f" else rc_py(comp.nodes[d][0]))
            rng_seq = (rng_seq or o_s) + o_d[ov:]
        assert _walk_seq(clusters[0], cl, comp.nodes) == min(rng_seq, rc_py(rng_seq))
    elif comp.kind == "cycle":
        assert len(clusters) == 1
        assert _walk_seq(clusters[0], cl, comp.nodes) is None
    else:
        # branch: center's double side blocks those two links; three arms
        # + center partition into exactly 3 clusters
        assert len(clusters) == 3


# ---------------------------------------------------------------------------
# engine vs brute force (Spark): many components per example, one contract
# call per variant — distributed-only and serial-only must both match the
# unique quotient graph
# ---------------------------------------------------------------------------

def _build(spark, comps):
    from tests.conftest import make_nodes  # shared fixture helper
    rows, links = [], []
    for c in comps:
        rows += [(n, s, cov) for n, (s, cov) in c.nodes.items()]
        links += c.links
    nodes = make_nodes(spark, rows)
    edges = spark.createDataFrame(_sym(links), "src string, et string, dst string, ov int")
    return nodes, edges


def _expected(comps):
    nodes, links = {}, []
    for c in comps:
        nodes.update(c.nodes)
        links += c.links
    sym = _sym(links)
    cl = _compressible(sym)
    clusters = _clusters(list(nodes), cl)
    exp_seqs = []
    n_cycles = 0
    for cluster in clusters:
        w = _walk_seq(cluster, cl, nodes)
        if w is None:
            n_cycles += 1
        else:
            exp_seqs.append((w, min(nodes[m][1] for m in cluster),
                             max(nodes[m][1] for m in cluster)))
    return sorted(s for s, _, _ in exp_seqs), exp_seqs, n_cycles, len(clusters)


@settings(max_examples=3, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(component(), min_size=3, max_size=6), st.integers(0, 99))
def test_contract_matches_bruteforce(spark, comps, seed):
    from cloudbrush_spark.operators import contraction
    from cloudbrush_spark.operators.graph import compressible

    # namespace node ids per component to keep them disjoint
    for i, c in enumerate(comps):
        ren = {n: f"c{i}{n}" for n in c.nodes}
        c.nodes = {ren[n]: v for n, v in c.nodes.items()}
        c.links = [(ren[s], et, ren[d], ov) for (s, et, d, ov) in c.links]

    nodes, edges = _build(spark, comps)
    exp_sorted, exp_seqs, n_cycles, n_clusters = _expected(comps)

    # distributed-only (G5/G6 randomized rounds) and serial-only (G7/G8
    # driver walk) must both reach the same unique quotient graph
    for serial_threshold in (0, 10**6):
        n2, e2, rounds = contraction.contract_chains(
            nodes, edges, seed=seed, serial_threshold=serial_threshold)
        got = [(min(r.seq, rc_py(r.seq)), r.cov) for r in n2.collect()]

        # termination: fixpoint reached, nothing compressible left
        assert rounds < 64
        assert compressible(n2, e2).count() == 0
        # unique quotient graph: node count and path-cluster sequences
        assert len(got) == n_clusters
        got_path = sorted(s for s, _ in got if s in set(exp_sorted))
        assert got_path == exp_sorted
        # coverage stays within member bounds (any-order weighted mean)
        bounds = {s: (lo, hi) for s, lo, hi in exp_seqs}
        for s, cov in got:
            if s in bounds:
                lo, hi = bounds[s]
                assert lo - 1e-6 <= cov <= hi + 1e-6


# ---------------------------------------------------------------------------
# origin-plan severing (plans.sever_origin) — fail-loud API pin
# ---------------------------------------------------------------------------


def test_sever_origin_drops_origin_plan(spark):
    """The geometric driver-time fix for iterative loops rides a private
    JVM API (internalCreateDataFrame).  Pin that (a) a plain
    localCheckpoint RETAINS origin stats — the thing whose chained
    references blow up late rounds — and (b) sever_origin really drops
    them.  If Spark moves the API, sever_origin's except-branch would
    silently hand back the plain checkpoint and (b) turns red here,
    instead of the loop quietly regressing to 345 s/round."""
    from cloudbrush_spark.plans import sever_origin
    from tests.plan_checks import origin_stats_defined

    df = spark.range(10).selectExpr("id", "id * 2 as v")
    ck = df.localCheckpoint(eager=True)
    assert origin_stats_defined(ck), \
        "plain localCheckpoint no longer retains origin stats — " \
        "re-evaluate whether severing is still needed"

    severed = sever_origin(ck)
    assert not origin_stats_defined(severed)
    # severed frame is the same data, still usable downstream
    assert sorted(r.v for r in severed.collect()) == [i * 2 for i in range(10)]


def test_cut_materializes_once_and_severs_once(spark):
    """plans.cut returns a frame it already cut as is (no second job),
    and ``sever=True`` on a frame cut without a sever only severs it."""
    from cloudbrush_spark.plans import cut
    from tests.plan_checks import origin_stats_defined

    ck = cut(spark.range(10).selectExpr("id", "id * 2 as v"))
    assert origin_stats_defined(ck)
    assert cut(ck) is ck
    severed = cut(ck, sever=True)
    assert severed is not ck and not origin_stats_defined(severed)
    assert cut(severed, sever=True) is severed
    assert cut(severed) is severed
    assert sorted(r.v for r in severed.collect()) == [i * 2 for i in range(10)]


def test_sever_origin_fallback_warns_once(spark, monkeypatch):
    """Where the private API is unreachable (Spark Connect), sever_origin
    must warn LOUDLY (once per process) and hand back the input frame."""
    import warnings

    from cloudbrush_spark.plans import sever
    from cloudbrush_spark.plans.sever import sever_origin

    ck = spark.range(5).localCheckpoint(eager=True)

    class _NoApi:
        def __getattr__(self, name):
            raise AttributeError(name)

    monkeypatch.setattr(sever, "_warned", False)
    # a property is a data descriptor, so it shadows the instance
    # attribute; raising=False because _jdf is instance-level in
    # PySpark 4's classic DataFrame
    monkeypatch.setattr(type(ck), "_jdf", property(
        lambda self: (_ for _ in ()).throw(RuntimeError("no JVM handle"))),
        raising=False)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            out1 = sever_origin(ck)
            out2 = sever_origin(ck)
    finally:
        monkeypatch.undo()
    assert out1 is ck and out2 is ck
    runtime = [w for w in caught if issubclass(w.category, RuntimeWarning)
               and "internalCreateDataFrame" in str(w.message)]
    assert len(runtime) == 1  # once per process, not per round
