"""The assembly graph from the reads, over driver-side dicts: read dedup
(P1/P2), the high-k-mer blacklist (P3), the overlap join (J1-J3), the
chimeric-link cut (G1), transitive reduction (G3), chain contraction
(G7/G8), tips (C1), bubbles (C2/C3), low coverage (C4) and the
A-statistic self-loop/boundary cuts (C5).

The overlap graph of a small genome fits in the driver (a 3 kb genome at
72x gives 6k reads, ~3.4k nodes and ~69k edges, ~5k edges after
transitive reduction), yet every distributed stage costs a fixed handful
of Spark jobs.  The reference hands such residual graphs to one reducer
(QuickMark / QuickMerge, src/Brush/BrushAssembler.java:506-556); the
assembler does the same with these functions, from the reads on, once
``driver_bytes`` estimates that the reads fit in ``DRIVER_MAX_BYTES`` of
driver memory and ``overlap_bytes`` that the nodes and the overlap
candidates do.

Every function mirrors its distributed twin in ``dedup``, ``kmers``,
``overlap``, ``consensus``, ``graph``, ``bubbles`` and ``contraction``
with the same tie rules, and ``tests/test_smallgraph_property.py`` and
``tests/test_consensus_property.py`` pin each pair to agree on seeded
random inputs.  One difference is deliberate: ``contract`` is always the
full chain walk (the G7/G8 serial finish), never the seeded G5/G6
pairwise rounds.  Contracting a chain gives the same sequence either
way; only the length-weighted coverage depends on merge order.

A graph is ``nodes``: ``{node_id: (seq, cov, pair_ends or None)}`` and
``edges``: a set of ``(src, et, dst, ov)`` rows, kept symmetric like the
distributed edge frame.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from cloudbrush_spark.functions.dna import flip_dir_py, flip_link_py, rc_py
from cloudbrush_spark.operators.graph import BOUNDARY_MIN_SUPPORT

# Driver-memory budget for finishing a stage in the driver, in the bytes
# ``driver_bytes`` estimates.  The read lists dominate on real data: after
# contraction each node carries the ids of all its member reads, so a few
# thousand contigs can hold millions of ids.  The unit costs are upper
# bounds of the measured growth of the driver process's peak RSS
# (ru_maxrss) over the collect, the whole driver finish of one stage and
# its Arrow output tables, on chain graphs of 2k-300k nodes whose read
# lists hold up to 3.6M ids of 9-24 characters and whose sequences are
# up to 10 kb (4-core x86-64, CPython 3, local Spark).  At the budget
# that is at most about 0.5 GB of driver RSS.  A 24 kb genome at 72x
# (48,000 36 bp reads, 27,400 nodes, 640,419 overlap candidates, 561,698
# edges) measured on the same host:
# - reads to string graph all in the driver (read collect, dedup, seed
#   index, overlap join, chimeric cuts, transitive reduction,
#   contraction and output tables), the nodes plus candidates estimated
#   at 555 MiB: peak RSS +269 MiB;
# - at this budget the candidates do not fit, so the distributed join
#   runs and the string-graph stage collects its 561,698 edges
#   (estimated at 490 MiB): peak RSS +361 MiB.
DRIVER_MAX_BYTES = 512 << 20
ROW_BYTES = 800     # per node or edge row
CHAR_BYTES = 5      # per character of an id or sequence string
ID_BYTES = 64       # per ``pair_ends`` entry, beyond its characters


def _estimate(rows: int, chars: int, ids: int) -> int:
    """Estimated driver bytes of ``rows`` node and edge rows holding
    ``chars`` id and sequence characters and ``ids`` read-list entries."""
    return ROW_BYTES * rows + CHAR_BYTES * chars + ID_BYTES * ids


def driver_bytes(nodes, edges=None) -> tuple[int, int, int]:
    """``(node rows, edge rows, estimated driver bytes)`` of a graph's
    frames, or of the node frame alone when ``edges`` is None, from one
    aggregate; no row is collected."""
    from pyspark.sql import functions as F

    def length(c):
        return F.coalesce(F.length(c), F.lit(0))

    zero = F.lit(0).cast("long")
    if "pair_ends" in nodes.columns:
        ids = F.coalesce(F.size("pair_ends"), zero)
        id_chars = F.coalesce(F.aggregate(
            "pair_ends", zero, lambda acc, x: acc + length(x)), zero)
    else:
        ids = id_chars = zero
    cols = ("n_nodes", "n_edges", "chars", "ids")
    sized = nodes.select(
        F.lit(1).alias("n_nodes"), F.lit(0).alias("n_edges"),
        (length("node_id") + length("seq") + id_chars).alias("chars"),
        ids.alias("ids"))
    if edges is not None:
        sized = sized.unionByName(edges.select(
            F.lit(0).alias("n_nodes"), F.lit(1).alias("n_edges"),
            (length("src") + length("dst")).alias("chars"), zero.alias("ids")))
    row = sized.agg(*[F.coalesce(F.sum(c), zero).alias(c) for c in cols]).first()
    n_nodes, n_edges, chars, n_ids = (int(row[c]) for c in cols)
    return n_nodes, n_edges, _estimate(n_nodes + n_edges, chars, n_ids)


def collect(nodes, edges=None) -> tuple[dict, set]:
    """(nodes, edges) of a graph's frames, collected as Arrow tables (no
    Row objects); ``pair_ends`` is None when the node frame has no such
    column, and ``edges`` None gives an empty edge set."""
    n = nodes.toArrow().to_pydict()
    pairs = n.get("pair_ends", [None] * len(n["node_id"]))
    e = edges.select("src", "et", "dst", "ov").toArrow().to_pydict() \
        if edges is not None else {"src": [], "et": [], "dst": [], "ov": []}
    return (dict(zip(n["node_id"], zip(n["seq"], n["cov"], pairs))),
            set(zip(e["src"], e["et"], e["dst"], e["ov"])))


def arrow_frame(spark, columns: dict, schema):
    """A frame of ``columns`` (name -> values, in the order of ``schema``'s
    fields) built from an Arrow table.  A frame built from a list of rows
    starts Python workers on every job that reads it; this one does not.

    Spark plans a small Arrow table with one partition per row, up to the
    default parallelism, so every job reading it schedules that many
    near-empty tasks; the frame is coalesced to one partition per 50k
    rows instead."""
    import pyarrow as pa
    table = pa.table(columns)
    parts = max(1, min(spark.sparkContext.defaultParallelism,
                       -(-table.num_rows // 50_000)))
    return spark.createDataFrame(table, schema).coalesce(parts)


_ACGT = re.compile("[ACGT]+")


def dedup_reads(reads, k: int) -> dict:
    """P1+P2 (``dedup.dedup_reads``) over ``(read_id, seq)`` pairs.  A read
    is kept when its upper-cased sequence is ACGT only and it is longer
    than ``k``; reads are grouped by the canonical form of the upper-cased
    sequence, and each group becomes the node of its smallest read id,
    with that read's sequence as read, the member count as coverage and
    the sorted member ids as ``pair_ends``.  A read without an id counts
    toward its group's coverage only, as Spark's min and collect_list
    skip nulls, and a group without any id makes no node."""
    groups = defaultdict(list)
    for rid, seq in reads:
        if seq is None or len(seq) <= k:
            continue
        up = seq.upper()
        if _ACGT.fullmatch(up):
            groups[min(up, rc_py(up))].append((rid, seq))
    nodes = {}
    for members in groups.values():
        named = sorted(m for m in members if m[0] is not None)
        if named:
            nodes[named[0][0]] = (named[0][1], float(len(members)),
                                  [m[0] for m in named])
    return nodes


def high_kmers(nodes: dict, k: int, up_kmer: int) -> dict:
    """P3 (``kmers.high_kmers``): ``{canonical k-mer: count}`` of the node
    k-mers whose coverage-weighted count, cast to an integer, exceeds
    ``up_kmer``."""
    counts = defaultdict(float)
    for seq, cov, _ in nodes.values():
        n, rc = len(seq), rc_py(seq)
        for i in range(n - k + 1):
            km, kr = seq[i:i + k], rc[n - i - k:n - i]
            counts[min(km, kr)] += cov
    return {km: int(c) for km, c in counts.items() if int(c) > up_kmer}


def _oriented(nodes: dict):
    """``(node, d, oriented seq)`` for both orientations of every node."""
    for n, (seq, _, _) in nodes.items():
        yield n, "f", seq
        yield n, "r", rc_py(seq)


def seed_index(nodes: dict, k: int, high_kmers) -> dict:
    """J1's postings (``overlap._postings`` and ``_drop_noise_keys``):
    ``{seed: (prefixes, windows)}``.  ``prefixes`` lists the ``(node, d)``
    whose oriented sequence starts with the seed; ``windows`` the
    ``(node, d, ov)`` whose oriented sequence holds the seed at 1-based
    position p >= 2 with ov = len - p + 1 >= k.  Homopolymer seeds and
    seeds whose canonical form is in ``high_kmers`` are dropped, and so are
    the windows of a seed that starts no node: they join nothing."""
    noise = {c * k for c in "ACGT"}
    oriented = list(_oriented(nodes))
    index = {}
    for n, d, o in oriented:
        km = o[:k]
        if km not in noise and min(km, rc_py(km)) not in high_kmers:
            index.setdefault(km, ([], []))[0].append((n, d))
    for n, d, o in oriented:
        ln = len(o)
        for j in range(1, ln - k + 1):
            hit = index.get(o[j:j + k])
            if hit is not None:
                hit[1].append((n, d, ln - j))
    return index


def overlap_bytes(nodes: dict, index: dict) -> tuple[int, int]:
    """``(candidates, estimated driver bytes)``: the candidate pairs the
    ``seed_index`` postings join into, counted before any is built, and
    the ``driver_bytes`` estimate of ``nodes`` plus one edge row per
    candidate."""
    rows = chars = ids = 0
    for prefixes, windows in index.values():
        if windows:
            rows += len(prefixes) * len(windows)
            chars += len(windows) * sum(len(n) for n, _ in prefixes) \
                + len(prefixes) * sum(len(n) for n, _, _ in windows)
    for n, (seq, _, pairs) in nodes.items():
        chars += len(n) + len(seq) + sum(map(len, pairs or ()))
        ids += len(pairs or ())
    return rows, _estimate(len(nodes) + rows, chars, ids)


def overlap_graph(nodes: dict, index: dict) -> set:
    """J1 -> J2 -> J3 (``overlap.build_overlap_graph`` with a blacklist)
    over a ``seed_index``: every window joins every prefix of its seed on
    another node; each oriented pair keeps its largest ov, which must then
    pass the exact suffix/prefix check with ov below both lengths (a pair
    whose largest ov fails is not retried at a smaller one); each edge is
    emitted with its flip."""
    best = {}
    for prefixes, windows in index.values():
        for src, d1, ov in windows:
            for dst, d2 in prefixes:
                if src != dst and best.get(key := (src, d1, dst, d2), 0) < ov:
                    best[key] = ov
    oriented = {(n, d): o for n, d, o in _oriented(nodes)}
    edges = set()
    for (src, d1, dst, d2), ov in best.items():
        a, b = oriented[(src, d1)], oriented[(dst, d2)]
        if ov < len(a) and ov < len(b) and a[-ov:] == b[:ov]:
            edges.add((src, d1 + d2, dst, ov))
            edges.add((dst, flip_link_py(d1 + d2), src, ov))
    return edges


def _consensus_sides(nodes: dict, edges, majority: float, pwm_n: float,
                     max_ext: int) -> dict:
    """``consensus._sides`` and ``consensus._consensus`` over dicts:
    ``{(src, d): (n_edges, xs, cons)}``.  ``xs`` holds the side's
    non-empty neighbour extensions ``(-len, ext, dst, et, ov, w, iw)`` in
    the Spark operator's sort order; ``cons`` is the bounded consensus
    (Node.Consensus, src/Brush/Node.java:1293-1377), or None when the
    side has < 2 extensions or an N-ratio above ``pwm_n``.  ``edges`` may
    repeat a row; a repeated row votes again, as in the Spark operator."""
    sides = defaultdict(lambda: [0, []])
    rcs = {}
    for src, et, dst, ov in edges:
        side = sides[(src, et[0])]
        side[0] += 1
        if dst not in nodes:
            continue
        seq, cov = nodes[dst][:2]
        if et[1] == "r":
            seq = rcs.get(dst) or rcs.setdefault(dst, rc_py(seq))
        ext = seq[ov:ov + max_ext]
        if ext:
            side[1].append((-len(ext), ext, dst, et, ov, cov,
                            max(math.floor(cov), 0)))
    out = {}
    for key, (n_edges, xs) in sides.items():
        xs.sort()
        cons = None
        if len(xs) >= 2:
            # bounded to the 2nd-longest extension, or the 3rd-longest
            # when the two longest carry weight <= 2 (:1313-1320)
            clen = -xs[2][0] if len(xs) > 2 and xs[0][5] + xs[1][5] <= 2.0 \
                else -xs[1][0]
            cols = []
            for i in range(clen):
                votes = {}
                for x in xs:   # longest first: the reaching ones lead
                    if -x[0] <= i:
                        break
                    votes[x[1][i]] = votes.get(x[1][i], 0) + x[6]
                cw, ch = max((w, c) for c, w in votes.items())
                # strict majority of the truncated weights (:1332-1361)
                cols.append(ch if cw > majority * sum(votes.values()) else "N")
            cons = "".join(cols)
            if cons.count("N") / clen > pwm_n:   # (:1369-1371)
                cons = None
        out[key] = (n_edges, xs, cons)
    return out


def chimeric_cuts(nodes: dict, edges, majority: float, pwm_n: float,
                  max_ext: int = 100) -> set:
    """G1 (``consensus.cut_chimeric_links``): the edges whose extension
    disagrees with their side's consensus at a non-N column."""
    cuts = set()
    for (src, _), (_, xs, cons) in _consensus_sides(
            nodes, edges, majority, pwm_n, max_ext).items():
        if cons is None:
            continue
        for _, ext, dst, et, ov, _, _ in xs:
            if not cons.startswith(ext[:len(cons)]) and any(
                    c != "N" and e != c for e, c in zip(ext, cons)):
                cuts.add((src, et, dst, ov))
    return cuts


def transitive_reduction(nodes: dict, edges: set) -> set:
    """G3 (``graph.transitive_reduction``): drop a->c when some a->b->c
    passes through b (entering and leaving b on opposite sides) with
    ov(a->c) = ov(a->b) + ov(b->c) - len(b) > 0, a != c and b a node.
    Edges are keyed by (node, side), and only edges of the set are ever
    collected as removals, so the working set stays within the edges."""
    by_side = defaultdict(set)   # (src, d1) -> {(d2, dst, ov)}
    for src, et, dst, ov in edges:
        by_side[(src, et[0])].add((et[1], dst, ov))
    removed = set()
    for (a, d1), out in by_side.items():
        for d, b, ov_ab in out:
            nxt = by_side.get((b, d))
            if nxt is None or b not in nodes:
                continue
            base = ov_ab - len(nodes[b][0])
            for d3, c, ov_bc in nxt:
                ov = base + ov_bc
                if ov > 0 and c != a and (d3, c, ov) in out:
                    removed.add((a, d1 + d3, c, ov))
    return edges - removed


def compressible(edges) -> list:
    """G4: links (a, d1d2, b) with a unique edge on a's d1 side and on
    b's flip(d2) side, a != b."""
    deg = Counter((s, et[0]) for s, et, _, _ in edges)
    return [e for e in edges
            if e[0] != e[2] and deg[(e[0], e[1][0])] == 1
            and deg[(e[2], flip_dir_py(e[1][1]))] == 1]


def chain_walk(links, attrs: dict):
    """G7/G8: contract every chain of compressible ``links`` in one walk
    (src/Brush/QuickMark.java:129-137, src/Brush/TailInfo.java:54-107).

    ``attrs``: ``{node_id: (seq, cov, pair_ends)}`` of at least the
    chain members.  Each chain is walked end to end (a pure cycle is
    broken at its smallest id and its closing link dropped, like
    QuickMerge's cycle fix, src/Brush/QuickMerge.java:354-365) and merged
    into its lexicographically smaller end node.  Returns
    ``(merged, mapping, drops)``: merged node rows
    ``(node_id, seq, cov, pair_ends)``; ``(m_id, m_to, o)`` for every
    member, where ``o`` is its orientation in the merged node; and the
    consumed link edges ``(src, et, dst, ov)`` (one direction each).
    """
    # per-node outgoing link per side (mutual uniqueness makes this 1:1)
    out = {}
    members = set()
    for src, et, dst, ov in links:
        out[(src, et[0])] = (dst, et[1], ov)
        members.add(src)
        members.add(dst)

    def free_side(n: str, side: str) -> bool:
        return (n, side) not in out

    visited = set()
    merged_rows, mapping_rows, drop_rows = [], [], []

    def walk(start: str, o0: str):
        """Walk from start oriented o0 (so links leave its o0 side)."""
        chain = [(start, o0)]
        visited.add(start)
        cur, o = start, o0
        while True:
            nxt = out.get((cur, o))
            if nxt is None:
                break
            dst, d2, ov = nxt
            drop_rows.append((cur, o + d2, dst, ov))
            if dst in visited:      # cycle closed: stop (link dropped)
                break
            chain.append((dst, d2, ov))
            visited.add(dst)
            cur, o = dst, d2
        return chain

    # chain starts: a member with a link on exactly one side, in a
    # deterministic order; pure cycles have no start and are walked
    # afterwards from their smallest id
    starts = sorted(m for m in members
                    if free_side(m, "f") != free_side(m, "r"))
    chains = []
    for s in starts:
        if s in visited:
            continue
        chains.append(walk(s, "f" if not free_side(s, "f") else "r"))
    for s in sorted(members):
        if s not in visited:
            chains.append(walk(s, "f"))

    for chain in chains:
        if len(chain) == 1:
            visited.discard(chain[0][0])
            continue
        # node i contributes orient(seq, o_i) trimmed by the incoming
        # overlap; the surviving id is the smaller end, flipping the
        # walk if needed
        first, last = chain[0][0], chain[-1][0]
        n0, o0 = chain[0]
        seq0, cov0, pairs0 = attrs[n0]
        merged = seq0 if o0 == "f" else rc_py(seq0)
        orient_of = {n0: o0}
        # iterative length-weighted coverage, the reference's pairwise
        # formula applied along the walk (src/Brush/PairMerge.java:149:
        # weights use the CURRENT merged length, so coverage is mildly
        # merge-order-dependent — same as the reference)
        cur_cov, cur_len = cov0, len(seq0)
        pairs = list(pairs0 or [])
        for (n, o, ov) in chain[1:]:
            seq, cov, npairs = attrs[n]
            merged = merged + (seq if o == "f" else rc_py(seq))[ov:]
            orient_of[n] = o
            cur_cov = (cur_cov * cur_len + cov * len(seq)) / (cur_len + len(seq))
            cur_len = cur_len + len(seq) - ov
            pairs.extend(npairs or [])
        new_id = min(first, last)
        if new_id != first:
            merged = rc_py(merged)
            orient_of = {n: flip_dir_py(o) for n, o in orient_of.items()}
        merged_rows.append((new_id, merged, cur_cov, sorted(pairs)))
        for n, o in orient_of.items():
            mapping_rows.append((n, new_id, o))
    return merged_rows, mapping_rows, drop_rows


def contract(nodes: dict, edges: set) -> tuple[dict, set, int]:
    """Contract every compressible chain; returns (nodes, edges, links).
    Third-party edges are re-pointed with the orientation map the
    distributed rounds use: an end touching member m in orientation x
    touches the merged node in ``f`` iff x equals m's orientation."""
    links = compressible(edges)
    if not links:
        return nodes, edges, 0
    merged, mapping, drops = chain_walk(links, nodes)
    to = {m: (m_to, o) for m, m_to, o in mapping}
    gone = set(drops) | {(d, flip_link_py(et), s, ov) for s, et, d, ov in drops}
    new_edges = set()
    for s, et, d, ov in edges:
        if (s, et, d, ov) in gone:
            continue
        d1, d2 = et
        if s in to:
            s, o = to[s]
            d1 = "f" if d1 == o else "r"
        if d in to:
            d, o = to[d]
            d2 = "f" if d2 == o else "r"
        new_edges.add((s, d1 + d2, d, ov))
    new_nodes = {n: a for n, a in nodes.items() if n not in to}
    for nid, seq, cov, pairs in merged:
        new_nodes[nid] = (seq, cov, pairs)
    return new_nodes, new_edges, len(links)


def _by_side(edges) -> dict:
    """Edges grouped by (src, side)."""
    sides = defaultdict(list)
    for e in edges:
        sides[(e[0], e[1][0])].append(e)
    return sides


def remove_nodes(nodes: dict, edges: set, doomed) -> tuple[dict, set]:
    """Drop a set of node ids and every edge touching them."""
    return ({n: a for n, a in nodes.items() if n not in doomed},
            {e for e in edges if e[0] not in doomed and e[2] not in doomed})


def with_reverses(removals) -> set:
    """The removal edges and their reverses: what G2 drops."""
    return set(removals) | {(d, flip_link_py(et), s, ov)
                            for s, et, d, ov in removals}


def remove_edges(edges: set, removals) -> set:
    """G2: drop the removal edges and their reverses."""
    return edges - with_reverses(removals)


def find_tips(nodes: dict, edges: set, tiplength: int) -> tuple[set, int]:
    """C1 (``graph.find_tips`` + ``graph.count_tip_islands``): returns
    (doomed tip ids, number of islands).  A tip has len*cov <= tiplength
    and one edge; an island has len*cov <= tiplength and none.  On a
    neighbour side whose edges all lead to tips the tip with the largest
    len - ov survives (ties: smallest id); on a mixed side every tip is
    clipped."""
    deg = Counter(s for s, _, _, _ in edges)
    short = {n: len(a[0]) for n, a in nodes.items()
             if len(a[0]) * a[1] <= tiplength}
    tips = {n: ln for n, ln in short.items() if deg[n] == 1}
    islands = sum(1 for n in short if deg[n] == 0)
    doomed = set()
    for side in _by_side(edges).values():
        hit = [e for e in side if e[2] in tips]
        if not hit:
            continue
        if len(hit) < len(side):
            doomed.update(e[2] for e in hit)
        else:
            keep = min(hit, key=lambda e: (-(tips[e[2]] - e[3]), e[2]))[2]
            doomed.update(e[2] for e in hit if e[2] != keep)
    return doomed, islands


def levenshtein(a: str, b: str) -> int:
    """Plain edit distance, as Spark's ``levenshtein`` and the
    reference's fastdistance (src/Brush/Node.java:1107-1137)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def find_bubbles(nodes: dict, edges: set, maxbubblelen: int,
                 edit_rate: float = 0.05) -> list:
    """C2 (``bubbles.find_bubbles``): returns pops
    ``(node_id, survivor_id, mass)``.  A candidate has one edge per side,
    neither a self-loop, and an interior of 1..maxbubblelen bases; two
    candidates between the same endpoints in the same orientation class
    form a bubble when their interiors are within ``edit_rate``; each
    popped node goes to its highest-coverage survivor (ties: smallest
    id)."""
    by_side = _by_side(edges)
    groups = defaultdict(list)
    for n, (seq, cov, _) in nodes.items():
        fe, re_ = by_side.get((n, "f"), ()), by_side.get((n, "r"), ())
        if len(fe) != 1 or len(re_) != 1:
            continue
        (_, fet, u, ovf), (_, ret, v, ovr) = fe[0], re_[0]
        if u == n or v == n:
            continue
        span = len(seq) - ovf - ovr
        if not 0 < span <= maxbubblelen:
            continue
        interior = seq[ovr:ovr + span]
        du, dv = fet[1], ret[1]
        if v <= u:   # read minor -> major (src/Brush/FindBubbles.java:146-191)
            key = (v, u, flip_dir_py(dv) + du)
        else:
            key = (u, v, flip_dir_py(du) + dv)
            interior = rc_py(interior)
        groups[key].append((n, interior, cov))
    pops = []
    for members in groups.values():
        for pb, ib, cvb in members:
            best = None
            for pa, ia, cva in members:
                if not (cva > cvb or (cva == cvb and pa < pb)):
                    continue
                if best is not None and (-best[1], best[0]) <= (-cva, pa):
                    continue
                if levenshtein(ia, ib) <= edit_rate * max(len(ia), len(ib)):
                    best = (pa, cva)
            if best is not None:
                pops.append((pb, best[0], cvb * len(ib)))
    return pops


def pop_bubbles(nodes: dict, edges: set, pops: list) -> tuple[dict, set]:
    """C3 (``bubbles.pop_bubbles``): delete popped nodes and credit each
    live survivor cov += mass / len (src/Brush/PopBubbles.java:193-204);
    a survivor that is itself popped takes no credit."""
    popped = {p[0] for p in pops}
    credit = defaultdict(float)
    for pb, sid, mass in sorted(pops):
        if sid not in popped:
            credit[sid] += mass
    nodes, edges = remove_nodes(nodes, edges, popped)
    for n, extra in credit.items():
        seq, cov, pairs = nodes[n]
        nodes[n] = (seq, cov + extra / len(seq), pairs)
    return nodes, edges


def low_coverage(nodes: dict, low_cov_thresh: float, max_len: int) -> set:
    """C4: short low-coverage node ids (src/Brush/RemoveLowCoverage.java:67-104)."""
    return {n for n, (seq, cov, _) in nodes.items()
            if len(seq) <= max_len and cov <= low_cov_thresh}


def unique_nodes(nodes: dict, kmer_cov: float, readlen: int, k: int) -> set:
    """C5(a): ids whose Myers A-statistic exceeds 10 (``graph.a_statistic``)."""
    ln2 = math.log(2.0)
    return {n for n, (seq, cov, _) in nodes.items()
            if len(seq) * kmer_cov / (readlen - k + 1)
            - (len(seq) * cov / readlen) * ln2 > 10.0}


def self_loops(edges) -> set:
    """C5(c): self-loop edges."""
    return {e for e in edges if e[0] == e[2]}


def overlap_boundary_cuts(edges) -> set:
    """C5(d) (``graph.overlap_boundary_cuts``): per (node, side), the
    boundary is the largest overlap shared by >= ``BOUNDARY_MIN_SUPPORT``
    edges; when it is below the side's largest overlap, every edge with
    ov <= boundary is cut."""
    cuts = set()
    for side in _by_side(edges).values():
        supp = Counter(e[3] for e in side)
        bov = max((ov for ov, c in supp.items() if c >= BOUNDARY_MIN_SUPPORT),
                  default=None)
        if bov is not None and bov < max(supp):
            cuts.update(e for e in side if e[3] <= bov)
    return cuts
