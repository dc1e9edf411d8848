"""Iterative chain contraction (G5 PairMark / G6 PairMerge / G7-G8 serial
fallback) — randomized-matching path contraction on the bidirected graph.

Design (Spark-first, not a port): each round
  1. find mutually-unique chain links (G4 compressible);
  2. break symmetry with a *seeded deterministic* coin per node
     (hash(id, seed) — the reference used Math.random() seeds,
     src/Brush/PairMark.java:61-72; we pin for testability, SURVEY §7 risk 3);
  3. every male node merges into one adjacent female tail; a female can
     absorb at most one male per side (the mutual-unique condition makes
     that structural, mirroring src/Brush/PairMerge.java guards);
  4. sequences concatenate with overlap-aware, orientation-aware splicing;
     coverage becomes the length-weighted mean (src/Brush/PairMerge.java:132-149);
  5. third-party edges are re-pointed with an orientation map
     (replacelink, src/Brush/PairMark.java:277-283 — here two joins).

Expected halving per round -> O(log chain) rounds.  A severing
``plans.cut`` every round truncates lineage (the #1 Spark iteration
hazard, SURVEY §4; see plans/sever.py for why it also severs).
Like the reference's adaptive switch to a single-reducer serial merge
(G7 QuickMark / G8 QuickMerge, src/Brush/BrushAssembler.java:506-556),
small residual link sets finish with one driver-side chain walk
(``_serial_contract``) instead of a long tail of tiny rounds — each
distributed round costs a fixed number of Spark jobs regardless of size.

Orientation algebra: merging link (a, d1 d2, b, ov) places a's content in
the merged node (kept id: b) with orientation-in-b-forward
``o_a = d1 if d2 == 'f' else flip(d1)``; a third-party edge touching a in
orientation x becomes the same edge touching b in orientation
``f if x == o_a else r``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna
from cloudbrush_spark.operators import smallgraph
from cloudbrush_spark.operators.graph import D1, D2, compressible, remove_edges
from cloudbrush_spark.plans import cut

# Round budget of contract_chains: rounds halve the chains, and a round that
# merges nothing re-seeds, so 64 rounds is far past any real chain length.
MAX_ROUNDS = 64


def _orient(seq, d):
    return F.when(d == "f", seq).otherwise(dna.rc(seq))


def _flip(d):
    return F.when(d == "f", F.lit("r")).otherwise(F.lit("f"))


def _coin_male(col, seed: int, coin: str):
    """Deterministic per-node coin (the reference seeds Math.random(),
    src/Brush/PairMark.java:61-72; we pin for testability).  ``xxhash64``
    is the fast default; ``md5`` is engine-portable (same parity rule is
    expressible in any SQL engine — what makes PairMark oracle-checkable)."""
    if coin == "xxhash64":
        return F.xxhash64(col, F.lit(seed)) % 2 == 0
    if coin == "md5":
        return F.substring(
            F.md5(F.concat_ws("#", col, F.lit(str(seed)))), 1, 1
        ).isin(*"02468ace")
    raise ValueError(f"unknown coin {coin!r}")


def pick_merges(links: DataFrame, seed: int, coin: str = "xxhash64") -> DataFrame:
    """G5 PairMark: one merge per male node into a female tail.

    Output: (a, d1, b, d2, ov, o_a) — a merges into b.
    """
    male_src = _coin_male(F.col("src"), seed, coin)
    male_dst = _coin_male(F.col("dst"), seed, coin)
    cand = links.filter(male_src & ~male_dst).select(
        F.col("src").alias("a"), D1().alias("d1"),
        F.col("dst").alias("b"), D2().alias("d2"), "ov",
    )
    pick = Window.partitionBy("a").orderBy("d1", "b")
    return (
        cand.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1).drop("rn")
        .withColumn("o_a", F.when(F.col("d2") == "f", F.col("d1"))
                    .otherwise(_flip(F.col("d1"))))
    )


def merge_nodes(nodes: DataFrame, merges: DataFrame) -> DataFrame:
    """G6 PairMerge node step: females extended, males dropped.

    A ``pair_ends`` member-read column, when present, splices through the
    merge (female's list ++ absorbed male's list — reference PairMerge
    carries the MATE field the same way)."""
    has_pairs = "pair_ends" in nodes.columns
    a_cols = [F.col("node_id").alias("a"), F.col("seq").alias("a_seq"),
              F.col("cov").alias("a_cov")]
    if has_pairs:
        a_cols.append(F.col("pair_ends").alias("a_pairs"))
    a_seq = nodes.select(*a_cols)
    m = merges.join(a_seq, "a")

    def side(d: str, oseq):
        fields = [oseq.alias("oseq"), F.col("ov").alias("ov"),
                  F.col("a_cov").alias("cov"), F.length("a_seq").alias("len")]
        if has_pairs:
            fields.append(F.col("a_pairs").alias("pairs"))
        return F.max(F.when(F.col("d2") == d, F.struct(*fields)))

    # partner with d2 == 'f' prepends (enters b's front); d2 == 'r' appends
    per_b = m.groupBy(F.col("b").alias("node_id")).agg(
        side("f", _orient(F.col("a_seq"), F.col("d1"))).alias("L"),
        side("r", _orient(F.col("a_seq"), _flip(F.col("d1")))).alias("R"),
    )
    empty_pairs = F.array().cast("array<string>")
    merged = (
        nodes.join(per_b, "node_id", "inner")
        .withColumn("s1", F.when(
            F.col("L").isNotNull(),
            F.concat(F.col("L.oseq"),
                     F.col("seq").substr(F.col("L.ov") + 1, F.length("seq"))),
        ).otherwise(F.col("seq")))
        .withColumn("s2", F.when(
            F.col("R").isNotNull(),
            F.concat(F.col("s1").substr(F.lit(1), F.length("s1") - F.col("R.ov")),
                     F.col("R.oseq")),
        ).otherwise(F.col("s1")))
        .withColumn("new_cov",
            (F.col("cov") * F.length("seq")
             + F.coalesce(F.col("L.cov") * F.col("L.len"), F.lit(0.0))
             + F.coalesce(F.col("R.cov") * F.col("R.len"), F.lit(0.0)))
            / (F.length("seq")
               + F.coalesce(F.col("L.len"), F.lit(0))
               + F.coalesce(F.col("R.len"), F.lit(0))))
    )
    out_cols = ["node_id", F.col("s2").alias("seq"), F.col("new_cov").alias("cov")]
    if has_pairs:
        out_cols.append(F.array_sort(F.concat(
            F.coalesce(F.col("pair_ends"), empty_pairs),
            F.coalesce(F.col("L.pairs"), empty_pairs),
            F.coalesce(F.col("R.pairs"), empty_pairs),
        )).alias("pair_ends"))
    merged = merged.select(*out_cols)
    untouched = (
        nodes.join(merges.select(F.col("a").alias("node_id")), "node_id", "left_anti")
        .join(merges.select(F.col("b").alias("node_id")).distinct(), "node_id", "left_anti")
    )
    return untouched.select("node_id", "seq", "cov",
                            *(["pair_ends"] if has_pairs else [])) \
        .unionByName(merged)


def _repoint(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Re-point the edge ends of merged nodes through ``mapping`` (m_id,
    m_to, o_a): an end at m_id moves to m_to, keeping its orientation
    letter when it equals o_a and flipping it otherwise."""
    s = (
        edges.join(mapping.withColumnRenamed("m_id", "src"), "src", "left")
        .withColumn("n_src", F.coalesce(F.col("m_to"), F.col("src")))
        .withColumn("n_d1", F.when(F.col("m_to").isNull(), D1())
                    .when(D1() == F.col("o_a"), F.lit("f")).otherwise(F.lit("r")))
        .select(F.col("n_src").alias("src"),
                F.concat("n_d1", D2()).alias("et"), "dst", "ov")
    )
    d = (
        s.join(mapping.withColumnRenamed("m_id", "dst"), "dst", "left")
        .withColumn("n_dst", F.coalesce(F.col("m_to"), F.col("dst")))
        .withColumn("n_d2", F.when(F.col("m_to").isNull(), D2())
                    .when(D2() == F.col("o_a"), F.lit("f")).otherwise(F.lit("r")))
        .select("src", F.concat(D1(), "n_d2").alias("et"),
                F.col("n_dst").alias("dst"), "ov")
    )
    return d.distinct()


def _rewrite_edges(edges: DataFrame, merges: DataFrame) -> DataFrame:
    """Drop consumed link edges; re-point third-party edges of merged males."""
    consumed = merges.select(F.col("a").alias("src"),
                             F.concat("d1", "d2").alias("et"),
                             F.col("b").alias("dst"), "ov")
    mapping = merges.select(F.col("a").alias("m_id"), F.col("b").alias("m_to"), "o_a")
    return _repoint(remove_edges(edges, consumed), mapping)


def _serial_contract(nodes: DataFrame, edges: DataFrame,
                     link_rows: list) -> tuple[DataFrame, DataFrame]:
    """G7/G8 serial finish: contract the residual chain subgraph with
    ``smallgraph.chain_walk`` in the driver (the reference collapses it
    into ONE reducer via the constant MERTAG,
    src/Brush/QuickMark.java:129-137).  Only chain MEMBERS move to the
    driver — every other node/edge stays distributed, and third-party
    edges are re-pointed with the same orientation map the distributed
    rounds use.

    ``link_rows``: collected compressible links (src, et, dst, ov).
    """
    spark = nodes.sparkSession

    def frame(rows, schema: str):
        # ``schema`` is flat DDL ("name type, ..."); rows are tuples that
        # start with its fields, in order
        names = [f.split()[0] for f in schema.split(",")]
        return smallgraph.arrow_frame(
            spark, {c: [r[i] for r in rows] for i, c in enumerate(names)}, schema)

    members = {r.src for r in link_rows} | {r.dst for r in link_rows}
    member_df = frame([(m,) for m in sorted(members)], "node_id string")
    attrs, _ = smallgraph.collect(nodes.join(member_df, "node_id"))
    merged_rows, mapping_rows, drop_rows = smallgraph.chain_walk(link_rows, attrs)
    if not merged_rows:
        return nodes, edges

    new_nodes_df = frame(merged_rows, "node_id string, seq string, cov double" + (
        ", pair_ends array<string>" if "pair_ends" in nodes.columns else ""))
    mapping = frame(mapping_rows, "m_id string, m_to string, o_a string")
    drops = frame(drop_rows, "src string, et string, dst string, ov int")
    consumed = mapping.select(F.col("m_id").alias("node_id"))
    out_nodes = (nodes.join(consumed, "node_id", "left_anti")
                 .unionByName(new_nodes_df))
    return out_nodes, _repoint(remove_edges(edges, drops), F.broadcast(mapping))


def contract_chains(nodes: DataFrame, edges: DataFrame, seed: int = 42,
                    serial_threshold: int = 4096,
                    verbose: bool = False) -> tuple[DataFrame, DataFrame, int]:
    """Contract all compressible chains to single nodes.

    Randomized pairwise rounds (G5/G6) while the link set is large; once it
    drops to ``serial_threshold`` the residual subgraph is contracted in
    one driver pass (G7/G8) — the same adaptive switch as the reference
    (src/Brush/BrushAssembler.java:506-556), which collapses the long tail
    of tiny rounds (each round is a fixed number of Spark jobs, so the
    tail costs O(log n) jobs distributed vs O(1) serial).

    Returns (nodes, edges, rounds_run) after at most ``MAX_ROUNDS``
    rounds.  Deterministic for a fixed seed; the assembler runs the
    default 42 (the reference draws Math.random() seeds,
    src/Brush/BrushAssembler.java:534-537).
    """
    import time
    rounds = 0
    for rnd in range(MAX_ROUNDS):
        t0 = time.time()
        links = cut(compressible(nodes, edges), sever=True)
        n_links = links.count()
        if n_links == 0:
            break
        if n_links <= serial_threshold:
            nodes, edges = _serial_contract(nodes, edges, links.collect())
            nodes, edges = cut(nodes), cut(edges)
            rounds += 1
            if verbose:
                print(f"contract serial finish: {n_links} links "
                      f"({time.time() - t0:.1f}s)", flush=True)
            break
        merges = cut(pick_merges(links, seed + rnd), sever=True)
        n_merges = merges.count()
        if n_merges == 0:
            # all-same-coin pathology on a residual chain: next seed reshuffles
            rounds += 1
            continue
        nodes = cut(merge_nodes(nodes, merges), sever=True)
        edges = cut(_rewrite_edges(edges, merges), sever=True)
        rounds += 1
        if verbose:
            print(f"contract round {rnd}: {n_merges} merges "
                  f"({time.time() - t0:.1f}s)", flush=True)
    return nodes, edges, rounds
