"""Position-weight-matrix consensus operators (G1 CutChimericLinks,
G9 DefineConsensus, G10 CountBraid) and spaced-seed error correction
(A8 PreCorrect).

The reference computes PWM consensus inside one reducer per (node, side),
with all of that side's neighbour extensions in hand (Node.Consensus,
src/Brush/Node.java:1293-1377).  Here it is the same shape in SQL: one
exchange gathers each (src, d) side's extensions into a sorted array, and
array higher-order functions (transform / filter / aggregate / exists)
work out the bounded length, the column votes, the N-ratio and each
edge's mismatch within that row — no UDF, no per-base rows, no joins back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna

def D1():
    return F.substring("et", 1, 1)


def D2():
    return F.substring("et", 2, 1)


def _sides(nodes: DataFrame, edges: DataFrame, max_ext: int) -> DataFrame:
    """One row per (src, d) side: ``n_edges``, every edge of the side, and
    ``xs``, the non-empty neighbour extensions beyond the overlap as seen
    from (src, side d1), each with its neighbour's coverage as vote weight
    ``w`` and its truncated integer weight ``iw`` (DARKMSG payload,
    src/Brush/CutChimericLinks.java:97-109; Node.java:1332).  ``xs`` is
    sorted by length descending, then ``ext``, then ``dst``."""
    nbr = nodes.select(F.col("node_id").alias("dst"),
                       F.col("seq").alias("nseq"), F.col("cov").alias("ncov"))
    oriented = F.when(D2() == "f", F.col("nseq")).otherwise(dna.rc(F.col("nseq")))
    ext = oriented.substr(F.col("ov") + 1, F.lit(max_ext))
    x = F.struct(
        (-F.length(ext)).alias("nl"), ext.alias("ext"), "dst", "et", "ov",
        F.col("ncov").alias("w"),
        F.greatest(F.floor("ncov").cast("int"), F.lit(0)).alias("iw"),
    )
    return (
        edges.join(nbr, "dst", "left")
        .groupBy("src", D1().alias("d"))
        .agg(F.count(F.lit(1)).alias("n_edges"),
             F.array_sort(F.filter(F.collect_list(x),
                                   lambda e: F.length(e["ext"]) > 0)).alias("xs"))
    )


def _consensus(sides: DataFrame, majority: float) -> DataFrame:
    """Adds ``clen``, the bounded consensus length, and ``cons``, the
    consensus string over it (Node.Consensus, src/Brush/Node.java:1293-1377):

    - the consensus is BOUNDED to the 2nd-longest extension's length —
      or the 3rd-longest when the two longest carry weight sum <= 2
      (weak evidence) and a 3rd exists (:1313-1320).  Positions covered
      by a single extension are never 100%-majority filler, so the
      N-ratio measures genuinely contested columns;
    - vote weights are the truncated integer coverage (:1332);
    - a base wins a column only with share STRICTLY above ``majority``,
      ties going to the higher (weight, char) (:1348-1361); else 'N'.

    Sides with < 2 extensions get null ``clen`` and ``cons``."""
    xs = F.col("xs")
    l2, l3 = F.length(F.get(xs, 1)["ext"]), F.length(F.get(xs, 2)["ext"])
    strong = (F.size(xs) == 2) | (F.get(xs, 0)["w"] + F.get(xs, 1)["w"] > 2.0)
    zero = F.lit(0).cast("bigint")

    def votes(i):  # (ch, iw) of every extension reaching 1-based column i
        return F.transform(F.filter(xs, lambda e: F.length(e["ext"]) >= i),
                           lambda e: F.struct(e["ext"].substr(i, F.lit(1)).alias("ch"),
                                              e["iw"].alias("iw")))

    def tally(col):  # (total weight, top (cw, ch)) of one column's votes
        def cw(ch):
            return F.aggregate(col, zero, lambda a, v: a + F.when(v["ch"] == ch, v["iw"])
                               .otherwise(0))
        chars = F.array_distinct(F.transform(col, lambda v: v["ch"]))
        return F.struct(
            F.aggregate(col, zero, lambda a, v: a + v["iw"]).alias("tot"),
            F.array_max(F.transform(chars, lambda ch: F.struct(
                cw(ch).alias("cw"), ch.alias("ch")))).alias("top"))

    def winner(t):  # the column's char, or 'N' without a strict majority
        return F.when(t["top"]["cw"] > F.lit(majority) * t["tot"], t["top"]["ch"]) \
            .otherwise(F.lit("N"))

    cols = F.transform(F.sequence(F.lit(1), F.col("clen")), votes)
    return (
        sides.withColumn("clen", F.when(strong, l2).otherwise(F.coalesce(l3, l2)))
        .withColumn("cons", F.array_join(F.transform(F.transform(cols, tally), winner), ""))
    )


def _n_ratio() -> F.Column:
    """Share of 'N' columns in the bounded consensus (Node.java:1369-1371)."""
    return (F.col("clen") - F.length(F.replace("cons", F.lit("N"), F.lit("")))) \
        / F.col("clen")


def cut_chimeric_links(nodes: DataFrame, edges: DataFrame, majority: float = 0.6,
                       pwm_n: float = 0.1, max_ext: int = 100) -> DataFrame:
    """G1: removal edge set (src, et, dst, ov) — edges whose extension
    disagrees with their side's consensus at >= 1 non-N column
    (src/Brush/CutChimericLinks.java:306-375).  Apply with
    graph.remove_edges.

    Sides with < 2 extensions never cut (their single extension is its
    own consensus, Node.java:1373-1374), and a side whose N-ratio exceeds
    ``pwm_n`` has no consensus and so no cuts (:1369-1371)."""
    cons = _consensus(_sides(nodes, edges, max_ext).filter(F.size("xs") >= 2), majority)

    def mismatch(e):
        return F.exists(
            F.sequence(F.lit(1), F.least(F.length(e["ext"]), F.col("clen"))),
            lambda i: (F.col("cons").substr(i, F.lit(1)) != "N")
            & (e["ext"].substr(i, F.lit(1)) != F.col("cons").substr(i, F.lit(1))))

    # no Filter above `cons`: Catalyst would push it below the projection
    # and compute the consensus twice.  array_distinct keeps a duplicated
    # edge row to one cut, as the removal set is a set.
    cut = F.when(_n_ratio() <= pwm_n, F.array_distinct(F.transform(
        F.filter("xs", mismatch),
        lambda e: F.struct(*(e[c].alias(c) for c in ("et", "dst", "ov"))))))
    return cons.select("src", F.inline(cut))


def define_consensus(nodes: DataFrame, edges: DataFrame, majority: float = 0.6,
                     pwm_n: float = 0.1, max_ext: int = 100) -> DataFrame:
    """G9: per (node, side) color — 'B' if a valid consensus of the side's
    extensions exists, else 'W' (src/Brush/DefineConsensus.java:288-341).
    A single-edge side is its own consensus -> 'B'
    (src/Brush/Node.java:1373-1374); a side of >= 2 edges with < 2
    extensions gets no color.  Output: (node_id, d, color)."""
    single = F.col("n_edges") == 1
    sides = _sides(nodes, edges, max_ext).filter(single | (F.size("xs") >= 2))
    return _consensus(sides, majority).select(
        F.col("src").alias("node_id"), "d",
        F.when(single | (_n_ratio() <= pwm_n), F.lit("B")).otherwise(F.lit("W")).alias("color"),
    )


def count_braids(nodes: DataFrame, edges: DataFrame, **consensus_kw) -> DataFrame:
    """G10: diagnostic — count 'braid' motifs: a (node, side) with > 1
    neighbors, own consensus valid, and every neighbor's opposite-entry side
    also consensus-valid (src/Brush/CountBraid.java:298-373).
    Output single row (nodes, edges, braids)."""
    colors = define_consensus(nodes, edges, **consensus_kw)
    sided = edges.select("src", D1().alias("d"), "dst", D2().alias("d2"))
    nbr_color = colors.select(F.col("node_id").alias("dst"),
                              F.col("d").alias("nd"), F.col("color").alias("ncolor"))
    # neighbor's opposite side relative to entry: entering dst at d2 -> check dst side flip(d2)
    j = (
        sided
        .join(colors.withColumnRenamed("node_id", "src"), ["src", "d"])
        .join(nbr_color, (sided["dst"] == nbr_color["dst"])
              & (nbr_color["nd"] == F.when(F.col("d2") == "f", F.lit("r")).otherwise(F.lit("f"))),
              "left")
    )
    per_side = j.groupBy("src", "d").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("color").alias("color"),
        F.min(F.when(F.col("ncolor") == "B", 1).otherwise(0)).alias("all_nbrs_b"),
    )
    braids = per_side.filter(
        (F.col("n") > 1) & (F.col("color") == "B") & (F.col("all_nbrs_b") == 1)
    )
    return braids.agg(F.count(F.lit(1)).alias("braids"))


def apply_corrections(reads: DataFrame, fixes: DataFrame,
                      id_col: str = "read_id", seq_col: str = "seq") -> DataFrame:
    """Apply (read_id, pos, to_base) fixes from ``precorrect`` to the read
    table — a join + a Catalyst ``aggregate`` fold over the per-read fix
    list (no UDF).  ``pos`` is 0-based.  Reads without fixes pass through.

    This is the CloudRS-style correction pass the reference README
    recommends before assembly (/root/reference/README.md:21-23); the
    voting itself is A8 PreCorrect (src/Brush/PreCorrect.java:139-217).
    """
    per_read = fixes.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("pos"), F.col("to_base"))).alias("fx"))
    fixed = (
        reads.join(per_read, id_col, "left")
        .withColumn(
            seq_col,
            F.when(F.col("fx").isNull(), F.col(seq_col)).otherwise(
                F.aggregate(
                    "fx", F.col(seq_col),
                    lambda acc, f: F.concat(
                        acc.substr(F.lit(1), f["pos"]),
                        f["to_base"],
                        acc.substr(f["pos"] + 2, F.length(acc))),
                )
            ),
        )
        .drop("fx")
    )
    return fixed


def precorrect(reads: DataFrame, id_col: str = "read_id", seq_col: str = "seq",
               cov_col: str | None = None, half: int = 12,
               minority_ratio: float = 0.25,
               edge_seeds: bool = True) -> DataFrame:
    """A8 PreCorrect: spaced-seed positional voting; emits
    (read_id, pos, from_base, to_base) fixes where the masked-position
    base is in a < ``minority_ratio`` minority
    (src/Brush/PreCorrect.java:68-217).

    The reference uses only the centered seed (``half`` context on each
    side), which can never correct the first/last ``half`` positions of a
    read — on 36 bp reads that leaves 2/3 of positions uncorrectable.
    ``edge_seeds=True`` adds two edge-anchored families with the SAME
    total context (one-sided: 2*half right of the masked base, and 2*half
    left of it), so every position with ``2*half`` flanking bases on
    either side gets a vote.  Conflicting fixes for one (read, pos)
    resolve by family priority center > left-edge > right-edge, then
    lexical to_base.
    """
    w = F.col(cov_col) if cov_col else F.lit(1.0)
    families = [(half, half, "C", 0)]
    if edge_seeds:
        families += [(0, 2 * half, "L", 1), (2 * half, 0, "R", 2)]

    wins = None
    for left, right, tag, prio in families:
        wlen = left + 1 + right
        fam = reads.select(
            F.col(id_col), w.alias("w"),
            F.posexplode(F.expr(
                f"transform(sequence(1, greatest(length({seq_col}) - {wlen} + 1, 0)),"
                f" i -> substring({seq_col}, i, {wlen}))"
            )).alias("off", "win"),
        ).select(
            id_col, "w",
            (F.col("off") + left).alias("pos"),  # 0-based masked position
            F.concat(F.lit(tag), F.substring("win", 1, left),
                     F.substring("win", left + 2, right)).alias("key"),
            F.substring("win", left + 1, 1).alias("mid"),
            F.lit(prio).alias("prio"),
        )
        wins = fam if wins is None else wins.unionByName(fam)

    votes = wins.groupBy("key", "mid").agg(F.sum("w").alias("vw"))
    winner = votes.groupBy("key").agg(
        F.max("vw").alias("top_w"),
        F.max_by("mid", F.struct(F.col("vw"), F.col("mid"))).alias("top_mid"),
    )
    weak = (
        votes.join(winner, "key")
        .filter((F.col("vw") < minority_ratio * F.col("top_w"))
                & (F.col("mid") != F.col("top_mid")))
        .select("key", "mid", "top_mid")
    )
    fixes = wins.join(weak, ["key", "mid"]).select(
        F.col(id_col), "pos",
        F.col("mid").alias("from_base"),
        F.col("top_mid").alias("to_base"),
        "prio",
    )
    pick = Window.partitionBy(id_col, "pos").orderBy("prio", "to_base")
    return (
        fixes.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(id_col, "pos", "from_base", "to_base")
    )
