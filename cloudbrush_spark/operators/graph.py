"""String-graph rewrites and cleanup operators over the normalized
(nodes, edges) pair: degrees/compressibility (G4 Compressible), transitive
reduction (G3), edge removal (G2), tips (C1 TipsRemoval), low-coverage
removal (C4), A-statistic classification + self-loop/boundary cuts (C5).

Everything is joins + windows + conditional aggregates; no UDFs.
``edges`` is always kept symmetric (see overlap.symmetrize) so "the edges
on side d of node n" is simply ``src = n and et startswith d`` — no
second lookup pass.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna


# the two direction letters of an edge type ``et`` (d1 d2): the source
# side and the destination side; the other edge operators import these
def D1():
    return F.substring("et", 1, 1)


def D2():
    return F.substring("et", 2, 1)


def side_degrees(edges: DataFrame) -> DataFrame:
    """Per (node, side) out-degree.  Output: (node_id, fdeg, rdeg)."""
    return (
        edges.groupBy(F.col("src").alias("node_id"))
        .agg(
            F.sum(F.when(D1() == "f", 1).otherwise(0)).alias("fdeg"),
            F.sum(F.when(D1() == "r", 1).otherwise(0)).alias("rdeg"),
        )
    )


def node_degrees(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """nodes left-joined with side degrees (0 for isolated nodes)."""
    return (
        nodes.join(side_degrees(edges), "node_id", "left")
        .na.fill({"fdeg": 0, "rdeg": 0})
    )


def compressible(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G4: mutually-unique chain links.

    Link edge (a, d1d2, b) is compressible iff outdeg(a, d1) == 1 and
    outdeg(b, flip(d2)) == 1 and a != b (reference: HASUNIQUEP handshake,
    src/Brush/Compressible.java:56-137 — here a degree join, no messages).
    Returns the link edges with both conditions verified.
    """
    deg = side_degrees(edges)
    a_deg = deg.select(F.col("node_id").alias("src"),
                       F.col("fdeg").alias("a_f"), F.col("rdeg").alias("a_r"))
    b_deg = deg.select(F.col("node_id").alias("dst"),
                       F.col("fdeg").alias("b_f"), F.col("rdeg").alias("b_r"))
    out_a = F.when(D1() == "f", F.col("a_f")).otherwise(F.col("a_r"))
    back_b = F.when(D2() == "f", F.col("b_r")).otherwise(F.col("b_f"))  # flip(d2) side
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .join(a_deg, "src").join(b_deg, "dst")
        .filter((out_a == 1) & (back_b == 1))
        .select("src", "et", "dst", "ov")
    )


def transitive_reduction(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G3: remove edge a->c when a 2-hop path a->b->c explains it.

    For *verified exact* overlaps the string condition of Myers' reduction
    (src/Brush/TransitiveReduction.java:336-384 checks extension prefixes)
    collapses to overlap arithmetic: a->c is transitive via b iff

        et(a->b) = d1 d,  et(b->c) = d d3,  et(a->c) = d1 d3,
        ov(a->c) = ov(a->b) + ov(b->c) - len(b)

    i.e. entering b in orientation d and continuing through it.  This is a
    pure 3-way relational join — no per-node scan UDF needed; fan-out is
    bounded by J1's per-key cap.  Returns the reduced symmetric edge set.
    """
    blen = nodes.select(F.col("node_id").alias("b"), F.length("seq").alias("blen"))
    ab = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        D1().alias("d1"), D2().alias("dab"), F.col("ov").alias("ov_ab"),
    )
    bc = edges.select(
        F.col("src").alias("b"), F.col("dst").alias("c"),
        D1().alias("dbc"), D2().alias("d3"), F.col("ov").alias("ov_bc"),
    )
    implied = (
        ab.join(bc, "b")
        .filter(F.col("dab") == F.col("dbc"))
        .filter(F.col("a") != F.col("c"))
        .join(blen, "b")
        .select(
            F.col("a").alias("src"),
            F.concat("d1", "d3").alias("et"),
            F.col("c").alias("dst"),
            (F.col("ov_ab") + F.col("ov_bc") - F.col("blen")).alias("ov"),
        )
        .filter(F.col("ov") > 0)
        .distinct()
    )
    reduced = edges.join(implied, ["src", "et", "dst", "ov"], "left_anti")
    return reduced


def remove_edges(edges: DataFrame, removals: DataFrame) -> DataFrame:
    """G2 EdgeRemoval: delete the removal set and its reverses — an
    anti-join, not a message pass (src/Brush/EdgeRemoval.java:190-193).
    ``removals``: (src, et, dst) [ov optional]."""
    cols = [c for c in ("src", "et", "dst", "ov") if c in removals.columns]
    rev = removals.select(
        F.col("dst").alias("src"), dna.flip_link("et").alias("et"),
        F.col("src").alias("dst"),
        *([F.col("ov")] if "ov" in cols else []),
    )
    both = removals.select(*cols).unionByName(rev.select(*cols))
    return edges.join(both, cols, "left_anti")


def remove_nodes(nodes: DataFrame, edges: DataFrame, doomed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Drop a set of node_ids and every edge touching them."""
    doomed = doomed.select("node_id").distinct()
    new_nodes = nodes.join(doomed, "node_id", "left_anti")
    new_edges = (
        edges.join(doomed.withColumnRenamed("node_id", "src"), "src", "left_anti")
        .join(doomed.withColumnRenamed("node_id", "dst"), "dst", "left_anti")
        .select("src", "et", "dst", "ov")
    )
    return new_nodes, new_edges


def count_tip_islands(nodes: DataFrame, edges: DataFrame,
                      tiplength: int) -> int:
    """C1 TipsRemoval island counter: tip-short nodes with NO edges at all
    — disconnected from the graph, nothing to clip, but the reference
    reports them (``tips_island``, src/Brush/TipsRemoval.java:84-89)."""
    deg = node_degrees(nodes, edges)
    return deg.filter(
        (F.length("seq") * F.col("cov") <= tiplength)
        & (F.col("fdeg") + F.col("rdeg") == 0)
    ).count()


def find_tips(nodes: DataFrame, edges: DataFrame, tiplength: int) -> DataFrame:
    """C1 TipsRemoval, detection half.

    tip = node with len*cov <= tiplength and exactly one edge in total
    (src/Brush/TipsRemoval.java:80 requires fdegree + rdegree <= 1; an
    isolated island needs no clipping, so == 1 here).  For each
    (neighbor, side) group: if every incident edge on that side comes from
    a tip, the longest tip (by len - ov, tie id) survives; otherwise all
    tips on the side are clipped (src/Brush/TipsRemoval.java:210-277).
    Returns doomed node ids.
    """
    deg = node_degrees(nodes, edges)
    tips = deg.filter(
        (F.length("seq") * F.col("cov") <= tiplength)
        & (F.col("fdeg") + F.col("rdeg") == 1)
    ).select(F.col("node_id").alias("tip_id"), F.length("seq").alias("tip_len"))
    # the tip's edges, viewed from the neighbor's side: symmetric edges with
    # dst = tip; neighbor side = d1 of that edge
    incident = edges.select(
        F.col("src").alias("nbr"), D1().alias("side"),
        F.col("dst").alias("other"), "ov",
    )
    with_tip = incident.join(tips, incident["other"] == tips["tip_id"], "left")
    grp = Window.partitionBy("nbr", "side")
    ranked = with_tip.withColumn(
        "n_edges", F.count(F.lit(1)).over(grp)
    ).withColumn(
        "n_tips", F.count("tip_id").over(grp)
    ).withColumn(
        "rnk",
        F.row_number().over(
            grp.orderBy(
                F.col("tip_id").isNull().desc(),  # non-tips first → rank 1 means best tip only when all are tips
                (F.col("tip_len") - F.col("ov")).desc(),
                F.col("tip_id"),
            )
        ),
    )
    doomed = ranked.filter(F.col("tip_id").isNotNull()).filter(
        (F.col("n_tips") < F.col("n_edges"))       # mixed side: clip every tip
        | (F.col("rnk") > 1)                        # all-tip side: keep the best
    ).select(F.col("tip_id").alias("node_id")).distinct()
    # a tip kept on one neighbor's side but doomed via another side stays doomed
    return doomed


def low_coverage_nodes(nodes: DataFrame, low_cov_thresh: float,
                       max_len: int) -> DataFrame:
    """C4 detection half: ids of short low-coverage nodes
    (src/Brush/RemoveLowCoverage.java:67-104)."""
    return nodes.filter(
        (F.length("seq") <= max_len) & (F.col("cov") <= low_cov_thresh)
    ).select("node_id")


def remove_low_coverage(nodes: DataFrame, edges: DataFrame, low_cov_thresh: float,
                        max_len: int) -> tuple[DataFrame, DataFrame, DataFrame]:
    """C4: drop short low-coverage nodes + their links.
    Returns (nodes, edges, doomed)."""
    doomed = low_coverage_nodes(nodes, low_cov_thresh, max_len)
    new_nodes, new_edges = remove_nodes(nodes, edges, doomed)
    return new_nodes, new_edges, doomed


def a_statistic(nodes: DataFrame, kmer_cov: float, readlen: int, k: int) -> DataFrame:
    """C5(a): Myers A-statistic unique/repeat classification
    (src/Brush/CutRepeatBoundary.java:83-89,306-315):

        astat = len * kmer_cov / (readlen - k + 1) - (len * cov / readlen) * ln 2
        unique ⇔ astat > 10
    """
    ln2 = math.log(2.0)
    astat = (
        F.length("seq") * kmer_cov / (readlen - k + 1)
        - (F.length("seq") * F.col("cov") / readlen) * ln2
    )
    return nodes.withColumn("astat", astat).withColumn("unique", astat > 10.0)


def self_loops(edges: DataFrame) -> DataFrame:
    """C5(c): self-loop edges, always removed
    (src/Brush/CutRepeatBoundary.java:380-388)."""
    return edges.filter(F.col("src") == F.col("dst")).select("src", "et", "dst", "ov")


# C5(d): an overlap size is a side's boundary once this many of its edges
# share it (the reference stops at the first repeated overlap value)
BOUNDARY_MIN_SUPPORT = 2


def overlap_boundary_cuts(edges: DataFrame) -> DataFrame:
    """C5(d) boundary heuristic: per (node, side), the boundary is the
    largest overlap size shared by >= ``BOUNDARY_MIN_SUPPORT`` edges
    (src/Brush/CutRepeatBoundary.java:390-401 walks the sorted list and
    stops at the first repeated overlap value); cuts fire only when that
    boundary is strictly below the side's maximum overlap (:402-404), and
    then remove every edge with ov <= boundary (:405-414).
    Returns removal edges."""
    sided = edges.withColumn("d", D1())
    supp = sided.groupBy("src", "d", "ov").agg(F.count(F.lit(1)).alias("supp"))
    side_max = sided.groupBy("src", "d").agg(F.max("ov").alias("max_ov"))
    boundary = (
        supp.filter(F.col("supp") >= BOUNDARY_MIN_SUPPORT)
        .groupBy("src", "d").agg(F.max("ov").alias("bov"))
        .join(side_max, ["src", "d"])
        .filter(F.col("bov") < F.col("max_ov"))
        .select("src", "d", "bov")
    )
    return (
        sided.join(boundary, ["src", "d"])
        .filter(F.col("ov") <= F.col("bov"))
        .select("src", "et", "dst", "ov")
    )
