"""Bubble detection and popping (C2 FindBubbles, C3 PopBubbles).

A bubble interior is a chain-interior node whose two paths between the
same endpoint pair are near-identical; the lower-coverage path is removed
and its coverage mass transferred to the survivor
(src/Brush/FindBubbles.java:129-437, src/Brush/PopBubbles.java:88-216).

Spark shape: candidates by degree+length filter; parallel-path grouping by
(minor, major, orientation class) via joins; pairwise comparison with the
built-in ``levenshtein`` (the reference's fastdistance is plain edit
distance, src/Brush/Node.java:1107-1137) inside each tiny group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna
from cloudbrush_spark.operators.graph import D1, D2, remove_nodes


def find_bubbles(nodes: DataFrame, edges: DataFrame, maxbubblelen: int,
                 edit_rate: float = 0.05) -> DataFrame:
    """C2: returns pops — (node_id, survivor_id, mass) for each popped
    interior node."""
    fe = edges.filter(D1() == "f").select(
        F.col("src").alias("node_id"), F.col("dst").alias("u"),
        D2().alias("du"), F.col("ov").alias("ovf"),
    )
    re_ = edges.filter(D1() == "r").select(
        F.col("src").alias("node_id"), F.col("dst").alias("v"),
        D2().alias("dv"), F.col("ov").alias("ovr"),
    )
    deg_f = edges.filter(D1() == "f").groupBy(F.col("src").alias("node_id")) \
        .agg(F.count(F.lit(1)).alias("fdeg"))
    deg_r = edges.filter(D1() == "r").groupBy(F.col("src").alias("node_id")) \
        .agg(F.count(F.lit(1)).alias("rdeg"))
    cand = (
        nodes.join(deg_f, "node_id").join(deg_r, "node_id")
        .filter((F.col("fdeg") == 1) & (F.col("rdeg") == 1))
        .join(fe, "node_id").join(re_, "node_id")
        .filter(F.col("u") != F.col("node_id")).filter(F.col("v") != F.col("node_id"))
        .filter(F.length("seq") - F.col("ovf") - F.col("ovr") <= maxbubblelen)
        .filter(F.length("seq") - F.col("ovf") - F.col("ovr") > 0)
    )
    # interior in forward orientation spans (ovr+1 .. len-ovf)
    interior_f = F.col("seq").substr(
        F.col("ovr") + 1, F.length("seq") - F.col("ovr") - F.col("ovf"))
    # normalize reading direction minor -> major (minor = lexicographically
    # smaller endpoint id, src/Brush/FindBubbles.java:146-191)
    minor_is_v = F.col("v") <= F.col("u")
    cand = cand.select(
        "node_id", "seq", "cov", "u", "du", "ovf", "v", "dv", "ovr",
        F.when(minor_is_v, F.col("v")).otherwise(F.col("u")).alias("minor"),
        F.when(minor_is_v, F.col("u")).otherwise(F.col("v")).alias("major"),
        F.when(minor_is_v, interior_f).otherwise(dna.rc(interior_f)).alias("interior"),
        F.when(minor_is_v,
               F.concat(dna.flip_dir(F.col("dv")), F.col("du")))
        .otherwise(F.concat(dna.flip_dir(F.col("du")), F.col("dv"))).alias("oclass"),
    )
    grp = ["minor", "major", "oclass"]
    a = cand.select(*grp, F.col("node_id").alias("pa"), F.col("interior").alias("ia"),
                    F.col("cov").alias("cva"), F.length("seq").alias("la"))
    b = cand.select(*grp, F.col("node_id").alias("pb"), F.col("interior").alias("ib"),
                    F.col("cov").alias("cvb"), F.length("seq").alias("lb"))
    # a = higher-coverage survivor candidate, b = potential pop
    pairs = (
        a.join(b, grp)
        .filter((F.col("cva") > F.col("cvb"))
                | ((F.col("cva") == F.col("cvb")) & (F.col("pa") < F.col("pb"))))
        .filter(
            F.levenshtein("ia", "ib")
            <= edit_rate * F.greatest(F.length("ia"), F.length("ib"))
        )
    )
    best = Window.partitionBy("pb").orderBy(F.col("cva").desc(), F.col("pa"))
    return (
        pairs.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            F.col("pb").alias("node_id"),
            F.col("pa").alias("survivor_id"),
            # mass = popped cov x INTERIOR length (vmerlen = vstr.length(),
            # src/Brush/FindBubbles.java:426-428), not the full node length
            (F.col("cvb") * F.length("ib")).alias("mass"),
        )
    )


def pop_bubbles(nodes: DataFrame, edges: DataFrame,
                pops: DataFrame) -> tuple[DataFrame, DataFrame]:
    """C3: delete popped nodes (+ their edges), transfer coverage mass to
    survivors: cov += mass / len (src/Brush/PopBubbles.java:193-204)."""
    # a survivor that is itself popped transfers nothing extra (transitive
    # chains collapse to the same bubble) — drop those credits
    live_credits = pops.join(
        pops.select(F.col("node_id").alias("survivor_id")), "survivor_id", "left_anti"
    )
    credit = live_credits.groupBy(F.col("survivor_id").alias("node_id")) \
        .agg(F.sum("mass").alias("extra_mass"))
    nodes2, edges2 = remove_nodes(nodes, edges, pops.select("node_id"))
    nodes3 = (
        nodes2.join(credit, "node_id", "left")
        .withColumn(
            "cov",
            F.col("cov") + F.coalesce(F.col("extra_mass"), F.lit(0.0)) / F.length("seq"))
        .drop("extra_mass")
    )
    return nodes3, edges2
