"""Mate-pair operators: J4 AdjustMateEdge (+ its A-statistic) and
A7 TagTrustedReads.

The reference keeps J4 implemented but disabled (call site commented out,
src/Brush/BrushAssembler.java:873-879); we mirror that — the operator is
complete and tested, and the pipeline flag defaults to off
(``BrushParams.mate_adjust``).

Node inputs carry a ``pair_ends: array<string>`` column (the member read
ids accumulated through dedup/merge, reference field MATE
src/Brush/Node.java:1603-1660) with mate ids paired by the ``_1``/``_2``
suffix convention (src/Brush/Node.java:283-296).

Scale shape: everything is per-node joins over the (bounded-degree) edge
list — the f-side x r-side pair expansion is capped by the overlap join's
per-key candidate cap upstream, exactly like the reference reducer's
in-memory lists.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cloudbrush_spark.operators.graph import D1


def matename(col: Column) -> Column:
    """Mate id: x_1 <-> x_2, null otherwise (src/Brush/Node.java:283-296)."""
    return (
        F.when(col.rlike("_1$"), F.regexp_replace(col, "_1$", "_2"))
        .when(col.rlike("_2$"), F.regexp_replace(col, "_2$", "_1"))
    )


def count_pair_end(a_list: Column, b_list: Column) -> Column:
    """|{a in A : matename(a) in B}| (src/Brush/Node.java:298-308); null
    mate names never match, null lists count 0."""
    return F.coalesce(
        F.size(F.filter(a_list, lambda a: F.coalesce(
            F.array_contains(b_list, matename(a)), F.lit(False)))),
        F.lit(0),
    )


def mate_astat(nodes: DataFrame, reads: int, ctg_sum: int) -> DataFrame:
    """J4's unique/repeat classification over pair-end arrival counts
    (src/Brush/AdjustMateEdge.java:75-84):

        astat = len * (reads / ctg_sum) - |pair_ends| * ln 2;  unique <=> > 10

    ``reads``/``ctg_sum`` come from A2 CountReads (stats.global_counts).
    """
    ln2 = math.log(2.0)
    astat = (
        F.length("seq") * (float(reads) / float(ctg_sum))
        - F.coalesce(F.size("pair_ends"), F.lit(0)) * ln2
    )
    return nodes.withColumn("astat", astat).withColumn("unique", astat > 10.0)


def adjust_mate_edges(nodes: DataFrame, edges: DataFrame,
                      reads: int, ctg_sum: int,
                      inslen: int = 200, inslen_sd: int = 20) -> DataFrame:
    """J4 AdjustMateEdge: among a unique node's edges on one side, keep only
    the edge with maximal mate-pair support; emit the rest as removals
    (src/Brush/AdjustMateEdge.java:120-306).

    Semantics, per unique node n and side d (f/r):
    - if ANY cross-side pair (i on d, j on flip(d), different neighbors)
      spans less than inslen + 2*sd — i.e. len_i + len_j + len_n - ov_i -
      ov_j is below it — the insert cannot bridge informatively: keep all
      edges on the node (:183-192, the ``keep_edge`` abort);
    - else support(edge i) = max(Count_PairEnd(n, nbr_i) [nbr_i != n],
      max_j Count_PairEnd(nbr_i, nbr_j) over opposite-side nbr_j != nbr_i)
      (:194-209);
    - keep the max-support edge, remove the others on that side, only when
      the winning support > 0 (:240-250).  Tie-break: the reference keeps
      the first list element (MR arrival order, nondeterministic); we pin
      (support desc, ov desc, dst asc) for reproducibility.

    Returns removal edges (src, et, dst, ov); apply with
    graph.remove_edges, which also drops the mirrored directions — the
    analogue of the reference's paired addRemovalEdge calls (:242-245).
    """
    classified = mate_astat(nodes, reads, ctg_sum)
    uniq = classified.filter(F.col("unique")).select(
        F.col("node_id").alias("src"),
        F.length("seq").alias("len_src"),
        F.coalesce(F.col("pair_ends"), F.array().cast("array<string>")).alias("pairs_src"),
    )
    nbr = nodes.select(
        F.col("node_id").alias("dst"),
        F.length("seq").alias("len_dst"),
        F.coalesce(F.col("pair_ends"), F.array().cast("array<string>")).alias("pairs_dst"),
    )
    sided = (
        edges.join(uniq, "src").join(nbr, "dst")
        .select("src", "et", "dst", "ov", D1().alias("d"),
                "len_src", "pairs_src", "len_dst", "pairs_dst")
    )
    i = sided.alias("i")
    j = sided.select(
        "src", F.col("d").alias("jd"), F.col("dst").alias("jdst"),
        F.col("ov").alias("jov"), F.col("len_dst").alias("jlen"),
        F.col("pairs_dst").alias("jpairs"),
    ).alias("j")
    cross = i.join(j, (F.col("i.src") == F.col("j.src"))
                   & (F.col("i.d") != F.col("jd")), "left")

    # (a) insert-span abort: any informative cross-side pair too close
    span_bad = (
        cross.filter(F.col("i.dst") != F.col("jdst"))
        .filter(F.col("i.len_dst") + F.col("jlen") + F.col("i.len_src")
                - F.col("i.ov") - F.col("jov") < inslen + 2 * inslen_sd)
        .select(F.col("i.src").alias("src")).distinct()
    )

    # (b) per-edge support
    s2 = F.when(
        F.col("jdst").isNotNull() & (F.col("jdst") != F.col("i.dst")),
        count_pair_end(F.col("i.pairs_dst"), F.col("jpairs")),
    ).otherwise(F.lit(0))
    s1 = F.when(
        F.col("i.dst") != F.col("i.src"),
        count_pair_end(F.col("i.pairs_src"), F.col("i.pairs_dst")),
    ).otherwise(F.lit(0))
    supported = (
        cross.groupBy(F.col("i.src").alias("src"), F.col("i.d").alias("d"),
                      F.col("i.et").alias("et"), F.col("i.dst").alias("dst"),
                      F.col("i.ov").alias("ov"))
        .agg(F.greatest(F.max(s2), F.first(s1)).alias("support"))
    )

    # (c) keep max-support edge per side when the winner has support > 0
    w = Window.partitionBy("src", "d").orderBy(
        F.col("support").desc(), F.col("ov").desc(), F.col("dst"))
    ranked = (
        supported.withColumn("rnk", F.row_number().over(w))
        .withColumn("best", F.max("support").over(Window.partitionBy("src", "d")))
    )
    return (
        ranked.filter((F.col("best") > 0) & (F.col("rnk") > 1))
        .join(span_bad, "src", "left_anti")
        .select("src", "et", "dst", "ov")
    )


def tag_trusted(nodes: DataFrame, trusted: DataFrame,
                id_col: str = "node_id", flag_col: str = "trusted") -> DataFrame:
    """A7 TagTrustedReads: left-join the trust flag onto node rows; the
    UNIQUE flag is set to the INVERSE of trusted (trusted reads need no
    correction -> not 'unique' for the PreCorrect flow,
    src/Brush/TagTrustedReads.java:104-109)."""
    t = trusted.select(F.col(id_col), F.col(flag_col))
    return (
        nodes.join(t, id_col, "left")
        .na.fill({flag_col: False})
        .withColumn("unique", ~F.col(flag_col))
    )
