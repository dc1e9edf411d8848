"""Deterministic graph fixtures for the driver's DuckDB-oracle contract.

The graph-rewrite operators (G2 EdgeRemoval, G5 PairMark, G6 PairMerge,
G7/G8 QuickMark+QuickMerge, G9 DefineConsensus, G10 CountBraid, C2/C3
bubbles, C4 RemoveLowCoverage, J4 AdjustMateEdge) operate on (nodes,
edges) tables of the bidirected string graph — shapes the TPC-H-ish test
parquet doesn't carry.  Each fixture here is derived 1:1 from the ``part``
table using only engine-portable expressions (md5 / translate / lpad /
modular arithmetic), so the SAME rows are buildable in Spark (builders
below) and in DuckDB (SQL CTE fragments below).  That turns one step of
each operator into a hash-checkable row in the driver's CORRECTNESS file.

Layout conventions shared by both dialects:
- node ids are zero-padded 6-digit strings (string order == numeric order,
  pinning every deterministic tie-break);
- sequences are 32-char ACGT strings: ``translate(md5(key), hex, DNA)``;
- orientation of node k is 'f' unless ``k % 3 == 0`` ('r'), overlaps are
  ``k % 5 + 3``, coverages ``k % 9 + 1`` — all modular, all portable;
- reverse complement is ``reverse(translate(seq,'ACGT','TGCA'))`` in both
  engines; the reversed edge of (a, d1d2, b) is (b, flip(d2)flip(d1), a)
  (src/Brush/Node.java:2071-2078).

Chain fixture: 12 disjoint 8-node chains over p_partkey 1..96 (the shape
G2/G5/G6/G7/G8/C4 rewrite).  Star fixture: 20 hubs with 3 leaf extensions
each (the >=2-extension sides G9/G10 vote over).  Bubble fixture: 15
parallel-path pairs (C2/C3).  Mate fixture: 10 hubs with pair-end arrays
(J4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudbrush_spark.operators.overlap import symmetrize

_HEX = "0123456789abcdef"
_DNA = "AACCGGTTACGTACGT"


def _part_k(spark: SparkSession, sf_dir: str, limit: int) -> DataFrame:
    # lower bound matters: the synthetic part table carries p_partkey = 0,
    # which would silently prepend a 9th node to the first chain
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    return (p.filter(F.col("p_partkey").between(1, limit))
            .select(F.col("p_partkey").cast("long").alias("k")))


def _id6(c):
    return F.lpad(c.cast("string"), 6, "0")


def _dna32(c):
    return F.translate(F.md5(c), _HEX, _DNA)


def _ori(c):
    return F.when(c % 3 != 0, F.lit("f")).otherwise(F.lit("r"))


# ---------------------------------------------------------------------------
# Chain fixture (G2 / G5 / G6 / G7+G8 / C4): 12 disjoint 8-node chains
# ---------------------------------------------------------------------------

def chain_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _part_k(spark, sf_dir, 96).select("k", _id6(F.col("k")).alias("node_id"))
    return k.select(
        "node_id",
        _dna32(F.col("node_id")).alias("seq"),
        (F.col("k") % 9 + 1).cast("double").alias("cov"),
    )


def chain_fwd_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One edge per consecutive pair inside each 8-node chain; node k is
    traversed in orientation o(k), so et = o(k) || o(k+1)."""
    k = _part_k(spark, sf_dir, 96).filter((F.col("k") - 1) % 8 < 7)
    return k.select(
        _id6(F.col("k")).alias("src"),
        F.concat(_ori(F.col("k")), _ori(F.col("k") + 1)).alias("et"),
        _id6(F.col("k") + 1).alias("dst"),
        (F.col("k") % 5 + 3).cast("int").alias("ov"),
    )


def chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return symmetrize(chain_fwd_edges(spark, sf_dir))


SQL_CHAIN = """
    ck AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey BETWEEN 1 AND 96),
    cnd AS (SELECT lpad(CAST(k AS VARCHAR), 6, '0') AS node_id,
                   translate(md5(lpad(CAST(k AS VARCHAR), 6, '0')),
                             '0123456789abcdef', 'AACCGGTTACGTACGT') AS seq,
                   CAST(k % 9 + 1 AS DOUBLE) AS cov, k
            FROM ck),
    cfwd AS (SELECT lpad(CAST(k AS VARCHAR), 6, '0') AS src,
                    (CASE WHEN k % 3 <> 0 THEN 'f' ELSE 'r' END)
                    || (CASE WHEN (k + 1) % 3 <> 0 THEN 'f' ELSE 'r' END) AS et,
                    lpad(CAST(k + 1 AS VARCHAR), 6, '0') AS dst,
                    CAST(k % 5 + 3 AS INTEGER) AS ov
             FROM ck WHERE (k - 1) % 8 < 7),
    cedges AS (SELECT src, et, dst, ov FROM cfwd
               UNION
               SELECT dst, CASE et WHEN 'ff' THEN 'rr' WHEN 'rr' THEN 'ff' ELSE et END,
                      src, ov
               FROM cfwd)
"""


# ---------------------------------------------------------------------------
# Star fixture (G9 / G10): 20 hubs, 3 leaf extensions per hub f-side
# ---------------------------------------------------------------------------

def star_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    hubs = _part_k(spark, sf_dir, 20)
    leaves = hubs.select(
        "k", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    ).select("k", (F.col("k") + 100 * F.col("j")).alias("lk"))
    # leaf sequences collide on lk % 4 so the 3 extensions of a hub agree
    # (same base seq, differing only by orientation) — the consensus has
    # real majorities to find instead of all-N noise
    nodes = hubs.select(
        _id6(F.col("k")).alias("node_id"),
        _dna32(_id6(F.col("k"))).alias("seq"),
        (F.col("k") % 9 + 1).cast("double").alias("cov"),
    ).unionByName(leaves.select(
        _id6(F.col("lk")).alias("node_id"),
        _dna32(F.concat(F.lit("L"), (F.col("lk") % 4).cast("string"))).alias("seq"),
        (F.col("lk") % 9 + 1).cast("double").alias("cov"),
    ))
    fwd = leaves.select(
        _id6(F.col("k")).alias("src"),
        F.concat(F.lit("f"), _ori(F.col("lk"))).alias("et"),
        _id6(F.col("lk")).alias("dst"),
        (F.col("k") % 5 + 3).cast("int").alias("ov"),
    )
    return nodes, symmetrize(fwd)


SQL_STAR = """
    sk AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey BETWEEN 1 AND 20),
    sleaf AS (SELECT k, k + 100 * j AS lk FROM sk, (SELECT unnest([1, 2, 3]) AS j)),
    snodes AS (
        SELECT lpad(CAST(k AS VARCHAR), 6, '0') AS node_id,
               translate(md5(lpad(CAST(k AS VARCHAR), 6, '0')),
                         '0123456789abcdef', 'AACCGGTTACGTACGT') AS seq,
               CAST(k % 9 + 1 AS DOUBLE) AS cov
        FROM sk
        UNION ALL
        SELECT lpad(CAST(lk AS VARCHAR), 6, '0'),
               translate(md5('L' || CAST(lk % 4 AS VARCHAR)),
                         '0123456789abcdef', 'AACCGGTTACGTACGT'),
               CAST(lk % 9 + 1 AS DOUBLE)
        FROM sleaf),
    sfwd AS (SELECT lpad(CAST(k AS VARCHAR), 6, '0') AS src,
                    'f' || (CASE WHEN lk % 3 <> 0 THEN 'f' ELSE 'r' END) AS et,
                    lpad(CAST(lk AS VARCHAR), 6, '0') AS dst,
                    CAST(k % 5 + 3 AS INTEGER) AS ov
             FROM sleaf),
    sedges AS (SELECT src, et, dst, ov FROM sfwd
               UNION
               SELECT dst, CASE et WHEN 'ff' THEN 'rr' WHEN 'rr' THEN 'ff' ELSE et END,
                      src, ov
               FROM sfwd)
"""


# ---------------------------------------------------------------------------
# Bubble fixture (C2 / C3): 15 parallel-path pairs between shared endpoints
# ---------------------------------------------------------------------------

def bubble_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    bk = _part_k(spark, sf_dir, 30).select(
        "k",
        F.expr("(k + 1) div 2").alias("g"),
        (F.col("k") % 2).alias("v"),
    )
    base = _dna32(F.concat(F.lit("B"), F.col("g").cast("string")))
    with_base = bk.withColumn("base", base)
    # variant 1 flips base char 16 — inside the interior window (chars
    # 5..28 after trimming ov=4 both sides), edit distance exactly 1
    repl = F.when(F.substring("base", 16, 1) == "A", F.lit("C")).otherwise(F.lit("A"))
    seq = F.when(F.col("v") == 0, F.col("base")).otherwise(
        F.concat(F.substring("base", 1, 15), repl, F.substring("base", 17, 16)))
    interiors = with_base.select(
        F.concat(F.lit("p"), _id6(F.col("k"))).alias("node_id"),
        seq.alias("seq"),
        F.when(F.col("v") == 0, F.lit(5.0)).otherwise(F.lit(2.0)).alias("cov"),
    )
    gd = bk.select("g").distinct()
    endpoints = gd.select(
        F.concat(F.lit("x"), _id6(F.col("g"))).alias("node_id"),
        _dna32(F.concat(F.lit("X"), F.col("g").cast("string"))).alias("seq"),
        F.lit(3.0).alias("cov"),
    ).unionByName(gd.select(
        F.concat(F.lit("y"), _id6(F.col("g"))).alias("node_id"),
        _dna32(F.concat(F.lit("Y"), F.col("g").cast("string"))).alias("seq"),
        F.lit(3.0).alias("cov"),
    ))
    nodes = interiors.unionByName(endpoints)
    edges = bk.select(
        F.concat(F.lit("p"), _id6(F.col("k"))).alias("src"),
        F.lit("ff").alias("et"),
        F.concat(F.lit("y"), _id6(F.col("g"))).alias("dst"),
        F.lit(4).alias("ov"),
    ).unionByName(bk.select(
        F.concat(F.lit("p"), _id6(F.col("k"))).alias("src"),
        F.lit("rf").alias("et"),
        F.concat(F.lit("x"), _id6(F.col("g"))).alias("dst"),
        F.lit(4).alias("ov"),
    ))
    return nodes, edges


SQL_BUBBLE = """
    bk AS (SELECT CAST(p_partkey AS BIGINT) AS k,
                  (CAST(p_partkey AS BIGINT) + 1) // 2 AS g,
                  p_partkey % 2 AS v
           FROM part WHERE p_partkey BETWEEN 1 AND 30),
    bbase AS (SELECT k, g, v,
                     translate(md5('B' || CAST(g AS VARCHAR)),
                               '0123456789abcdef', 'AACCGGTTACGTACGT') AS base
              FROM bk),
    bint AS (SELECT k, g, v,
                    'p' || lpad(CAST(k AS VARCHAR), 6, '0') AS node_id,
                    CASE WHEN v = 0 THEN base
                         ELSE substring(base, 1, 15)
                              || (CASE WHEN substring(base, 16, 1) = 'A' THEN 'C' ELSE 'A' END)
                              || substring(base, 17, 16) END AS seq,
                    CASE WHEN v = 0 THEN 5.0 ELSE 2.0 END AS cov
             FROM bbase),
    bend AS (SELECT 'x' || lpad(CAST(g AS VARCHAR), 6, '0') AS node_id,
                    translate(md5('X' || CAST(g AS VARCHAR)),
                              '0123456789abcdef', 'AACCGGTTACGTACGT') AS seq,
                    3.0 AS cov
             FROM (SELECT DISTINCT g FROM bk)
             UNION ALL
             SELECT 'y' || lpad(CAST(g AS VARCHAR), 6, '0'),
                    translate(md5('Y' || CAST(g AS VARCHAR)),
                              '0123456789abcdef', 'AACCGGTTACGTACGT'),
                    3.0
             FROM (SELECT DISTINCT g FROM bk)),
    bpops AS (
        -- C2 on this fixture: both interiors of a group share endpoints and
        -- orientation class 'rf'; interior window = chars 5..28 (ov 4 both
        -- sides); survivor = higher coverage (tie: smaller id)
        SELECT b.node_id AS node_id, a.node_id AS survivor_id,
               b.cov * length(substring(b.seq, 5, 24)) AS mass
        FROM bint a JOIN bint b
          ON a.g = b.g
         AND (a.cov > b.cov OR (a.cov = b.cov AND a.node_id < b.node_id))
        WHERE levenshtein(substring(a.seq, 5, 24), substring(b.seq, 5, 24))
              <= 0.05 * greatest(length(substring(a.seq, 5, 24)),
                                 length(substring(b.seq, 5, 24))))
"""


# ---------------------------------------------------------------------------
# Mate fixture (J4): 10 unique hubs, 2 f-edges + 1 r-edge, pair-end arrays
# ---------------------------------------------------------------------------

def mate_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    mk = _part_k(spark, sf_dir, 10).select(
        "k", F.col("k").cast("string").alias("ks"), _id6(F.col("k")).alias("kid"))

    def nid(prefix):
        return F.concat(F.lit(prefix), F.col("kid"))

    def mate(tag):
        return F.concat(F.lit("m"), F.col("ks"), F.lit(tag))

    hubs = mk.select(
        nid("h").alias("node_id"),
        F.repeat(_dna32(nid("h")), 10).alias("seq"),   # 320 bp -> unique astat
        F.lit(1.0).alias("cov"),
        F.array(mate("a_1"), mate("b_1")).alias("pair_ends"),
    )
    leaf = lambda p, pairs: mk.select(
        nid(p).alias("node_id"), _dna32(nid(p)).alias("seq"),
        F.lit(1.0).alias("cov"), pairs.alias("pair_ends"))
    nodes = (hubs
             .unionByName(leaf("a", F.array(mate("a_2"))))
             .unionByName(leaf("b", F.array(mate("c_1"))))
             .unionByName(leaf("c", F.array(mate("b_2"), mate("c_2")))))
    edge = lambda et, p, ov: mk.select(
        nid("h").alias("src"), F.lit(et).alias("et"),
        nid(p).alias("dst"), F.lit(ov).alias("ov"))
    edges = (edge("ff", "a", 8)
             .unionByName(edge("ff", "b", 6))
             .unionByName(edge("rf", "c", 7)))
    return nodes, edges


_MATENAME = ("CASE WHEN regexp_matches(x, '_1$') THEN regexp_replace(x, '_1$', '_2') "
             "WHEN regexp_matches(x, '_2$') THEN regexp_replace(x, '_2$', '_1') END")

SQL_MATE = f"""
    mk AS (SELECT CAST(p_partkey AS BIGINT) AS k,
                  CAST(p_partkey AS VARCHAR) AS ks,
                  lpad(CAST(p_partkey AS VARCHAR), 6, '0') AS kid
           FROM part WHERE p_partkey BETWEEN 1 AND 10),
    mnodes AS (
        SELECT 'h' || kid AS node_id, 320 AS len,
               ['m' || ks || 'a_1', 'm' || ks || 'b_1'] AS pairs FROM mk
        UNION ALL
        SELECT 'a' || kid, 32, ['m' || ks || 'a_2'] FROM mk
        UNION ALL
        SELECT 'b' || kid, 32, ['m' || ks || 'c_1'] FROM mk
        UNION ALL
        SELECT 'c' || kid, 32, ['m' || ks || 'b_2', 'm' || ks || 'c_2'] FROM mk),
    medges AS (
        SELECT 'h' || kid AS src, 'ff' AS et, 'a' || kid AS dst, 8 AS ov FROM mk
        UNION ALL SELECT 'h' || kid, 'ff', 'b' || kid, 6 FROM mk
        UNION ALL SELECT 'h' || kid, 'rf', 'c' || kid, 7 FROM mk),
    msided AS (SELECT e.src, e.et, e.dst, e.ov, substring(e.et, 1, 1) AS d,
                      hs.pairs AS pairs_src, hs.len AS len_src,
                      ds.pairs AS pairs_dst, ds.len AS len_dst
               FROM medges e
               JOIN mnodes hs ON hs.node_id = e.src
               JOIN mnodes ds ON ds.node_id = e.dst),
    mcross AS (SELECT i.*, j.d AS jd, j.dst AS jdst, j.ov AS jov,
                      j.len_dst AS jlen, j.pairs_dst AS jpairs
               FROM msided i LEFT JOIN msided j
                 ON j.src = i.src AND j.d <> i.d),
    mspan_bad AS (SELECT DISTINCT src FROM mcross
                  WHERE jdst IS NOT NULL AND jdst <> dst
                    AND len_dst + jlen + len_src - ov - jov < 200 + 2 * 20),
    msup AS (SELECT src, d, et, dst, ov,
                    greatest(
                        max(CASE WHEN jdst IS NOT NULL AND jdst <> dst
                                 THEN len(list_filter(pairs_dst,
                                          x -> list_contains(jpairs, {_MATENAME})))
                                 ELSE 0 END),
                        max(CASE WHEN dst <> src
                                 THEN len(list_filter(pairs_src,
                                          x -> list_contains(pairs_dst, {_MATENAME})))
                                 ELSE 0 END)) AS support
             FROM mcross GROUP BY 1, 2, 3, 4, 5),
    mrank AS (SELECT *,
                     row_number() OVER (PARTITION BY src, d
                                        ORDER BY support DESC, ov DESC, dst) AS rnk,
                     max(support) OVER (PARTITION BY src, d) AS best
              FROM msup)
"""


# ---------------------------------------------------------------------------
# Overlap-bench fixture (J1 -> J2 -> J3 composite): one synthetic read per
# orders row over a block genome.  Read with orderkey i = blocks i..i+3
# (4 x 32 bp = 128 bp), so reads i and i+d overlap by exactly 128 - 32*d bp
# (d = 1..3, when orderkey i+d exists) and nothing else — the verified
# overlap graph has an ANALYTIC ground truth, while the k-mer candidate
# join still does real work (~N*96 seed postings), and the workload scales
# with sf.
#
# Deliberately built FROM THE PARQUET SCAN, not spark.range: range-derived
# frames carry near-zero size stats, which made Catalyst broadcast the
# multi-million-row suffix-posting side of the J1 join (a 5 GiB broadcast
# at sf0.1).  Deriving from orders keeps the optimizer's size estimates —
# and therefore the join strategy the plan would pick at real scale —
# honest.
# ---------------------------------------------------------------------------

def overlap_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orders.parquet is one small file -> one input partition; the ~100x
    # posting explosion downstream must not run on one core.  At real scale
    # reads arrive in many files and this repartition is unnecessary — here
    # it stands in for that natural parallelism (150k rows, cheap shuffle).
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .select(F.col("o_orderkey").cast("long").alias("i")) \
        .repartition(nparts)
    blocks = [
        F.translate(
            F.md5(F.concat(F.lit("ov"), (F.col("i") + j).cast("string"))),
            _HEX, _DNA)
        for j in range(4)
    ]
    # LONG node ids, not padded strings: the id rides every posting row
    # through the J1 shuffle and the candidate aggregate — 8-byte integer
    # keys keep those exchanges narrow and their hash/compare cheap.
    # Format at the edge of the pipeline (a sink concern), never in the
    # hot path.
    return o.select(
        F.col("i").alias("node_id"),
        F.concat(*blocks).alias("seq"),
        F.lit(1.0).alias("cov"),
    )


# Expected symmetric edge set: (i, ff, i+d, 128-32d) for orderkey pairs at
# distance d <= 3, plus the bidirected mirror (i+d, rr, i, 128-32d) —
# src/Brush/Node.java:2071-2078 reverse rule.
SQL_OVERLAP_EDGES = """
    oidx AS (SELECT o_orderkey AS i FROM orders),
    ofwd AS (SELECT CAST(a.i AS BIGINT) AS src, 'ff' AS et,
                    CAST(b.i AS BIGINT) AS dst,
                    128 - 32 * d AS ov
             FROM oidx a
             CROSS JOIN (VALUES (1), (2), (3)) AS dd(d)
             JOIN oidx b ON b.i = a.i + d),
    oedges AS (SELECT src, et, dst, ov FROM ofwd
               UNION ALL
               SELECT dst AS src, 'rr' AS et, src AS dst, ov FROM ofwd)
"""
