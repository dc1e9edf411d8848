"""Token / k-mer counting operator family (P3, A3-A7, K3).

The reference's k-mer jobs are all one shape: explode windows, shuffle on
the token, aggregate.  Catalyst gives the map-side partial aggregation the
reference hand-rolled (src/Brush/Stats.java:131-165) for free; the two
domain rewrites worth keeping are the canonical-form key (halves shuffle
volume, src/Brush/BuildHighKmerList.java:65-71) and the high-frequency
blacklist used downstream as broadcast skew control
(src/Brush/MatchPrefix.java:62-105).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudbrush_spark.functions import dna


def kmer_counts(reads: DataFrame, k: int, id_col: str = "read_id", seq_col: str = "seq",
                cov_col: str | None = None, canonical: bool = True) -> DataFrame:
    """A3 CountKmer: per canonical k-mer, coverage-weighted count + distinct
    read count (src/Brush/CountKmer.java:58-119).

    Output: (kmer, cnt, read_cnt).
    """
    cov = F.col(cov_col) if cov_col else F.lit(1.0)
    exploded = reads.select(
        F.col(id_col), cov.alias("__cov"), F.explode(dna.kmers(seq_col, k)).alias("__km")
    )
    key = dna.canonical(F.col("__km")) if canonical else F.col("__km")
    return (
        exploded.select(key.alias("kmer"), "__cov", id_col)
        .groupBy("kmer")
        .agg(
            F.sum("__cov").cast("long").alias("cnt"),
            F.countDistinct(id_col).alias("read_cnt"),
        )
    )


def high_kmers(reads: DataFrame, k: int, up_kmer: int = 2000, **kw) -> DataFrame:
    """P3 BuildHighKmerList: canonical k-mers with count > up_kmer
    (src/Brush/BuildHighKmerList.java:105-116).  The result is small by
    construction — broadcast it into the overlap join (K3)."""
    return kmer_counts(reads, k, **kw).filter(F.col("cnt") > up_kmer).select("kmer", "cnt")


def kmer_freq_of_reads(reads: DataFrame, k: int, id_col: str = "read_id",
                       seq_col: str = "seq") -> DataFrame:
    """A5 KmerFrequencyOfReads: for each read, the sum over its k-mers of the
    global k-mer frequency (src/Brush/KmerFrequencyOfReads.java:95-118).

    postings JOIN counts ON kmer, then groupBy(read).  The counts side is
    aggregated before the join so the join input is one row per distinct
    k-mer, not per occurrence.
    """
    postings = reads.select(
        F.col(id_col), F.explode(dna.kmers(seq_col, k)).alias("__km")
    ).select(F.col(id_col), dna.canonical(F.col("__km")).alias("kmer"))
    counts = postings.groupBy("kmer").agg(F.count(F.lit(1)).alias("freq"))
    return (
        postings.join(counts, "kmer")
        .groupBy(id_col)
        .agg(F.sum("freq").alias("freq_sum"), F.min("freq").alias("min_freq"))
    )


def trusted_reads(reads: DataFrame, k: int, threshold: int,
                  id_col: str = "read_id", seq_col: str = "seq") -> DataFrame:
    """A6 IdentifyTrustedReads: a read is trusted iff ALL its k-mer
    frequencies exceed ``threshold`` (src/Brush/IdentifyTrustedReads.java:73-94)
    — a min-aggregate, not a per-kmer loop."""
    freqs = kmer_freq_of_reads(reads, k, id_col, seq_col)
    return freqs.select(
        id_col, (F.col("min_freq") > threshold).alias("trusted")
    )
