"""Distribution statistics (A1 Stats, A2 CountReads).

The reference computes the whole A1 report in one reducer over a small
aggregate (src/Brush/Stats.java:179-411): per-cutoff conditional
aggregates, N50 by descending-size cumulative scan, top-10 and the
genome-target N50.  Here one hash aggregate reduces the rows to a size
histogram ``(sz, cnt, covm)``, the driver collects it, and plain Python
finishes every figure of the report over it.

N50 definition (src/Brush/Stats.java:288-335): order items by size
descending; N50 is the size at which the running sum first reaches half the
total; N50Cnt is how many items that took.

Bound: the collected histogram has one row per distinct size.  For contigs
the longest contig bounds that number.  ``a1_size_distribution`` applies
the operator to TPC-H order prices in cents, where nearly every value is
distinct: at sf0.1 the histogram holds 149,743 rows for 150,000 orders,
and the query, scan and collect included, took a median of 2.2-2.5 s per
call (two processes of five warm calls; 4-core x86-64, local Spark).
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudbrush_spark.operators.smallgraph import arrow_frame

# The reference's 24 length cutoffs (src/Brush/Stats.java:179-184).
DEFAULT_CUTOFFS = (
    100, 250, 500, 1000, 2000, 3000, 4000, 5000, 6000, 7000, 8000, 9000,
    10000, 15000, 20000, 30000, 40000, 50000, 75000, 100000, 125000,
    150000, 200000, 250000,
)

_DIST_SCHEMA = ("cutoff long not null, cnt long, total long, mean double, "
                "mean_cov double, n50 long, n50_cnt long")
_GENOME_SCHEMA = "n50 long, n50_cnt long, genome_size long"


def _histogram(df: DataFrame, size_col: str, cov_col: str | None) -> list:
    """Collected ``(sz, cnt, covm)`` per distinct non-null size, by
    descending size.  ``covm`` is ``sum(cov)`` (null covs skipped, None
    when all are null), or the item count when ``cov_col`` is None."""
    sz = F.col(size_col).cast("long")
    cov = F.col(cov_col).cast("double") if cov_col else F.lit(1.0)
    hist = (df.filter(sz.isNotNull()).groupBy(sz.alias("sz"))
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum(cov).alias("covm"))
            .toArrow())
    rows = zip(*(hist.column(c).to_pylist() for c in ("sz", "cnt", "covm")))
    return sorted(rows, key=itemgetter(0), reverse=True)


def _crossing(hist_desc: list, target: int) -> tuple:
    """``(n50, n50_cnt)``: the first size of ``hist_desc`` at which the
    running size sum reaches ``target``/2 and how many items that took, or
    ``(None, None)`` when it never does — the per-item scan, one size
    group at a time.  Inside the crossing group
    ``k = ceil((target - 2*cum_before) / (2*sz))`` items are needed when
    that is positive (then ``sz > 0``), else one: the scan stops only
    after adding an item, so a target of 0 or less crosses at once."""
    cum_mass = cum_cnt = 0
    for sz, cnt, _ in hist_desc:
        if 2 * (cum_mass + sz * cnt) >= target:
            need = target - 2 * cum_mass
            return sz, cum_cnt + (-(-need // (2 * sz)) if need > 0 else 1)
        cum_mass += sz * cnt
        cum_cnt += cnt
    return None, None


def _distribution(spark, hist_desc: list, cutoffs) -> DataFrame:
    """The per-cutoff table over a collected histogram; a cutoff that no
    size clears has no row."""
    cols = {f.split()[0]: [] for f in _DIST_SCHEMA.split(", ")}
    for c in cutoffs:
        kept = [h for h in hist_desc if h[0] >= c]
        if not kept:
            continue
        cnt = sum(n for _, n, _ in kept)
        total = sum(sz * n for sz, n, _ in kept)
        covs = [covm for _, _, covm in kept if covm is not None]
        mean_cov = sum(covs) / cnt if covs else None
        row = (c, cnt, total, total / cnt, mean_cov, *_crossing(kept, total))
        for col, v in zip(cols.values(), row):
            col.append(v)
    return arrow_frame(spark, cols, _DIST_SCHEMA)


def n50(df: DataFrame, size_col: str) -> dict:
    """Generic N50 over any size column: ``{"n50", "n50_cnt", "total"}``,
    all None for an input without sizes."""
    hist = _histogram(df, size_col, None)
    total = sum(sz * cnt for sz, cnt, _ in hist) if hist else None
    n, k = _crossing(hist, total)
    return {"n50": n, "n50_cnt": k, "total": total}


def size_distribution(df: DataFrame, size_col: str, cov_col: str | None = None,
                      cutoffs: tuple[int, ...] = DEFAULT_CUTOFFS) -> DataFrame:
    """A1 Stats per-cutoff table: for each cutoff c, stats over rows with
    size >= c (src/Brush/Stats.java:260-335).  Output: (cutoff, cnt,
    total, mean, mean_cov, n50, n50_cnt)."""
    return _distribution(df.sparkSession, _histogram(df, size_col, cov_col),
                         cutoffs)


def stats_report(contigs: DataFrame, size_col: str = "len",
                 cov_col: str | None = "cov",
                 genome_size: int | None = None,
                 cutoffs: tuple[int, ...] = DEFAULT_CUTOFFS,
                 top_n: int = 10) -> dict:
    """The full A1 Stats report (src/Brush/Stats.java:260-411): per-cutoff
    distribution table, top-N largest contigs, and — when a genome size
    target is given — the genome-target N50 (running descending sum crossed
    against genome_size/2 instead of assembly_total/2,
    src/Brush/Stats.java:380-411).

    The histogram is collected here, once for the table and the genome
    N50; ``top`` stays a lazy top-N frame.

    Returns {"distribution": DataFrame, "top": DataFrame,
             "genome_n50": DataFrame | None}.
    """
    spark = contigs.sparkSession
    hist = _histogram(contigs, size_col, cov_col)
    genome_n50 = None
    if genome_size is not None:
        n, k = _crossing(hist, genome_size)
        genome_n50 = arrow_frame(
            spark, {"n50": [n], "n50_cnt": [k], "genome_size": [genome_size]},
            _GENOME_SCHEMA)
    return {"distribution": _distribution(spark, hist, cutoffs),
            "top": contigs.orderBy(F.col(size_col).desc()).limit(top_n),
            "genome_n50": genome_n50}


def global_counts(nodes: DataFrame, seq_col: str = "seq",
                  pair_col: str | None = "pair_ends") -> DataFrame:
    """A2 CountReads: total member reads + total contig bases
    (src/Brush/CountReads.java:63-73)."""
    reads = (
        F.sum(F.size(F.col(pair_col))) if pair_col and pair_col in nodes.columns
        else F.count(F.lit(1))
    )
    return nodes.agg(
        reads.cast("long").alias("reads"),
        F.sum(F.length(seq_col)).cast("long").alias("ctg_sum"),
    )
