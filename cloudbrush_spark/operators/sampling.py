"""Deterministic, content-addressed sampling and split assignment.

Training-data pipelines need reproducible sampling that survives reruns,
repartitions and engine changes: bucket by a cryptographic hash of the
row's identity, not by ``rand()``.  md5 keeps the operators engine-portable
(identical assignment in any SQL engine — the property that makes them
oracle-checkable), and a seed string namespaces independent splits.

Scale shape: pure expressions (codegen), no shuffle at all — sampling and
split assignment are narrow transformations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _md5_long(id_col: Column | str, seed: str) -> Column:
    """First 8 hex chars of md5(seed|id) as a long in [0, 2^32) — the
    engine-portable hash behind every bucket and order key here."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed), col.cast("string"))), 1, 8),
        16, 10,
    ).cast("long")


def hash_bucket(id_col: Column | str, buckets: int = 100,
                seed: str = "split") -> Column:
    """Stable bucket in [0, buckets) from md5(seed | id)."""
    return (_md5_long(id_col, seed) % buckets).cast("int")


def assign_split(df: DataFrame, id_col: str) -> DataFrame:
    """Adds a ``split`` column ('train'/'val'/'test') by hash bucket —
    deterministic, disjoint, and stable under any reordering of the data.
    One fixed scheme, which the DuckDB twin in ``__spark_entry__.py``
    hard-codes too: md5("split" | id) in 1000 buckets, cut at 900 and 950
    (~90% train, 5% val, 5% test)."""
    b = hash_bucket(id_col, 1000, "split")
    return df.withColumn(
        "split",
        F.when(b < 900, F.lit("train"))
        .when(b < 950, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def deterministic_sample(df: DataFrame, id_col: str, fraction: float,
                         seed: str = "sample") -> DataFrame:
    """Keep ~fraction of rows, chosen by content hash — reproducible
    across runs and engines (unlike df.sample, which depends on
    partitioning)."""
    return df.filter(hash_bucket(id_col, 1_000_000, seed) < int(fraction * 1_000_000))


def mixture_resample(df: DataFrame, weights: dict[str, float],
                     source_col: str = "source", id_col: str = "doc_id",
                     seed: str = "mixture") -> DataFrame:
    """Mixture construction with UP-sampling: emit each row
    ``floor(w) + (hash < frac(w))`` times, where ``w`` is its source's
    weight — so ``w = 2.5`` duplicates every row twice and gives a
    deterministic 50% of rows a third copy, and ``w = 0.3`` keeps a
    deterministic 30% (a pure down-sampling filter).  Adds a ``copy`` column
    (1..n) so downstream shuffles/dedup can tell the copies apart.

    The fractional coin is the same md5 bucket as every sampler here:
    deterministic, engine-portable, stable under repartitioning.  Scale
    shape: one filter + one bounded ``explode(sequence(...))`` — narrow,
    zero shuffle; output size is exactly sum(w_s * n_s) in expectation
    with deterministic realization."""
    b = hash_bucket(id_col, 1_000_000, seed)
    copies: Column = F.lit(0)
    for src, w in sorted(weights.items()):
        n_full = int(w)
        frac = int(round((w - n_full) * 1_000_000))
        copies = F.when(
            F.col(source_col) == src,
            F.lit(n_full) + F.when(b < frac, F.lit(1)).otherwise(F.lit(0)),
        ).otherwise(copies)
    return (
        df.withColumn("__n", copies)
        .filter(F.col("__n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
    )


def calibrated_quality(df: DataFrame, quality_col: str,
                       source_col: str = "source", id_col: str = "doc_id",
                       buckets: int = 1024) -> DataFrame:
    """Per-domain quality calibration: the exact 1-based rank of every
    row WITHIN its source by (quality DESC, id) plus the source size —
    rank/n_src is the calibrated score.

    Why: model- or heuristic-based quality scores are not comparable
    across domains (a 0.8 on web text and a 0.8 on code mean different
    things), so mixture/budget decisions over mixed sources should
    compare within-domain RANKS, not raw scores — the standard
    quantile-calibration step before a global quality cut.

    Scale shape: never ``Window.partitionBy(source)`` alone (that puts
    an entire domain — terabytes — into ONE task).  The rank is
    assembled in two phases: quality RANGE buckets within each source,
    per-(source, bucket) counts -> a broadcast bucket-prefix (a bounded
    |sources| x ``buckets`` frame) -> within-(source, bucket) row_number
    over bounded partitions.  Equal
    qualities always share a bucket, so prefix + in-bucket rank is the
    exact global within-source rank.

    Output: (id_col, source_col, q_rank, n_src).
    """
    wdf = (
        df.select(
            F.col(id_col), F.col(source_col).alias("__src"),
            F.coalesce(F.col(quality_col).cast("double"),
                       F.lit(0.0)).alias("q"))
        .withColumn(
            "b",
            F.least(
                F.greatest(
                    F.floor((F.lit(1.0) - F.col("q")) * buckets).cast("int"),
                    F.lit(0)),
                F.lit(buckets - 1)))
    )
    counts = wdf.groupBy("__src", "b").agg(F.count(F.lit(1)).alias("cnt"))
    wb = (Window.partitionBy("__src").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1))
    prefix = counts.withColumn(
        "pre", F.coalesce(F.sum("cnt").over(wb), F.lit(0)))
    nsrc = counts.groupBy("__src").agg(F.sum("cnt").alias("n_src"))
    ww = Window.partitionBy("__src", "b").orderBy(F.col("q").desc(), id_col)
    return (
        wdf.join(F.broadcast(prefix.select("__src", "b", "pre")),
                 ["__src", "b"])
        .join(F.broadcast(nsrc), "__src")
        .withColumn("q_rank",
                    (F.col("pre") + F.row_number().over(ww)).cast("long"))
        .select(F.col(id_col), F.col("__src").alias(source_col),
                "q_rank", F.col("n_src").cast("long").alias("n_src"))
    )


def stratified_sample(df: DataFrame, n: int, source_col: str = "source",
                      id_col: str = "doc_id", seed: str = "strat",
                      buckets: int = 256) -> DataFrame:
    """Deterministic stratified sample: the ``n`` smallest
    ``md5(seed|id)`` rows per source — the reproducible, balanced draw
    behind eval sets, holdouts, and per-domain QA samples ("give me 10k
    docs from every domain, the same 10k every run, on any engine").

    Why not ``df.sampleBy``: fraction-based sampling gives a BINOMIAL
    count per stratum (a 10k target comes back 9,874 one day and 10,130
    the next) and depends on partitioning; hash-ranked top-n is exact,
    engine-portable, and stable under any repartitioning.

    Scale shape: never ``Window.partitionBy(source)`` alone (one task
    per domain).  The md5 key is uniform in [0, 2^32), so range buckets
    over it are balanced: per-(source, bucket) counts -> a broadcast
    bucket-prefix (bounded |sources| x ``buckets`` frame) -> buckets
    whose prefix already exceeds ``n`` are PRUNED before any sort
    (sampling 10k from a billion-row domain sorts ~10k rows per
    surviving bucket) -> within-bucket row_number; bucket order is
    monotone in the hash, so prefix + in-bucket rank is the exact global
    within-source rank.

    Output: (id_col, source_col, samp_rank) for the selected rows,
    ``samp_rank`` in [1, n] per source.
    """
    if n < 0:
        raise ValueError(f"sample size must be >= 0, got {n}")
    h = _md5_long(id_col, seed)
    wdf = (
        df.select(F.col(id_col), F.col(source_col).alias("__src"),
                  h.alias("h"))
        # range bucket (monotone in h), NOT h % buckets — the prefix
        # prune below needs bucket order to agree with hash order
        .withColumn("b", (F.col("h") / F.lit(float(2 ** 32) / buckets))
                    .cast("int"))
    )
    counts = wdf.groupBy("__src", "b").agg(F.count(F.lit(1)).alias("cnt"))
    wb = (Window.partitionBy("__src").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1))
    prefix = counts.withColumn(
        "pre", F.coalesce(F.sum("cnt").over(wb), F.lit(0)))
    ww = Window.partitionBy("__src", "b").orderBy("h", id_col)
    return (
        wdf.join(F.broadcast(prefix.select("__src", "b", "pre")
                             .filter(F.col("pre") < n)),  # the prune
                 ["__src", "b"])
        .withColumn("samp_rank",
                    (F.col("pre") + F.row_number().over(ww)).cast("long"))
        .filter(F.col("samp_rank") <= n)
        .select(F.col(id_col), F.col("__src").alias(source_col),
                "samp_rank")
    )
