"""Exact cosine top-k over embedding columns (array<float>).

A broadcast nested loop expressed as a cross join against the query side,
with the dot product as a JVM-side higher-order function
(``aggregate(zip_with(...))``), so no Python runs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk_bruteforce(vectors: DataFrame, queries: DataFrame, k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding self).

    ``queries`` is broadcast (queries are the small side by assumption);
    the corpus streams once.  Norms are attached once per vector in each
    side's projection, not recomputed per pair.  Output: (query_id,
    neighbor_id, rank, cosine).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("qn"))
    c = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                       _norm(F.col(vec_col)).alias("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) /
                    (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
