"""Raw-SQL entry surface: named temp views + ``spark.sql`` passthrough.

SURVEY §2.8/§7: the relational operator family "comes free from Spark
SQL and should be exposed" — a user's first query against an analytics
engine is usually ``SELECT ...`` over named tables, not a Python API
call.  :func:`register_table_views` registers the analytic tables (the
TPC-H-ish parquet directory: region/nation/customer/supplier/part/
orders/lineitem/events/documents/embeddings) as session temp views, so
textual SQL reaches them.

Scale note: a temp view over ``spark.read.parquet`` is purely logical —
Catalyst still pushes filters/prunes columns/prunes partitions through
it, so the SQL surface costs nothing over the DataFrame API (plan-pinned
in ``tests/test_cli.py``).  The CLI counterpart is ``-sql 'SELECT ...'``
(``python -m cloudbrush_spark -sql ... -data DIR``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def register_table_views(spark: SparkSession, data_dir: str,
                         tables: tuple[str, ...] = TABLES) -> list[str]:
    """Register each ``<data_dir>/<name>.parquet`` that exists as a temp
    view ``<name>``; returns the names registered."""
    from cloudbrush_spark.sources.corpus import fs_exists
    registered = []
    for t in tables:
        p = f"{data_dir}/{t}.parquet"
        if fs_exists(spark, p):
            spark.read.parquet(p).createOrReplaceTempView(t)
            registered.append(t)
    return registered


def run_sql(spark: SparkSession, query: str) -> DataFrame:
    """Execute a raw SQL query against whatever views are registered."""
    return spark.sql(query)
