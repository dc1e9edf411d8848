"""Registry-wide oracle dtype sweep.

The driver's correctness hash is type/format-sensitive: it materializes
the Spark result (``toPandas``) and the DuckDB oracle (``fetchdf``) and
hashes rendered values, so an int64-vs-float64 column pair mismatches
even when numerically equal ("37459279" vs "37459279.0").

DuckDB silently widens in ways that trigger exactly that class:
``sum(BIGINT)`` (windowed or grouped) types as HUGEINT, and a UNION leg
promotes the whole column; pandas materializes HUGEINT as float64.
Round 8 shipped a red driver row (`relational_extras`) this way while
the numeric-tolerant local compare passed.

This test binds every ``oracle_sql()`` entry in DuckDB (bind only — no
execution, so it is cheap) and builds every ``queries()`` twin lazily in
Spark (schema analysis only), then asserts per column name:

* no HUGEINT / UHUGEINT anywhere (no oracle legitimately needs int128);
* where the Spark twin is integral, the DuckDB column is an integer type
  no wider than BIGINT — never DOUBLE/FLOAT/DECIMAL.
"""

from __future__ import annotations

import sys

import duckdb
import pytest
from pyspark.sql import types as T

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"

_INTEGRAL_SPARK = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
# signed ints up to 64 bits — what pandas keeps integer-typed end to end
_OK_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                "UTINYINT", "USMALLINT", "UINTEGER"}
_BANNED = {"HUGEINT", "UHUGEINT"}


def _registry():
    import __spark_entry__ as entrymod
    return entrymod.queries(), entrymod.oracle_sql()


def _duck_types(con, sql):
    rel = con.sql(sql)
    return dict(zip(rel.columns, [str(t) for t in rel.types]))


def test_no_hugeint_and_integral_parity(spark):
    qs, oracles = _registry()
    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    problems = []
    checked = 0
    for name, sql in oracles.items():
        assert name in qs, f"oracle_sql() entry {name!r} has no queries() twin"
        try:
            duck = _duck_types(con, sql)
        except Exception as e:  # noqa: BLE001 — surface as a finding, keep sweeping
            problems.append(f"{name}: oracle failed to bind: {e}")
            continue
        spark_schema = {f.name: f.dataType for f in qs[name](spark, SF_DIR).schema}
        if sorted(duck) != sorted(spark_schema):
            problems.append(
                f"{name}: column sets differ spark={sorted(spark_schema)} "
                f"duck={sorted(duck)}"
            )
            continue
        for col, dt in duck.items():
            base = dt.split("(")[0]
            if base in _BANNED:
                problems.append(
                    f"{name}.{col}: DuckDB {dt} — pandas renders HUGEINT as "
                    "float64 and the driver hash flips; CAST ... AS BIGINT"
                )
            elif isinstance(spark_schema[col], _INTEGRAL_SPARK) \
                    and base not in _OK_DUCK_INT:
                problems.append(
                    f"{name}.{col}: Spark is integral "
                    f"({spark_schema[col].simpleString()}) but DuckDB types it "
                    f"{dt} — int-vs-float driver hash mismatch; cast the oracle"
                )
        checked += 1
    assert not problems, "\n".join(problems)
    assert checked >= 38, f"sweep only bound {checked} oracles — registry shrank?"


def test_compare_is_dtype_strict(spark):
    """The harness itself must fail an int64-vs-float64 pair (the exact
    round-8 escape), even when values are numerically identical."""
    import pandas as pd

    from tests.oracle_harness import compare

    sdf = spark.createDataFrame([(1, 10), (2, 20)], "k int, v long")
    good = pd.DataFrame({"k": [1, 2], "v": [10, 20]}).astype({"v": "int64"})
    assert compare(sdf, good) == []
    floaty = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    issues = compare(sdf, floaty)
    assert issues and "dtype kind" in issues[0], issues
