"""Local stand-in for the driver's t2 check: run each ``queries()`` entry on
Spark and its ``oracle_sql()`` twin on DuckDB, compare row count, column
names/ordering-insensitive values.

Used by tests and by ``python -m tests.oracle_harness [sf_dir]`` for a full
report while iterating.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con.execute(sql).fetchdf()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64") // 10**9
        if df[c].dtype == bool:
            df[c] = df[c].astype(int)
        if str(df[c].dtype) in ("float32",):
            df[c] = df[c].astype("float64")
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _dtype_kind(dtype) -> str:
    """Coarse dtype class for the strict pre-normalization check.

    The driver's value hash is type/format-sensitive: an int64 column
    renders "37459279" while the same values as float64 render
    "37459279.0", so an int-vs-float pair hash-mismatches even when
    numerically equal.  (Round-8 regression: a DuckDB window sum typed
    HUGEINT materialized as float64 and flipped the driver hash while
    the old numeric-tolerant compare passed.)
    """
    s = str(dtype)
    if s.startswith("datetime"):
        return "datetime"
    if s in ("bool", "boolean"):
        return "bool"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    return s  # object, category, ...


def compare(spark_df, oracle_pdf: pd.DataFrame, float_tol: float = 0.0) -> list[str]:
    """Return a list of mismatch descriptions; empty means match."""
    issues = []
    spdf = spark_df.toPandas()
    if sorted(spdf.columns) != sorted(oracle_pdf.columns):
        return [f"columns differ: spark={sorted(spdf.columns)} oracle={sorted(oracle_pdf.columns)}"]
    if len(spdf) != len(oracle_pdf):
        issues.append(f"row count: spark={len(spdf)} oracle={len(oracle_pdf)}")
        return issues
    # dtype-strict gate BEFORE normalization: the driver hashes raw
    # materialized frames, so a kind mismatch (int vs float, object vs
    # float, ...) is a driver failure even if values are numerically equal.
    for c in sorted(spdf.columns):
        ka, kb = _dtype_kind(spdf[c].dtype), _dtype_kind(oracle_pdf[c].dtype)
        if ka != kb:
            issues.append(
                f"col {c}: dtype kind mismatch spark={spdf[c].dtype}({ka}) "
                f"oracle={oracle_pdf[c].dtype}({kb}) — driver hash is "
                "type-sensitive; cast the oracle (or the query) so both "
                "sides materialize the same pandas kind"
            )
    if issues:
        return issues
    a, b = _normalize(spdf), _normalize(oracle_pdf)
    for c in a.columns:
        if a[c].dtype == "float64":
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            bad = 0
            worst = 0.0
            for x, y in zip(av, bv):
                if math.isnan(x) and math.isnan(y):
                    continue
                d = abs(x - y)
                if d > float_tol:
                    bad += 1
                    worst = max(worst, d)
            if bad:
                issues.append(f"col {c}: {bad} float mismatches, worst abs diff {worst}")
        else:
            neq = (a[c] != b[c])
            if neq.any():
                i = int(neq.idxmax())
                issues.append(
                    f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={a[c][i]!r} oracle={b[c][i]!r}"
                )
    return issues


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None) -> int:
    # the checkout this file lives in, so the harness checks its own
    # registry
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from cloudbrush_spark.session import get_spark

    spark = get_spark("oracle-harness")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = [n for n in only if n not in qs]
        if unknown:
            # a silently-skipped name reads as "checked and passed" —
            # registry entries get merged/renamed across rounds, so a
            # stale --only list must FAIL even when other names resolve
            # (otherwise a verify script silently loses coverage as long
            # as one name is still valid)
            print(f"[FAIL] not in queries(): {', '.join(unknown)} "
                  "(merged or renamed? see docs/COVERAGE.md)")
    failed = list(unknown) if only else []
    attempted = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        attempted += 1
        if name not in oracles:
            n = fn(spark, sf_dir).count()
            print(f"[rows-only] {name}: {n} rows")
            continue
        try:
            issues = compare(fn(spark, sf_dir), run_oracle(oracles[name], sf_dir))
        except Exception as e:  # noqa: BLE001
            issues = [f"EXCEPTION {type(e).__name__}: {e}"]
        status = "OK" if not issues else "FAIL"
        print(f"[{status}] {name}" + ("" if not issues else ": " + "; ".join(issues)[:500]))
        if issues:
            failed.append(name)
    print(f"\n{attempted - len(failed)}/{attempted} matched")
    if only and attempted == 0:
        # every requested name was unknown: 0/0 must NOT read as green —
        # a verify script with a stale query list would otherwise pass
        print("[FAIL] no requested query exists in the registry")
        return 1
    return 1 if failed else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(main(sf, only))
