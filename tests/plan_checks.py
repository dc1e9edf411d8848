"""Physical-plan helpers for the plan-shape tests.

The engine's scale story rests on plan shape: filters pushed to the
parquet scan, columns pruned, small sides broadcast, no accidental
single-partition exchanges over row-level data.  These helpers make those
properties assertable instead of eyeballed, and tell whether a
checkpointed frame kept its origin stats (``plans.sever_origin``).
"""

import contextlib
import io
import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """df.explain(mode) captured as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators in the physical plan (AQE may remove
    some at runtime; this is the static upper bound)."""
    return len(re.findall(r"\bExchange\b", explain_str(df, "formatted")))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "formatted") or \
        "BroadcastNestedLoopJoin" in explain_str(df, "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_str(df, "formatted")):
        if m.group(1).strip():
            out.append(m.group(1).strip())
    return out


def read_schema(df: DataFrame) -> list[str]:
    """ReadSchema struct strings of every scan — the column-pruning witness."""
    return [m.group(1) for m in
            re.finditer(r"ReadSchema: (struct<[^>]*>)", explain_str(df, "formatted"))]


def origin_stats_defined(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan is a LogicalRDD that RETAINS
    origin stats (i.e. severing did not happen).  Raises if the plan is
    not a LogicalRDD at all — callers pin checkpointed frames only.

    ``originStats`` is a curried constructor val with no public
    accessor in Spark 4.1, so this reads the field through Java
    reflection — acceptable in a test detector (the pin this serves
    exists precisely to catch Spark moving these internals)."""
    plan = df._jdf.queryExecution().analyzed()
    name = plan.getClass().getSimpleName()
    if name != "LogicalRDD":
        raise AssertionError(f"expected LogicalRDD, got {name}")
    field = plan.getClass().getDeclaredField("originStats")
    field.setAccessible(True)
    return bool(field.get(plan).isDefined())
