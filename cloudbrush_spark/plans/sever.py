"""Stage-boundary cuts and origin-plan severing.

:func:`cut` is the one way a pipeline stage or loop round materializes
a frame.  It takes the RELIABLE checkpoint (replicated to
``spark.checkpoint.dir``) when a checkpoint dir is configured — the mode
to run on a multi-executor cluster, where executor loss or
dynamic-allocation scale-in would invalidate executor-local blocks —
and ``localCheckpoint`` otherwise, which is correct and cheapest on
local[*] where executor loss cannot happen.  The reference sends every
stage boundary through one mechanism too (``runStage``/``checkDone``,
src/Brush/BrushAssembler.java:132-155).

``localCheckpoint`` / ``checkpoint`` truncate the VISIBLE lineage, but
the LogicalRDD they produce retains the pre-checkpoint logical plan
(origin stats / constraints) for Catalyst's benefit — and in an
iterative loop those references CHAIN: round r's origin plan contains
round r-1's LogicalRDD, whose origin contains r-2's, and so on.  Stats
estimation (``SizeInBytesOnlyStatsPlanVisitor.visitJoin``),
InjectRuntimeFilter and constant folding re-walk that ever-deepening
tree every round, so per-round DRIVER time grows geometrically while
the data shrinks (measured on a 600k-node contraction chain: rounds
10/11/12 cost 1.8/3.5/11.9 s with plain ``localCheckpoint`` and 1.3 s
flat after severing; a 1.5M-node chain's round 14 cost 345 s on ~1k
rows before the fix).

:func:`sever_origin` rebuilds the frame from the materialized internal
RDD (zero-copy — ``toRdd`` on a checkpointed frame IS the checkpoint
RDD), producing a LogicalRDD with NO origin reference, so no Catalyst
pass can recurse into history.  The severed frame has no origin stats,
which suppresses static broadcast planning downstream, so
``cut(df, sever=True)`` is for the per-round cut of an unbounded loop
(inside one, every join is hinted or AQE-converted from runtime sizes);
one-shot cuts keep the origin stats.

The rebuild rides a private JVM API (``internalCreateDataFrame``),
unavailable on Spark Connect sessions and movable between Spark
versions.  The fallback returns the plain checkpoint — CORRECT, but it
silently re-admits the geometric driver-time pathology — so the
fallback (a) warns ONCE per process, loudly, and (b) is pinned by a
unit test asserting the severed frame's LogicalRDD really has no
origin stats, so an API break turns CI red instead of quietly
regressing every iterative operator.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

_warned = False


def sever_origin(df: DataFrame) -> DataFrame:
    """Rebuild an (already checkpointed) frame from its internal RDD,
    dropping the checkpoint's retained origin logical plan.

    Pass the OUTPUT of ``localCheckpoint(eager=True)`` /
    ``checkpoint(eager=True)``; severing a non-materialized frame would
    trigger the materialization here instead.  Falls back to returning
    ``df`` unchanged (with a one-time warning) where the private JVM
    API is unreachable — e.g. Spark Connect."""
    global _warned
    spark = df.sparkSession
    try:
        jdf = spark._jsparkSession.internalCreateDataFrame(
            df._jdf.queryExecution().toRdd(), df._jdf.schema(), False)
        return DataFrame(jdf, spark)
    except Exception as exc:  # noqa: BLE001 — e.g. Spark Connect: no JVM handle
        if not _warned:
            _warned = True
            warnings.warn(
                "sever_origin: internalCreateDataFrame unavailable "
                f"({type(exc).__name__}: {exc}); iterative loops will keep "
                "the plain checkpoint, whose chained origin plans make "
                "per-round driver time grow geometrically with round count "
                "(see cloudbrush_spark/plans/sever.py). Expect slow late "
                "rounds on long loops.",
                RuntimeWarning,
                stacklevel=2,
            )
        return df


def cut(df: DataFrame, sever: bool = False) -> DataFrame:
    """Materialize ``df`` at a stage boundary so later reads (a fanned-out
    DAG, the next loop round) use the stored rows instead of re-running
    the upstream plan.  ``sever=True`` also drops the retained origin
    plan (see the module docstring).

    The result is marked ``_cb_cut``; a marked frame is returned as is,
    or only severed when it was cut without a sever, so a stage may cut
    a frame its operator already cut without paying a second job."""
    # vars(): getattr would fall through to DataFrame.__getattr__, which
    # resolves the schema (a JVM round-trip) to look for a column
    state = vars(df).get("_cb_cut")
    if state is None:
        if df.sparkSession.sparkContext.getCheckpointDir() is not None:
            df = df.checkpoint(eager=True)
        else:
            df = df.localCheckpoint(eager=True)
        state = "kept"
    if sever and state == "kept":
        df = sever_origin(df)
        state = "severed"
    df._cb_cut = state
    return df

