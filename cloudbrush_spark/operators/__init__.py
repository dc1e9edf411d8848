"""Operator library: the reference surface (SURVEY §2) plus the
LLM-pipeline operators the ``curate`` verb and the CLI run (dedup,
sampling, text scoring, corpus guard and report)."""

from cloudbrush_spark.operators import (  # noqa: F401
    bubbles,
    consensus,
    contraction,
    dedup,
    graph,
    kmers,
    mates,
    overlap,
    stats,
    textops,
)
