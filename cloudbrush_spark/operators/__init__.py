"""Operator library: reference surface (SURVEY §2) + LLM-pipeline
(dedup, similarity, sampling, scoring) + binary-payload dedup + join
extensions."""

from cloudbrush_spark.operators import (  # noqa: F401
    bubbles,
    consensus,
    contraction,
    dedup,
    graph,
    joins,
    kmers,
    mates,
    multimodal,
    overlap,
    similarity,
    stats,
    textops,
)
