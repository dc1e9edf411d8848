"""Checkpoint utilities for the iterative operators."""

from cloudbrush_spark.plans.sever import cut, sever_origin  # noqa: F401
