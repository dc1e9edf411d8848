"""cloudbrush_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of CSCLabTW/CloudBrush.

The reference (/root/reference, a Hadoop-MapReduce string-graph genome
assembler) decomposes into relational + graph dataflow: dedup, k-mer/token
counting, similarity self-join, overlap verification, transitive reduction,
iterative chain contraction, consensus aggregation, statistical
classification and distribution statistics.  This package re-expresses every
one of those operators Spark-first (DataFrame / SQL / Catalyst), organized
as:

- ``functions/``  — column-expression kits (DNA algebra, text
                    analysis).  No UDF where a built-in expression
                    exists.
- ``operators/``  — the generic relational/graph operator library
                    (duckdb-oracle-checkable) + the LLM-data-pipeline
                    operators ``curate`` and the CLI run (MinHash/LSH
                    dedup, sampling, text scoring, corpus guard and
                    report).
- ``sources/``    — FASTA/FASTQ/SFA scans and sinks.
- ``pipeline/``   — the assembly composites (SURVEY §2.7 control flow).
- ``plans/``      — the stage-boundary checkpoint for the iterative parts.
"""

__version__ = "0.1.0"

from cloudbrush_spark.session import get_spark  # noqa: F401
