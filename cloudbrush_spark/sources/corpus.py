"""Curated-corpus publish sink: the write side of the curation pipeline.

``pipeline/curation.curate`` emits a MANIFEST (id, split, features); this
module joins it back to the raw corpus and writes the final training set
as split-partitioned parquet — the layout a downstream trainer reads.

The reference's sink analogue is K1 Graph2Fasta (assembly results out,
src/Brush/Graph2Fasta.java:54-77); a document corpus instead needs:

- **Hive-style split partitioning** (``partitionBy(split)``) so a reader
  asking for one split prunes the others at the directory level — no
  file of the wrong split is even listed.
- **Bounded, balanced file counts.**  A blind ``partitionBy`` write emits
  one file per (task, split) — up to tasks x splits small files, the
  classic 100 TB small-file explosion.  Range-repartitioning on
  (split, hash(id) % files_per_split) into splits x files_per_split
  partitions before the write caps output at ``files_per_split`` files
  per split; the range partitioner SAMPLES the key distribution, so the
  partitions are sized by observed frequency rather than blind hashing
  (hash-repartition collides distinct (split, bucket) keys into shared
  tasks at the birthday rate, silently merging files and doubling their
  size).  Adjacent buckets may still share a task, so file sizes are
  approximately — not exactly — balanced; ``MAX_RECORDS_PER_FILE`` is
  the hard overflow valve.  Callers size files_per_split =
  split_bytes / target_file_size.
- **Within-file ordering** (``sortWithinPartitions(id)``) so parquet
  min/max column stats on the id are tight and id-range scans prune at
  the row-group level.

The join manifest->corpus is an inner equi-join on the id, left to AQE's
size statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the train/val/test splits ``sampling.assign_split`` emits
N_SPLITS = 3
MAX_RECORDS_PER_FILE = 5_000_000
COMPRESSION = "zstd"


def _hfs(spark: SparkSession, path: str):
    """Resolve ``path`` to its Hadoop ``FileSystem`` via the live JVM:
    ``(jvm, conf, fs, jpath)``.

    This is the only file API that sees the paths a 100 TB deployment
    actually uses (``hdfs://``, ``s3a://``, ``abfs://``, ...); the
    driver-local ``os`` module sees none of them.  A plain local path
    resolves through the default scheme (``file:`` in local mode)."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, conf, jpath.getFileSystem(conf), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """``exists`` through the path's Hadoop FileSystem (any scheme)."""
    _, _, fs, p = _hfs(spark, path)
    return bool(fs.exists(p))


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file through the Hadoop FS API."""
    _, _, fs, p = _hfs(spark, path)
    out = fs.create(p, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()


def publish_corpus(docs: DataFrame, manifest: DataFrame, path: str,
                   id_col: str = "doc_id", split_col: str = "split",
                   files_per_split: int = 16) -> None:
    """Join the curation manifest back to the raw corpus and write the
    published training set at ``path`` partitioned by split.

    If ``docs`` already carries a ``split_col`` column (a stale
    assignment from an earlier pipeline), it is dropped: the manifest's
    assignment is authoritative, and keeping both would make the join
    output ambiguous."""
    if split_col in docs.columns:
        docs = docs.drop(split_col)
    out = (
        docs.join(manifest.select(id_col, split_col), id_col)
        .repartitionByRange(
            N_SPLITS * files_per_split,
            F.col(split_col),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_split)))
        # split_col leads the sort: partitionBy's required ordering (the
        # partition columns) is then already satisfied, so the file writer
        # does NOT inject its own re-sort — which would not preserve the
        # id order — and each written file stays id-sorted
        .sortWithinPartitions(split_col, id_col)
    )
    (out.write.mode("overwrite")
        .option("compression", COMPRESSION)
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy(split_col)
        .parquet(path))


def read_corpus(spark: SparkSession, path: str,
                split: str | None = None,
                split_col: str = "split") -> DataFrame:
    """Read a published corpus; ``split`` filters via partition pruning
    (directory-level — verify with .explain(): PartitionFilters, not
    PushedFilters)."""
    df = spark.read.parquet(path)
    if split is not None:
        df = df.filter(F.col(split_col) == split)
    return df
