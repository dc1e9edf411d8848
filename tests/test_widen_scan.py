"""``_widen_scan`` sizes a parquet dataset from its data files to decide
whether a scan yields fewer splits than the session has cores.  A
partitioned dataset keeps its part files one directory level down per
partition column, so the sizing must walk the whole tree: a wide
partitioned scan must come back unchanged, never collapsed to the
widening width."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def _part_file(root, size: int) -> None:
    part = root / "k=1"
    part.mkdir()
    with open(part / "part-0.parquet", "wb"):
        pass
    os.truncate(part / "part-0.parquet", size)  # sparse: no disk used
    (root / "_SUCCESS").touch()


def test_partitioned_wide_scan_is_left_alone(spark, tmp_path):
    _part_file(tmp_path, 2 << 30)  # 16 splits of 128 MB >= any width
    df = spark.range(1)
    assert entrymod._widen_scan(spark, df, str(tmp_path)) is df


def test_partitioned_narrow_scan_is_widened(spark, tmp_path):
    _part_file(tmp_path, 1 << 20)
    df = spark.range(1)
    out = entrymod._widen_scan(spark, df, str(tmp_path))
    if spark.sparkContext.defaultParallelism > 1:
        assert out is not df
        assert out.rdd.getNumPartitions() == \
            min(spark.sparkContext.defaultParallelism, 8)
