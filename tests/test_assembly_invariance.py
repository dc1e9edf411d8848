"""Slow-tier invariance pins: contigs are a function of the reads and the
params only.  The ``test_assembly_e2e`` genome is assembled three times
in one session, with ``spark.sql.shuffle.partitions`` at 1, at 64, and at
8 with adaptive query execution off; and twice more, each in its own
subprocess session, on ``local[1]`` and on ``local[N]`` with the host's
cores.  Every run must reproduce that test's recorded contig digest.
"""

import os
import subprocess
import sys
from pathlib import Path

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.pipeline.assembler import Assembler
from cloudbrush_spark.sources.fasta import read_sfa
from tests.test_assembly_e2e import DIGEST, _digest, _reads

RUNS = [
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.shuffle.partitions": "64"},
    {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "false"},
]
KEYS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def test_assembly_digest_invariant_to_partitions_and_aqe(spark, tmp_path):
    _, reads = _reads(seed=5, genome_size=1000, read_len=36, coverage=72,
                      error_rate=0.005)
    path = tmp_path / "reads.sfa"
    path.write_text("".join(f"r{i}\t{s}\n" for i, s in enumerate(reads)))
    saved = {k: spark.conf.get(k) for k in KEYS}
    got = []
    try:
        for conf in RUNS:
            for k, v in {**saved, **conf}.items():
                spark.conf.set(k, v)
            nodes, _ = Assembler(spark, BrushParams(k=21, readlen=36)) \
                .assemble(read_sfa(spark, str(path)))
            got.append((conf, _digest([r.seq for r in
                                       nodes.select("seq").collect()])))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert all(d == DIGEST for _, d in got), got


# one assembly in a fresh session; prints "<defaultParallelism> <digest>"
_CHILD = """
import sys
from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.pipeline.assembler import Assembler
from cloudbrush_spark.session import get_spark
from cloudbrush_spark.sources.fasta import read_sfa
from tests.test_assembly_e2e import _digest
spark = get_spark("cloudbrush-core-invariance")
nodes, _ = Assembler(spark, BrushParams(k=21, readlen=36)).assemble(
    read_sfa(spark, sys.argv[1]))
print(spark.sparkContext.defaultParallelism,
      _digest([r.seq for r in nodes.select("seq").collect()]))
"""


def test_assembly_digest_invariant_to_core_count(tmp_path):
    _, reads = _reads(seed=5, genome_size=1000, read_len=36, coverage=72,
                      error_rate=0.005)
    path = tmp_path / "reads.sfa"
    path.write_text("".join(f"r{i}\t{s}\n" for i, s in enumerate(reads)))
    repo = Path(__file__).resolve().parent.parent
    host = len(os.sched_getaffinity(0))
    got = []
    for cpus in (1, host):
        env = {**os.environ, "SPARK_GRAFT_CPUS": str(cpus),
               "CLOUDBRUSH_DRIVER_MEM": "2g"}
        env.pop("CLOUDBRUSH_MASTER", None)  # get_spark then runs local[cpus]
        run = subprocess.run([sys.executable, "-c", _CHILD, str(path)],
                             cwd=repo, env=env, capture_output=True,
                             text=True, timeout=900)
        assert run.returncode == 0, run.stderr[-2000:]
        par, digest = run.stdout.split()[-2:]
        got.append((cpus, int(par), digest))
    assert [(c, p) for c, p, _ in got] == [(1, 1), (host, host)], got
    assert all(d == DIGEST for _, _, d in got), got
