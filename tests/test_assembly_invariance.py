"""Slow-tier invariance pin: contigs are a function of the reads and the
params only.  The ``test_assembly_e2e`` genome is assembled three times
in one session, with ``spark.sql.shuffle.partitions`` at 1, at 64, and at
8 with adaptive query execution off; every run must reproduce that
test's recorded contig digest.
"""

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
