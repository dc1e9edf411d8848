"""Durable stage checkpointing: a finished stage loads instead of
recomputing on the next run (reference runStage/checkDone parity)."""

import random

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.pipeline.assembler import Assembler
from cloudbrush_spark.sources.fasta import read_sfa
from tests.test_assembly_e2e import DIGEST, _digest
from tests.test_assembly_e2e import _reads as _e2e_reads

STAGES = ("01_string_graph", "02_notips", "03_nobubbles", "04_lowcov",
          "05_edgeadjust")


def _reads(spark):
    rng = random.Random(21)
    genome = "".join(rng.choice("ACGT") for _ in range(300))
    rows = [(f"r{i:02d}", genome[i * 5:i * 5 + 40]) for i in range(53)
            if len(genome[i * 5:i * 5 + 40]) == 40]
    return spark.createDataFrame(rows, "read_id string, seq string")


def test_assemble_resumes_from_stage_checkpoints(spark, tmp_path):
    reads = _reads(spark)
    params = BrushParams(k=15, readlen=40)
    asm1 = Assembler(spark, params, checkpoint_dir=str(tmp_path))
    n1, _ = asm1.assemble(reads)
    first = sorted(r.seq for r in n1.collect())
    assert not any(k.startswith("loaded_") for k in asm1.counters)

    asm2 = Assembler(spark, params, checkpoint_dir=str(tmp_path))
    n2, _ = asm2.assemble(reads)
    second = sorted(r.seq for r in n2.collect())
    # every stage was loaded, none recomputed; results identical
    for stage in STAGES:
        assert asm2.counters.get(f"loaded_{stage}") == 1
    assert "nodes" not in asm2.counters      # preprocess never ran
    assert first == second


def test_resume_from_each_stage_checkpoint_keeps_digest(spark, tmp_path):
    """Resuming after stage k-1 (markers of stages k..5 removed) loads
    exactly the stages before k, recomputes the rest, and reproduces the
    ``test_assembly_e2e`` contig digest, for every k."""
    _, reads = _e2e_reads(seed=5, genome_size=1000, read_len=36,
                          coverage=72, error_rate=0.005)
    path = tmp_path / "reads.sfa"
    path.write_text("".join(f"r{i}\t{s}\n" for i, s in enumerate(reads)))
    ckpt = tmp_path / "ckpt"

    def run():
        asm = Assembler(spark, BrushParams(k=21, readlen=36),
                        checkpoint_dir=str(ckpt))
        nodes, _ = asm.assemble(read_sfa(spark, str(path)))
        loaded = sorted(c[len("loaded_"):] for c in asm.counters
                        if c.startswith("loaded_"))
        return loaded, _digest([r.seq for r in nodes.select("seq").collect()])

    assert run() == ([], DIGEST)
    for k in range(1, len(STAGES) + 1):
        for stage in STAGES[k - 1:]:
            (ckpt / stage / "_DONE").unlink()
        assert run() == (list(STAGES[:k - 1]), DIGEST), f"resume at stage {k}"
