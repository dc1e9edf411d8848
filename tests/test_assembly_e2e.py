"""Default-tier end-to-end pin of the default assembly path: reads of a
small seeded genome -> ``Assembler.assemble`` -> contigs and
``stats_report``.

The reads are drawn the way the benchmark draws ``asm_deep`` (uniform
random genome, 36 bp reads at 72x, random strand, 0.5% substitutions),
re-stated here so the test stands on its own.  The canonical contig
digest pins the whole pipeline: any change to a stage that moves one
contig base fails it.
"""

import hashlib

import numpy as np

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.pipeline.assembler import Assembler
from cloudbrush_spark.sources.fasta import read_sfa

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
_COMP = bytes.maketrans(b"ACGT", b"TGCA")
MIN_CONTIG = 100  # stats_report's smallest cutoff

# canonical contig-set digest of seed 5, recorded before the array
# consensus rewrite of the chimeric-link cut
DIGEST = "b9008b02a2c263b5ec0a947f9e9ef8b3692f03137f74b96be74cbdf654aebf2d"


def _revcomp(seq: str) -> str:
    return seq.encode().translate(_COMP)[::-1].decode()


def _reads(seed: int, genome_size: int, read_len: int, coverage: float,
           error_rate: float) -> tuple[str, list[str]]:
    rng = np.random.default_rng(seed)
    genome = BASES[rng.integers(0, 4, size=genome_size)].tobytes().decode()
    n = int(round(coverage * genome_size / read_len))
    g = np.frombuffer(genome.encode(), dtype=np.uint8)
    starts = rng.integers(0, genome_size - read_len + 1, size=n)
    reads = g[starts[:, None] + np.arange(read_len)[None, :]].copy()
    errs = rng.random(reads.shape) < error_rate
    idx = np.searchsorted(BASES, reads[errs])
    reads[errs] = BASES[(idx + rng.integers(1, 4, size=idx.size)) % 4]
    flip = rng.random(n) < 0.5
    return genome, [_revcomp(r.tobytes().decode()) if rc else r.tobytes().decode()
                    for r, rc in zip(reads, flip)]


def _digest(contigs: list[str]) -> str:
    h = hashlib.sha256()
    for s in sorted(min(c, _revcomp(c)) for c in contigs):
        h.update(repr(s).encode())
    return h.hexdigest()


def _n50(contigs: list[str]) -> int:
    lens = sorted((n for n in map(len, contigs) if n >= MIN_CONTIG), reverse=True)
    acc = 0
    for n in lens:
        acc += n
        if 2 * acc >= sum(lens):
            return n
    return 0


def _fidelity(genome: str, contigs: list[str]) -> float:
    """Share of 50 bp windows of contigs >= MIN_CONTIG found in the genome
    on either strand."""
    rc = _revcomp(genome)
    wins = [c[i:i + 50] for c in contigs if len(c) >= MIN_CONTIG
            for i in range(0, len(c) - 49, 50)]
    return sum(w in genome or w in rc for w in wins) / len(wins) if wins else 0.0


def test_assemble_small_genome_end_to_end(spark, tmp_path):
    genome, reads = _reads(seed=5, genome_size=1000, read_len=36, coverage=72,
                           error_rate=0.005)
    path = tmp_path / "reads.sfa"
    path.write_text("".join(f"r{i}\t{s}\n" for i, s in enumerate(reads)))
    asm = Assembler(spark, BrushParams(k=21, readlen=36))
    nodes, _ = asm.assemble(read_sfa(spark, str(path)))
    contigs = [r.seq for r in nodes.select("seq").collect()]
    assert _fidelity(genome, contigs) >= 0.9
    dist = asm.stats_report(nodes, genome_size=len(genome))["distribution"]
    assert dist.orderBy("cutoff").first()["n50"] == _n50(contigs)
    assert _digest(contigs) == DIGEST
