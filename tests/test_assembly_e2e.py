"""Default-tier end-to-end pin of the default assembly path: reads of a
small seeded genome -> ``Assembler.assemble`` -> contigs and
``stats_report``.

The reads are drawn the way the benchmark draws ``asm_deep`` (uniform
random genome, 36 bp reads at 72x, random strand, 0.5% substitutions),
re-stated here so the test stands on its own.  The canonical contig
digest pins the whole pipeline: any change to a stage that moves one
contig base fails it.  It runs twice: with the default driver-finish
bound, where everything from the reads on (dedup, the overlap join, the
string graph and the whole cleanup tail) runs in the driver, and with
the bound forced to 0, where every stage takes the distributed loop.
Each run also pins the Spark jobs every stage starts.
"""

import hashlib
import uuid

import numpy as np
import pytest

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.operators import smallgraph
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
           error_rate: float, repeats: tuple = ()) -> tuple[str, list[str]]:
    """(genome, reads); each entry of ``repeats`` copies a random segment
    of that length over another place of the genome."""
    rng = np.random.default_rng(seed)
    genome = BASES[rng.integers(0, 4, size=genome_size)].tobytes().decode()
    for length in repeats:
        src, dst = rng.integers(0, genome_size - length + 1, size=2)
        genome = genome[:dst] + genome[src:src + length] + genome[dst + length:]
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


# The assembler's stage methods; each runs in its own Spark job group
# (the innermost one, when stages nest), so the jobs a stage starts are
# counted apart from those of the stage that called it.
STAGES = ("assemble", "preprocess", "build_overlap", "build_string_graph",
          "compress_chains", "remove_tips", "pop_all_bubbles",
          "remove_low_cov", "edge_adjustment", "stats_report")

# bound -> (smallgraph.DRIVER_MAX_BYTES, stages finished in the driver,
# size probes, Spark jobs per stage).  Within the bound preprocess sizes
# the reads once and collects them, and the overlap graph is built,
# contracted and cleaned in the driver; each later stage takes back the
# graph the one before it held.  At bound 0 preprocess skips its probe (no
# read fits), and every graph stage sizes its input (remove_low_cov's
# inner tips and bubbles passes included) and runs its distributed loop.
CASES = {
    "default_bound": (smallgraph.DRIVER_MAX_BYTES, 5, 1, {
        "assemble": 0, "preprocess": 3, "build_overlap": 0,
        "build_string_graph": 0, "compress_chains": 0, "remove_tips": 0,
        "pop_all_bubbles": 0, "remove_low_cov": 0, "edge_adjustment": 0,
        "stats_report": 1}),
    "bound_0": (0, 0, 8, {
        "assemble": 3, "preprocess": 8, "build_overlap": 11,
        "build_string_graph": 26, "compress_chains": 18, "remove_tips": 59,
        "pop_all_bubbles": 12, "remove_low_cov": 13, "edge_adjustment": 6,
        "stats_report": 2}),
}


def _job_groups(mp, spark, prefix: str) -> None:
    """Run every ``STAGES`` method in the job group ``prefix + name``."""
    sc = spark.sparkContext
    stack = []

    def grouped(name, fn):
        def inner(*args, **kwargs):
            stack.append(prefix + name)
            sc.setJobGroup(stack[-1], name)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                if stack:
                    sc.setJobGroup(stack[-1], stack[-1][len(prefix):])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
        return inner

    for name in STAGES:
        mp.setattr(Assembler, name, grouped(name, getattr(Assembler, name)))


@pytest.fixture(scope="module", params=list(CASES))
def assembled(request, spark, tmp_path_factory):
    """One assembly of the seed-5 genome at the case's bound."""
    bound, *expect = CASES[request.param]
    prefix = f"e2e-{request.param}-{uuid.uuid4().hex}-"
    sized = []
    driver_bytes = smallgraph.driver_bytes
    genome, reads = _reads(seed=5, genome_size=1000, read_len=36, coverage=72,
                           error_rate=0.005)
    path = tmp_path_factory.mktemp("e2e") / "reads.sfa"
    path.write_text("".join(f"r{i}\t{s}\n" for i, s in enumerate(reads)))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(smallgraph, "DRIVER_MAX_BYTES", bound)
        mp.setattr(smallgraph, "driver_bytes",
                   lambda n, e=None: sized.append(1) or driver_bytes(n, e))
        _job_groups(mp, spark, prefix)
        asm = Assembler(spark, BrushParams(k=21, readlen=36))
        nodes, _ = asm.assemble(read_sfa(spark, str(path)))
        contigs = [r.seq for r in nodes.select("seq").collect()]
        dist = asm.stats_report(nodes, genome_size=len(genome))["distribution"]
        n50 = dist.orderBy("cutoff").first()["n50"]
    tracker = spark.sparkContext.statusTracker()
    jobs = {s: len(tracker.getJobIdsForGroup(prefix + s)) for s in STAGES}
    return {"genome": genome, "contigs": contigs, "n50": n50,
            "counters": asm.counters, "probes": len(sized), "jobs": jobs,
            "expect": expect}


def test_assemble_small_genome_end_to_end(assembled):
    contigs = assembled["contigs"]
    assert _fidelity(assembled["genome"], contigs) >= 0.9
    assert assembled["n50"] == _n50(contigs)
    assert _digest(contigs) == DIGEST
    driver_stages, probes, _ = assembled["expect"]
    assert assembled["counters"].get("driver_finish", 0) == driver_stages
    assert assembled["probes"] == probes


# Spark jobs the STAGES methods start in one pass
PASS_JOBS = {"default_bound": 4, "bound_0": 158}


def test_jobs_per_stage(request, assembled):
    """Job counts are deterministic at 0.5% errors, so a stage that
    starts one more Spark job than today fails this."""
    assert assembled["jobs"] == assembled["expect"][2]
    assert sum(assembled["jobs"].values()) == PASS_JOBS[request.node.callspec.id]


def test_driver_finish_digest_matches_distributed_on_repeat_genomes(
        spark, tmp_path, monkeypatch):
    """Five seeded 2 kb genomes, each with two planted repeats longer
    than a read, assemble to the same contigs with the driver-finish
    bound at its default (from the reads on, everything in the driver)
    and at 0 (every stage distributed)."""
    mismatched, default = [], smallgraph.DRIVER_MAX_BYTES
    for seed in (11, 12, 13, 14, 15):
        genome, reads = _reads(seed, 2000, 36, 72, 0.005, repeats=(80, 150))
        path = tmp_path / f"reads{seed}.sfa"
        path.write_text("".join(f"r{i}\t{s}\n" for i, s in enumerate(reads)))
        digests = []
        for bound, driver_stages in ((default, 5), (0, 0)):
            monkeypatch.setattr(smallgraph, "DRIVER_MAX_BYTES", bound)
            asm = Assembler(spark, BrushParams(k=21, readlen=36))
            nodes, _ = asm.assemble(read_sfa(spark, str(path)))
            contigs = [r.seq for r in nodes.select("seq").collect()]
            assert asm.counters.get("driver_finish", 0) == driver_stages
            assert _fidelity(genome, contigs) >= 0.9
            digests.append(_digest(contigs))
        if digests[0] != digests[1]:
            mismatched.append(seed)
    assert not mismatched
