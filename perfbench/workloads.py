"""Benchmark workloads: input preparation, one pipeline run, output checks.

Each workload's ``run`` is what one timed sample measures: from the file
on disk to the pipeline's output collected on the driver.  ``check``
validates that output and returns its quality figures.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np

from perfbench import gen

# assembler stage functions that get a span in the traced run
ASM_STAGES = ("assemble", "preprocess", "build_overlap", "build_string_graph",
              "compress_chains", "remove_tips", "pop_all_bubbles",
              "remove_low_cov", "edge_adjustment")

SPANS = tuple(f"assembler.{s}" for s in ASM_STAGES) + (
    "assembler.stats_report", "curation.curate", "dedup.dedup_clusters",
    "collect")

# per-layer loop counters: metric name -> Assembler.counters key
ASM_COUNTERS = {"asm.edges": "edges", "asm.edges_after_tr": "edges_after_tr",
                "asm.compress_rounds": "compress_rounds",
                "asm.tips_removed": "tips_removed",
                "asm.lowcov_removed": "lowcov_removed"}
LAYER_COUNTERS = tuple(ASM_COUNTERS) + (
    "asm.chimeric_cuts", "assembler.build_overlap.useful_frac")


# contigs shorter than this are left out of the identity and N50 figures:
# it is stats_report's smallest cutoff, and 52-72 bp low-coverage error
# fragments legitimately survive an uncorrected run (the same reason
# tests/test_golden_ec10k.py holds all windows to 0.85 only)
MIN_CONTIG = 100


@dataclass
class Result:
    problems: list[str]
    digest: str
    yield_: float
    fidelity: float


def _digest(items) -> str:
    h = hashlib.sha256()
    for it in sorted(items):
        h.update(repr(it).encode())
    return h.hexdigest()


class Assembly:
    """Reads -> contigs: ``Assembler.assemble`` on an SFA file, the final
    contigs collected, then ``Assembler.stats_report``."""

    def __init__(self, genome_size, coverage, error_rate, read_len=36, k=21):
        self.genome_size, self.coverage, self.error_rate = genome_size, coverage, error_rate
        self.read_len, self.k = read_len, k

    def prepare(self, seed: int, workdir: str) -> dict:
        rng = np.random.default_rng(seed)
        genome = gen.make_genome(rng, self.genome_size)
        reads = gen.sample_reads(rng, genome, self.read_len, self.coverage,
                                 self.error_rate)
        path = os.path.join(workdir, "reads.sfa")
        gen.write_sfa(path, reads)
        return {"path": path, "genome": genome, "n_inputs": len(reads)}

    def trace_targets(self):
        from cloudbrush_spark.pipeline.assembler import Assembler
        return [(Assembler, s, f"assembler.{s}") for s in ASM_STAGES]

    def run(self, spark, inp: dict, tracer) -> dict:
        from cloudbrush_spark.config import BrushParams
        from cloudbrush_spark.pipeline.assembler import Assembler
        from cloudbrush_spark.sources.fasta import read_sfa

        asm = Assembler(spark, BrushParams(k=self.k, readlen=self.read_len))
        nodes, _ = asm.assemble(read_sfa(spark, inp["path"]))
        with tracer.span("collect"):
            contigs = [r.seq for r in nodes.select("seq").collect()]
        with tracer.span("assembler.stats_report"):
            rep = asm.stats_report(nodes, genome_size=len(inp["genome"]))
            dist = rep["distribution"].orderBy("cutoff").collect()
            rep["top"].collect()
            rep["genome_n50"].collect()
        return {"contigs": contigs, "n50": dist[0]["n50"] if dist else 0,
                "counters": dict(asm.counters)}

    def check(self, inp: dict, out: dict) -> Result:
        genome = inp["genome"]
        contigs = out["contigs"]
        problems = []
        rc = gen.revcomp(genome)
        wins = hits = 0
        for s in contigs:
            if len(s) < MIN_CONTIG:
                continue
            for i in range(0, len(s) - 49, 50):
                w = s[i:i + 50]
                wins += 1
                hits += w in genome or w in rc
        identity = hits / wins if wins else 0.0
        total = sum(map(len, contigs))
        if identity < 0.9:
            problems.append(f"genome_identity {identity:.3f} < 0.9")
        if not 0.9 * len(genome) <= total <= 2 * len(genome):
            problems.append(f"total {total} bp outside 0.9-2x genome {len(genome)}")
        lens = sorted((n for n in map(len, contigs) if n >= MIN_CONTIG), reverse=True)
        acc, n50, total_long = 0, 0, sum(lens)
        for n in lens:
            acc += n
            if 2 * acc >= total_long:
                n50 = n
                break
        if out["n50"] != n50:
            problems.append(f"stats_report N50 {out['n50']} != contigs' N50 {n50}")
        digest = _digest(min(s, gen.revcomp(s)) for s in contigs)
        return Result(problems, digest, float(out["n50"]), identity)

    def layer_counters(self, out: dict) -> dict[str, float]:
        c = out["counters"]
        res = {k: float(c.get(v, 0)) for k, v in ASM_COUNTERS.items()}
        res["asm.chimeric_cuts"] = float(sum(
            v for k, v in c.items() if k.startswith("chimeric_cut_r")))
        res["assembler.build_overlap.useful_frac"] = (
            c.get("edges_after_tr", 0) / c["edges"] if c.get("edges") else 0.0)
        return res


class Curation:
    """Docs -> manifest: ``pipeline.curation.curate`` on a parquet corpus,
    the manifest collected."""

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def prepare(self, seed: int, workdir: str) -> dict:
        rng = np.random.default_rng(seed)
        texts, planted = gen.make_documents(rng, self.n_docs)
        path = os.path.join(workdir, "documents.parquet")
        gen.write_documents(path, texts)
        return {"path": path, "n_inputs": len(texts), "planted": planted,
                "exact_groups": gen.exact_dup_groups(texts)}

    def trace_targets(self):
        from cloudbrush_spark.operators import dedup
        from cloudbrush_spark.pipeline import curation
        return [(curation, "curate", "curation.curate"),
                (dedup, "dedup_clusters", "dedup.dedup_clusters")]

    def run(self, spark, inp: dict, tracer) -> dict:
        from cloudbrush_spark.pipeline import curation

        manifest = curation.curate(spark.read.parquet(inp["path"]))
        with tracer.span("collect"):
            rows = manifest.collect()
        return {"rows": [(r["doc_id"], r["split"], r["ws_tokens"]) for r in rows]}

    def check(self, inp: dict, out: dict) -> Result:
        rows = out["rows"]
        kept = {r[0] for r in rows}
        problems = []
        if len(kept) != len(rows):
            problems.append("manifest repeats a doc_id")
        if not rows:
            problems.append("empty manifest")
        for ids in inp["exact_groups"]:
            n = sum(i in kept for i in ids)
            if n > 1:
                problems.append(f"exact-duplicate group {ids[:3]} keeps {n}")
        # planted (copy, source) pairs resolved: not both in the manifest
        planted = inp["planted"]
        resolved = sum(not (c in kept and s in kept) for c, s in planted)
        fidelity = resolved / len(planted) if planted else 1.0
        return Result(problems[:5], _digest(rows), float(len(rows)), fidelity)

    def layer_counters(self, out: dict) -> dict[str, float]:
        return {}


WORKLOADS = {
    # the Ec10k read shape (36 bp, ~72x) on a 3 kb genome, at 0.5%
    # substitutions.  A pass is mostly per-job driver work.  At 1-2%
    # errors the number of cleanup-loop rounds varies by seed (235-334
    # Spark jobs per pass over 8 seeds at 2%); at 0.5% it is the same on
    # most seeds (233-239 jobs on 7 of 8)
    "asm_deep": Assembly(genome_size=3000, coverage=72, error_rate=0.005),
    # 8k documents: curation is driver-bound too (a 20k-document pass is
    # only ~25% longer), and the smaller corpus keeps the run-time budget
    "curate_docs": Curation(n_docs=8000),
}
