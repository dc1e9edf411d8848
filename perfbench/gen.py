"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the pipelines under test only ever
see the files these functions write.

* Reads (``asm_deep``): a random genome sampled into fixed-length reads at
  a given coverage with a random strand and per-base substitution errors.  Written
  as SFA (``read_id\\tseq``), the format ``sources.fasta.read_sfa`` scans.
  The genome is returned so the benchmark can check the contigs against it.
* Documents (``curate_docs``): the document shape of
  ``scripts/gen_scale_fixture.py`` (31-word vocabulary, ~U(8, 102) words,
  ~5% light word-mutations of a recent document, ~0.2% exact copies),
  re-stated here so the benchmark does not depend on that script.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
_COMP = bytes.maketrans(b"ACGT", b"TGCA")


def revcomp(seq: str) -> str:
    return seq.encode().translate(_COMP)[::-1].decode()


def make_genome(rng: np.random.Generator, size: int) -> str:
    """Uniform random genome of ``size`` bases."""
    return BASES[rng.integers(0, 4, size=size)].tobytes().decode()


def sample_reads(rng: np.random.Generator, genome: str, read_len: int,
                 coverage: float, error_rate: float) -> list[str]:
    """Reads at uniform positions, random strand, each base substituted
    with probability ``error_rate`` by one of the three other bases."""
    n = int(round(coverage * len(genome) / read_len))
    g = np.frombuffer(genome.encode(), dtype=np.uint8)
    starts = rng.integers(0, len(genome) - read_len + 1, size=n)
    reads = g[starts[:, None] + np.arange(read_len)[None, :]].copy()
    errs = rng.random(reads.shape) < error_rate
    if errs.any():
        idx = np.searchsorted(BASES, reads[errs])
        reads[errs] = BASES[(idx + rng.integers(1, 4, size=idx.size)) % 4]
    flip = rng.random(n) < 0.5
    out = []
    for row, rc in zip(reads, flip):
        s = row.tobytes().decode()
        out.append(revcomp(s) if rc else s)
    return out


def write_sfa(path: str, reads: list[str]) -> None:
    with open(path, "w") as fh:
        for i, s in enumerate(reads):
            fh.write(f"r{i}\t{s}\n")


VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
])


def make_documents(rng: np.random.Generator, n: int
                   ) -> tuple[list[str], list[tuple[int, int]]]:
    """(texts, planted) where ``planted`` lists every (copy, source) doc-id
    pair the generator made, near or exact."""
    n_words = rng.integers(8, 103, size=n)
    near_dup = rng.random(n) < 0.05
    exact_dup = rng.random(n) < 0.002
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n):
        if i > 0 and exact_dup[i]:
            src = int(rng.integers(0, i))
            texts.append(texts[src])
            planted.append((i, src))
        elif i > 0 and near_dup[i]:
            src = int(rng.integers(max(0, i - 1000), i))
            w = np.array(texts[src].split(" "))
            k = max(1, int(0.05 * len(w)))
            idx = rng.choice(len(w), size=k, replace=False)
            w[idx] = VOCAB[rng.integers(0, len(VOCAB), size=k)]
            texts.append(" ".join(w))
            planted.append((i, src))
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), size=n_words[i])]))
    return texts, planted


def write_documents(path: str, texts: list[str]) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), path)


def exact_dup_groups(texts: list[str]) -> list[list[int]]:
    """Doc-id groups sharing one exact text (the planted exact copies)."""
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    return [ids for ids in by_text.values() if len(ids) > 1]


