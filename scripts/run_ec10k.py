"""End-to-end golden run: assemble the reference's Ec10k dataset.

Mirrors the reference invocation (README.md:27):
    hadoop jar CloudBrush.jar -reads Ec10k -asm Ec10k_Brush -k 21 -readlen 36

Prints stage counters and final assembly stats (N50, contig count, total bp)
as one JSON line, and writes the FASTA to /tmp/ec10k_contigs.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.pipeline.assembler import Assembler
from cloudbrush_spark.session import get_spark
from cloudbrush_spark.sources.fasta import read_sfa, write_fasta


def main() -> None:
    sfa = sys.argv[1] if len(sys.argv) > 1 else "/root/reference/data/Ec10k.sim.sfa"
    precorrect = os.environ.get("EC10K_PRECORRECT", "0") == "1"
    spark = get_spark("ec10k-golden")
    t0 = time.time()
    reads = read_sfa(spark, sfa)
    asm = Assembler(spark, BrushParams(k=21, readlen=36, precorrect=precorrect,
                                       precorrect_rounds=2), verbose=True)
    nodes, edges = asm.assemble(reads)
    nodes = nodes.cache()
    contigs = nodes.withColumn("len", F.length("seq"))
    agg = contigs.agg(
        F.count(F.lit(1)).alias("n_contigs"),
        F.sum("len").alias("total_bp"),
        F.max("len").alias("max_len"),
    ).collect()[0]
    from cloudbrush_spark.operators import stats as stats_ops
    n50_row = stats_ops.n50(contigs, "len")
    wall = time.time() - t0
    write_fasta(nodes, "/tmp/ec10k_contigs")
    out = {
        "wall_sec": round(wall, 1),
        "n_contigs": agg["n_contigs"],
        "total_bp": agg["total_bp"],
        "max_len": agg["max_len"],
        "n50": n50_row["n50"],
        "counters": asm.counters,
    }
    print("EC10K_RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
