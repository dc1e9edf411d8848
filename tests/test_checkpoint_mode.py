"""``plans.cut``'s RELIABLE-checkpoint (cluster) mode.

With ``spark.checkpoint.dir`` configured the helper switches from
``localCheckpoint`` (executor-local blocks — correct on local[*] only) to
``DataFrame.checkpoint`` (replicated to the checkpoint dir — the mode a
multi-executor cluster must run, where executor loss / dynamic-allocation
scale-in would invalidate local blocks).  Until round 7 only the local
fallback ever executed in CI; this test drives the cluster path end to
end in a SUBPROCESS (one SparkContext per JVM — the shared session
fixture cannot flip modes) and asserts:

1. assembly contigs and dedup_clusters / curation outputs are IDENTICAL
   to the localCheckpoint-mode results computed in the parent session;
2. reliable checkpoint files actually landed in the checkpoint dir
   (the mode really ran) — and the assembly alone, before any curation
   work, already writes them: its stage and contraction boundaries go
   through the same helper.  The assembly runs with the driver budget
   at 0 on both sides, so every stage takes its distributed loop; within
   the budget this small genome is built and finished in the driver,
   where no stage boundary is cut;
3. the ContextCleaner (``spark.cleaner.referenceTracking.cleanCheckpoints``
   is set in ``get_spark``) removes the checkpoint data once the frames
   are unreachable — a long-running curation service must not fill the
   checkpoint volume with dead label-frame copies.
"""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F  # noqa: F401  (parity with sibling tests)

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.operators import dedup, smallgraph
from cloudbrush_spark.pipeline import curation
from cloudbrush_spark.pipeline.assembler import Assembler
from cloudbrush_spark.sources.fasta import read_sfa
from tests.test_assembly_e2e import _reads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs_rows():
    return [
        (i, ("the common tail of every document here is this shared english "
             "sentence with plenty of the and of and to tokens number %d"
             % (i % 7)))
        for i in range(60)
    ]


SCRIPT = r'''
import gc, json, os, sys, tempfile, time
sys.path.insert(0, os.environ["CB_REPO"])
from pyspark.sql import functions as F
from cloudbrush_spark.session import get_spark
from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.operators import dedup, smallgraph
from cloudbrush_spark.pipeline import curation
from cloudbrush_spark.pipeline.assembler import Assembler
from cloudbrush_spark.sources.fasta import read_sfa

smallgraph.DRIVER_MAX_BYTES = 0   # every assembly stage distributed
ckdir = tempfile.mkdtemp(prefix="cb-ck-")
# the assembly runs at the session fixture's shuffle width, so only the
# checkpoint mode differs from the in-session run it is compared with
spark = get_spark("ck-mode", extra_conf={"spark.sql.shuffle.partitions": "8"})
spark.sparkContext.setCheckpointDir(ckdir)

def ck_files():
    n = 0
    for _, _, fs in os.walk(ckdir):
        n += len(fs)
    return n

# the assembly runs first, so the files counted after it are its own
asm_before = ck_files()
nodes, edges = Assembler(spark, BrushParams(k=21, readlen=36)).assemble(
    read_sfa(spark, os.environ["CB_READS"]))
contigs = sorted(r.seq for r in nodes.select("seq").collect())
asm_after = ck_files()

spark.conf.set("spark.sql.shuffle.partitions", "4")

docs = spark.createDataFrame(json.loads(os.environ["CB_DOCS"]),
                             "doc_id long, text string")
man = curation.curate(docs, min_tokens=5, max_tokens=2000)
rows = sorted((r.doc_id, r.split, r.ws_tokens, float(r.quality))
              for r in man.collect())

pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
items = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
cl = dedup.dedup_clusters(pairs, items=items)
crows = sorted((r.cluster_rep, r.member, r.n) for r in cl.collect())

used = ck_files() > 0
# drop every reference, force BOTH collectors (the ContextCleaner keys on
# JVM weak references — python gc alone only detaches the py4j proxies),
# and poll for the cleaner to reclaim the checkpoint data
man = cl = nodes = edges = None
deadline = time.time() + 60
cleaned = False
while time.time() < deadline:
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    if ck_files() == 0:
        cleaned = True
        break
    time.sleep(1)
print("RESULT " + json.dumps({"rows": rows, "crows": crows,
                              "contigs": contigs, "asm_before": asm_before,
                              "asm_after": asm_after,
                              "used": used, "cleaned": cleaned}))
'''


def test_reliable_checkpoint_mode_matches_and_cleans(spark, tmp_path, monkeypatch):
    _, reads = _reads(seed=7, genome_size=600, read_len=36, coverage=72,
                      error_rate=0.005)
    reads_path = tmp_path / "reads.sfa"
    reads_path.write_text("".join(f"r{i}\t{s}\n" for i, s in enumerate(reads)))
    monkeypatch.setattr(smallgraph, "DRIVER_MAX_BYTES", 0)
    nodes, _ = Assembler(spark, BrushParams(k=21, readlen=36)).assemble(
        read_sfa(spark, str(reads_path)))
    want_contigs = sorted(r.seq for r in nodes.select("seq").collect())
    assert want_contigs, "fixture must assemble"

    docs_rows = _docs_rows()
    # expected outputs via the default (localCheckpoint) mode in-session
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    man = curation.curate(docs, min_tokens=5, max_tokens=2000)
    want_rows = sorted([r.doc_id, r.split, r.ws_tokens, float(r.quality)]
                       for r in man.collect())
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    items = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    want_crows = sorted([r.cluster_rep, r.member, r.n]
                        for r in dedup.dedup_clusters(pairs, items=items).collect())
    assert want_rows, "fixture must survive the gate"

    env = dict(os.environ, CB_REPO=REPO, CB_DOCS=json.dumps(docs_rows),
               CB_READS=str(reads_path))
    proc = subprocess.run([sys.executable, "-c", SCRIPT], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert line, proc.stdout[-3000:]
    got = json.loads(line[-1][len("RESULT "):])
    assert got["used"], "reliable checkpoint mode never wrote to the dir"
    assert got["asm_before"] == 0
    assert got["asm_after"] > 0, "the assembly wrote no reliable checkpoint"
    assert got["contigs"] == want_contigs
    assert got["rows"] == want_rows
    assert got["crows"] == want_crows
    assert got["cleaned"], "checkpoint data not reclaimed by ContextCleaner"
