"""CLI mirroring the reference driver's invocation surface
(src/Brush/BrushConfig.java:207-406, BrushAssembler.java:781-916), so a
CloudBrush user can run the same commands against this engine:

    # full assembly (reference: hadoop jar CloudBrush.jar ...)
    python -m cloudbrush_spark -reads Ec10k.sim.sfa -asm out/ -k 21 -readlen 36

    # stats only (reference -run_stats; -genome adds the genome-target N50)
    python -m cloudbrush_spark -run_stats out/ -genome 10232

    # conversion only (reference -convert_fa)
    python -m cloudbrush_spark -convert_fa out/

Option names match the reference's commons-cli flags (-k, -readlen,
-kmerup, -kmercov, -bubbleerate, -maj, -N, -lowcov, -slots,
-nodes, -genome).  The reference's restart flags (-start/-stop/
-restart_*) are subsumed by ``-ckpt DIR``: every major stage persists to
parquet there and finished stages are loaded, not recomputed — the same
partial-run machinery, keyed by stage completion markers instead of
stage names.

Output layout under -asm: ``nodes.parquet`` + ``edges.parquet`` (the
typed node/edge tables — the engine's IR, replacing the reference's
HDFS text directories), ``contigs.fa`` (K1 FASTA sink), and a printed
stage-counter + stats report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m cloudbrush_spark", add_help=True,
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("-reads", help="input reads: .sfa (tab-separated) or .fastq")
    ap.add_argument("-asm", help="output assembly directory")
    ap.add_argument("-k", type=int, default=21, help="overlap seed size")
    ap.add_argument("-readlen", type=int, default=36, help="read length")
    ap.add_argument("-kmerup", type=int, default=2000, help="max kmer cov / per-key cap")
    ap.add_argument("-kmercov", type=float, default=30.0, help="expected kmer coverage (A-stat)")
    ap.add_argument("-bubbleerate", type=float, default=0.05, help="max bubble error rate")
    ap.add_argument("-maj", type=float, default=0.6, help="PWM consensus majority")
    ap.add_argument("-N", type=float, default=0.1, dest="pwm_n", help="PWM N threshold")
    ap.add_argument("-lowcov", type=float, default=1.0, help="low-coverage cutoff")
    ap.add_argument("-slots", type=int, default=None,
                    help="parallelism (shuffle partitions); default: session")
    ap.add_argument("-nodes", type=int, default=4096,
                    help="serial-contraction threshold of the distributed "
                         "contraction (reference -nodes; reference default "
                         "1000, ours 4096); a graph that fits the driver "
                         "budget (smallgraph.DRIVER_MAX_BYTES) is contracted "
                         "in the driver whatever this is")
    ap.add_argument("-precorrect", action="store_true",
                    help="A8 spaced-seed error correction before dedup")
    ap.add_argument("-ckpt", default=None,
                    help="assembly stage-checkpoint dir (restartable "
                         "partial -reads/-asm runs)")
    ap.add_argument("-sql", default=None, metavar="QUERY",
                    help="raw-SQL entry point: run QUERY via spark.sql "
                         "over the temp views registered from -data "
                         "(analytic tables); prints rows as JSON lines "
                         "(capped by -limit) or writes parquet with -out")
    ap.add_argument("-data", default=None, metavar="DIR",
                    help="-sql: parquet table directory whose tables "
                         "register as temp views (region/nation/.../"
                         "documents/embeddings)")
    ap.add_argument("-limit", type=int, default=100,
                    help="-sql: max rows printed without -out")
    ap.add_argument("-run_stats", default=None, metavar="DIR",
                    help="stats-only entry point over DIR's nodes.parquet")
    ap.add_argument("-genome", type=int, default=None,
                    help="genome size (bp) for the genome-target N50")
    ap.add_argument("-convert_fa", default=None, metavar="DIR",
                    help="conversion-only entry point over DIR's nodes.parquet")
    # corpus-curation entry point (the LLM-data surface; no reference
    # analogue — the document generalization of preprocess+dedup+emit)
    ap.add_argument("-curate", default=None, metavar="PARQUET",
                    help="curation entry point: documents parquet with "
                         "(doc_id, text); requires -out")
    ap.add_argument("-out", default=None,
                    help="publish directory for -curate (split-partitioned "
                         "parquet + manifest.parquet)")
    ap.add_argument("-quality_min", type=float, default=0.5,
                    help="curation: min composite quality score")
    ap.add_argument("-lang", default="en", help="curation: required language")
    ap.add_argument("-min_tokens", type=int, default=10,
                    help="curation: drop docs with fewer whitespace tokens")
    ap.add_argument("-max_tokens", type=int, default=1000,
                    help="curation: drop docs with MORE whitespace tokens "
                         "than this — the default (1000) suits short-doc "
                         "corpora; RAISE it for web pages / papers / books "
                         "or most of a long-document corpus is silently "
                         "gated out")
    ap.add_argument("-files_per_split", type=int, default=16,
                    help="curation: output parquet files per split")
    ap.add_argument("-benchmark", default=None, metavar="PARQUET",
                    help="curation: held-out eval set parquet with "
                         "(doc_id, text); gated docs sharing a "
                         "-decontam_n word n-gram with it are dropped")
    ap.add_argument("-decontam_n", type=int, default=13,
                    help="curation: decontamination n-gram size")
    ap.add_argument("-bench_embeddings", default=None, metavar="PARQUET",
                    help="curation: benchmark embeddings parquet (vec_id, "
                         "embedding); with -embeddings, gated docs within "
                         "-semantic_threshold cosine of any benchmark "
                         "vector are dropped (semantic decontamination)")
    ap.add_argument("-embeddings", default=None, metavar="PARQUET",
                    help="curation: corpus embeddings parquet keyed by the "
                         "document id (vec_id column)")
    ap.add_argument("-semantic_threshold", type=float, default=0.95,
                    help="curation: semantic decontamination cosine cutoff")
    ap.add_argument("-boiler_df", type=int, default=None, metavar="N",
                    help="curation: remove every line whose corpus-wide "
                         "occurrence count exceeds N (cross-document "
                         "boilerplate scrub) before gating/publishing")
    ap.add_argument("-scrub_spans_df", type=int, default=None, metavar="N",
                    help="curation: remove every cross-document repeated "
                         "passage (maximal run of word 13-grams shared "
                         "by >= N docs) from ALL carriers before "
                         "gating/publishing (guard.span_scrub)")
    ap.add_argument("-report", action="store_true",
                    help="write the published corpus's data card "
                         "(operators/report.corpus_report — per-split "
                         "volumes, quality/length histograms, dup rate, "
                         "token quantiles, sketch contracts) to "
                         "OUT/report.parquet")
    ap.add_argument("-prior", default=None, metavar="PARQUET",
                    help="curation: previous-release corpus (doc_id, "
                         "text) — drop gated docs that near-duplicate "
                         "any prior-release document (cross-corpus "
                         "MinHash dedup)")
    ap.add_argument("-input_format", default="parquet",
                    choices=["parquet", "jsonl", "csv"],
                    help="physical format of the -curate input (crawl "
                         "dumps usually arrive as JSONL; both text "
                         "formats read with an explicit schema and "
                         "PERMISSIVE corrupt-row handling — "
                         "sources/textfiles.py)")
    ap.add_argument("-input_schema",
                    default="doc_id long, text string, lang string, "
                            "source string",
                    help="explicit DDL schema for jsonl/csv -curate "
                         "inputs (ignored for parquet; inference is "
                         "deliberately not offered)")
    return ap


def _load_nodes(spark, dirpath: str):
    path = os.path.join(dirpath, "nodes.parquet")
    if not os.path.exists(path):
        raise SystemExit(f"no nodes.parquet under {dirpath!r} "
                         "(expected an -asm output directory)")
    return spark.read.parquet(path)


def _print_stats(report: dict) -> None:
    print("== size distribution (per cutoff) ==")
    report["distribution"].show(50, truncate=False)
    print("== top contigs ==")
    report["top"].show(10, truncate=False)
    if report.get("genome_n50") is not None:
        print("== genome-target N50 ==")
        report["genome_n50"].show(truncate=False)


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.ckpt and (args.sql or args.run_stats or args.convert_fa
                      or args.curate):
        raise SystemExit("-ckpt applies only to assembly (-reads/-asm)")
    from cloudbrush_spark.session import get_spark
    extra = {}
    if args.slots:
        extra["spark.sql.shuffle.partitions"] = str(args.slots)
    spark = get_spark("cloudbrush", extra_conf=extra or None)

    if args.sql:
        from cloudbrush_spark import sql as cbsql
        views = (cbsql.register_table_views(spark, args.data)
                 if args.data else [])
        if not views:
            raise SystemExit("-sql needs -data DIR to register views")
        df = cbsql.run_sql(spark, args.sql)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            for r in df.limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
        return 0

    if args.run_stats:
        from cloudbrush_spark.pipeline.assembler import Assembler
        nodes = _load_nodes(spark, args.run_stats)
        _print_stats(Assembler(spark).stats_report(nodes, genome_size=args.genome))
        return 0

    if args.convert_fa:
        from cloudbrush_spark.sources.fasta import write_fasta
        nodes = _load_nodes(spark, args.convert_fa)
        out = os.path.join(args.convert_fa, "contigs.fa")
        write_fasta(nodes, out)
        print(f"wrote {out}")
        return 0

    if args.curate:
        if not args.out:
            raise SystemExit("-curate requires -out DIR")
        from pyspark.sql import functions as F

        from cloudbrush_spark.pipeline.curation import curate
        from cloudbrush_spark.sources.corpus import publish_corpus
        if args.input_format == "parquet":
            docs = spark.read.parquet(args.curate)
        else:
            from cloudbrush_spark.sources import textfiles
            reader = (textfiles.read_jsonl if args.input_format == "jsonl"
                      else textfiles.read_csv_quoted)
            docs = reader(spark, args.curate, args.input_schema)
        bench = (spark.read.parquet(args.benchmark)
                 if args.benchmark else None)
        if bool(args.bench_embeddings) != bool(args.embeddings):
            raise SystemExit("-bench_embeddings and -embeddings go "
                             "together (semantic decontamination)")
        sem_kw = {}
        if args.bench_embeddings:
            sem_kw = dict(
                benchmark_vectors=spark.read.parquet(args.bench_embeddings),
                corpus_vectors=spark.read.parquet(args.embeddings),
                semantic_threshold=args.semantic_threshold)
        if args.prior:
            sem_kw["reference_docs"] = spark.read.parquet(args.prior)

        def scrubbed(docs, cleaned):
            # the scrubbed clean_text replaces the corpus text, so the
            # published text (not just the gate) is scrubbed
            other = [c for c in docs.columns if c != "text"]
            return docs.select(*other).join(
                cleaned.select("doc_id", F.col("clean_text").alias("text")),
                "doc_id")

        if args.boiler_df is not None:
            from cloudbrush_spark.operators.guard import boilerplate_scrub
            docs = scrubbed(docs, boilerplate_scrub(docs, max_df=args.boiler_df))
        if args.scrub_spans_df is not None:
            from cloudbrush_spark.operators.guard import span_scrub
            docs = scrubbed(docs, span_scrub(docs, min_df=args.scrub_spans_df))
        manifest = curate(
            docs, quality_min=args.quality_min, lang=args.lang,
            min_tokens=args.min_tokens, max_tokens=args.max_tokens,
            benchmark=bench, decontam_n=args.decontam_n, **sem_kw)
        # manifest lands beside the corpus: the audit record of what was
        # kept and why (features + split), re-joinable by doc_id
        manifest.write.mode("overwrite").parquet(
            os.path.join(args.out, "manifest.parquet"))
        manifest = spark.read.parquet(os.path.join(args.out, "manifest.parquet"))
        publish_corpus(docs, manifest, os.path.join(args.out, "corpus"),
                       files_per_split=args.files_per_split)
        if args.report:
            from cloudbrush_spark.operators.report import corpus_report
            from cloudbrush_spark.sources.corpus import read_corpus
            back = read_corpus(spark, os.path.join(args.out, "corpus"))
            corpus_report(back, source_col="split").write \
                .mode("overwrite") \
                .parquet(os.path.join(args.out, "report.parquet"))
        counts = {r.split: r.n for r in manifest.groupBy("split")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        print("published:", json.dumps(counts, sort_keys=True))
        return 0

    if not args.reads or not args.asm:
        _build_parser().print_help()
        return 2

    from cloudbrush_spark.config import BrushParams
    from cloudbrush_spark.pipeline.assembler import Assembler
    from cloudbrush_spark.sources.fasta import read_fastq, read_sfa, write_fasta

    if args.reads.endswith((".fastq", ".fq")):
        reads = read_fastq(spark, args.reads)
    else:
        reads = read_sfa(spark, args.reads)
    params = BrushParams(
        k=args.k, readlen=args.readlen, up_kmer=args.kmerup,
        kmer_cov=args.kmercov,
        bubble_edit_rate=args.bubbleerate, majority=args.maj,
        pwm_n=args.pwm_n, low_cov_thresh=args.lowcov,
        serial_threshold=args.nodes, precorrect=args.precorrect,
    )
    asm = Assembler(spark, params=params, verbose=True,
                    checkpoint_dir=args.ckpt)
    nodes, edges = asm.assemble(reads)
    os.makedirs(args.asm, exist_ok=True)
    nodes.write.mode("overwrite").parquet(os.path.join(args.asm, "nodes.parquet"))
    edges.write.mode("overwrite").parquet(os.path.join(args.asm, "edges.parquet"))
    final_nodes = spark.read.parquet(os.path.join(args.asm, "nodes.parquet"))
    write_fasta(final_nodes, os.path.join(args.asm, "contigs.fa"))
    print("counters:", json.dumps(asm.counters))
    _print_stats(asm.stats_report(final_nodes, genome_size=args.genome))
    return 0


if __name__ == "__main__":
    sys.exit(main())
